package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The equi-width SIGNED histogram store under both maintained quantile
  * views ([[QuantileView]], [[MultiQuantileJoinView]]) — the fixed-bin
  * summary that makes an approximate quantile deterministic, mergeable
  * and retractable:
  *
  *   - partials are per-(group, bin) COUNTS: commutative, associative,
  *     and — unlike every rank sketch and unlike min/max — RETRACTABLE
  *     (a source delete appends NEGATIVE partials; no recompute);
  *   - the estimate is a pure arithmetic function of (counts, edges):
  *     cumulative-count bin selection + linear interpolation,
  *     bit-reproducible across engines, so the correctness gate hashes
  *     the ESTIMATES (the oracle replays [[binCol]] and [[estimates]]);
  *   - accuracy is bounded a priori by the bin width: |est − exact| ≤ 2·w
  *     (the interpolation-edge-safe form).
  *
  * Edges freeze per PARTITION — one (lo, w, bins, margin) row per value
  * of the `parts` columns: `Seq("metric")` for the single-table view,
  * `Nil` (one global freeze) for the join tree, where a bin must be a
  * function of the value alone so that churn moving a row between
  * groups is signed mass transfer. Every group key of a count includes
  * the partition columns.
  *
  * Sidecar protocol: a freeze is written to `<view>/<sidecar>/v<N>`,
  * keyed by the VIEW version N its re-binned counts publish as, before
  * that publish ([[publishFreeze]]). [[edgesFor]] resolves the newest
  * freeze at or below the current version, so a freeze becomes visible
  * exactly when its counts do, and a crash between the write and the
  * publish leaves an orphan nothing reads; every other publish clears
  * orphans first ([[dropOrphanEdges]]).
  *
  * Envelope: observed range ± a margin fraction of it per partition. A
  * row outside it cannot bin consistently ([[escapeRows]]); the caller
  * takes one full rebuild whose margins grow for the escaping partitions
  * only ([[grownMargins]]), so monotone drift costs O(log drift)
  * rebuilds without coarsening a stable partition's bins.
  *
  * NULL values never bin (a null would land in bin 0 — Spark's
  * greatest/least skip nulls); whether a null row is refused or skipped
  * is the caller's contract. */
private[sources] final class FixedBinHistogram(parts: Seq[String],
                                               sidecar: String) {
  import FixedBinHistogram._

  // ---- edges sidecar ----------------------------------------------------

  def edgesDir(viewRoot: String, viewV: Int): String =
    s"$viewRoot/$sidecar/v$viewV"

  /** The sidecar keys under the sidecar directory (empty when absent). */
  def edgeKeys(viewRoot: String): Seq[Int] = {
    val d = java.nio.file.Paths.get(viewRoot, sidecar)
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v"))
          .flatMap(n => scala.util.Try(n.drop(1).toInt).toOption).toSeq
      } finally s.close()
    }
  }

  /** Delete sidecars keyed ABOVE the current view version — debris of a
    * crashed rebuild. Any publish other than the rebuild's own re-run
    * would otherwise make the orphan's version exist and pair counts
    * binned under the old edges with a freeze that never published. */
  def dropOrphanEdges(viewRoot: String): Unit = {
    val cap = SnapshotStore.currentVersion(viewRoot)
    edgeKeys(viewRoot).filter(_ > cap).foreach(v =>
      SnapshotStore.deleteTree(edgesDir(viewRoot, v)))
  }

  /** The newest frozen edges at or below the view's current version —
    * (parts…, lo, w, bins, margin). */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame = {
    require(SnapshotStore.lastEpoch(viewRoot).nonEmpty,
      s"no refreshed quantile view at $viewRoot")
    val cap = SnapshotStore.currentVersion(viewRoot)
    val versions = edgeKeys(viewRoot).filter(_ <= cap)
    require(versions.nonEmpty, s"no frozen edges at or below view v$cap")
    spark.read.parquet(edgesDir(viewRoot, versions.max))
  }

  // ---- freeze -------------------------------------------------------------

  /** Freeze edges per partition from `rows`' value column `x`: observed
    * range ± the partition's margin of the range on each side
    * (degenerate single-value partitions get unit width). `margins`
    * overrides per partition key; absent partitions take
    * [[DefaultMargin]]. Model-sized: one row per partition. `__nnull`
    * (the partition's NULL values) rides the same aggregate so a caller's
    * null-row gate costs no extra scan; [[publishFreeze]] drops it. */
  def freezeEdges(rows: DataFrame, x: String, bins: Int,
                  margins: Map[Seq[Any], Double]): DataFrame = {
    val v = col(x).cast("double")
    val span = greatest(col("mx") - col("mn"), lit(1.0))
    rows.groupBy(parts.map(col): _*)
      .agg(min(v).as("mn"), max(v).as("mx"),
        count(when(v.isNull, 1)).as("__nnull"))
      .withColumn("margin", marginCol(margins))
      .select(parts.map(col) ++ Seq(
        (col("mn") - span * col("margin")).as("lo"),
        (span * (lit(1.0) + lit(2.0) * col("margin")) / lit(bins)).as("w"),
        lit(bins).as("bins"),
        col("margin"),
        col("__nnull")): _*)
  }

  /** The margin overrides as one flat CASE over the partition columns (a
    * constant for the global partition) — model-sized, so it costs no
    * Spark job where a broadcast join would. */
  private def marginCol(margins: Map[Seq[Any], Double]): Column =
    margins.toSeq.map { case (key, m) =>
      (parts.zip(key).map { case (p, k) => col(p) === lit(k) }
        .foldLeft(lit(true))(_ && _), m)
    } match {
      case Seq() => lit(DefaultMargin)
      case (c, m) +: rest =>
        rest.foldLeft(when(c, m)) { case (cw, (ci, mi)) => cw.when(ci, mi) }
          .otherwise(DefaultMargin)
    }

  /** Persist a freeze and publish its full re-bin `counts`. The edges
    * land first, keyed by the view version the publish creates (current
    * + 1: both publish paths create exactly the next version), so they
    * stay invisible until their counts publish; the re-run overwrites a
    * crash's orphan. The first publish is an epoch-stamped append, any
    * later one a compaction. */
  def publishFreeze(ed: DataFrame, counts: DataFrame, viewRoot: String,
                    epoch: Long): Int = {
    val cur = SnapshotStore.currentVersion(viewRoot)
    ed.drop("__nnull").coalesce(1).write.mode("overwrite")
      .parquet(edgesDir(viewRoot, cur + 1))
    if (cur == 0) SnapshotStore.appendEpoch(counts, viewRoot, epoch)
    else SnapshotStore.compactWith(counts, viewRoot, epochOverride = Some(epoch))
  }

  // ---- binning and the envelope -----------------------------------------

  /** The one binning expression — every refresh path, and the SQL
    * oracle's replay: the clamped integer bin of `x` under (lo, w, bins). */
  private def binCol(x: String): Column =
    least(col("bins") - lit(1),
      greatest(lit(0), floor((col(x).cast("double") - col("lo")) / col("w"))
        .cast("int")))

  private def edgeCols(ed: DataFrame): DataFrame =
    broadcast(ed.select((parts ++ Seq("lo", "w", "bins")).map(col): _*))

  /** Fold `rows` to signed (groups…, bin, cnt) partials under the frozen
    * edges `ed`: each row adds its `sign` to its bin; NULL values never
    * bin. A per-row sign folds several signed legs in one pass — one
    * partial per (group, bin) equal to the sum of the separate folds. */
  def binned(rows: DataFrame, ed: DataFrame, groups: Seq[Column], x: String,
             sign: Column): DataFrame = {
    val keyed = rows.where(col(x).isNotNull).join(edgeCols(ed), parts)
      .select(groups :+ binCol(x).as("bin") :+ sign.cast("long").as("sign"): _*)
    keyed.groupBy(keyed.columns.init.map(col): _*)
      .agg(sum(col("sign")).as("cnt"))
  }

  /** THE ESCAPE PROBE: rows that cannot bin under `ed` — value outside
    * [lo, lo + w·bins], no edges for the row's partition (a new or NULL
    * key), or a NULL value. A caller that skips nulls filters them first. */
  def escapeRows(rows: DataFrame, ed: DataFrame, x: String): DataFrame = {
    val v = col(x).cast("double")
    rows.join(edgeCols(ed), parts, "left_outer")
      .where(col("lo").isNull || v.isNull || v < col("lo") ||
        v > col("lo") + col("w") * col("bins"))
  }

  /** The partition keys of `rows` that escape `ed` — one pass serving both
    * the escape decision (nonEmpty) and [[grownMargins]]. */
  def escaping(rows: DataFrame, ed: DataFrame, x: String): Set[Seq[Any]] =
    escapeRows(rows, ed, x).select(parts.map(col): _*).distinct()
      .collect().map(_.toSeq).toSet

  /** Margins for an escape-triggered refreeze: every `escaping` partition
    * of `ed` DOUBLES its margin (capped at [[MaxMargin]]) and every other
    * known partition CARRIES its margin forward. Resetting non-escapers
    * would defeat the amortization for independently drifting partitions
    * (alternating escapers would undo each other's growth: one O(table)
    * rebuild per refresh forever). A grown margin sticks until a
    * non-escape rebuild (bootstrap, compaction, vacuumed baseline)
    * refreezes with no overrides. New partitions take the default at the
    * freeze; pre-margin legacy sidecars grow from the default. */
  def grownMargins(ed: DataFrame, escaping: Set[Seq[Any]]): Map[Seq[Any], Double] = {
    val margin = if (ed.columns.contains("margin")) col("margin")
      else lit(DefaultMargin)
    ed.select(parts.map(col) :+ margin: _*).collect().map { r =>
      val key = r.toSeq.init
      val m = r.getDouble(parts.size)
      key -> (if (escaping(key)) math.min(m * 2.0, MaxMargin) else m)
    }.toMap
  }

  // ---- serving ------------------------------------------------------------

  /** Net counts per (keys…, bin): signed partials summed, zero-net bins
    * dropped. A negative net would mean a maintenance bug and is
    * surfaced, not masked. */
  def merged(counts: DataFrame, keys: Seq[String]): DataFrame =
    counts.groupBy((keys :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") =!= 0L)

  /** Served ESTIMATES per (groups…, phi) over net counts and the frozen
    * edges: the bin holding rank t = phi·n satisfies cumBefore < t ≤ cum,
    * est = lo + w·bin + w·(t − cumBefore)/cnt. t = 0 (phi = 0) satisfies
    * no bin under the strict lower bound, so the first live bin
    * (cum == cnt) serves it explicitly, where the formula collapses to
    * lo + w·bin; the strict bound stays for t > 0, so no bin double-serves
    * a boundary rank. Cost: O(live bins), never the source. → groups…,
    * `phi`, `est`. */
  def estimates(counts: DataFrame, ed: DataFrame, groups: Seq[String],
                phis: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(groups.map(col): _*)
    counts
      .withColumn("cum", sum("cnt").over(byGroup.orderBy("bin")))
      .withColumn("n", sum("cnt").over(byGroup))
      .select(col("*"), explode(array(phis.map(p => lit(p)): _*)).as("phi"))
      .withColumn("t", col("phi") * col("n").cast("double"))
      .where((col("cum").cast("double") >= col("t") &&
          (col("cum") - col("cnt")).cast("double") < col("t")) ||
        (col("t") === 0.0 && col("cum") === col("cnt")))
      .join(broadcast(ed.select((parts ++ Seq("lo", "w")).map(col): _*)), parts)
      .select(groups.map(col) :+ col("phi") :+
        (col("lo") + col("w") * col("bin") +
          col("w") * ((col("t") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))).as("est"): _*)
  }

  /** Fold the partial history to one live row per (keys…, bin) — content
    * and stamp preserved. Clears crashed-rebuild orphans first: compact
    * creates the next view version, which must not make a freeze visible
    * whose counts never published. */
  def compact(spark: SparkSession, viewRoot: String, keys: Seq[String],
              targetFiles: Int = 4): Int = {
    dropOrphanEdges(viewRoot)
    SnapshotStore.compactWith(merged(SnapshotStore.read(spark, viewRoot), keys),
      viewRoot, targetFiles)
  }
}

object FixedBinHistogram {

  val DefaultBins = 64

  /** Envelope margin as a fraction of the observed range at freeze time. */
  val DefaultMargin = 0.25

  /** Margin-growth ceiling: 8× the range on each side (envelope 17× the
    * observed span) bounds how coarse the bins can get — past this, a
    * drifting partition pays one rebuild per envelope escape again. */
  val MaxMargin = 8.0
}
