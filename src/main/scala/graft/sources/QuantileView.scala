package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained APPROXIMATE-QUANTILE view — the maintained
  * counterpart of the a35 serving trick, closing the one documented IVM
  * decline (COVERAGE.md: KLL nondeterminism, GK merge order-sensitivity).
  *
  * The insight: a FIXED-BIN histogram is the deterministic mergeable
  * quantile summary those sketches aren't —
  *
  *   - partials are per-(metric, bucket, bin) COUNTS: commutative,
  *     associative, and — unlike every rank sketch and unlike min/max —
  *     RETRACTABLE (a source delete appends NEGATIVE count partials;
  *     no dirty-group recompute, no view rewrite);
  *   - the quantile estimate is a pure arithmetic function of (counts,
  *     edges): cumulative-count bin selection + linear interpolation —
  *     bit-reproducible across engines, so the correctness gate can hash
  *     the ESTIMATES directly instead of settling for a band verdict;
  *   - accuracy is a-priori bounded by the bin width (est and the true
  *     quantile live in the same bin), a bound [[quantiles]]' caller can
  *     check against the exact percentile (spec-pinned at ≤ 2·w, the
  *     interpolation-edge-safe form).
  *
  * The price of determinism is a FROZEN value envelope: bin edges are
  * fixed per metric at bootstrap (observed range ± a margin fraction,
  * default 25%, stored in a versioned sidecar). A delta that escapes the
  * envelope (or a brand new metric) cannot bin consistently — the
  * refresh detects it and takes ONE full rebuild that REFREEZES the
  * edges. An escape-triggered refreeze DOUBLES the margin of the
  * metrics that ESCAPED (per-metric, capped at [[MaxMargin]]) while
  * every other known metric CARRIES its current margin forward — a
  * never-escaped metric stays at the default, so one drifting counter
  * never coarsens its neighbors' bins, and independently drifting
  * metrics compound independently (alternating escapers must not undo
  * each other's growth). A bootstrap/compaction rebuild resets
  * everything to the default — so a monotone-drifting metric (counter,
  * cumulative gauge) pays O(log drift) rebuilds instead of one per
  * refresh, trading ITS OWN bin width (the accuracy bound is ≤ 2·w of
  * the CURRENT freeze) for amortized maintenance.
  *
  * Refresh skeleton follows [[RollupView]]: O(delta) appends via the
  * manifest diff, signed partials from the row change feed for churn,
  * rebuild across a compaction, resume position = the source version
  * stamped as the view's epoch (replayed refresh is a true no-op).
  * Edges sidecars are written BEFORE their rebuild publishes, keyed by
  * the VIEW version that publish creates — a crash between the two
  * leaves an orphan sidecar nothing reads ([[edgesFor]] resolves the
  * newest freeze at or below the view's current version, so a freeze
  * becomes visible exactly when its re-binned counts do), and every
  * non-rebuild publish clears orphans above the current version first.
  */
object QuantileView {

  val DefaultBins = 64

  /** Envelope margin as a fraction of the observed range at freeze time. */
  val DefaultMargin = 0.25

  /** Margin-growth ceiling: 8× the range on each side (envelope 17× the
    * observed span) bounds how coarse the bins can get — past this, a
    * drifting metric pays one rebuild per envelope-escape again. */
  val MaxMargin = 8.0

  private def edgesDir(viewRoot: String, viewV: Int): String =
    s"$viewRoot/_edges/v$viewV"

  // ---- sidecar keying marker ------------------------------------------
  // Edges sidecars are keyed by VIEW version; an older generation keyed
  // them by SOURCE version. The two are indistinguishable from the
  // directory names alone, and mis-reading one as the other is silent
  // corruption in both directions: dropOrphanEdges would DELETE a legacy
  // freeze keyed above the view version (leaving the view unreadable),
  // and resolution would pair a STALE low-keyed freeze with rebuilt
  // counts (silently wrong quantiles). So every sidecar write stamps
  // `_edges/_keymode`, and a marker-less store is handled by
  // [[checkEdgesKeying]]: provably-safe configurations (every key ≤ the
  // view version — max-at-or-below resolution picks the same, newest,
  // freeze under EITHER keying, since both keyings grow monotonically)
  // are stamped in place; a key ABOVE the view version is ambiguous
  // (r-16 crash orphan vs legacy live freeze) and REFUSES loudly — the
  // agg-join views' spec-mismatch posture — with [[retighten]] as the documented
  // migration (its full refreeze obsoletes every older sidecar, and it
  // stamps the marker).

  private def keymodePath(viewRoot: String) =
    java.nio.file.Paths.get(viewRoot, "_edges", "_keymode")

  private def markViewKeyed(viewRoot: String): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(viewRoot, "_edges"))
    java.nio.file.Files.write(keymodePath(viewRoot), "view".getBytes("UTF-8"))
  }

  /** List the sidecar keys under `_edges` (empty when the dir is absent). */
  private def edgeKeys(viewRoot: String): Seq[Int] = {
    val d = java.nio.file.Paths.get(viewRoot, "_edges")
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      val stream = java.nio.file.Files.list(d)
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]
          .getFileName.toString)
        .filter(_.startsWith("v"))
        .flatMap(n => scala.util.Try(n.stripPrefix("v").toInt).toOption)
      finally stream.close()
    }
  }

  /** Marker-less-store gate (see the keying-marker comment): stamp the
    * provably-equivalent configurations, refuse the ambiguous one. */
  private def checkEdgesKeying(viewRoot: String): Unit = {
    if (java.nio.file.Files.exists(keymodePath(viewRoot))) return
    val keys = edgeKeys(viewRoot)
    if (keys.isEmpty) return
    val cap = SnapshotStore.currentVersion(viewRoot)
    if (keys.exists(_ > cap))
      sys.error(
        s"edges sidecar v${keys.filter(_ > cap).max} at $viewRoot/_edges is " +
          s"keyed above the view's version v$cap with no keying marker — " +
          "either a legacy SOURCE-version-keyed freeze (treating it as a " +
          "crash orphan would destroy the view's only edges) or a crashed " +
          "rebuild's orphan (treating it as a freeze would pair stale " +
          "counts with it). Run QuantileView.retighten(src, view) to " +
          "refreeze under view-version keying, or delete the directory if " +
          "you know it is an orphan.")
    markViewKeyed(viewRoot)
  }

  // ---- grain stamp (the RollupView guard, for the raw-Long grain) ----
  // partials key on (metric, bucket, bin) with bucket = e div grainSec;
  // a refresh at a DIFFERENT grainSec than the bootstrap would silently
  // mix bucket widths in one store — stamp the first publish, refuse a
  // mismatched mutating/compensating call afterward. Pre-stamp stores
  // (older views) stamp on their next refresh.

  private def grainPath(viewRoot: String) =
    java.nio.file.Paths.get(viewRoot, "_grainsec")

  private def storedGrainSec(viewRoot: String): Option[Long] =
    if (java.nio.file.Files.exists(grainPath(viewRoot)))
      scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(grainPath(viewRoot)), "UTF-8")
        .trim.toLong).toOption
    else None

  private def requireGrainSec(viewRoot: String, g: Long, op: String): Unit =
    storedGrainSec(viewRoot).foreach(stored => require(stored == g,
      s"$op at $viewRoot asked for grainSec $g but the view is " +
        s"maintained at $stored — pass the view's own grain (a " +
        "mismatched refresh would corrupt the store)"))

  /** Stamp after a publish so the guard bites from the second call on. */
  private def stampGrainSec(viewRoot: String, g: Long): Unit =
    if (storedGrainSec(viewRoot).isEmpty &&
        SnapshotStore.currentVersion(viewRoot) > 0)
      java.nio.file.Files.write(grainPath(viewRoot),
        g.toString.getBytes("UTF-8"))

  /** The newest frozen edges at or below the view's current VERSION —
    * (metric, lo, w, bins). Sidecars are keyed by the VIEW version that
    * publishes them (written just before that publish), so a freeze
    * becomes visible exactly when its re-binned counts do: a reader
    * during a rebuild — including [[retighten]] on an ALREADY-FRESH
    * view, where the source stamp cannot advance — keeps pairing the
    * old edges with the old counts, and a crash between the sidecar
    * write and the publish leaves an orphan nothing reads. */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame = {
    require(SnapshotStore.lastEpoch(viewRoot).nonEmpty,
      s"no refreshed quantile view at $viewRoot")
    checkEdgesKeying(viewRoot)
    val cap = SnapshotStore.currentVersion(viewRoot)
    val versions = edgeKeys(viewRoot).filter(_ <= cap)
    require(versions.nonEmpty, s"no frozen edges at or below view v$cap")
    spark.read.parquet(edgesDir(viewRoot, versions.max))
  }

  /** The shared binning expression — ONE definition for bootstrap, delta,
    * churn, and the SQL oracle replay (documented there): clamped integer
    * bin of a value under (lo, w, bins). */
  private def binCol(lo: Column, w: Column, bins: Column): Column =
    least(bins - lit(1),
      greatest(lit(0), floor((col("value") - lo) / w).cast("int")))

  /** Freeze per-metric edges from `rows` (observed range ± a per-metric
    * margin of the range on each side — `margins` rows override, absent
    * metrics take [[DefaultMargin]]; degenerate single-value metrics get
    * unit width). Model-sized: one row per metric. `__nnull` rides the
    * same aggregate so the null-row contract gate costs no extra scan
    * (checked driver-side on the checkpointed model-sized result,
    * dropped before the sidecar persists). Margins persist in the
    * sidecar so the NEXT escape-triggered refreeze can double them. */
  private def freezeEdges(rows: DataFrame, bins: Int,
                          margins: DataFrame): DataFrame =
    rows.groupBy("metric")
      .agg(min("value").as("mn"), max("value").as("mx"),
        count(when(col("value").isNull, 1)).as("__nnull"))
      .join(broadcast(margins), Seq("metric"), "left_outer")
      .withColumn("margin", coalesce(col("margin"), lit(DefaultMargin)))
      .select(col("metric"),
        (col("mn") - greatest(col("mx") - col("mn"), lit(1.0)) * col("margin"))
          .as("lo"),
        (greatest(col("mx") - col("mn"), lit(1.0)) *
          (lit(1.0) + lit(2.0) * col("margin")) / lit(bins)).as("w"),
        lit(bins).as("bins"),
        col("margin"),
        col("__nnull"))

  private def binned(rows: DataFrame, edges: DataFrame, grainSec: Long,
                     sign: Column): DataFrame =
    rows.join(broadcast(edges), "metric")
      .select(col("metric"),
        expr(s"e div $grainSec").as("bucket"),
        binCol(col("lo"), col("w"), col("bins")).as("bin"),
        sign.as("sign"))
      .groupBy("metric", "bucket", "bin")
      .agg(sum(col("sign")).as("cnt"))

  /** Rows outside the frozen envelope, whose metric has no edges, or
    * with a NULL metric/value (the contract gate rides this same probe —
    * no extra scan: a null metric misses the edges join, a null value is
    * the explicit disjunct; either routes to [[refresh]]'s rebuild,
    * whose own gate refuses with the contract message). */
  private def escapeRows(rows: DataFrame, edges: DataFrame): DataFrame =
    rows.join(broadcast(edges), Seq("metric"), "left_outer")
      .where(col("lo").isNull || col("value").isNull ||
        col("value") < col("lo") ||
        col("value") > col("lo") + col("w") * col("bins"))

  /** The distinct metrics of `rows` that ESCAPE the current edges (plus
    * a null marker row if null metrics/values rode in) — ONE pass over
    * the delta serving both the escape decision (nonEmpty) and the
    * margin growth, checkpointed because both get consumed. */
  private def escapingMetrics(rows: DataFrame, edges: DataFrame): DataFrame =
    escapeRows(rows, edges).select(col("metric")).distinct()
      .localCheckpoint(true)

  /** Margins for an escape-triggered refreeze (per-metric amortization):
    * ESCAPING metrics double (capped); every OTHER known metric CARRIES
    * its current margin forward — resetting non-escapers to the default
    * would defeat the amortization for two or more independently
    * drifting metrics (phase-offset counters escape on alternating
    * refreshes, and each refreeze would undo the other's growth — one
    * O(table) rebuild per refresh forever). A grown margin sticks until
    * a NON-escape rebuild (bootstrap, compaction, vacuumed baseline)
    * resets everything to the default. New metrics (no edges row) are
    * absent here and take the default at the freeze. Model-sized.
    * Pre-margin legacy sidecars grow from the default. */
  private def grownMargins(escaping: DataFrame, ed: DataFrame): DataFrame = {
    val prev =
      if (ed.columns.contains("margin")) ed.select(col("metric"), col("margin"))
      else ed.select(col("metric"), lit(DefaultMargin).as("margin"))
    val esc = escaping.where(col("metric").isNotNull)
      .withColumn("__esc", lit(true))
    prev.join(broadcast(esc), Seq("metric"), "left_outer")
      .select(col("metric"),
        when(col("__esc").isNotNull,
          least(col("margin") * lit(2.0), lit(MaxMargin)))
          .otherwise(col("margin")).as("margin"))
  }

  /** No-override margins: every metric refreezes at the default. */
  private def noMargins(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("metric",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("margin",
        org.apache.spark.sql.types.DoubleType))))

  /** One full rebuild at source version `srcCur`: refreeze edges under
    * `margins`, re-bin, publish (bootstrap appends, anything later
    * compacts) — shared by [[refresh]]'s rebuild exits and
    * [[retighten]]. */
  private def rebuildAt(spark: SparkSession, srcRoot: String,
                        viewRoot: String, grainSec: Long, bins: Int,
                        srcCur: Int, margins: DataFrame): Int = {
    val full = SnapshotStore.read(spark, srcRoot, srcCur)
    val edRaw = freezeEdges(full, bins, margins).localCheckpoint(true)
    // the contract gate rides freezeEdges' own aggregate (model-sized,
    // driver-cheap here): NULL metric/value rows cannot bin — a null
    // value would even silently land in bin 0 (Spark's greatest/least
    // skip nulls) — refuse before anything publishes
    require(edRaw.where(col("metric").isNull || col("__nnull") > 0)
        .isEmpty,
      s"null metric/value row(s) in source v$srcCur — out of the " +
        "quantile view contract (they cannot bin); filter them before " +
        "maintaining the view")
    val ed = edRaw.drop("__nnull")
    // edges BEFORE the publish, keyed by the VIEW version the publish
    // will create (currentVersion + 1 — both publish paths create
    // exactly the next version): invisible to readers until that
    // version exists, and a crash between the two leaves an orphan
    // sidecar nothing reads; the re-run overwrites it. The keying
    // marker lands first, so even that crash orphan is marked.
    markViewKeyed(viewRoot)
    ed.coalesce(1).write.mode("overwrite")
      .parquet(edgesDir(viewRoot, SnapshotStore.currentVersion(viewRoot) + 1))
    val counts = binned(full, ed, grainSec, lit(1L))
    if (SnapshotStore.currentVersion(viewRoot) == 0)
      SnapshotStore.appendEpoch(counts, viewRoot, srcCur)
    else
      SnapshotStore.compactWith(counts, viewRoot,
        epochOverride = Some(srcCur.toLong))
  }

  /** RE-TIGHTEN a drifted view: one explicit full rebuild that refreezes
    * EVERY metric at the default margin, restoring the ≤ 2·w accuracy a
    * drifting metric traded away through escape-doubled margins.
    * Escape refreezes only ever GROW margins (amortizing maintenance
    * during active drift); once the drift stabilizes, nothing shrinks
    * them back — this is the operator's deliberate accuracy reclaim,
    * priced honestly at one O(table) rebuild (the same price class as
    * the view's own compaction, whose stamp mechanics it shares). Also
    * brings a lagging view current as a side effect (the rebuild runs
    * at the source's CURRENT version). */
  def retighten(spark: SparkSession, srcRoot: String, viewRoot: String,
                grainSec: Long = 86400L, bins: Int = DefaultBins): Int = {
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    require(srcCur > 0, s"no published source version at $srcRoot")
    require(SnapshotStore.lastEpoch(viewRoot).nonEmpty,
      s"no refreshed quantile view at $viewRoot — refresh() bootstraps")
    requireGrainSec(viewRoot, grainSec, "retighten")
    val v = rebuildAt(spark, srcRoot, viewRoot, grainSec, bins, srcCur,
      noMargins(spark))
    stampGrainSec(viewRoot, grainSec)
    SnapshotStore.recordViewBaseline(srcRoot, viewRoot, srcCur)
    v
  }

  private def rowChurnOnly(root: String, from: Int, cur: Int): Boolean =
    SnapshotStore.opsAll(root, from, cur, SnapshotStore.RowChurnOps)

  private def appendOnly(root: String, from: Int, cur: Int): Boolean =
    SnapshotStore.opsAll(root, from, cur, Set("append"))

  /** Bring the view up to the source's current version. The source is a
    * (metric, e, value) series store. Returns the view version. */
  def refresh(spark: SparkSession, srcRoot: String, viewRoot: String,
              grainSec: Long = 86400L, bins: Int = DefaultBins): Int = {
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    require(srcCur > 0, s"no published source version at $srcRoot")
    requireGrainSec(viewRoot, grainSec, "refresh")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(0)
    if (srcCur <= from) return SnapshotStore.currentVersion(viewRoot)
    // clear crashed-rebuild sidecar orphans FIRST: the append/churn exits
    // below create the next view version without writing edges, which
    // must not resurrect a freeze whose counts never published (the
    // rebuild exits overwrite their own slot; compact() clears its own).
    // The keying gate runs before the drop — a marker-less legacy
    // sidecar above the view version must refuse, not be deleted as an
    // orphan.
    checkEdgesKeying(viewRoot)
    dropOrphanEdges(viewRoot)
    // every exit below publishes the view at cursor srcCur — stamp the
    // grain and pin the source's vacuum afterward (viewrefs guard; a
    // crash leaves no false pin and no false stamp)
    def recorded(v: Int): Int = {
      stampGrainSec(viewRoot, grainSec)
      SnapshotStore.recordViewBaseline(srcRoot, viewRoot, srcCur)
      v
    }

    def rebuild(margins: DataFrame): Int =
      rebuildAt(spark, srcRoot, viewRoot, grainSec, bins, srcCur, margins)

    val baselineGone = from > 0 && !SnapshotStore.hasManifest(srcRoot, from)
    if (from == 0 || baselineGone || !rowChurnOnly(srcRoot, from, srcCur))
      return recorded(rebuild(noMargins(spark)))
    val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
    // ESCAPE-triggered refreezes double the ESCAPING metrics' margins
    // (consecutive escapes compound per metric; stable neighbors and any
    // non-escape rebuild reset to the default): monotone drift costs
    // O(log drift) rebuilds, not one per refresh, without coarsening the
    // bins of metrics that never moved
    if (appendOnly(srcRoot, from, srcCur)) {
      val delta = SnapshotStore.incremental(spark, srcRoot, from, srcCur)
      // envelope escape, new metric, OR a null row (all one probe, one
      // delta pass): refreeze via rebuild — whose gate refuses the nulls
      val esc = escapingMetrics(delta, ed)
      if (!esc.isEmpty)
        return recorded(rebuild(grownMargins(esc, ed)))
      recorded(SnapshotStore.appendEpoch(
        binned(delta, ed, grainSec, lit(1L)), viewRoot, srcCur))
    } else {
      // churn: SIGNED partials straight off the row change feed — counts
      // retract by arithmetic, no dirty-group recompute, no view rewrite
      val ch = SnapshotStore.changes(spark, srcRoot, from, srcCur)
      val inserts = ch.where(col("_change_type") === "insert")
      val esc = escapingMetrics(inserts, ed)
      if (!esc.isEmpty)
        return recorded(rebuild(grownMargins(esc, ed)))
      // delete-side null rows were never binned (inserts refuse above),
      // so retracting them is a NO-OP by definition — filter, don't
      // refuse: a change feed cannot be pre-filtered by the caller, and
      // binCol would otherwise silently decrement bin 0 for them
      val signed = binned(
        ch.where(col("metric").isNotNull && col("value").isNotNull)
          .select(col("metric"), col("e"), col("value"),
            when(col("_change_type") === "insert", 1L).otherwise(-1L)
              .as("__sign")),
        ed, grainSec, col("__sign"))
      recorded(SnapshotStore.appendEpoch(signed, viewRoot, srcCur))
    }
  }

  /** Net bin counts per (metric, bucket, bin) — the fold read (zero-net
    * bins drop; a negative net would mean a maintenance bug and is
    * surfaced, not masked). */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    SnapshotStore.read(spark, viewRoot)
      .groupBy("metric", "bucket", "bin")
      .agg(sum("cnt").as("cnt"))
      .where(col("cnt") =!= 0L)

  /** Delete orphan edge sidecars keyed ABOVE the current view version —
    * debris of a crashed rebuild. The rebuild's own re-run overwrites
    * its orphan, but any OTHER publish (compact) would otherwise make
    * the orphan's version exist and pair stale-binned counts with the
    * never-committed freeze. */
  private def dropOrphanEdges(viewRoot: String): Unit = {
    val cap = SnapshotStore.currentVersion(viewRoot)
    val d = java.nio.file.Paths.get(viewRoot, "_edges")
    if (java.nio.file.Files.isDirectory(d)) {
      val stream = java.nio.file.Files.list(d)
      try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => scala.util.Try(
          p.getFileName.toString.stripPrefix("v").toInt).toOption
          .exists(_ > cap))
        .foreach(p => SnapshotStore.deleteTree(p.toString))
      finally stream.close()
    }
  }

  /** Fold the partial history to one row per live (metric, bucket, bin)
    * — the view's own maintenance compaction (content and stamp
    * preserved). Clears crashed-rebuild sidecar orphans first: compact
    * creates the next view version, which must not resurrect a freeze
    * whose counts never published. */
  def compact(spark: SparkSession, viewRoot: String, targetFiles: Int = 4): Int = {
    checkEdgesKeying(viewRoot)
    dropOrphanEdges(viewRoot)
    SnapshotStore.compactWith(read(spark, viewRoot), viewRoot, targetFiles)
  }

  /** Served quantile ESTIMATES per (metric, bucket, phi): cumulative-
    * count bin selection + linear interpolation inside the selected bin —
    * `lo + w·bin + w·(t − cumBefore)/cnt` with `t = phi·n`. Deterministic
    * arithmetic over integer counts and frozen edges: bit-reproducible in
    * any engine that replays the same expression (the oracle does).
    * Accuracy: |est − exact quantile| ≤ 2·w by construction. Cost:
    * O(live bins), never the source. */
  def quantiles(spark: SparkSession, viewRoot: String,
                phis: Seq[Double]): DataFrame =
    quantilesOf(read(spark, viewRoot), edgesFor(spark, viewRoot), phis)

  /** DELTA-COMPENSATED quantile estimates from a STALE view — and
    * because the partials are RETRACTABLE counts, compensation here is
    * sound over CHURN gaps too, not just appends (the one view engine
    * where the lambda read path covers deletes): the current estimates
    * are the stored bin counts merged with the gap's signed counts
    * folded on the fly under the SAME frozen edges — bit-equal to
    * refresh-then-serve, since [[refresh]]'s in-envelope paths publish
    * exactly those partials. Declines (None) when compensation would
    * change the freeze: a gap insert ESCAPES the envelope or carries a
    * new/null metric (refresh would refreeze the edges — different bins,
    * different estimates), a gap commit compacted the source, or the
    * baseline manifest was vacuumed (no diff). An already-fresh view
    * returns the plain estimates. `grainSec` must repeat the value the
    * view is maintained at (stamp-enforced, like every mutating call).
    * Cost: O(live bins + Δ). */
  def compensatedQuantiles(spark: SparkSession, srcRoot: String,
                           viewRoot: String, phis: Seq[Double],
                           grainSec: Long = 86400L): Option[DataFrame] = {
    requireGrainSec(viewRoot, grainSec, "compensatedQuantiles")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(return None)
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    if (srcCur < from) return None
    if (srcCur == from) return Some(quantiles(spark, viewRoot, phis))
    if (!SnapshotStore.hasManifest(srcRoot, from)) return None // vacuumed baseline
    if (!rowChurnOnly(srcRoot, from, srcCur)) return None      // compaction
    val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
    val deltaCounts =
      if (appendOnly(srcRoot, from, srcCur)) {
        val delta = SnapshotStore.incremental(spark, srcRoot, from, srcCur)
        if (!escapingMetrics(delta, ed).isEmpty) return None
        binned(delta, ed, grainSec, lit(1L))
      } else {
        // churn: signed counts straight off the row change feed — the
        // refresh churn path's fold verbatim (delete-side null rows were
        // never binned, so dropping them IS their contribution)
        val ch = SnapshotStore.changes(spark, srcRoot, from, srcCur)
        if (!escapingMetrics(ch.where(col("_change_type") === "insert"), ed)
            .isEmpty) return None
        binned(
          ch.where(col("metric").isNotNull && col("value").isNotNull)
            .select(col("metric"), col("e"), col("value"),
              when(col("_change_type") === "insert", 1L).otherwise(-1L)
                .as("__sign")),
          ed, grainSec, col("__sign"))
      }
    Some(quantilesOf(
      SnapshotStore.read(spark, viewRoot).unionByName(deltaCounts)
        .groupBy("metric", "bucket", "bin")
        .agg(sum("cnt").as("cnt"))
        .where(col("cnt") =!= 0L),
      ed, phis))
  }

  /** The estimate arithmetic over (net counts, frozen edges) — shared by
    * the fresh and the delta-compensated serve, so the two are the same
    * expression tree over different count inputs. */
  private def quantilesOf(counts: DataFrame, ed: DataFrame,
                          phis: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSpec = Window.partitionBy("metric", "bucket").orderBy("bin")
    val cum = counts
      .withColumn("cum", sum("cnt").over(wSpec))
      .withColumn("n", sum("cnt").over(
        Window.partitionBy("metric", "bucket")))
    val withPhi = cum.select(col("*"),
      explode(array(phis.map(p => lit(p)): _*)).as("phi"))
      .withColumn("t", col("phi") * col("n").cast("double"))
    withPhi
      // the bin holding rank t: cumBefore < t <= cum. t = 0 (phi = 0)
      // satisfies no bin under the strict lower bound (the first live
      // bin has cumBefore == 0, and 0 < 0 is false) — serve it the
      // minimum-edge estimate explicitly: cum == cnt IS "first live
      // bin", and the shared est formula collapses to lo + w·bin there
      // (t − cumBefore = 0). The strict bound stays for t > 0, so no
      // bin double-serves a boundary rank.
      .where((col("cum").cast("double") >= col("t") &&
          (col("cum") - col("cnt")).cast("double") < col("t")) ||
        (col("t") === 0.0 && col("cum") === col("cnt")))
      .join(broadcast(ed), "metric")
      .select(col("metric"), col("bucket"), col("phi"),
        (col("lo") + col("w") * col("bin") +
          col("w") * ((col("t") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))).as("est"))
  }
}
