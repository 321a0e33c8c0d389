package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained APPROXIMATE-QUANTILE over a JOIN —
  * percentiles of a measure per dim attribute ("p90 order total per
  * market segment") as a maintained view: [[QuantileView]]'s
  * deterministic fixed-bin histogram composed with [[JoinView]]'s
  * join-delta machinery. Per (group, bin) the view stores a SIGNED
  * count; the estimate is cumulative-count bin selection + linear
  * interpolation under frozen edges — bit-reproducible across engines,
  * so the correctness gate hashes the ESTIMATES directly (the
  * `quantile_view_answer` technique, lifted to the join).
  *
  * One deliberate difference from the single-table view: edges freeze
  * GLOBALLY for the one value column (observed join-wide range ± a
  * margin), not per group. Per-group edges would break the signed
  * arithmetic whenever churn MOVES a row between groups (same value,
  * different bins — the ± legs would no longer cancel); a global freeze
  * makes the bin a function of the value alone, so group movement is
  * just signed mass transfer and EVERY churn stays pure arithmetic —
  * no dirty-group recompute, no keyed upsert, ONE stamped append per
  * refresh. The price is one envelope for all groups (a wide-range
  * group coarsens everyone's bins; the ≤ 2·w accuracy bound is global).
  *
  * Maintenance composes the parents' identities:
  *   - append-only delta: Δ(L⋈R) ([[deltaJoinRows]] —
  *     standing sides bloom-prefiltered and file-pruned) binned at +1;
  *   - row churn on either source: dirty key tuples from the change
  *     feeds; the OLD-version join restricted to them bins at −1, the
  *     NEW-version one at +1 (unchanged rows cancel);
  *   - a delta/churn row ESCAPING the frozen envelope: one full rebuild
  *     that REFREEZES with the margin doubled (capped), the
  *     [[QuantileView]] amortization with a single global margin;
  *   - a source compaction / vacuumed baseline: one full rebuild at the
  *     default margin.
  *
  * NULL measure values never bin (the standard quantile semantics —
  * `quantile_cont` ignores nulls) on every path including the oracle
  * replay. Contract: inner equi-join; group columns and the value
  * column resolve on exactly one side (right keys excluded); the edges
  * sidecar is keyed by the VIEW version its publish creates (crash
  * between sidecar write and publish leaves an orphan nothing reads;
  * non-rebuild publishes clear orphans first — the [[QuantileView]]
  * protocol).
  */
object QuantileJoinView {

  val DefaultBins = 64
  val DefaultMargin = 0.25
  val MaxMargin = 8.0

  private def specLine(lks: Seq[String], rks: Seq[String],
                       groups: Seq[String], x: String, bins: Int): String = {
    def lc(xs: Seq[String]) = xs.map(_.toLowerCase(java.util.Locale.ROOT))
    s"lk=${lc(lks).mkString(",")};rk=${lc(rks).mkString(",")};" +
      s"g=${lc(groups).sorted.mkString(",")};" +
      s"v=${x.toLowerCase(java.util.Locale.ROOT)};b=$bins;p=1"
  }

  private def recordedSpec(viewRoot: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, "_qjspec")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordSpec(viewRoot: String, line: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(viewRoot, "_qjspec"), line.getBytes("UTF-8"))
  }

  private[graft] def recordedValue(viewRoot: String): Option[String] =
    recordedSpec(viewRoot).flatMap(_.split(";").find(_.startsWith("v="))
      .map(_.drop(2)))

  // ---- edges sidecar (view-version keyed, the QuantileView protocol) ----

  private[sources] def edgesDir(viewRoot: String, viewV: Int): String =
    s"$viewRoot/_jedges/v$viewV"

  private[sources] def edgeKeys(viewRoot: String): Seq[Int] = {
    val d = java.nio.file.Paths.get(viewRoot, "_jedges")
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

  private[sources] def dropOrphanEdges(viewRoot: String): Unit = {
    val cap = SnapshotStore.currentVersion(viewRoot)
    edgeKeys(viewRoot).filter(_ > cap).foreach(v =>
      SnapshotStore.deleteTree(edgesDir(viewRoot, v)))
  }

  /** The newest frozen edges at or below the view's current version —
    * ONE row: (lo, w, bins, margin). */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame = {
    require(SnapshotStore.lastEpoch(viewRoot).nonEmpty,
      s"no refreshed quantile-join view at $viewRoot")
    val cap = SnapshotStore.currentVersion(viewRoot)
    val versions = edgeKeys(viewRoot).filter(_ <= cap)
    require(versions.nonEmpty, s"no frozen edges at or below view v$cap")
    spark.read.parquet(edgesDir(viewRoot, versions.max))
  }

  /** Freeze global edges from the join's non-null values (observed range
    * ± margin of the range each side; degenerate single-value data gets
    * unit width). One row. */
  private[sources] def freezeEdges(rows: DataFrame, x: String, bins: Int,
                          margin: Double): DataFrame =
    rows.where(col(x).isNotNull)
      .agg(min(col(x).cast("double")).as("mn"),
        max(col(x).cast("double")).as("mx"))
      .select(
        (col("mn") - greatest(col("mx") - col("mn"), lit(1.0)) * lit(margin))
          .as("lo"),
        (greatest(col("mx") - col("mn"), lit(1.0)) *
          (lit(1.0) + lit(2.0) * lit(margin)) / lit(bins)).as("w"),
        lit(bins).as("bins"),
        lit(margin).as("margin"))

  /** The shared binning expression — ONE definition for every refresh
    * path and the SQL oracle replay: clamped integer bin of a value
    * under (lo, w, bins). */
  private def binCol(x: String, lo: Column, w: Column, bins: Column): Column =
    least(bins - lit(1),
      greatest(lit(0), floor((col(x).cast("double") - lo) / w).cast("int")))

  /** Fold join rows to signed (groups…, bin, cnt) partials under the
    * frozen edges; NULL values never bin. */
  private[sources] def binned(rows: DataFrame, ed: DataFrame, groups: Seq[String],
                     x: String, sign: Int): DataFrame =
    binnedBy(rows, ed, groups, x, lit(sign.toLong))

  /** [[binned]] with a PER-ROW sign — the fused two-leg churn fold: one
    * partial row per (group, bin) equal to the SUM of the separate ±
    * leg rows, identical after the read's merge, at half the execution. */
  private[sources] def binnedBy(rows: DataFrame, ed: DataFrame, groups: Seq[String],
                     x: String, sign: Column): DataFrame =
    rows.where(col(x).isNotNull)
      .join(broadcast(ed.select("lo", "w", "bins")))
      .select(groups.map(col) :+
        binCol(x, col("lo"), col("w"), col("bins")).as("bin") :+
        sign.cast("long").as("sign"): _*)
      .groupBy((groups :+ "bin").map(col): _*)
      .agg(sum(col("sign")).as("cnt"))

  /** Do any non-null values of `rows` escape the frozen envelope? */
  private[sources] def escapes(rows: DataFrame, ed: DataFrame, x: String): Boolean = {
    val v = col(x).cast("double")
    !rows.where(col(x).isNotNull)
      .join(broadcast(ed.select("lo", "w", "bins")))
      .where(v < col("lo") || v > col("lo") + col("w") * col("bins"))
      .isEmpty
  }

  private def joinedSlice(l: DataFrame, r: DataFrame,
                          lks: Seq[String], rks: Seq[String],
                          groups: Seq[String], x: String): DataFrame =
    JoinView.joined(l, r, lks, rks).select((groups :+ x).map(col): _*)

  /** The append-only gap's new join rows, sliced to (groups, value):
    * Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR, each standing side file-pruned by
    * the delta's key range and bloom-prefiltered by its key tuples —
    * the [[JoinView]] delta machinery. Shared by [[refresh]]'s append
    * path and [[compensatedQuantiles]]. At least one side must have
    * moved. */
  private def deltaJoinRows(spark: SparkSession,
                            leftRoot: String, rightRoot: String,
                            leftKeys: Seq[String], rightKeys: Seq[String],
                            groupCols: Seq[String], valueCol: String,
                            plv: Int, prv: Int, lv: Int, rv: Int,
                            lNew: DataFrame, rNew: DataFrame): DataFrame = {
    def slice(l: DataFrame, r: DataFrame): DataFrame =
      joinedSlice(l, r, leftKeys, rightKeys, groupCols, valueCol)
    val lPart =
      if (lv > plv) {
        val delta = SnapshotStore.incremental(spark, leftRoot, plv, lv,
          Some(lNew.schema))
        val dk = JoinView.keyTuples(delta, leftKeys)
        Some(slice(delta,
          JoinView.prefiltered(
            JoinView.standing(spark, rightRoot, rv, rightKeys, dk),
            rightKeys, dk)))
      } else None
    val rPart =
      if (rv > prv) {
        val delta = SnapshotStore.incremental(spark, rightRoot, prv, rv,
          Some(rNew.schema))
        val dk = JoinView.keyTuples(delta, rightKeys)
        Some(slice(
          JoinView.prefiltered(
            JoinView.standing(spark, leftRoot, plv, leftKeys, dk),
            leftKeys, dk),
          delta))
      } else None
    (lPart.toSeq ++ rPart.toSeq).reduce(_ unionByName _)
  }

  /** Bring the view up to both sources' current versions. Spec arguments
    * must repeat the bootstrap's verbatim. Returns the view version. */
  def refresh(spark: SparkSession, leftRoot: String, rightRoot: String,
              viewRoot: String, leftKeys: Seq[String], rightKeys: Seq[String],
              groupCols: Seq[String], valueCol: String,
              bins: Int = DefaultBins): Int = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"key lists must be non-empty and pair up: $leftKeys vs $rightKeys")
    require(groupCols.nonEmpty, "at least one group column")
    require(bins >= 2, s"need at least 2 bins, got $bins")
    groupCols.find(g => Seq("bin", "cnt").exists(_.equalsIgnoreCase(g)))
      .foreach(g => sys.error(s"group column '$g' collides with a partial column"))
    val lv = SnapshotStore.currentVersion(leftRoot)
    val rv = SnapshotStore.currentVersion(rightRoot)
    require(lv > 0 && rv > 0,
      s"both sources must have a published version ($leftRoot=$lv, $rightRoot=$rv)")
    val (plv, prv) = JoinView.cursors(viewRoot)
    if (lv == plv && rv == prv) return SnapshotStore.currentVersion(viewRoot)
    require(lv >= plv && rv >= prv,
      s"source went backwards: ($plv,$prv) -> ($lv,$rv)")
    val spec = specLine(leftKeys, rightKeys, groupCols, valueCol, bins)
    if (plv != 0 || prv != 0) {
      val rec = recordedSpec(viewRoot).getOrElse("")
      require(rec == spec,
        s"view at $viewRoot is maintained with spec '$rec', refresh asked '$spec'")
    }

    val lNew = SnapshotStore.readEvolved(spark, leftRoot, lv)
    val rNew = SnapshotStore.readEvolved(spark, rightRoot, rv)
    leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
      val (lt, rt) = (lNew.schema(lk).dataType, rNew.schema(rk).dataType)
      require(lt == rt,
        s"paired join keys must share a dataType: $lk:$lt vs $rk:$rt")
    }
    locally {
      def has(df: DataFrame, c: String) =
        df.columns.exists(_.equalsIgnoreCase(c))
      (groupCols :+ valueCol).foreach { c =>
        val inR = has(rNew, c) && !rightKeys.exists(_.equalsIgnoreCase(c))
        require(has(lNew, c) != inR,
          s"view column '$c' must resolve on exactly one join side " +
            "(right keys are dropped — name their paired left key instead)")
      }
    }

    def slice(l: DataFrame, r: DataFrame): DataFrame =
      joinedSlice(l, r, leftKeys, rightKeys, groupCols, valueCol)

    /** One full rebuild at `margin`: freeze edges keyed by the version
      * the publish creates, then publish the full binned content. */
    def rebuild(margin: Double): Int = {
      val full = slice(lNew, rNew).localCheckpoint(true)
      val ed = freezeEdges(full, valueCol, bins, margin).localCheckpoint(true)
      // a join with ZERO non-null measure values freezes NULL lo/w —
      // later deltas would pass escapes() (it null-filters) and bin to
      // NULL under the frozen NULL edges, silently poisoning every
      // count and estimate after the data arrives. Refuse the freeze
      // loudly instead (the single-table view's __nnull posture).
      require(ed.where(col("lo").isNull || col("w").isNull).isEmpty,
        s"cannot freeze quantile-join edges at $viewRoot: the join has " +
          s"no non-null '$valueCol' values — refresh again once the " +
          "sources carry at least one binnable row")
      val nextV = SnapshotStore.currentVersion(viewRoot) + 1
      ed.coalesce(1).write.mode("overwrite")
        .parquet(edgesDir(viewRoot, nextV))
      if (SnapshotStore.currentVersion(viewRoot) == 0) {
        recordSpec(viewRoot, spec)
        SnapshotStore.appendEpoch(binned(full, ed, groupCols, valueCol, 1),
          viewRoot, JoinView.pack(lv, rv))
      } else
        SnapshotStore.compactWith(binned(full, ed, groupCols, valueCol, 1),
          viewRoot, epochOverride = Some(JoinView.pack(lv, rv)))
    }
    def currentMargin(): Double = {
      val ed = edgesFor(spark, viewRoot)
      if (ed.columns.contains("margin"))
        ed.select("margin").head().getDouble(0)
      else DefaultMargin
    }

    val vNew = if (plv == 0 && prv == 0) {
      rebuild(DefaultMargin)
    } else if (JoinView.appendOnly(leftRoot, plv, lv) &&
               JoinView.appendOnly(rightRoot, prv, rv)) {
      val delta = deltaJoinRows(spark, leftRoot, rightRoot,
        leftKeys, rightKeys, groupCols, valueCol,
        plv, prv, lv, rv, lNew, rNew).localCheckpoint(true)
      val ed = edgesFor(spark, viewRoot)
      if (escapes(delta, ed, valueCol))
        rebuild(math.min(currentMargin() * 2.0, MaxMargin))
      else {
        dropOrphanEdges(viewRoot)
        val adds = binned(delta, ed, groupCols, valueCol, 1)
        SnapshotStore.appendEpoch(
          if (adds.isEmpty) adds.repartition(1) else adds,
          viewRoot, JoinView.pack(lv, rv))
      }
    } else if (JoinView.churnOnly(leftRoot, plv, lv) &&
               JoinView.churnOnly(rightRoot, prv, rv)) {
      // signed arithmetic churn: dirty join keys from both change feeds;
      // the old-version join restricted to them bins NEGATIVE, the
      // new-version one POSITIVE — the bin is a function of the value
      // alone under the global freeze, so moved groups transfer mass and
      // unchanged rows cancel. ONE stamped append, no rewrite.
      val dirty = JoinView.keyTuples(
        SnapshotStore.changes(spark, leftRoot, plv, lv)
          .select(leftKeys.map(col): _*)
          .unionByName(SnapshotStore.changes(spark, rightRoot, prv, rv)
            .select(rightKeys.zip(leftKeys).map { case (rk, lk) =>
              col(rk).as(lk)
            }: _*)),
        leftKeys)
      def dirtyJoinRows(lVer: Int, rVer: Int): DataFrame =
        slice(
          JoinView.prefiltered(
            JoinView.standing(spark, leftRoot, lVer, leftKeys, dirty),
            leftKeys, dirty),
          JoinView.prefiltered(
            JoinView.standing(spark, rightRoot, rVer, rightKeys, dirty),
            rightKeys, dirty))
      val newLeg = dirtyJoinRows(lv, rv).localCheckpoint(true)
      val ed = edgesFor(spark, viewRoot)
      if (escapes(newLeg, ed, valueCol))
        rebuild(math.min(currentMargin() * 2.0, MaxMargin))
      else {
        dropOrphanEdges(viewRoot)
        val terms = binned(dirtyJoinRows(plv, prv), ed, groupCols,
          valueCol, -1)
          .unionByName(binned(newLeg, ed, groupCols, valueCol, 1))
        SnapshotStore.appendEpoch(
          if (terms.isEmpty) terms.repartition(1) else terms,
          viewRoot, JoinView.pack(lv, rv))
      }
    } else {
      rebuild(DefaultMargin) // compaction / vacuumed baseline broke the diff
    }
    SnapshotStore.recordViewBaseline(leftRoot, viewRoot, lv)
    SnapshotStore.recordViewBaseline(rightRoot, viewRoot, rv)
    vNew
  }

  /** Live merged (groups…, bin, cnt) counts — retraction residue folded,
    * fully-retracted bins dropped. */
  private def mergedCounts(spark: SparkSession, viewRoot: String,
                           groups: Seq[String]): DataFrame =
    SnapshotStore.read(spark, viewRoot)
      .groupBy((groups :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") > 0)

  private def groupsOf(spark: SparkSession, viewRoot: String): Seq[String] = {
    val cols = SnapshotStore.readEvolved(spark, viewRoot).columns
    cols.filterNot(c =>
      c.equalsIgnoreCase("bin") || c.equalsIgnoreCase("cnt")).toSeq
  }

  /** The ONE estimator every quantile-join flavor serves through:
    * cumulative-bin selection + linear interpolation over merged signed
    * counts under the frozen edges (the [[QuantileView]] arithmetic,
    * partitioned by the view's groups) → groups…, `phi`, `est`. The bin
    * holding rank t satisfies cumBefore < t <= cum; phi = 0 serves the
    * first live bin explicitly (the QuantileView boundary contract).
    * Shared with [[MultiQuantileJoinView]] so the estimates of every
    * flavor hash-match an engine replaying the same formula. */
  private[sources] def estimatesFrom(counts: DataFrame, ed: DataFrame,
                                     groups: Seq[String],
                                     phis: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSpec = Window.partitionBy(groups.map(col): _*).orderBy("bin")
    val cum = counts
      .withColumn("cum", sum("cnt").over(wSpec))
      .withColumn("n", sum("cnt").over(
        Window.partitionBy(groups.map(col): _*)))
    val withPhi = cum.select(col("*"),
      explode(array(phis.map(p => lit(p)): _*)).as("phi"))
      .withColumn("t", col("phi") * col("n").cast("double"))
    withPhi
      .where((col("cum").cast("double") >= col("t") &&
          (col("cum") - col("cnt")).cast("double") < col("t")) ||
        (col("t") === 0.0 && col("cum") === col("cnt")))
      .join(broadcast(ed.select("lo", "w")))
      .select(groups.map(col) :+ col("phi") :+
        (col("lo") + col("w") * col("bin") +
          col("w") * ((col("t") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))).as("est"): _*)
  }

  /** Quantile estimates per group: groups…, `phi`, `est` — the shared
    * estimator over the view's merged counts. */
  def quantiles(spark: SparkSession, viewRoot: String,
                phis: Seq[Double]): DataFrame = {
    val groups = groupsOf(spark, viewRoot)
    estimatesFrom(mergedCounts(spark, viewRoot, groups),
      edgesFor(spark, viewRoot), groups, phis)
  }

  /** DELTA-COMPENSATED estimates from a STALE view — and because the
    * partials are RETRACTABLE signed counts, compensation is sound over
    * CHURN gaps too, not just appends (the [[QuantileView]] lambda-read
    * property, lifted to the join): the current estimates are the stored
    * counts merged with the gap's signed delta/churn counts folded on
    * the fly under the SAME frozen edges — bit-equal to
    * refresh-then-serve. Declines (None) when compensation would change
    * the freeze (a gap row ESCAPES the envelope — refresh would refreeze
    * and re-bin), when a gap commit compacted a source or the baseline
    * vacuumed (no diff), or on spec mismatch. */
  def compensatedQuantiles(spark: SparkSession, leftRoot: String,
                           rightRoot: String, viewRoot: String,
                           leftKeys: Seq[String], rightKeys: Seq[String],
                           groupCols: Seq[String], valueCol: String,
                           phis: Seq[Double],
                           bins: Int = DefaultBins): Option[DataFrame] = {
    val (plv, prv) = JoinView.cursors(viewRoot)
    if (plv == 0 && prv == 0) return None
    val lv = SnapshotStore.currentVersion(leftRoot)
    val rv = SnapshotStore.currentVersion(rightRoot)
    if (lv < plv || rv < prv) return None
    if (lv == plv && rv == prv) return Some(quantiles(spark, viewRoot, phis))
    if (!recordedSpec(viewRoot).contains(
        specLine(leftKeys, rightKeys, groupCols, valueCol, bins))) return None
    val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
    val lNew = SnapshotStore.readEvolved(spark, leftRoot, lv)
    val rNew = SnapshotStore.readEvolved(spark, rightRoot, rv)
    def slice(l: DataFrame, r: DataFrame): DataFrame =
      joinedSlice(l, r, leftKeys, rightKeys, groupCols, valueCol)
    val deltaCounts =
      if (JoinView.appendOnly(leftRoot, plv, lv) &&
          JoinView.appendOnly(rightRoot, prv, rv)) {
        val delta = deltaJoinRows(spark, leftRoot, rightRoot,
          leftKeys, rightKeys, groupCols, valueCol,
          plv, prv, lv, rv, lNew, rNew).localCheckpoint(true)
        if (escapes(delta, ed, valueCol)) return None
        binned(delta, ed, groupCols, valueCol, 1)
      } else if (JoinView.churnOnly(leftRoot, plv, lv) &&
                 JoinView.churnOnly(rightRoot, prv, rv)) {
        val dirty = JoinView.keyTuples(
          SnapshotStore.changes(spark, leftRoot, plv, lv)
            .select(leftKeys.map(col): _*)
            .unionByName(SnapshotStore.changes(spark, rightRoot, prv, rv)
              .select(rightKeys.zip(leftKeys).map { case (rk, lk) =>
                col(rk).as(lk)
              }: _*)),
          leftKeys)
        def dirtyJoinRows(lVer: Int, rVer: Int): DataFrame =
          slice(
            JoinView.prefiltered(
              JoinView.standing(spark, leftRoot, lVer, leftKeys, dirty),
              leftKeys, dirty),
            JoinView.prefiltered(
              JoinView.standing(spark, rightRoot, rVer, rightKeys, dirty),
              rightKeys, dirty))
        val newLeg = dirtyJoinRows(lv, rv).localCheckpoint(true)
        if (escapes(newLeg, ed, valueCol)) return None
        binned(dirtyJoinRows(plv, prv), ed, groupCols, valueCol, -1)
          .unionByName(binned(newLeg, ed, groupCols, valueCol, 1))
      } else return None // compaction / vacuumed baseline: no sound diff
    val counts = SnapshotStore.read(spark, viewRoot)
      .unionByName(deltaCounts)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") > 0)
    Some(estimatesFrom(counts, ed, groupCols, phis))
  }

  /** Fold signed partials to one live row per (group, bin) — drops the
    * retraction residue physically; content and cursor unchanged. */
  def compact(spark: SparkSession, viewRoot: String): Int = {
    val groups = groupsOf(spark, viewRoot)
    SnapshotStore.compactWith(mergedCounts(spark, viewRoot, groups), viewRoot)
  }
}
