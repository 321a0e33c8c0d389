package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import MultiAggJoinView.Edge

/** Incrementally maintained DISTINCT-COUNT over an N-WAY JOIN TREE
  * (N ≥ 2; the one-edge tree is the two-table view [[NdvJoinView]]
  * forwards to): [[NdvView]]'s HLL sketch partials composed with
  * [[MultiAggJoinView]]'s telescoping term machinery and semi-join
  * cascade restriction. "Distinct customers per
  * nation × priority" over a snowflake is the second-most-common
  * dashboard aggregate; this view serves it from O(groups × 4 KiB)
  * sketch rows, never O(join rows).
  *
  * Maintenance composes the two parents' identities:
  *
  *   - APPEND-ONLY gap: the telescoped per-table delta terms
  *     (`ΔTᵢ ⋈ earlier-at-NEW, later-at-OLD`, cascade-restricted —
  *     [[MultiAggJoinView.termFrames]] verbatim) are sketched per group
  *     and APPENDED. The terms cover every new join row at least once
  *     and HLL register state is a per-item MAX, so the union of
  *     per-term sketches is bit-identical in estimate to a single-pass
  *     sketch of the final join (the [[NdvView]] guarantee, lifted to
  *     the tree) — O(Δ + matching) per refresh. The `cnt` partial rides
  *     the same terms exactly once each (the telescoping identity), so
  *     tombstone liveness stays exact.
  *   - ROW CHURN on any table: registers only grow — a monotone sketch
  *     cannot retract — so churn takes the dirty-GROUP path: every group
  *     that owned or gained a churned table's dirty-key join row (from
  *     the same restricted legs the telescoping would fold) re-sketches
  *     WHOLE from the current tree
  *     ([[MultiAggJoinView.dirtyGroupJoinRows]]'s owner-band + cascade
  *     restriction) and REPLACES by group key, while append-moved
  *     tables' delta terms restrict to the NON-dirty groups and land as
  *     the append side of the SAME atomic publish
  *     ([[SnapshotStore.upsertAndAppendEpoch]]); emptied groups
  *     tombstone (cnt = 0, null sketch).
  *   - a source compaction / vacuumed baseline: one full rebuild.
  *
  * Read merges sketches per group (`hll_union_agg` skips null
  * tombstones) and drops `cnt = 0` groups; the estimate is
  * `hll_sketch_estimate` of the merged sketch. The estimate is
  * approximate, so registered queries follow the approx-surface
  * contract: exact NDV rides beside the exported estimate and the band
  * verdict re-derives in the oracle. Contract: the
  * [[MultiAggJoinView]] tree contract (inner equi-joins, tree graph,
  * columns resolve on exactly one table with child keys excluded), one
  * distinct column, fixed lgK = [[NdvView.LgK]] so every version's
  * sketches union.
  */
object MultiNdvJoinView {

  private def specLine(n: Int, edges: Seq[Edge], groups: Seq[String],
                       distinctCol: String): String = {
    def lc(xs: Seq[String]) = xs.map(_.toLowerCase(java.util.Locale.ROOT))
    val es = edges.map(e =>
      s"${e.parent}:${lc(e.parentKeys).mkString(",")}:${lc(e.childKeys).mkString(",")}")
      .mkString("|")
    s"n=$n;e=$es;g=${lc(groups).sorted.mkString(",")};" +
      s"x=${distinctCol.toLowerCase(java.util.Locale.ROOT)};p=1"
  }

  private def recordedSpec(viewRoot: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, "_mndvjspec")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordSpec(viewRoot: String, line: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(viewRoot, "_mndvjspec"), line.getBytes("UTF-8"))
  }

  /** The recorded distinct column (for the estimate's output name). */
  private[graft] def recordedDistinct(viewRoot: String): Option[String] =
    recordedSpec(viewRoot).flatMap(_.split(";").find(_.startsWith("x="))
      .map(_.drop(2)))

  /** Sketch join rows per group: cnt for tombstone liveness, the HLL
    * partial for the estimate. */
  private def fold(rows: DataFrame, groups: Seq[String], x: String): DataFrame =
    rows.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        expr(s"hll_sketch_agg($x, ${NdvView.LgK})").as("sk"))

  private def tombstones(gone: DataFrame): DataFrame = {
    val cols = gone.columns.toSeq.map(col) :+
      lit(0L).as("cnt") :+ lit(null).cast(BinaryType).as("sk")
    gone.select(cols: _*)
  }

  /** Bring the view up to every source's current version. Returns the
    * view version. Spec arguments must repeat the bootstrap's verbatim. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String],
              distinctCol: String): Int = {
    val n = roots.size
    MultiAggJoinView.validateTree(roots, edges, groupCols)
    MultiAggJoinView.refuseTwoTableLayout(viewRoot)
    groupCols.find(g => Seq("cnt", "sk").exists(_.equalsIgnoreCase(g)))
      .foreach(g => sys.error(s"group column '$g' collides with a partial column"))

    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    curVs.zip(roots).foreach { case (v, r) =>
      require(v > 0, s"every source must have a published version ($r=$v)")
    }
    val prevVs = MultiAggJoinView.cursors(viewRoot, n).toIndexedSeq
    if (curVs == prevVs) return SnapshotStore.currentVersion(viewRoot)
    curVs.zip(prevVs).zip(roots).foreach { case ((cv, pv), r) =>
      require(cv >= pv, s"source went backwards at $r: $pv -> $cv")
    }
    val spec = specLine(n, edges, groupCols, distinctCol)
    if (prevVs.exists(_ != 0)) {
      val rec = recordedSpec(viewRoot).getOrElse("")
      require(rec == spec,
        s"view at $viewRoot is maintained with spec '$rec', refresh asked '$spec'")
    }

    val rootsV = roots.toIndexedSeq
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    MultiAggJoinView.validateResolution(newFrames, edges,
      groupCols :+ distinctCol)
    // every branch below publishes at curVs — one stamp (wide mode
    // writes its vector sidecar here, BEFORE any publish)
    val stamp = MultiAggJoinView.stampFor(viewRoot, curVs)

    val adj = MultiAggJoinView.adjacency(n, edges)
    def slice(frames: IndexedSeq[DataFrame]): DataFrame =
      MultiAggJoinView.joinedSlice(frames, edges, groupCols, Seq(distinctCol))

    // per-table leg builders — the MultiAggJoinView refresh glue with
    // the sketch fold in place of the signed partials
    def versFor(i: Int): IndexedSeq[Int] =
      rootsV.indices.map(j => if (j < i) curVs(j) else prevVs(j)).toIndexedSeq
    def deltaTermRows(i: Int): DataFrame = {
      val delta = SnapshotStore.incremental(spark, rootsV(i),
        prevVs(i), curVs(i), Some(newFrames(i).schema))
      slice(MultiAggJoinView.termFrames(spark, rootsV, n, adj, i, delta,
        versFor(i)))
    }
    def restrictionKeys(i: Int): Seq[String] =
      if (i == 0) edges.head.parentKeys else edges(i - 1).childKeys
    def churnLegRows(i: Int, dirty: JoinView.DeltaKeys, ver: Int): DataFrame = {
      val myKeys = restrictionKeys(i)
      val restricted = JoinView.prefiltered(
        JoinView.standing(spark, rootsV(i), ver, myKeys, dirty),
        myKeys, dirty)
      slice(MultiAggJoinView.termFrames(spark, rootsV, n, adj, i, restricted,
        versFor(i)))
    }
    def dirtyOf(i: Int): JoinView.DeltaKeys = {
      val myKeys = restrictionKeys(i)
      JoinView.keyTuples(
        SnapshotStore.changes(spark, rootsV(i), prevVs(i), curVs(i))
          .select(myKeys.map(col): _*), myKeys)
    }
    // BOTH churn legs of table i in ONE term build (the MultiAggJoinView
    // fused-churn shape): the dirty-GROUP probe needs the union of the
    // old- and new-version restricted join rows' group columns, and the
    // two restrictions share the dirty keys — pinning their UNION builds
    // ONE cascade and ONE join tree where the two-leg shape paid both
    // twice. The cascade restriction by the union's keys is a superset
    // of each leg's; restriction is pure pruning and the join
    // distributes over union, so the distinct group set is identical.
    // Falls back to two legs when the gap evolved the table's schema.
    def churnUnionGroups(i: Int, dirty: JoinView.DeltaKeys): DataFrame = {
      val myKeys = restrictionKeys(i)
      def restricted(ver: Int) = JoinView.prefiltered(
        JoinView.standing(spark, rootsV(i), ver, myKeys, dirty),
        myKeys, dirty)
      val old = restricted(prevVs(i)); val nw = restricted(curVs(i))
      if (old.columns.toSeq != nw.columns.toSeq)
        churnLegRows(i, dirty, prevVs(i)).select(groupCols.map(col): _*)
          .unionByName(churnLegRows(i, dirty, curVs(i))
            .select(groupCols.map(col): _*))
      else
        slice(MultiAggJoinView.termFrames(spark, rootsV, n, adj, i,
          old.unionByName(nw), versFor(i)))
          .select(groupCols.map(col): _*)
    }
    val moved = rootsV.indices.filter(i => curVs(i) > prevVs(i))
    def appendMoved(i: Int): Boolean =
      JoinView.appendOnly(rootsV(i), prevVs(i), curVs(i))

    val vNew = if (prevVs.forall(_ == 0)) {
      recordSpec(viewRoot, spec) // BEFORE the publish: crash re-bootstraps
      SnapshotStore.appendEpoch(fold(slice(newFrames), groupCols,
        distinctCol), viewRoot, stamp)
    } else if (rootsV.indices.forall(i => curVs(i) == prevVs(i) ||
        JoinView.churnOnly(rootsV(i), prevVs(i), curVs(i)))) {
      val churned = moved.filterNot(appendMoved)
      if (churned.isEmpty) {
        // register-max union: the telescoped per-table delta sketches
        // merge to the exact single-pass estimate; cnt rides the same
        // terms exactly once each. ONE stamped append (crash-idempotent).
        val partials = Overlap.map(moved)(i =>
          fold(deltaTermRows(i), groupCols, distinctCol))
          .reduce(_ unionByName _)
        SnapshotStore.appendEpoch(
          if (partials.isEmpty) partials.repartition(1) else partials,
          viewRoot, stamp)
      } else {
        // monotone-summary churn: dirty groups from the churned tables'
        // restricted legs (both versions) re-sketch WHOLE and REPLACE;
        // append-moved tables' delta sketches restrict to the NON-dirty
        // groups and land beside them in ONE atomic publish
        val dirtyG = Overlap.map(churned)(i => churnUnionGroups(i, dirtyOf(i)))
          .reduce(_ unionByName _).distinct().localCheckpoint(true)
        val anyNull = groupCols.map(col(_).isNull).reduce(_ || _)
        if (!dirtyG.where(anyNull).isEmpty) {
          // NULL-keyed dirty groups would slip the null-unsafe keyed
          // replace — one full rebuild handles them exactly
          SnapshotStore.compactWith(fold(slice(newFrames), groupCols,
            distinctCol), viewRoot,
            epochOverride = Some(stamp))
        } else if (dirtyG.isEmpty) {
          // no dirty groups — the churned tables' dirty keys join zero
          // rows at BOTH versions, so there is nothing to re-sketch or
          // tombstone. But in a MIXED gap the append-moved tables' delta
          // terms still carry new join rows (appendOnly implies
          // churnOnly, so this branch is reachable with appends in
          // flight): publish THOSE, unrestricted — with no dirty groups
          // there is nothing to exclude. An empty append here would
          // silently drop their sketch/cnt mass while the cursor
          // advances — permanently wrong.
          val appendSide = Overlap.map(moved.filter(appendMoved))(i =>
            fold(deltaTermRows(i), groupCols, distinctCol))
            .reduceOption(_ unionByName _)
            .getOrElse(fold(slice(newFrames.map(_.limit(0))), groupCols,
              distinctCol))
          SnapshotStore.appendEpoch(
            if (appendSide.isEmpty) appendSide.repartition(1) else appendSide,
            viewRoot, stamp)
        } else {
          val cur = MultiAggJoinView.dirtyGroupJoinRows(spark, rootsV,
            edges, curVs, newFrames, groupCols, Seq(distinctCol), dirtyG)
          // checkpointed: group-sized, and referenced TWICE below (the
          // replace side and gone's anti-join) — one execution, not two
          val recomputed = fold(cur, groupCols, distinctCol)
            .localCheckpoint(true)
          val gone = dirtyG.join(
            recomputed.select(groupCols.map(col): _*), groupCols, "left_anti")
          val appendSide = Overlap.map(moved.filter(appendMoved))(i =>
            fold(deltaTermRows(i), groupCols, distinctCol)
              .join(broadcast(dirtyG), groupCols, "left_anti"))
            .reduceOption(_ unionByName _)
            .getOrElse(recomputed.limit(0))
          SnapshotStore.upsertAndAppendEpoch(spark,
            recomputed.unionByName(tombstones(gone)),
            if (appendSide.isEmpty) appendSide.repartition(1) else appendSide,
            viewRoot, groupCols, stamp)
        }
      }
    } else {
      // a compaction (or vacuumed baseline) somewhere broke the diff
      SnapshotStore.compactWith(fold(slice(newFrames), groupCols,
        distinctCol), viewRoot,
        epochOverride = Some(stamp))
    }
    rootsV.indices.foreach(i =>
      SnapshotStore.recordViewBaseline(rootsV(i), viewRoot, curVs(i)))
    vNew
  }

  /** Merge sketches per group WITHOUT estimating (compaction content —
    * the store keeps its mergeability). */
  private def mergedSketches(partials: DataFrame,
                             groups: Seq[String]): DataFrame =
    partials.groupBy(groups.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        expr("hll_union_agg(sk, false)").as("sk"))
      .where(col("cnt") > 0)

  private def groupsOf(partials: DataFrame): Seq[String] =
    partials.columns.filterNot(c =>
      c.equalsIgnoreCase("cnt") || c.equalsIgnoreCase("sk")).toSeq

  /** The served answer: groups…, `cnt`, `approx_<distinctCol>` (the
    * merged-sketch estimate — bit-equal to a single-pass
    * `hll_sketch_estimate(hll_sketch_agg(x, lgK))` over the tree). */
  def read(spark: SparkSession, viewRoot: String): DataFrame = {
    val partials = SnapshotStore.read(spark, viewRoot)
    val x = recordedDistinct(viewRoot).getOrElse("x")
    val groups = groupsOf(partials)
    mergedSketches(partials, groups)
      .select(groups.map(col) :+ col("cnt") :+
        expr("hll_sketch_estimate(sk)").as(s"approx_$x"): _*)
  }

  /** DELTA-COMPENSATED estimates from a STALE view: when every moved
    * source's gap is an APPEND, stored sketches union with the
    * telescoped delta-term sketches folded on the fly — register-max
    * union keeps even the compensated estimate bit-equal to
    * refresh-then-read. Churned/compacted gaps decline (a monotone
    * sketch cannot retract); spec mismatch declines. */
  def compensatedRead(spark: SparkSession, roots: Seq[String],
                      viewRoot: String, edges: Seq[Edge],
                      groupCols: Seq[String],
                      distinctCol: String): Option[DataFrame] = {
    val n = roots.size
    val prevVs = MultiAggJoinView.cursors(viewRoot, n).toIndexedSeq
    if (prevVs.forall(_ == 0)) return None
    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    if (curVs.zip(prevVs).exists { case (cv, pv) => cv < pv }) return None
    if (curVs == prevVs) return Some(read(spark, viewRoot))
    val rootsV = roots.toIndexedSeq
    if (!rootsV.indices.forall(i => curVs(i) == prevVs(i) ||
        JoinView.appendOnly(rootsV(i), prevVs(i), curVs(i)))) return None
    if (!recordedSpec(viewRoot).contains(
        specLine(n, edges, groupCols, distinctCol))) return None
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    val adj = MultiAggJoinView.adjacency(n, edges)
    val terms = (for (i <- rootsV.indices if curVs(i) > prevVs(i)) yield {
      val vers = rootsV.indices.map(j => if (j < i) curVs(j) else prevVs(j))
        .toIndexedSeq
      val delta = SnapshotStore.incremental(spark, rootsV(i),
        prevVs(i), curVs(i), Some(newFrames(i).schema))
      fold(MultiAggJoinView.joinedSlice(
        MultiAggJoinView.termFrames(spark, rootsV, n, adj, i, delta, vers),
        edges, groupCols, Seq(distinctCol)), groupCols, distinctCol)
    }).reduce(_ unionByName _)
    Some(mergedSketches(
      SnapshotStore.read(spark, viewRoot).unionByName(terms), groupCols)
      .select(groupCols.map(col) :+ col("cnt") :+
        expr("hll_sketch_estimate(sk)").as(s"approx_$distinctCol"): _*))
  }

  /** Fold partials to one sketch row per group (view compaction). */
  def compact(spark: SparkSession, viewRoot: String): Int = {
    val partials = SnapshotStore.read(spark, viewRoot)
    SnapshotStore.compactWith(
      mergedSketches(partials, groupsOf(partials)), viewRoot)
  }
}
