package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained APPROXIMATE-QUANTILE over an inner-join TREE
  * of N ≥ 2 tables (two tables are the one-edge tree) — percentiles of a
  * measure per dim attribute ("p90 order total per market segment") as a
  * maintained view: the [[FixedBinHistogram]] under ONE global freeze
  * (empty partition set) composed with [[MultiAggJoinView]]'s
  * telescoped tree-delta machinery.
  *
  * {{{ SELECT g…, approx_quantile(x, φ…) FROM T0 JOIN T1 ON … JOIN T2 … GROUP BY g… }}}
  *
  * Storage: one SIGNED count per (group, bin) under ONE globally frozen
  * edge set (`_jedges/v<viewV>` sidecar); estimates by the histogram's
  * one estimator — bit-reproducible across engines, so the correctness
  * gate hashes the ESTIMATES directly (the `quantile_view_answer`
  * technique, lifted to the join).
  *
  * One deliberate difference from the single-table view: edges freeze
  * GLOBALLY for the one value column (observed join-wide range ± a
  * margin), not per group. Per-group edges would break the signed
  * arithmetic whenever churn MOVES a row between groups (same value,
  * different bins — the ± legs would no longer cancel); a global freeze
  * makes the bin a function of the value alone, so group movement is
  * just signed mass transfer. The price is one envelope for all groups
  * (a wide-range group coarsens everyone's bins; the ≤ 2·w accuracy
  * bound is global).
  *
  * Maintenance folds the telescoping identity
  *
  *   J(new…) − J(old…) = Σᵢ [ J(new_<i, new_i, old_>i) − J(new_<i, old_i, old_>i) ]
  *
  * into signed BIN partials instead of sum/count partials. Every
  * per-table term — append delta at +1, churn legs at ±1 restricted to
  * the table's O(churn) dirty key tuples — is pure signed arithmetic:
  * group movement is mass transfer, unchanged rows cancel, and churn
  * needs NO dirty-group recompute (the property that forces
  * [[MultiNdvJoinView]]'s re-sketch does not bite — signed counts
  * retract). Every standing side of every term is restricted by the
  * semi-join cascade outward from the moved table along the tree
  * ([[MultiAggJoinView.termFrames]] — bloom-prefiltered and file-pruned
  * per edge, exact for trees), so at 100 TB a dim delta touches only the
  * fact files its keys can live in.
  *
  * Envelope discipline:
  *   - any POSITIVE leg (append delta or churn new-leg) ESCAPING the
  *     frozen envelope → one full rebuild that REFREEZES with the margin
  *     doubled (capped) — the histogram's margin growth for the one
  *     global partition;
  *   - a freeze over zero non-null values is REFUSED loudly (NULL edges
  *     would silently poison every later bin);
  *   - a source compaction / vacuumed baseline → full rebuild at the
  *     default margin.
  *
  * All of a refresh's terms land in ONE append stamped with the N-way
  * cursor ([[MultiAggJoinView.stampFor]] — packed while it fits, the
  * variable-width sidecar past that), so a crashed refresh replays as an
  * epoch no-op, and the rebuild's refrozen edges stay keyed by the view
  * version their publish creates (a crash between sidecar write and
  * publish leaves an orphan nothing reads; the next non-rebuild publish,
  * compaction included, drops it — the histogram's sidecar protocol).
  *
  * NULL measure values never bin on any path, including the oracle
  * replay (`quantile_cont` semantics). Contract: inner equi-joins over a
  * TREE ([[MultiAggJoinView.Edge]]); group columns and the value column
  * resolve on exactly one table (child-side keys excluded); the spec
  * arguments of every refresh repeat the bootstrap's verbatim.
  */
object MultiQuantileJoinView {
  import MultiAggJoinView.Edge

  val DefaultBins = FixedBinHistogram.DefaultBins
  val DefaultMargin = FixedBinHistogram.DefaultMargin
  val MaxMargin = FixedBinHistogram.MaxMargin

  private val hist = new FixedBinHistogram(Nil, "_jedges")

  /** Leg-sign column of the fused churn fold (see [[gapTerms]]). */
  private val SignCol = "__mqj_sign"

  private def specLine(n: Int, edges: Seq[Edge], groups: Seq[String],
                       x: String, bins: Int): String = {
    def lc(xs: Seq[String]) = xs.map(_.toLowerCase(java.util.Locale.ROOT))
    val es = edges.map(e =>
      s"${e.parent}:${lc(e.parentKeys).mkString(",")}:${lc(e.childKeys).mkString(",")}")
      .mkString("|")
    s"n=$n;e=$es;g=${lc(groups).sorted.mkString(",")};" +
      s"v=${x.toLowerCase(java.util.Locale.ROOT)};b=$bins;p=1"
  }

  private def recordedSpec(viewRoot: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, "_mqjspec")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordSpec(viewRoot: String, line: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(viewRoot, "_mqjspec"), line.getBytes("UTF-8"))
  }

  /** The newest frozen edges at or below the view's current version —
    * ONE row: (lo, w, bins, margin). */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame =
    hist.edgesFor(spark, viewRoot)

  /** Do any non-null values of `rows` escape the frozen envelope? (NULL
    * values never bin here, so they cannot escape.) */
  private def escapes(rows: DataFrame, ed: DataFrame, x: String): Boolean =
    !hist.escapeRows(rows.where(col(x).isNotNull), ed, x).isEmpty

  // ---- the gap's telescoped terms --------------------------------------

  /** A gap's per-table term rows: `legs` carry one sign each, `fused`
    * churn terms carry theirs per row in [[SignCol]]. Every term that
    * holds positive mass is checkpointed (the escape probe and the
    * binning both read it). */
  private final case class Terms(legs: Seq[(DataFrame, Int)],
                                 fused: Seq[DataFrame]) {
    /** Only POSITIVE mass can escape the frozen envelope: plain legs
      * with sign +1, and the fused terms' new-version (+1) subset. */
    def escape(ed: DataFrame, x: String): Boolean =
      legs.exists { case (rows, sign) => sign > 0 && escapes(rows, ed, x) } ||
        fused.exists(rows => escapes(rows.where(col(SignCol) === 1L), ed, x))

    /** Signed (groups…, bin, cnt) partials of every term. */
    def counts(ed: DataFrame, groups: Seq[String], x: String): DataFrame =
      (legs.map { case (rows, sign) => (rows, lit(sign.toLong)) } ++
        fused.map(rows => (rows, col(SignCol))))
        .map { case (rows, sign) => hist.binned(rows, ed, groups.map(col), x, sign) }
        .reduce(_ unionByName _)
  }

  /** THE TELESCOPING GAP, binned flavor — shared by [[refresh]] and
    * [[compensatedQuantiles]]: append-moved tables contribute their
    * positive delta term, churned tables their ± legs restricted to the
    * table's dirty key tuples — mixed gaps fold uniformly because signed
    * bin counts retract. Every moved table must be append- or
    * churn-only since its cursor (the callers check).
    *
    * Both churn legs of a table build in ONE term (the MultiAggJoinView
    * fused-churn shape): the old and new restrictions share the dirty
    * keys, so pinning their UNION — old rows carrying sign −1, new +1 —
    * builds ONE cascade, ONE join tree and ONE checkpoint where the
    * two-leg shape paid all three twice. The cascade restriction by the
    * union's keys is a superset of each leg's; restriction is pure
    * pruning, so the join stays exact, and the signed fold sums to the
    * same (group, bin) mass as the separate ± folds. When the gap
    * evolved the table's schema mid-churn the union cannot form and the
    * table falls back to the honest two-leg shape.
    *
    * Per-table builds (each blocking on probe jobs and a checkpoint)
    * overlap (guide §2.6); term order stays the input order, so the
    * published union is unchanged. */
  private def gapTerms(spark: SparkSession, roots: IndexedSeq[String],
                       edges: Seq[Edge], groupCols: Seq[String],
                       valueCol: String, prevVs: IndexedSeq[Int],
                       curVs: IndexedSeq[Int],
                       newFrames: IndexedSeq[DataFrame]): Terms = {
    val n = roots.size
    val adj = MultiAggJoinView.adjacency(n, edges)
    def versFor(i: Int): IndexedSeq[Int] =
      roots.indices.map(j => if (j < i) curVs(j) else prevVs(j))
    def termRows(i: Int, pinned: DataFrame, extra: Seq[String]): DataFrame =
      MultiAggJoinView.joinedSlice(
        MultiAggJoinView.termFrames(spark, roots, n, adj, i, pinned,
          versFor(i)), edges, groupCols, valueCol +: extra)
    val built = Overlap.map(roots.indices.filter(i => curVs(i) > prevVs(i))) { i =>
      if (JoinView.appendOnly(roots(i), prevVs(i), curVs(i))) {
        val delta = SnapshotStore.incremental(spark, roots(i),
          prevVs(i), curVs(i), Some(newFrames(i).schema))
        Terms(Seq((termRows(i, delta, Nil).localCheckpoint(true), 1)), Nil)
      } else {
        val myKeys = if (i == 0) edges.head.parentKeys else edges(i - 1).childKeys
        val dirty = JoinView.keyTuples(
          SnapshotStore.changes(spark, roots(i), prevVs(i), curVs(i))
            .select(myKeys.map(col): _*), myKeys)
        def restricted(ver: Int): DataFrame = JoinView.prefiltered(
          JoinView.standing(spark, roots(i), ver, myKeys, dirty),
          myKeys, dirty)
        val old = restricted(prevVs(i)); val nw = restricted(curVs(i))
        if (old.columns.toSeq != nw.columns.toSeq)
          Terms(Seq((termRows(i, old, Nil), -1),
            (termRows(i, nw, Nil).localCheckpoint(true), 1)), Nil)
        else Terms(Nil, Seq(termRows(i,
          old.withColumn(SignCol, lit(-1L))
            .unionByName(nw.withColumn(SignCol, lit(1L))),
          Seq(SignCol)).localCheckpoint(true)))
      }
    }
    Terms(built.flatMap(_.legs), built.flatMap(_.fused))
  }

  /** Every moved table is append- or churn-only since its cursor — the
    * gap has a sound signed diff. */
  private def diffable(roots: IndexedSeq[String], prevVs: IndexedSeq[Int],
                       curVs: IndexedSeq[Int]): Boolean =
    roots.indices.forall(i => curVs(i) == prevVs(i) ||
      JoinView.churnOnly(roots(i), prevVs(i), curVs(i)))

  // ---- maintenance ------------------------------------------------------

  /** Bring the view up to every source's current version; returns the
    * view version (unchanged when all cursors already match). Spec
    * arguments must repeat the bootstrap's verbatim. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String], valueCol: String,
              bins: Int = DefaultBins): Int = {
    val n = roots.size
    MultiAggJoinView.validateTree(roots, edges, groupCols)
    MultiAggJoinView.refuseTwoTableLayout(viewRoot)
    require(bins >= 2, s"need at least 2 bins, got $bins")
    groupCols.find(g => Seq("bin", "cnt").exists(_.equalsIgnoreCase(g)))
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
    val spec = specLine(n, edges, groupCols, valueCol, bins)
    if (prevVs.exists(_ != 0)) {
      val rec = recordedSpec(viewRoot).getOrElse("")
      require(rec == spec,
        s"view at $viewRoot is maintained with spec '$rec', refresh asked '$spec'")
    }

    val rootsV = roots.toIndexedSeq
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    MultiAggJoinView.validateResolution(newFrames, edges,
      groupCols :+ valueCol)
    // every branch publishes at curVs — one stamp (wide mode writes its
    // vector sidecar here, BEFORE any publish)
    val stamp = MultiAggJoinView.stampFor(viewRoot, curVs)

    /** One full rebuild under `margins` (the one global partition's key
      * is the empty tuple): refreeze, then publish the full binned tree. */
    def rebuild(margins: Map[Seq[Any], Double]): Int = {
      val full = MultiAggJoinView.joinedSlice(newFrames, edges, groupCols,
        Seq(valueCol)).localCheckpoint(true)
      val ed = hist.freezeEdges(full, valueCol, bins, margins).localCheckpoint(true)
      require(ed.where(col("lo").isNull || col("w").isNull).isEmpty,
        s"cannot freeze quantile-join edges at $viewRoot: the join " +
          s"tree has no non-null '$valueCol' values — refresh again once " +
          "the sources carry at least one binnable row")
      if (SnapshotStore.currentVersion(viewRoot) == 0) recordSpec(viewRoot, spec)
      hist.publishFreeze(ed, hist.binned(full, ed, groupCols.map(col), valueCol,
        lit(1L)), viewRoot, stamp)
    }

    val vNew = if (prevVs.forall(_ == 0)) {
      rebuild(Map.empty)
    } else if (diffable(rootsV, prevVs, curVs)) {
      val ed = edgesFor(spark, viewRoot)
      val terms = gapTerms(spark, rootsV, edges, groupCols, valueCol,
        prevVs, curVs, newFrames)
      if (terms.escape(ed, valueCol))
        rebuild(hist.grownMargins(ed, Set(Nil)))
      else {
        hist.dropOrphanEdges(viewRoot)
        val counts = terms.counts(ed, groupCols, valueCol)
        SnapshotStore.appendEpoch(
          if (counts.isEmpty) counts.repartition(1) else counts,
          viewRoot, stamp)
      }
    } else {
      rebuild(Map.empty) // compaction / vacuumed baseline broke the diff
    }
    rootsV.indices.foreach(i =>
      SnapshotStore.recordViewBaseline(rootsV(i), viewRoot, curVs(i)))
    vNew
  }

  // ---- serving ----------------------------------------------------------

  private def groupsOf(spark: SparkSession, viewRoot: String): Seq[String] = {
    val cols = SnapshotStore.readEvolved(spark, viewRoot).columns
    cols.filterNot(c =>
      c.equalsIgnoreCase("bin") || c.equalsIgnoreCase("cnt")).toSeq
  }

  /** Quantile estimates per group: groups…, `phi`, `est`. */
  def quantiles(spark: SparkSession, viewRoot: String,
                phis: Seq[Double]): DataFrame = {
    val groups = groupsOf(spark, viewRoot)
    hist.estimates(hist.merged(SnapshotStore.read(spark, viewRoot), groups),
      edgesFor(spark, viewRoot), groups, phis)
  }

  /** DELTA-COMPENSATED estimates from a STALE view — sound over CHURN
    * gaps too (signed counts retract): stored counts merged with the
    * gap's telescoped signed terms folded on the fly under the SAME
    * frozen edges, bit-equal to refresh-then-serve. Declines (None) when
    * compensation would change the freeze (a positive gap leg ESCAPES —
    * refresh would refreeze and re-bin), when a gap commit compacted a
    * source or the baseline vacuumed, or on spec mismatch. */
  def compensatedQuantiles(spark: SparkSession, roots: Seq[String],
                           viewRoot: String, edges: Seq[Edge],
                           groupCols: Seq[String], valueCol: String,
                           phis: Seq[Double],
                           bins: Int = DefaultBins): Option[DataFrame] = {
    val n = roots.size
    val prevVs = MultiAggJoinView.cursors(viewRoot, n).toIndexedSeq
    if (prevVs.forall(_ == 0)) return None
    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    if (curVs.zip(prevVs).exists { case (cv, pv) => cv < pv }) return None
    if (curVs == prevVs) return Some(quantiles(spark, viewRoot, phis))
    if (!recordedSpec(viewRoot).contains(
        specLine(n, edges, groupCols, valueCol, bins))) return None
    val rootsV = roots.toIndexedSeq
    if (!diffable(rootsV, prevVs, curVs)) return None
    val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    val terms = gapTerms(spark, rootsV, edges, groupCols, valueCol,
      prevVs, curVs, newFrames)
    if (terms.escape(ed, valueCol)) return None
    val counts = hist.merged(SnapshotStore.read(spark, viewRoot)
      .unionByName(terms.counts(ed, groupCols, valueCol)), groupCols)
    Some(hist.estimates(counts, ed, groupCols, phis))
  }

  /** Fold signed partials to one live row per (group, bin) — drops the
    * retraction residue physically; content and cursor unchanged. A
    * crashed rebuild's orphan freeze is dropped first, so the compaction
    * cannot make it visible beside counts binned under the old edges. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    hist.compact(spark, viewRoot, groupsOf(spark, viewRoot))
}
