package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained APPROXIMATE-QUANTILE over an inner-join TREE
  * of N ≥ 2 tables (two tables are the one-edge tree) — percentiles of a
  * measure per dim attribute ("p90 order total per market segment") as a
  * maintained view: the [[FixedBinHistogram]] under ONE global freeze
  * (empty partition set) composed with [[JoinTreeGap]]'s telescoped
  * tree terms.
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
  * ([[JoinTreeGap]] — bloom-prefiltered and file-pruned per edge, exact
  * for trees), so at 100 TB a dim delta touches only the fact files its
  * keys can live in. This view checkpoints each term holding positive
  * mass: the escape probe and the binning both read it.
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

  private def specOf(n: Int, edges: Seq[Edge], groups: Seq[String],
                     x: String, bins: Int): JoinTreeGap.Spec =
    JoinTreeGap.spec("_mqjspec", n, edges, groups,
      s"v=${x.toLowerCase(java.util.Locale.ROOT)};b=$bins")

  /** The newest frozen edges at or below the view's current version —
    * ONE row: (lo, w, bins, margin). */
  def edgesFor(spark: SparkSession, viewRoot: String): DataFrame =
    hist.edgesFor(spark, viewRoot)

  // ---- the gap's telescoped terms --------------------------------------

  /** The gap's terms, binned flavor — shared by [[refresh]] and
    * [[compensatedQuantiles]]: append-moved tables contribute their
    * positive delta term, churned tables their ± legs restricted to the
    * table's dirty key tuples — mixed gaps fold uniformly because signed
    * bin counts retract. Every term holding positive mass is
    * checkpointed inside its table's build: the escape probe and the
    * binning both read it. */
  private def binnableTerms(gap: JoinTreeGap.Gap): Seq[JoinTreeGap.Term] =
    gap.terms(t =>
      if (t.positive.isEmpty) t else t.copy(rows = t.rows.localCheckpoint(true)))

  /** Does any term's POSITIVE mass escape the frozen envelope? Only it
    * can (NULL values never bin, so they cannot escape). */
  private def escapes(terms: Seq[JoinTreeGap.Term], ed: DataFrame,
                      x: String): Boolean =
    terms.exists(_.positive.exists(rows =>
      !hist.escapeRows(rows.where(col(x).isNotNull), ed, x).isEmpty))

  /** Signed (groups…, bin, cnt) partials of every term. */
  private def counts(terms: Seq[JoinTreeGap.Term], ed: DataFrame,
                     groups: Seq[String], x: String): DataFrame =
    terms.map(t => hist.binned(t.rows, ed, groups.map(col), x, t.signCol))
      .reduce(_ unionByName _)

  // ---- maintenance ------------------------------------------------------

  /** Bring the view up to every source's current version; returns the
    * view version (unchanged when all cursors already match). Spec
    * arguments must repeat the bootstrap's verbatim. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String], valueCol: String,
              bins: Int = DefaultBins): Int = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    JoinTreeGap.refresh(spark, roots, viewRoot, edges, groupCols,
      Seq(valueCol), Seq("bin", "cnt"),
      specOf(roots.size, edges, groupCols, valueCol, bins)) { gap =>
      /** One full rebuild under `margins` (the one global partition's key
        * is the empty tuple): refreeze, then publish the full binned tree. */
      def rebuild(margins: Map[Seq[Any], Double]): Int = {
        val full = gap.full.localCheckpoint(true)
        val ed = hist.freezeEdges(full, valueCol, bins, margins).localCheckpoint(true)
        require(ed.where(col("lo").isNull || col("w").isNull).isEmpty,
          s"cannot freeze quantile-join edges at $viewRoot: the join " +
            s"tree has no non-null '$valueCol' values — refresh again once " +
            "the sources carry at least one binnable row")
        hist.publishFreeze(ed, hist.binned(full, ed, groupCols.map(col), valueCol,
          lit(1L)), viewRoot, gap.stamp)
      }

      // a compaction / vacuumed baseline broke the diff: rebuild
      if (gap.bootstrap || !gap.diffable) rebuild(Map.empty)
      else {
        val ed = edgesFor(spark, viewRoot)
        val terms = binnableTerms(gap)
        if (escapes(terms, ed, valueCol))
          rebuild(hist.grownMargins(ed, Set(Nil)))
        else {
          hist.dropOrphanEdges(viewRoot)
          gap.append(counts(terms, ed, groupCols, valueCol))
        }
      }
    }
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
                           bins: Int = DefaultBins): Option[DataFrame] =
    JoinTreeGap.compensated(spark, roots, viewRoot, edges, groupCols,
      Seq(valueCol), specOf(roots.size, edges, groupCols, valueCol, bins))(
      quantiles(spark, viewRoot, phis)) { gap =>
      if (!gap.diffable) None
      else {
        val ed = edgesFor(spark, viewRoot).localCheckpoint(true)
        val terms = binnableTerms(gap)
        if (escapes(terms, ed, valueCol)) None
        else Some(hist.estimates(hist.merged(SnapshotStore.read(spark, viewRoot)
          .unionByName(counts(terms, ed, groupCols, valueCol)), groupCols),
          ed, groupCols, phis))
      }
    }

  /** Fold signed partials to one live row per (group, bin) — drops the
    * retraction residue physically; content and cursor unchanged. A
    * crashed rebuild's orphan freeze is dropped first, so the compaction
    * cannot make it visible beside counts binned under the old edges. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    hist.compact(spark, viewRoot, groupsOf(spark, viewRoot))
}
