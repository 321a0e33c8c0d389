package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import MultiAggJoinView.Edge

/** Incrementally maintained DISTINCT-COUNT over an N-WAY JOIN TREE
  * (N ≥ 2; the one-edge tree is the two-table view [[NdvJoinView]]
  * forwards to): [[NdvView]]'s HLL sketch partials composed with
  * [[JoinTreeGap]]'s telescoped terms and semi-join cascade
  * restriction. "Distinct customers per
  * nation × priority" over a snowflake is the second-most-common
  * dashboard aggregate; this view serves it from O(groups × 4 KiB)
  * sketch rows, never O(join rows).
  *
  * Maintenance composes the two parents' identities:
  *
  *   - APPEND-ONLY gap: the telescoped per-table delta terms
  *     (`ΔTᵢ ⋈ earlier-at-NEW, later-at-OLD`, cascade-restricted —
  *     [[JoinTreeGap.Gap.termsOf]]) are sketched per group
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
  *     WHOLE from the current tree and REPLACES by group key, while
  *     append-moved tables' delta terms restrict to the NON-dirty groups
  *     and land as the append side of the SAME atomic publish
  *     ([[JoinTreeGap.Gap.replaceDirtyGroups]], shared with the extents
  *     aggregate); emptied groups tombstone (cnt = 0, null sketch).
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

  private val SpecFile = "_mndvjspec"

  private def specOf(n: Int, edges: Seq[Edge], groups: Seq[String],
                     distinctCol: String): JoinTreeGap.Spec =
    JoinTreeGap.spec(SpecFile, n, edges, groups,
      s"x=${distinctCol.toLowerCase(java.util.Locale.ROOT)}")

  /** The recorded distinct column (for the estimate's output name). */
  private[graft] def recordedDistinct(viewRoot: String): Option[String] =
    JoinTreeGap.recordedField(viewRoot, SpecFile, "x")

  /** Sketch join rows per group: cnt for tombstone liveness, the HLL
    * partial for the estimate. */
  private def fold(rows: DataFrame, groups: Seq[String], x: String): DataFrame =
    rows.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        expr(s"hll_sketch_agg($x, ${NdvView.LgK})").as("sk"))

  /** Bring the view up to every source's current version. Returns the
    * view version. Spec arguments must repeat the bootstrap's verbatim. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String],
              distinctCol: String): Int =
    JoinTreeGap.refresh(spark, roots, viewRoot, edges, groupCols,
      Seq(distinctCol), Seq("cnt", "sk"),
      specOf(roots.size, edges, groupCols, distinctCol)) { gap =>
      def sketched(rows: DataFrame): DataFrame = fold(rows, groupCols, distinctCol)
      if (gap.bootstrap) gap.append(sketched(gap.full))
      // a compaction (or vacuumed baseline) somewhere broke the diff
      else if (!gap.diffable) gap.rebuild(sketched(gap.full))
      // register-max union: the telescoped per-table delta sketches
      // merge to the exact single-pass estimate; cnt rides the same
      // terms exactly once each. ONE stamped append (crash-idempotent).
      else if (gap.allAppend)
        gap.append(gap.terms(t => sketched(t.rows)).reduce(_ unionByName _))
      // monotone-summary churn: a sketch cannot retract
      else gap.replaceDirtyGroups(sketched,
        _ => Seq(lit(0L).as("cnt"), lit(null).cast(BinaryType).as("sk")))
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
                      distinctCol: String): Option[DataFrame] =
    JoinTreeGap.compensated(spark, roots, viewRoot, edges, groupCols,
      Seq(distinctCol), specOf(roots.size, edges, groupCols, distinctCol))(
      read(spark, viewRoot)) { gap =>
      if (!gap.allAppend) None
      else Some(mergedSketches(SnapshotStore.read(spark, viewRoot).unionByName(
        gap.terms(t => fold(t.rows, groupCols, distinctCol))
          .reduce(_ unionByName _)), groupCols)
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
