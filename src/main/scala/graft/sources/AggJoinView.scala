package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import MultiAggJoinView.Edge

/** The two-table AGGREGATE-OVER-JOIN view (`SELECT g…, count(*),
  * sum(m…) FROM L JOIN R ON lk = rk GROUP BY g…`, optional min/max
  * extents) — the one-edge [[MultiAggJoinView]] tree (N = 2). Every
  * entry point forwards `(left, right, leftKeys, rightKeys)` as the
  * roots `Seq(left, right)` and the single edge `Edge(0, leftKeys,
  * rightKeys)`; storage, maintenance, reads and serving
  * ([[graft.plans.MultiAggJoinRewriteRule]]) are the N-way view's.
  *
  * A store written by the earlier two-table implementation (an
  * `_aggspec` spec file and a base-10⁶ cursor) is refused on refresh
  * and declined by serving — rebuild it into a fresh store.
  */
object AggJoinView {

  /** Bring the view up to both sources' current versions (see
    * [[MultiAggJoinView.refresh]]). Returns the view version. */
  def refreshKeys(spark: SparkSession, leftRoot: String, rightRoot: String,
                  viewRoot: String, leftKeys: Seq[String],
                  rightKeys: Seq[String], groupCols: Seq[String],
                  measureCols: Seq[String], extents: Boolean = false): Int =
    MultiAggJoinView.refresh(spark, Seq(leftRoot, rightRoot), viewRoot,
      Seq(Edge(0, leftKeys, rightKeys)), groupCols, measureCols, extents)

  /** Single-key [[refreshKeys]]. */
  def refresh(spark: SparkSession, leftRoot: String, rightRoot: String,
              viewRoot: String, leftKey: String, rightKey: String,
              groupCols: Seq[String], measureCols: Seq[String],
              extents: Boolean = false): Int =
    refreshKeys(spark, leftRoot, rightRoot, viewRoot,
      Seq(leftKey), Seq(rightKey), groupCols, measureCols, extents)

  /** See [[MultiAggJoinView.compensatedRead]]. */
  def compensatedRead(spark: SparkSession, leftRoot: String,
                      rightRoot: String, viewRoot: String,
                      leftKeys: Seq[String], rightKeys: Seq[String],
                      groupCols: Seq[String],
                      measureCols: Seq[String]): Option[DataFrame] =
    MultiAggJoinView.compensatedRead(spark, Seq(leftRoot, rightRoot),
      viewRoot, Seq(Edge(0, leftKeys, rightKeys)), groupCols, measureCols)

  /** See [[MultiAggJoinView.read]]. */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    MultiAggJoinView.read(spark, viewRoot)

  /** See [[MultiAggJoinView.compact]]. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    MultiAggJoinView.compact(spark, viewRoot)
}
