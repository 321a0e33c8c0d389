package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import MultiAggJoinView.Edge

/** The two-table DISTINCT-COUNT-over-JOIN view (HLL sketch partials per
  * group of `L JOIN R ON lk = rk`) — the one-edge [[MultiNdvJoinView]]
  * tree (N = 2). Every entry point forwards `(left, right, leftKeys,
  * rightKeys)` as the roots `Seq(left, right)` and the single edge
  * `Edge(0, leftKeys, rightKeys)`; storage, maintenance, reads and
  * serving are the N-way view's.
  *
  * A store written by the earlier two-table implementation (an
  * `_ndvjspec` spec file and a base-10⁶ cursor) is refused on refresh
  * and declined by serving — rebuild it into a fresh store.
  */
object NdvJoinView {

  /** Bring the view up to both sources' current versions (see
    * [[MultiNdvJoinView.refresh]]). Returns the view version. */
  def refresh(spark: SparkSession, leftRoot: String, rightRoot: String,
              viewRoot: String, leftKeys: Seq[String], rightKeys: Seq[String],
              groupCols: Seq[String], distinctCol: String): Int =
    MultiNdvJoinView.refresh(spark, Seq(leftRoot, rightRoot), viewRoot,
      Seq(Edge(0, leftKeys, rightKeys)), groupCols, distinctCol)

  /** See [[MultiNdvJoinView.compensatedRead]]. */
  def compensatedRead(spark: SparkSession, leftRoot: String,
                      rightRoot: String, viewRoot: String,
                      leftKeys: Seq[String], rightKeys: Seq[String],
                      groupCols: Seq[String],
                      distinctCol: String): Option[DataFrame] =
    MultiNdvJoinView.compensatedRead(spark, Seq(leftRoot, rightRoot),
      viewRoot, Seq(Edge(0, leftKeys, rightKeys)), groupCols, distinctCol)

  /** See [[MultiNdvJoinView.read]]. */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    MultiNdvJoinView.read(spark, viewRoot)

  /** See [[MultiNdvJoinView.compact]]. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    MultiNdvJoinView.compact(spark, viewRoot)
}
