package graft.plans

import graft.sources.MultiAggJoinView.Edge
import MaterializedViews.Kind

/** Facade over [[MaterializedViews]] for the two-table agg-join
  * registrations — one-edge trees served by the
  * [[MultiAggJoinRewriteRule]]. `enable*` forwards `(left, right,
  * leftKeys, rightKeys)` to [[MaterializedMultiJoins.enable]] as the roots
  * `Seq(left, right)` and the single edge `Edge(0, leftKeys, rightKeys)`,
  * registering the `MultiAgg` kind ([[graft.sources.AggJoinView]]); a
  * two-table distinct-count view registers through
  * [[MaterializedMultiJoins.enableNdv]]. The listing and removal calls see
  * the two-root `MultiAgg` and `MultiNdv` registrations. */
object MaterializedAggJoins extends MaterializedViews.Facade(r =>
    r.roots.size == 2 && (r.kind == Kind.MultiAgg || r.kind == Kind.MultiNdv)) {

  def enableKeys(leftRoot: String, rightRoot: String, viewRoot: String,
                 leftKeys: Seq[String], rightKeys: Seq[String],
                 groupCols: Seq[String], measureCols: Seq[String],
                 serveStale: Boolean = false): Unit =
    MaterializedMultiJoins.enable(Seq(leftRoot, rightRoot), viewRoot,
      Seq(Edge(0, leftKeys, rightKeys)), groupCols, measureCols, serveStale)

  def enable(leftRoot: String, rightRoot: String, viewRoot: String,
             leftKey: String, rightKey: String,
             groupCols: Seq[String], measureCols: Seq[String],
             serveStale: Boolean = false): Unit =
    enableKeys(leftRoot, rightRoot, viewRoot, Seq(leftKey), Seq(rightKey),
      groupCols, measureCols, serveStale)

  private[plans] def all: Map[String, MaterializedViews.Reg] = owned
}
