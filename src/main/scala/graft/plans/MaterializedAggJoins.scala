package graft.plans

import graft.sources.MultiAggJoinView.Edge
import MaterializedViews.Kind

/** Facade over [[MaterializedViews]] for the two-table agg-join
  * registrations — one-edge trees served by the
  * [[MultiAggJoinRewriteRule]]. Each call forwards `(left, right,
  * leftKeys, rightKeys)` to [[MaterializedMultiJoins]] as the roots
  * `Seq(left, right)` and the single edge `Edge(0, leftKeys, rightKeys)`:
  * `enable*` registers the `MultiAgg` kind ([[graft.sources.AggJoinView]]),
  * `enableNdv*` the `MultiNdv` kind ([[graft.sources.NdvJoinView]]). The
  * listing and removal calls see only those two-root registrations. */
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

  def enableNdvKeys(leftRoot: String, rightRoot: String, viewRoot: String,
                    leftKeys: Seq[String], rightKeys: Seq[String],
                    groupCols: Seq[String], distinctCol: String,
                    serveStale: Boolean = false): Unit =
    MaterializedMultiJoins.enableNdv(Seq(leftRoot, rightRoot), viewRoot,
      Seq(Edge(0, leftKeys, rightKeys)), groupCols, distinctCol, serveStale)

  def enableNdv(leftRoot: String, rightRoot: String, viewRoot: String,
                leftKey: String, rightKey: String,
                groupCols: Seq[String], distinctCol: String,
                serveStale: Boolean = false): Unit =
    enableNdvKeys(leftRoot, rightRoot, viewRoot, Seq(leftKey), Seq(rightKey),
      groupCols, distinctCol, serveStale)

  private[plans] def all: Map[String, MaterializedViews.Reg] = owned
}
