package graft.plans

import graft.sources.MultiAggJoinView.Edge

/** The two-table agg-join registrations — one-edge trees in
  * [[MaterializedMultiJoins]], served by the [[MultiAggJoinRewriteRule]].
  * Each call forwards `(left, right, leftKeys, rightKeys)` as the roots
  * `Seq(left, right)` and the single edge `Edge(0, leftKeys, rightKeys)`:
  * `enable*` registers the "agg" kind ([[graft.sources.AggJoinView]]),
  * `enableNdv*` the "ndv" kind ([[graft.sources.NdvJoinView]]). The
  * listing and removal calls see only those two-root registrations. */
object MaterializedAggJoins {

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

  /** Unregister every two-table registration with `root` as a source. */
  def disable(root: String): Unit = {
    val c = MaterializedRollups.canon(root)
    all.values.filter(_.roots.exists(MaterializedRollups.canon(_) == c))
      .foreach(r => MaterializedMultiJoins.disableView(r.viewRoot))
  }

  /** Unregister the two-table registration serving from `viewRoot`. */
  def disableView(viewRoot: String): Unit =
    all.get(MaterializedRollups.canon(viewRoot))
      .foreach(r => MaterializedMultiJoins.disableView(r.viewRoot))

  def clear(): Unit =
    all.values.foreach(r => MaterializedMultiJoins.disableView(r.viewRoot))

  /** The two-root "agg"/"ndv" registrations, by canonical view root. */
  private[plans] def all: Map[String, MaterializedMultiJoins.MReg] =
    MaterializedMultiJoins.all
      .filter(r => r.roots.size == 2 && r.kind != "quantile")
      .map(r => MaterializedRollups.canon(r.viewRoot) -> r).toMap
}
