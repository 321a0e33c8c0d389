package graft.plans

/** Read-only listing of every `Materialized*` registration, for the
  * benchmark's session-leak guard. It lives in `graft.plans` only to reach
  * the registries' package-private `all` views; it changes nothing. */
object BenchRegistrations {
  /** View roots registered across the five serving registries. */
  def viewRoots: Set[String] =
    MaterializedRollups.all.values.toSet ++
      MaterializedAggJoins.all.values.map(_.viewRoot) ++
      MaterializedJoins.all.values.map(_.viewRoot) ++
      MaterializedMultiJoins.all.map(_.viewRoot) ++
      MaterializedQuantiles.all.values.map(_.viewRoot) ++
      MaterializedQuantiles.allJoin.values.map(_.viewRoot)
}
