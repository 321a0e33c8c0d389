package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.{NdvView, RollupView, SnapshotStore}
import MaterializedViews.{Grain, Kind, Reg}

/** Facade over [[MaterializedViews]] for source-store → rollup-view
  * registrations (kinds `Rollup` and `RollupNdv`) the
  * [[RollupRewriteRule]] may answer from. The state lives in the one
  * registry; `disable`, `disableView` and `clear` touch only these two
  * kinds. One view per (source, grain, kind): day 86400 / hour 3600 are
  * the served grains. */
object MaterializedRollups extends MaterializedViews.Facade(r =>
    r.kind == Kind.Rollup || r.kind == Kind.RollupNdv) {

  /** Declare that `viewRoot` is [[RollupView]]-maintained over the
    * snapshot store at `srcRoot`. From now on, canonical day-rollup
    * aggregates over the source's CURRENT snapshot are answered from the
    * view — when, and only when, the view's resume stamp matches the
    * source's current version at planning time.
    *
    * The rewrite decision binds at ANALYSIS time — when the DataFrame is
    * BUILT, not when it executes. A plan built while the view was fresh
    * but executed after a later source commit serves the snapshot the
    * plan was built against (the older answer) — the same
    * read-your-build-time-snapshot contract as [[SnapshotStore.read]]
    * itself, since the declined path would pin the same manifest's
    * files. Build plans close to execution, or re-build after commits.
    *
    * `grain` picks which bucket width this view serves — [[RollupView.Day]]
    * (the default) answers `e div 86400` groupings, [[RollupView.Hour]]
    * answers `e div 3600`. Register each maintained grain separately;
    * hour partials are NOT re-derived into day answers (the rewrite
    * serves only the exact stored shape).
    *
    * `serveStale = true` opts into DELTA-COMPENSATED serving: when the
    * view's stamp lags an append-only source gap, the rewrite serves
    * `partials ∪ Δ-partials` ([[RollupView.compensatedRead]], bit-equal
    * to refresh-then-read) instead of declining. */
  def enable(srcRoot: String, viewRoot: String,
             grain: RollupView.Grain = RollupView.Day,
             serveStale: Boolean = false): Unit =
    MaterializedViews.register(
      Reg(Kind.Rollup, viewRoot, Seq(srcRoot), serveStale, Grain(grain.seconds)))

  /** Declare that `viewRoot` is [[graft.sources.NdvView]]-maintained over
    * the snapshot store at `srcRoot`: distinct-count aggregates of the
    * view's EXACT sketch shape — `hll_sketch_estimate(hll_sketch_agg(
    * user_id, lgK))` at the view's own lgK, grouped (metric, grain) —
    * are answered from stored sketches. Served EXACTLY (register-max
    * union is associative, so the view's merged estimate is bit-equal to
    * the single-pass aggregate); Spark's own `approx_count_distinct`
    * (HLL++, a different estimator) is never rewritten — the answer
    * would change. Same freshness/binding contract as [[enable]], and
    * the same `serveStale` opt-in: an append-only gap serves the stored
    * sketches unioned with the gap's sketches on the fly
    * ([[graft.sources.NdvView.compensatedRead]] — register-max union
    * keeps even the COMPENSATED estimate bit-equal to refresh-then-read;
    * a churned gap declines, a deleted user un-derives nothing). */
  def enableNdv(srcRoot: String, viewRoot: String,
                grain: RollupView.Grain = RollupView.Day,
                serveStale: Boolean = false): Unit =
    MaterializedViews.register(
      Reg(Kind.RollupNdv, viewRoot, Seq(srcRoot), serveStale, Grain(grain.seconds)))

  /** The served view roots by canonical view root. */
  private[plans] def all: Map[String, String] = owned.map { case (k, r) => k -> r.viewRoot }
}

/** Materialized-view REWRITE for the engine's maintained rollups — the
  * lakehouse query-acceleration core as one Catalyst rule: an aggregate
  * of the canonical rollup shape at a SERVED grain (day `e div 86400`,
  * hour `e div 3600` — each answered from its own registered view)
  *
  * {{{ src.groupBy(metric, e div 86400 | e div 3600).agg(count(1) | sum(value::decimal(≤30,2)) | min(value) | max(value)) }}}
  *
  * over a REGISTERED source store's current snapshot is answered from
  * the O(groups) maintained view instead of the O(table) base relation.
  * At 100 TB this is the difference between a dashboard query scanning
  * the corpus and it reading a few thousand partial rows.
  *
  * The rewrite fires only when it is EXACT — the shared single-table
  * match ([[Serving.grainMatch]]: the source's exact current dirs,
  * metric-only filters), the core's frame choice (fresh, or stale and
  * opted in with an append-only gap) and its exact-aggregate table
  * (`count(1)`, `sum`/`avg` of `CAST(value AS DECIMAL(18..30, 2))`,
  * `min`/`max(value)` from a classic view; the sketch estimate at the
  * view's lgK from an NDV view). Anything else declines rather than
  * approximates.
  *
  * Output attributes keep the original exprIds (aliased onto the view's
  * columns), so parent operators resolve unchanged. Registered via
  * [[graft.GraftExtensions]] as a post-hoc resolution rule — it sees the
  * stable analyzed shape, before optimizer rewrites pull grouping
  * expressions into synthetic projections.
  */
class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!MaterializedViews.serves(Kind.Rollup, Kind.RollupNdv)) return plan
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        Serving.grainMatch(ge, child).flatMap { g =>
          // each view KIND serves its own aggregate shapes; a query mixing
          // kinds (e.g. sum(value) next to a sketch estimate) declines both
          servedGrains.get(g.seconds).flatMap(grain =>
            serve(g, grain, ae, Kind.Rollup).orElse(serve(g, grain, ae, Kind.RollupNdv)))
        }.getOrElse(agg)
    }
  }

  private val servedGrains: Map[Long, RollupView.Grain] =
    Seq(RollupView.Day, RollupView.Hour).map(g => g.seconds -> g).toMap

  /** Serve the aggregate from the registered `kind` view when EVERY
    * output maps onto the view's stored shape: `value` is the classic
    * view's measure, `user_id` the NDV view's. */
  private def serve(g: Serving.GrainMatch, grain: RollupView.Grain,
                    ae: Seq[NamedExpression], kind: Kind): Option[LogicalPlan] = {
    val (reg, fresh) = g.hit(kind).getOrElse(return None)
    val measure = if (kind == Kind.Rollup) "value" else "user_id"
    val outs = g.outputs(ae, grain.col)(Serving.exactAgg(_,
      v => Some(measure).filter(v.name.equalsIgnoreCase), Serving.SinglePartials))
      .getOrElse(return None)
    val (srcRoot, viewRoot) = (reg.roots.head, reg.viewRoot)
    val viewDf = kind match {
      case Kind.Rollup => Serving.frame(reg, fresh)(RollupView.read(spark, viewRoot, grain))(
        RollupView.compensatedRead(spark, srcRoot, viewRoot, grain))
      case _ => Serving.frame(reg, fresh)(NdvView.read(spark, viewRoot, grain))(
        NdvView.compensatedRead(spark, srcRoot, viewRoot, grain))
    }
    viewDf.flatMap(g.plan(_, outs))
  }
}
