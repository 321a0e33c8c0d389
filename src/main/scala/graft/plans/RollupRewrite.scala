package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.sources.{RollupView, SnapshotStore}
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
  * The rewrite fires only when it is EXACT:
  *  - the scanned relation's root paths are precisely the registered
  *    source's current-version manifest directories (a time-travel or
  *    incremental read never rewrites), with at most column-pruning
  *    Projects and GROUPING-COLUMN Filters between scan and aggregate (a
  *    metric predicate commutes with the aggregation and re-applies to
  *    the view's groups; any predicate touching e/value declines — the
  *    view covers whole groups, not a row slice);
  *  - the view is FRESH: its resume stamp equals the source's current
  *    version at planning time (the rule runs at analysis, so the
  *    decision binds when the DataFrame is built);
  *  - every aggregate is one of the view's mergeable monoids with the
  *    view's exact semantics — `count(1)`, `sum(CAST(value AS
  *    DECIMAL(p≤30, 2)))` (the view's own partial-sum type, so decimal
  *    merge order cannot change the answer), `min(value)`, `max(value)`,
  *    `avg(CAST(value AS DECIMAL(p≤30, 2)))` (stored sum ÷ the stored
  *    non-null count `nn` — Average's own divisor and arithmetic,
  *    bit-equal) — anything else (a
  *    raw IEEE double sum or avg, distinct, a filter clause) declines
  *    rather than approximates.
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
    // Filters between scan and aggregate are kept, not rejected: a
    // predicate over GROUPING columns commutes with the aggregation (rows
    // with the same key share the predicate's verdict), so [[rewrite]]
    // can apply it to the view's groups — anything referencing a
    // non-grouping column declines there
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        MultiTreeMatch.scan(child)
          .flatMap { case (rel, filters) => rewrite(agg, ge, ae, filters, rel) }
          .getOrElse(agg)
    }
  }

  /** A registered view of `kind` at `grain` for this relation's exact
    * paths, with its freshness — the caller decides whether a stale hit
    * may serve compensated. */
  private def registrationFor(rel: LogicalRelation, grain: RollupView.Grain,
                              kind: Kind): Option[(Reg, Boolean)] = {
    val paths = MaterializedViews.canonPaths(rel).getOrElse(return None)
    MaterializedViews.all.iterator.flatMap {
      case reg @ Reg(`kind`, _, _, _, Grain(g)) if g == grain.seconds =>
        MaterializedViews.probe(reg).collect {
          case (Seq(dirs), fresh) if dirs == paths => (reg, fresh)
        }
      case _ => None
    }.nextOption()
  }

  private val servedGrains: Map[Any, RollupView.Grain] =
    Map(RollupView.Day.seconds -> RollupView.Day,
        RollupView.Hour.seconds -> RollupView.Hour)

  /** `e div G` for a served grain G → that grain. */
  private def isDivGrain(e: Expression): Option[RollupView.Grain] = e match {
    case IntegralDivide(a: AttributeReference, d, _)
        if d.foldable && a.dataType == LongType && nameIs(a, "e") =>
      servedGrains.get(d.eval())
    case _ => None
  }

  private def nameIs(a: AttributeReference, n: String): Boolean =
    a.name.equalsIgnoreCase(n)

  private def rewrite(agg: Aggregate, ge: Seq[Expression],
                      ae: Seq[NamedExpression], filters: Seq[Expression],
                      rel: LogicalRelation): Option[LogicalPlan] = {
    // grouping must be exactly (metric, e div G) for a served grain G
    val (metricAttr, dayOf, grain) = ge match {
      case Seq(m: AttributeReference, d) if nameIs(m, "metric") =>
        isDivGrain(d) match {
          case Some(g) => (m, d, g)
          case None    => return None
        }
      case _ => return None
    }
    // every filter must reference ONLY the metric grouping column — then
    // filtering source rows and filtering view groups are the same set
    if (!filters.forall(_.references.subsetOf(AttributeSet(metricAttr))))
      return None
    // each view KIND serves its own aggregate shapes; a query mixing
    // kinds (e.g. sum(value) next to a sketch estimate) declines both
    serve(ae, metricAttr, dayOf, grain, filters, rel, Kind.Rollup)
      .orElse(serve(ae, metricAttr, dayOf, grain, filters, rel, Kind.RollupNdv))
  }

  /** Classic-view aggregate shapes → view column (None = not this kind's
    * shape; the whole rewrite declines). */
  private def classicAgg(al: Alias, viewCol: String => Attribute,
                         viewColOpt: String => Option[Attribute]): Option[NamedExpression] =
    al match {
      case Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        Some(Alias(viewCol("cnt"), al.name)(exprId = al.exprId))
      // precision floor 18, mirroring MultiAggJoinRewriteRule: below it a
      // non-ANSI per-value cast can overflow to null in the base plan
      // while the DECIMAL(30,2) partial counted the value — served and
      // declined answers would diverge
      case Alias(ag @ AggregateExpression(
          Sum(Cast(v: AttributeReference, dt: DecimalType, _, _), _), _, false, None, _), _)
          if nameIs(v, "value") && dt.scale == 2 &&
            dt.precision <= 30 && dt.precision >= 18 =>
        Some(Alias(Cast(viewCol("vsum"), ag.dataType), al.name)(exprId = al.exprId))
      // avg(CAST(value AS DECIMAL(p,2))): stored sum ÷ the stored
      // NON-NULL count (`nn` — Average divides by the count of non-null
      // inputs, not rows: vsum ÷ cnt would silently mis-average a group
      // holding NULL values) with Average's own decimal arithmetic
      // replicated operand-type-for-operand-type (sum at DECIMAL(p+10,2),
      // count at LongDecimal, same final cast) — bit-equal to the base
      // plan, including the all-NULL group (vsum NULL ÷ 0 under LEGACY
      // eval is NULL, Average's own answer). A pre-nn legacy view lacks
      // the column and DECLINES avg until a refresh migrates it; see
      // MultiAggJoinRewriteRule's avg case for the twin
      case Alias(ag @ AggregateExpression(
          Average(Cast(v: AttributeReference, dt: DecimalType, _, _), _),
          _, false, None, _), _)
          if nameIs(v, "value") && dt.scale == 2 &&
            dt.precision <= 30 && dt.precision >= 18 =>
        val sumDt = DecimalType(math.min(dt.precision + 10, DecimalType.MAX_PRECISION), dt.scale)
        viewColOpt("nn").map(nn =>
          Alias(Cast(
            Divide(Cast(viewCol("vsum"), sumDt),
              Cast(nn, DecimalType(20, 0)), EvalMode.LEGACY),
            ag.dataType), al.name)(exprId = al.exprId))
      case Alias(ag @ AggregateExpression(Min(v: AttributeReference), _, false, None, _), _)
          if nameIs(v, "value") && viewCol("vmin").dataType == ag.dataType =>
        Some(Alias(viewCol("vmin"), al.name)(exprId = al.exprId))
      case Alias(ag @ AggregateExpression(Max(v: AttributeReference), _, false, None, _), _)
          if nameIs(v, "value") && viewCol("vmax").dataType == ag.dataType =>
        Some(Alias(viewCol("vmax"), al.name)(exprId = al.exprId))
      case _ => None
    }

  /** NDV-view aggregate shape: `hll_sketch_estimate(hll_sketch_agg(
    * user_id, lgK))` at the view's own lgK — the ONE form the stored
    * sketches reproduce bit-exactly (register-max union is associative).
    * `approx_count_distinct` (HLL++) or a different lgK would change the
    * estimate, so they are not shapes — the rewrite declines. */
  private def ndvAgg(al: Alias, viewCol: String => Attribute): Option[NamedExpression] =
    al match {
      case Alias(HllSketchEstimate(AggregateExpression(
          HllSketchAgg(u: AttributeReference, lgk, _, _), _, false, None, _)), _)
          if nameIs(u, "user_id") && lgk.foldable &&
            lgk.eval() == graft.sources.NdvView.LgK =>
        Some(Alias(viewCol("approx_users"), al.name)(exprId = al.exprId))
      case _ => None
    }

  /** Serve the aggregate from the registered `kind` view when EVERY
    * output maps onto the view's stored shape. */
  private def serve(ae: Seq[NamedExpression], metricAttr: AttributeReference,
                    dayOf: Expression, grain: RollupView.Grain,
                    filters: Seq[Expression], rel: LogicalRelation,
                    kind: Kind): Option[LogicalPlan] = {
    val (reg, fresh) = registrationFor(rel, grain, kind).getOrElse(return None)
    val (srcRoot, viewRoot) = (reg.roots.head, reg.viewRoot)
    // FRESH: serve the stored partials. STALE + opted-in + append-only
    // gap: serve the delta-compensated merge (either kind — both are
    // bit-equal to refresh-then-read). Anything else declines.
    val viewDf =
      if (fresh) kind match {
        case Kind.Rollup => RollupView.read(spark, viewRoot, grain)
        case _           => graft.sources.NdvView.read(spark, viewRoot, grain)
      }
      else if (reg.serveStale) {
        kind match {
          case Kind.Rollup => RollupView.compensatedRead(spark, srcRoot, viewRoot, grain)
          case _ => graft.sources.NdvView.compensatedRead(spark, srcRoot, viewRoot, grain)
        }
      }.getOrElse(return None)
      else return None
    // the view side: analyzed merged-partials plan, columns by name
    val viewPlan = viewDf.queryExecution.analyzed
    def viewColOpt(n: String): Option[Attribute] =
      viewPlan.output.find(_.name.equalsIgnoreCase(n))
    def viewCol(n: String): Attribute = viewColOpt(n).get
    val projections = ae.map {
      case m: AttributeReference if m.exprId == metricAttr.exprId =>
        Alias(viewCol("metric"), m.name)(exprId = m.exprId)
      case al @ Alias(d, _) if d.semanticEquals(dayOf) =>
        Alias(viewCol(grain.col), al.name)(exprId = al.exprId)
      case al: Alias =>
        (if (kind == Kind.Rollup) classicAgg(al, viewCol, viewColOpt)
         else ndvAgg(al, viewCol))
          .getOrElse(return None) // any other shape: decline, never approximate
      case _ => return None
    }
    val base =
      if (filters.isEmpty) viewPlan
      else {
        val mapped = filters.map(_.transform {
          case a: AttributeReference if a.exprId == metricAttr.exprId =>
            viewCol("metric")
        }).reduce(And)
        Filter(mapped, viewPlan)
      }
    Some(Project(projections, base))
  }
}
