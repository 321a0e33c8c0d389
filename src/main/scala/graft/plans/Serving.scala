package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

import graft.sources.NdvView
import MaterializedViews.{Grain, Kind, Reg}

/** The serving core under the four view-rewrite rules
  * ([[RollupRewriteRule]], [[QuantileRewriteRule]],
  * [[MultiAggJoinRewriteRule]], [[JoinRewriteRule]]): each rule matches
  * its own plan shape and leaves here every decision that keeps a served
  * answer equal to the declined one — which frame serves, how the served
  * plan keeps the query's exprIds, and which aggregates a view's stored
  * partials answer exactly.
  *
  * A rule maps every output to an [[Onto]] BEFORE it asks for the frame:
  * a stale frame runs Spark jobs at analysis time, so a shape that
  * declines must decline before any frame exists. */
private[plans] object Serving {

  /** A view column by name, case-insensitively. */
  type Cols = String => Option[Attribute]

  /** How one output, or one filter attribute, reads off the view's
    * columns; None declines the whole rewrite. */
  type Onto = Cols => Option[Expression]

  def column(name: String): Onto = _(name)

  private def typed(name: String, dt: DataType): Onto = _(name).filter(_.dataType == dt)

  /** FRESH serves the stored read; STALE serves the delta-compensated
    * read when the registration opted in (None when compensation is
    * unsound for this gap); anything else declines. */
  def frame(reg: Reg, fresh: Boolean)(read: => DataFrame)(
      compensated: => Option[DataFrame]): Option[DataFrame] =
    if (fresh) Some(read)
    else if (reg.serveStale) compensated
    else None

  /** The first fresh hit, else the first: two registrations can match one
    * query, and a stale hit that may not serve must not shadow a fresh
    * one. */
  def freshFirst[H](hits: Seq[H])(fresh: H => Boolean): Option[H] =
    hits.find(fresh).orElse(hits.headOption)

  /** `Project(outputs, Filter(filters, view))` over the view's analyzed
    * plan. Each output keeps its name and exprId (aliased onto its view
    * expression) so parent operators resolve unchanged; each filter
    * attribute maps through `attr`. Declines when anything does not map. */
  def plan(view: DataFrame, outputs: Seq[(NamedExpression, Onto)],
           filters: Seq[Expression])(attr: AttributeReference => Onto): Option[LogicalPlan] = {
    val viewPlan = view.queryExecution.analyzed
    val cols: Cols = n => viewPlan.output.find(_.name.equalsIgnoreCase(n))
    val projections = outputs.map { case (o, onto) =>
      Alias(onto(cols).getOrElse(return None), o.name)(exprId = o.exprId)
    }
    val onView = filters.flatMap(_.collect { case a: AttributeReference => a })
      .map(a => a.exprId -> attr(a)(cols).getOrElse(return None)).toMap
    val mapped = filters.map(_.transform { case a: AttributeReference => onView(a.exprId) })
    Some(Project(projections,
      if (mapped.isEmpty) viewPlan else Filter(mapped.reduce(And), viewPlan)))
  }

  // ---- the exact-aggregate table ---------------------------------------

  /** A view's partial-column name for an aggregate part (`cnt`, `sum`,
    * `nn`, `min`, `max`, `approx`) of a measure. */
  type Partials = (String, String) => String

  /** Single-table views ([[graft.sources.RollupView]],
    * [[graft.sources.NdvView]]): one fixed column per part. */
  val SinglePartials: Partials = (part, _) => Map("cnt" -> "cnt", "sum" -> "vsum",
    "nn" -> "nn", "min" -> "vmin", "max" -> "vmax", "approx" -> "approx_users")(part)

  /** Join-tree views ([[graft.sources.MultiAggJoinView]],
    * [[graft.sources.MultiNdvJoinView]]): `cnt`, else `<part>_<measure>`. */
  val TreePartials: Partials = (part, m) => if (part == "cnt") part else s"${part}_$m"

  /** The aggregate shapes a view's stored partials answer EXACTLY, with
    * `measure` naming the view measure an input attribute resolves onto.
    * A shape whose column the view lacks declines — a classic rollup has
    * no sketch, an NDV view no sums, a non-extents tree no min/max, a
    * pre-nn legacy view no avg divisor. Anything else (a raw IEEE double
    * sum or avg, distinct, a filter clause, `approx_count_distinct`)
    * declines rather than approximates. */
  def exactAgg(al: Alias, measure: AttributeReference => Option[String],
               partial: Partials): Option[Onto] = al.child match {
    case ag @ AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _) =>
      Some(typed(partial("cnt", ""), ag.dataType))
    // sum(CAST(m AS DECIMAL(p, 2))) serves the exact stored DECIMAL(30,2)
    // partial: casting to scale 2 at any precision ≥ the values'
    // magnitude rounds identically. Precision FLOOR 18 (the repo-wide
    // decimal(18,2) convention): a sub-magnitude cast like DECIMAL(4,2)
    // overflows per VALUE to null in the base plan (non-ANSI cast) while
    // the stored partial counted the value — served and declined answers
    // would diverge.
    case ag @ AggregateExpression(Sum(Cast(v: AttributeReference, dt: DecimalType, _, _), _),
        _, false, None, _) if exactDecimal(dt) =>
      measure(v).map[Onto](m => cols => cols(partial("sum", m)).map(Cast(_, ag.dataType)))
    // avg(CAST(m AS DECIMAL(p, 2))) = stored sum ÷ the stored NON-NULL
    // count (Average divides by the non-null inputs, not the rows —
    // [2.00, NULL] averages to 2.00), with Average's OWN decimal
    // arithmetic replicated: operands cast to Average's internal types
    // (sum at DECIMAL(p+10,2), count at LongDecimal), so the Divide's
    // result type — and hence its HALF_UP rounding — is the base plan's,
    // then the same final cast. An all-NULL group has a NULL stored sum
    // and nn = 0; NULL ÷ 0 under LEGACY eval is NULL, the base plan's
    // answer.
    case ag @ AggregateExpression(Average(Cast(v: AttributeReference, dt: DecimalType, _, _), _),
        _, false, None, _) if exactDecimal(dt) =>
      val sumDt = DecimalType(math.min(dt.precision + 10, DecimalType.MAX_PRECISION), dt.scale)
      measure(v).map[Onto](m => cols =>
        for (s <- cols(partial("sum", m)); nn <- cols(partial("nn", m)))
          yield Cast(Divide(Cast(s, sumDt), Cast(nn, DecimalType(20, 0)), EvalMode.LEGACY),
            ag.dataType))
    case ag @ AggregateExpression(Min(v: AttributeReference), _, false, None, _) =>
      measure(v).map[Onto](m => typed(partial("min", m), ag.dataType))
    case ag @ AggregateExpression(Max(v: AttributeReference), _, false, None, _) =>
      measure(v).map[Onto](m => typed(partial("max", m), ag.dataType))
    // the datasketches distinct-count shape at the engine's own lgK — the
    // one form stored sketches reproduce bit-exactly (register-max union
    // is associative); HLL++ or another lgK would change the estimate
    case est @ HllSketchEstimate(AggregateExpression(
        HllSketchAgg(u: AttributeReference, lgk, _, _), _, false, None, _))
        if lgk.foldable && lgk.eval() == NdvView.LgK =>
      measure(u).map[Onto](m => typed(partial("approx", m), est.dataType))
    case _ => None
  }

  private def exactDecimal(dt: DecimalType): Boolean =
    dt.scale == 2 && dt.precision <= 30 && dt.precision >= 18

  // ---- the single-table grain match ------------------------------------

  /** An aggregate over one scan grouped exactly `(metric, e div G)` whose
    * filters read only `metric` — a metric predicate commutes with the
    * aggregation and re-applies to the view's groups; one touching
    * e/value declines, since the view covers whole groups, not a row
    * slice. The rollup rule and the quantile rule's single-table arm
    * serve this shape. */
  final case class GrainMatch(rel: LogicalRelation, filters: Seq[Expression],
                              metric: AttributeReference, bucket: Expression,
                              seconds: Long) {

    /** The registration of `kind` at this grain whose source's current
      * dirs are exactly the scanned paths (a time-travel or incremental
      * read never serves), with its freshness. */
    def hit(kind: Kind): Option[(Reg, Boolean)] = {
      val paths = MaterializedViews.canonPaths(rel).getOrElse(return None)
      MaterializedViews.all.iterator.flatMap {
        case reg @ Reg(`kind`, _, _, _, Grain(`seconds`)) =>
          MaterializedViews.probe(reg).collect {
            case (Seq(dirs), fresh) if dirs == paths => (reg, fresh)
          }
        case _ => None
      }.nextOption()
    }

    /** `metric` and the bucket onto the view's `metric` and `bucketCol`;
      * `agg` maps every other output. */
    def outputs(ae: Seq[NamedExpression], bucketCol: String)(
        agg: Alias => Option[Onto]): Option[Seq[(NamedExpression, Onto)]] =
      Some(ae.map {
        case m: AttributeReference if m.exprId == metric.exprId => m -> column("metric")
        case al @ Alias(d, _) if d.semanticEquals(bucket) => al -> column(bucketCol)
        case al: Alias => al -> agg(al).getOrElse(return None)
        case _ => return None
      })

    def plan(view: DataFrame, outs: Seq[(NamedExpression, Onto)]): Option[LogicalPlan] =
      Serving.plan(view, outs, filters)(_ => column("metric"))
  }

  def grainMatch(ge: Seq[Expression], child: LogicalPlan): Option[GrainMatch] = {
    val (rel, filters) = MultiTreeMatch.scan(child).getOrElse(return None)
    ge match {
      case Seq(m: AttributeReference, d @ IntegralDivide(e: AttributeReference, g, _))
          if m.name.equalsIgnoreCase("metric") && e.name.equalsIgnoreCase("e") &&
            e.dataType == LongType && g.foldable &&
            filters.forall(_.references.subsetOf(AttributeSet(m))) =>
        g.eval() match {
          case l: java.lang.Long    => Some(GrainMatch(rel, filters, m, d, l))
          case i: java.lang.Integer => Some(GrainMatch(rel, filters, m, d, i.longValue))
          case dec: Decimal         => Some(GrainMatch(rel, filters, m, d, dec.toLong))
          case _                    => None
        }
      case _ => None
    }
  }
}
