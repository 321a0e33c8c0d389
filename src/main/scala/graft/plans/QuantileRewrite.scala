package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, max, when}
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType}

import graft.sources.{MultiQuantileJoinView, QuantileView}
import MaterializedViews.{Grain, Kind, Reg}

/** Facade over [[MaterializedViews]] for maintained single-table
  * quantile views (kind `Quantile`, one per (source, grain)) the
  * [[QuantileRewriteRule]] may answer `percentile_approx`-shaped
  * aggregates from. The state lives in the one registry; `disable`,
  * `disableView` and `clear` touch only this kind. Quantile views over
  * join trees (N ≥ 2, two tables being the one-edge tree) register
  * through [[MaterializedMultiJoins]] (`enableQuantile`, kind
  * `MultiQuantile`) so the rule's multiway arm shares the tree matcher.
  *
  * UNLIKE the sibling facades, enabling here changes the VALUE a
  * query returns, not just its cost: the maintained views' estimate is
  * deterministic fixed-bin interpolation (error ≤ 2·w of the exact
  * percentile, w = the frozen bin width), while Spark's own
  * `percentile_approx` returns an OBSERVED value from a GK sketch. The
  * two are both "approximate percentiles" but not the same number — so
  * serving is a per-view EXPLICIT OPT-IN (`enable` /
  * `MaterializedMultiJoins.enableQuantile`, or `SERVE => 'true'` on the
  * QUANTILE / QUANTILE_JOIN / MULTI_QUANTILE_JOIN DDL kinds; a
  * maintained-but-not-enabled view never rewrites anything). In
  * exchange the estimate is bit-reproducible across engines and the
  * accuracy bound is a-priori checkable, which `percentile_approx`'s
  * answer is not.
  *
  * Serve-shape contracts (pinned by spec):
  *   - only scalar-literal percentages of a DOUBLE-typed value column
  *     rewrite (`percentile_approx(value, 0.9 [, acc])`); the accuracy
  *     argument is advisory — the view's precision is its frozen bin
  *     width, independent of GK's accuracy knob;
  *   - a group whose every measure value is NULL is served ABSENT
  *     (the view never binned a row for it) where the base aggregate
  *     would return the group with a NULL percentile — the join-view
  *     serve assumes every served group carries ≥ 1 non-null value
  *     (the single-table view's contract refuses null values outright,
  *     so its served row set always matches);
  *   - `serveStale = true` additionally opts into DELTA-COMPENSATED
  *     serving over append AND churn gaps (signed counts retract —
  *     the one view family whose stale path covers deletes); an
  *     envelope-escaping gap declines.
  */
object MaterializedQuantiles extends MaterializedViews.Facade(_.kind == Kind.Quantile) {

  /** Opt `viewRoot` (a maintained [[QuantileView]] over `srcRoot`) into
    * serving `percentile_approx`-shaped aggregates — the EXPLICIT
    * approximation opt-in (see the object doc: the served estimate is
    * the view's, not GK's). */
  def enable(srcRoot: String, viewRoot: String, grainSec: Long = 86400L,
             serveStale: Boolean = false): Unit =
    MaterializedViews.register(
      Reg(Kind.Quantile, viewRoot, Seq(srcRoot), serveStale, Grain(grainSec)))

  private[plans] def all: Map[String, Reg] = owned

  /** The two-root `MultiQuantile` registrations, by canonical view root.
    * Kept only for the benchmark's registration listing; a benchmark
    * change can read [[MaterializedMultiJoins.all]] instead and drop
    * this. */
  private[plans] def allJoin: Map[String, Reg] =
    MaterializedMultiJoins.owned.filter { case (_, r) =>
      r.roots.size == 2 && r.kind == Kind.MultiQuantile
    }
}

/** Quantile-serving rewrite: a `percentile_approx`-shaped aggregate over
  * a REGISTERED source (grouped `(metric, e div grain)`) or over a
  * registered inner-join tree of N ≥ 2 tables (grouped by the registered
  * dim attributes) is answered from the maintained quantile view's
  * O(live bins) read — the full scan (and for a join, every fact×dim
  * shuffle) leaves the plan. Two arms: single-table and multiway.
  *
  * Same exactness posture as the sibling rules for everything EXCEPT
  * the estimate itself, which is the registry's documented explicit
  * approximation opt-in: scans must be the registered stores' exact
  * current-version dirs, filters only over grouping columns, grouping
  * exactly the registered shape, freshness decided at analysis time;
  * FRESH serves the stored counts, STALE + `serveStale` serves the
  * delta-compensated merge (sound over churn gaps too — signed counts
  * retract), anything else declines. Any aggregate in the list that is
  * not a scalar-literal `percentile_approx` of the registered value
  * column declines the whole rewrite — never a silent partial serve. */
class QuantileRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!MaterializedViews.serves(Kind.Quantile, Kind.MultiQuantile)) return plan
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        rewriteSingle(ge, ae, child)
          .orElse(rewriteMulti(ge, ae, child))
          .getOrElse(agg)
    }
  }

  // ---- shared helpers ----------------------------------------------------

  /** `percentile_approx(v, phi [, acc])` with a scalar foldable phi and
    * a DOUBLE result (the view's `est` type — an INT-typed percentile
    * would change type under the serve, so it declines). The accuracy
    * argument is advisory (see the registry doc). */
  private def phiOf(al: Alias): Option[(AttributeReference, Double)] =
    al.child match {
      case ag @ AggregateExpression(
          ApproximatePercentile(v: AttributeReference, pct, acc, _, _),
          _, false, None, _)
          if ag.dataType == DoubleType && pct.foldable && acc.foldable =>
        pct.eval() match {
          case d: java.lang.Double => Some((v, d.doubleValue()))
          case f: java.lang.Float  => Some((v, f.doubleValue()))
          case dec: Decimal        => Some((v, dec.toDouble))
          case _                   => None // array percentages decline
        }
      case _ => None
    }

  /** One est column per requested phi — `__q<i>` keyed by position in
    * `phis` — from the long (keys…, phi, est) serve frame. quantilesOf
    * emits exactly one row per (group, phi) (the rank-t bin is unique),
    * so the conditional max IS that row's est. O(live bins) rows in,
    * O(groups) out. */
  private def widen(df: DataFrame, keys: Seq[String],
                    phis: Seq[Double]): DataFrame = {
    val aggs = phis.zipWithIndex.map { case (p, i) =>
      max(when(col("phi") === p, col("est"))).as(s"__q$i")
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- single-table arm --------------------------------------------------

  private def rewriteSingle(ge: Seq[Expression], ae: Seq[NamedExpression],
                            child: LogicalPlan): Option[LogicalPlan] = {
    val (rel, filters) = MultiTreeMatch.scan(child).getOrElse(return None)
    val paths = MaterializedViews.canonPaths(rel).getOrElse(return None)
    // grouping must be exactly (metric, e div G) for a registered G
    val (metricAttr, bucketExpr, grainSec) = ge match {
      case Seq(m: AttributeReference, d) if m.name.equalsIgnoreCase("metric") =>
        d match {
          case IntegralDivide(a: AttributeReference, g, _)
              if g.foldable && a.dataType == LongType &&
                a.name.equalsIgnoreCase("e") =>
            val gs = g.eval() match {
              case l: java.lang.Long    => l.longValue()
              case i: java.lang.Integer => i.longValue()
              case dec: Decimal         => dec.toLong
              case _                    => return None
            }
            (m, d, gs)
          case _ => return None
        }
      case _ => return None
    }
    val (reg, fresh) = MaterializedViews.all.iterator.flatMap {
      case reg @ Reg(Kind.Quantile, _, _, _, Grain(`grainSec`)) =>
        MaterializedViews.probe(reg).collect {
          case (Seq(dirs), f) if dirs == paths => (reg, f)
        }
      case _ => None
    }.nextOption().getOrElse(return None)
    if (!filters.forall(_.references.subsetOf(AttributeSet(metricAttr))))
      return None
    // every aggregate output must be metric, the bucket, or a phi shape
    // of the view's `value` column
    val phis = ae.flatMap {
      case al: Alias => phiOf(al).filter(_._1.name.equalsIgnoreCase("value"))
        .map(_._2)
      case _ => Seq.empty
    }.distinct
    if (phis.isEmpty) return None
    val longDf =
      if (fresh) QuantileView.quantiles(spark, reg.viewRoot, phis)
      else if (reg.serveStale)
        QuantileView.compensatedQuantiles(spark, reg.roots.head, reg.viewRoot,
          phis, grainSec).getOrElse(return None)
      else return None
    val viewPlan =
      widen(longDf, Seq("metric", "bucket"), phis).queryExecution.analyzed
    def viewCol(n: String): Option[Attribute] =
      viewPlan.output.find(_.name.equalsIgnoreCase(n))
    val projections = ae.map {
      case m: AttributeReference if m.exprId == metricAttr.exprId =>
        Alias(viewCol("metric").getOrElse(return None), m.name)(exprId = m.exprId)
      case al @ Alias(d, _) if d.semanticEquals(bucketExpr) =>
        Alias(viewCol("bucket").getOrElse(return None), al.name)(exprId = al.exprId)
      case al: Alias =>
        phiOf(al).filter(_._1.name.equalsIgnoreCase("value")) match {
          case Some((_, p)) =>
            Alias(viewCol(s"__q${phis.indexOf(p)}").getOrElse(return None),
              al.name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val base =
      if (filters.isEmpty) viewPlan
      else Filter(filters.map(_.transform {
        case a: AttributeReference if a.exprId == metricAttr.exprId =>
          viewCol("metric").get
      }).reduce(And), viewPlan)
    Some(Project(projections, base))
  }

  // ---- multiway arm --------------------------------------------------------

  /** `percentile_approx` over an N ≥ 2 INNER join tree (two tables are
    * the one-edge tree), answered from a registered
    * [[MultiQuantileJoinView]] (a `MultiQuantile` registration): the
    * whole TREE leaves the plan for the view's O(live bins) read. Matching is the
    * [[MultiAggJoinRewriteRule]]'s via the shared [[MultiTreeMatch]] —
    * leaf↔table bijection on current-snapshot dirs, exact edge-set
    * equality, group attrs normalizing onto the registered groups,
    * filters over groups only — and the value attribute resolves through
    * the tree onto the registered column's OWNING table. FRESH serves
    * the stored counts; STALE + `serveStale` serves the telescoped
    * delta-compensated merge (sound over churn gaps — signed counts
    * retract); anything else declines, never a silent partial serve. */
  private def rewriteMulti(ge: Seq[Expression], ae: Seq[NamedExpression],
                           child: LogicalPlan): Option[LogicalPlan] = {
    val groupAttrs = ge.map {
      case a: AttributeReference => a
      case _                     => return None
    }
    val (ctx, hits) = MultiTreeMatch.candidates(child, Kind.MultiQuantile)
      .getOrElse(return None)
    val matched = hits.flatMap(h => h.groupNorm(ctx, groupAttrs).map(h -> _))
    val (hit, normed) = matched.find(_._1.fresh)
      .orElse(matched.headOption).getOrElse(return None)
    val groupingSet = AttributeSet(groupAttrs)
    if (!ctx.filters.forall(_.references.subsetOf(groupingSet))) return None
    val (reg, tree) = (hit.reg, hit.tree)
    val valueSet = Set(tree.measureCols.head
      .toLowerCase(java.util.Locale.ROOT))
    def valueOk(v: AttributeReference): Boolean =
      hit.measureNorm(ctx, valueSet)(v).isDefined
    val phis = ae.flatMap {
      case al: Alias => phiOf(al).filter(p => valueOk(p._1)).map(_._2)
      case _         => Seq.empty
    }.distinct
    if (phis.isEmpty) return None
    val longDf =
      if (hit.fresh)
        MultiQuantileJoinView.quantiles(spark, reg.viewRoot, phis)
      else if (reg.serveStale)
        MultiQuantileJoinView.compensatedQuantiles(spark, reg.roots,
          reg.viewRoot, tree.edges, tree.groupCols,
          tree.measureCols.head, phis, tree.bins)
          .getOrElse(return None)
      else return None
    val viewPlan =
      widen(longDf, tree.groupCols, phis).queryExecution.analyzed
    def viewCol(n: String): Option[Attribute] =
      viewPlan.output.find(_.name.equalsIgnoreCase(n))
    def groupViewCol(a: AttributeReference): Option[Attribute] =
      normed.get(a.exprId).flatMap(viewCol).filter(_.dataType == a.dataType)
    val projections = ae.map {
      case a: AttributeReference if normed.contains(a.exprId) =>
        Alias(groupViewCol(a).getOrElse(return None), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, _) if normed.contains(a.exprId) =>
        Alias(groupViewCol(a).getOrElse(return None), al.name)(exprId = al.exprId)
      case al: Alias =>
        phiOf(al).filter(p => valueOk(p._1)) match {
          case Some((_, p)) =>
            Alias(viewCol(s"__q${phis.indexOf(p)}").getOrElse(return None),
              al.name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    var mappable = true
    val mapped = ctx.filters.map(_.transform {
      case a: AttributeReference =>
        groupViewCol(a) match {
          case Some(vc) => vc
          case None     => mappable = false; a
        }
    })
    if (!mappable) return None
    val base =
      if (mapped.isEmpty) viewPlan
      else Filter(mapped.reduce(And), viewPlan)
    Some(Project(projections, base))
  }
}
