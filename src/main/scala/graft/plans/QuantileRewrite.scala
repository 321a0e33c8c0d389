package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, max, when}
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType}

import graft.sources.{MultiQuantileJoinView, QuantileJoinView, QuantileView}

/** Registry of maintained quantile views the [[QuantileRewriteRule]] may
  * answer `percentile_approx`-shaped aggregates from — the last serving
  * hole in the MV matrix (every other view kind already rewrites).
  *
  * UNLIKE the sibling registries, enabling here changes the VALUE a
  * query returns, not just its cost: the maintained views' estimate is
  * deterministic fixed-bin interpolation (error ≤ 2·w of the exact
  * percentile, w = the frozen bin width), while Spark's own
  * `percentile_approx` returns an OBSERVED value from a GK sketch. The
  * two are both "approximate percentiles" but not the same number — so
  * serving is a per-view EXPLICIT OPT-IN (`enable`/`enableJoin`, or
  * `SERVE => 'true'` on the QUANTILE/QUANTILE_JOIN DDL kinds; a
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
object MaterializedQuantiles {

  /** Single-table registration: the [[QuantileView]] maintained over a
    * (metric, e, value) series store at `grainSec`. */
  private[plans] final case class QReg(viewRoot: String, srcRoot: String,
                                       grainSec: Long, serveStale: Boolean)

  /** Join registration: the [[QuantileJoinView]] maintained over two
    * stores (everything `compensatedQuantiles` needs to rebuild the
    * lambda read). */
  private[plans] final case class QJReg(viewRoot: String,
                                        leftRoot: String, rightRoot: String,
                                        leftKeys: Seq[String],
                                        rightKeys: Seq[String],
                                        groupCols: Seq[String],
                                        valueCol: String, bins: Int,
                                        serveStale: Boolean)

  private val regs =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), QReg]()
  private val jregs = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, String, String, String), QJReg]()

  private def canon(p: String): String = MaterializedRollups.canon(p)

  private def lcSorted(xs: Seq[String]): String =
    xs.map(_.toLowerCase(java.util.Locale.ROOT)).sorted.mkString(",")

  /** Opt `viewRoot` (a maintained [[QuantileView]] over `srcRoot`) into
    * serving `percentile_approx`-shaped aggregates — the EXPLICIT
    * approximation opt-in (see the object doc: the served estimate is
    * the view's, not GK's). */
  def enable(srcRoot: String, viewRoot: String, grainSec: Long = 86400L,
             serveStale: Boolean = false): Unit =
    regs.put((canon(srcRoot), grainSec),
      QReg(viewRoot, srcRoot, grainSec, serveStale))

  /** Opt `viewRoot` (a maintained [[QuantileJoinView]]) into serving
    * `percentile_approx` grouped by the registered dim attributes over
    * the registered inner join. */
  def enableJoin(leftRoot: String, rightRoot: String, viewRoot: String,
                 leftKeys: Seq[String], rightKeys: Seq[String],
                 groupCols: Seq[String], valueCol: String,
                 bins: Int = QuantileJoinView.DefaultBins,
                 serveStale: Boolean = false): Unit = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"key lists must be non-empty and pair up: $leftKeys vs $rightKeys")
    val (lk, rk) = MaterializedJoins.keySig(leftKeys, rightKeys)
    jregs.put((canon(leftRoot), canon(rightRoot), lk, rk,
      lcSorted(groupCols), valueCol.toLowerCase(java.util.Locale.ROOT)),
      QJReg(viewRoot, leftRoot, rightRoot, leftKeys, rightKeys, groupCols,
        valueCol, bins, serveStale))
  }

  /** Unregister every registration mentioning `root` as a source. */
  def disable(root: String): Unit = {
    val c = canon(root)
    regs.keySet().asScala.filter(_._1 == c).toSeq.foreach(regs.remove)
    jregs.keySet().asScala.filter(k => k._1 == c || k._2 == c)
      .toSeq.foreach(jregs.remove)
  }

  /** Unregister exactly the registrations SERVING from `viewRoot`
    * (the DDL DROP path — siblings keep serving). */
  def disableView(viewRoot: String): Unit = {
    val c = canon(viewRoot)
    regs.entrySet().asScala.filter(e => canon(e.getValue.viewRoot) == c)
      .map(_.getKey).toSeq.foreach(regs.remove)
    jregs.entrySet().asScala.filter(e => canon(e.getValue.viewRoot) == c)
      .map(_.getKey).toSeq.foreach(jregs.remove)
  }

  def clear(): Unit = { regs.clear(); jregs.clear() }

  private[plans] def isEmpty: Boolean = regs.isEmpty && jregs.isEmpty

  private[plans] def all: Map[(String, Long), QReg] = regs.asScala.toMap

  private[plans] def allJoin: Map[(String, String, String, String, String, String), QJReg] =
    jregs.asScala.toMap
}

/** Quantile-serving rewrite: a `percentile_approx`-shaped aggregate over
  * a REGISTERED source (grouped `(metric, e div grain)`) or over a
  * registered inner join (grouped by the registered dim attributes) is
  * answered from the maintained quantile view's O(live bins) read — the
  * full scan (and for the join, the fact×dim shuffle) leaves the plan.
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
    // multiway quantile registrations live in MaterializedMultiJoins
    // (kind = "quantile") so the tree matcher is shared; either registry
    // non-empty means this rule may have work
    if (MaterializedQuantiles.isEmpty &&
        !MaterializedMultiJoins.all.exists(_.kind == "quantile")) return plan
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        rewriteSingle(ge, ae, child)
          .orElse(rewriteJoin(ge, ae, child))
          .orElse(rewriteMulti(ge, ae, child))
          .getOrElse(agg)
    }
  }

  // ---- shared dissection (the sibling rules' peel) ----------------------

  private def dissect(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => Some((lr, Nil))
      case SubqueryAlias(_, child) => dissect(child)
      case v: View => dissect(v.child)
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        dissect(child)
      case Filter(cond, child) if cond.deterministic =>
        dissect(child).map { case (lr, fs) => (lr, cond +: fs) }
      case _ => None
    }

  private def dissectToJoin(plan: LogicalPlan): Option[(Join, Seq[Expression])] =
    plan match {
      case j: Join => Some((j, Nil))
      case SubqueryAlias(_, child) => dissectToJoin(child)
      case v: View => dissectToJoin(v.child)
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        dissectToJoin(child)
      case Filter(cond, child) if cond.deterministic =>
        dissectToJoin(child).map { case (j, fs) => (j, cond +: fs) }
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other     => Seq(other)
  }

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
    if (MaterializedQuantiles.all.isEmpty) return None
    val (rel, filters) = dissect(child).getOrElse(return None)
    val paths = MaterializedJoins.canonPaths(rel).getOrElse(return None)
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
    val (reg, fresh) = MaterializedQuantiles.all.iterator.flatMap {
      case ((_, g), r) if g == grainSec =>
        MaterializedRollups.probe(r.srcRoot, r.viewRoot).collect {
          case (dirs, f) if dirs == paths => (r, f)
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
        QuantileView.compensatedQuantiles(spark, reg.srcRoot, reg.viewRoot,
          phis, reg.grainSec).getOrElse(return None)
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

  // ---- join arm -----------------------------------------------------------

  private def rewriteJoin(ge: Seq[Expression], ae: Seq[NamedExpression],
                          child: LogicalPlan): Option[LogicalPlan] = {
    if (MaterializedQuantiles.allJoin.isEmpty) return None
    val (j, topFilters) = dissectToJoin(child).getOrElse(return None)
    val (lchild, rchild, cond) = j match {
      case Join(l, r, Inner, Some(c), _) => (l, r, c)
      case _                             => return None
    }
    val pairs = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (lchild.outputSet.contains(a) && rchild.outputSet.contains(b)) (a, b)
        else if (lchild.outputSet.contains(b) && rchild.outputSet.contains(a)) (b, a)
        else return None
      case _ => return None
    }
    val (las, ras) = pairs.unzip
    val (lrel, lfilters) = dissectSide(lchild).getOrElse(return None)
    val (rrel, rfilters) = dissectSide(rchild).getOrElse(return None)
    val lpaths = MaterializedJoins.canonPaths(lrel).getOrElse(return None)
    val rpaths = MaterializedJoins.canonPaths(rrel).getOrElse(return None)
    val groupAttrs = ge.map {
      case a: AttributeReference => a
      case _                     => return None
    }
    val sig = MaterializedJoins.keySig(las.map(_.name), ras.map(_.name))
    val flipped = MaterializedJoins.keySig(ras.map(_.name), las.map(_.name))

    case class Hit(reg: MaterializedQuantiles.QJReg, groups: Set[String],
                   keyPairs: Seq[(String, String)], fresh: Boolean,
                   userLeftIsRegLeft: Boolean)
    val candidates = MaterializedQuantiles.allJoin.iterator.flatMap {
      case ((lr, rr, lk, rk, g, _), r)
          if (lk, rk) == sig || (lk, rk) == flipped =>
        MaterializedJoins.probe(lr, rr, r.viewRoot).flatMap {
          case (ld, rd, fresh) =>
            if ((lk, rk) == sig && ld == lpaths && rd == rpaths)
              Some(Hit(r, g.split(",").toSet,
                las.map(_.name.toLowerCase).zip(ras.map(_.name.toLowerCase)),
                fresh, userLeftIsRegLeft = true))
            else if ((lk, rk) == flipped && ld == rpaths && rd == lpaths)
              Some(Hit(r, g.split(",").toSet,
                ras.map(_.name.toLowerCase).zip(las.map(_.name.toLowerCase)),
                fresh, userLeftIsRegLeft = false))
            else None
        }
      case _ => None
    }.toSeq
    // grouping attrs normalize onto the registered groups (a grouped-on
    // reg-right key serves from its paired left key — value-identical
    // under the inner equality, the MultiTreeMatch contract)
    def groupNorm(h: Hit): Option[Map[ExprId, String]] = {
      val rkToLk = h.keyPairs.map(_.swap).toMap
      def normName(n: String): String = {
        val lc = n.toLowerCase
        if (h.groups.contains(lc)) lc else rkToLk.getOrElse(lc, lc)
      }
      val m = groupAttrs.map(a => a.exprId -> normName(a.name)).toMap
      if (m.values.toSet == h.groups) Some(m) else None
    }
    val matched = candidates.flatMap(h => groupNorm(h).map(h -> _))
    val (hit, normed) = matched.find(_._1.fresh)
      .orElse(matched.headOption).getOrElse(return None)

    // the value column must be the registered one, resolved on its OWNER
    // side (the refresh contract: exactly one side owns it, reg-right
    // keys excluded) — a same-named column on the other side declines
    val (regLeftRel, regRightRel) =
      if (hit.userLeftIsRegLeft) (lrel, rrel) else (rrel, lrel)
    val regRightKeys = hit.keyPairs.map(_._2).toSet
    val valueLc = hit.reg.valueCol.toLowerCase(java.util.Locale.ROOT)
    def valueOk(v: AttributeReference): Boolean =
      v.name.equalsIgnoreCase(valueLc) && {
        val lHas = regLeftRel.output.exists(_.name.equalsIgnoreCase(valueLc))
        val rHas = regRightRel.output.exists(_.name.equalsIgnoreCase(valueLc)) &&
          !regRightKeys.contains(valueLc)
        (lHas, rHas) match {
          case (true, false) => regLeftRel.outputSet.contains(v)
          case (false, true) => regRightRel.outputSet.contains(v)
          case _             => false
        }
      }

    val groupingSet = AttributeSet(groupAttrs)
    if (!(topFilters ++ lfilters ++ rfilters)
        .forall(_.references.subsetOf(groupingSet))) return None
    val allFilters = topFilters ++ lfilters ++ rfilters

    val phis = ae.flatMap {
      case al: Alias => phiOf(al).filter(p => valueOk(p._1)).map(_._2)
      case _         => Seq.empty
    }.distinct
    if (phis.isEmpty) return None
    val longDf =
      if (hit.fresh) QuantileJoinView.quantiles(spark, hit.reg.viewRoot, phis)
      else if (hit.reg.serveStale)
        QuantileJoinView.compensatedQuantiles(spark, hit.reg.leftRoot,
          hit.reg.rightRoot, hit.reg.viewRoot, hit.reg.leftKeys,
          hit.reg.rightKeys, hit.reg.groupCols, hit.reg.valueCol, phis,
          hit.reg.bins).getOrElse(return None)
      else return None
    val viewPlan =
      widen(longDf, hit.reg.groupCols, phis).queryExecution.analyzed
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
    val mapped = allFilters.map(_.transform {
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

  private def dissectSide(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    dissect(plan)

  // ---- multiway arm --------------------------------------------------------

  /** `percentile_approx` over an N ≥ 2 INNER join tree (a two-table
    * shape reaches it only after the join arm declines), answered from a
    * registered [[MultiQuantileJoinView]] (a "quantile"-kind
    * [[MaterializedMultiJoins]] registration): the whole TREE leaves the
    * plan for the view's O(live bins) read. Matching is the
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
    if (!MaterializedMultiJoins.all.exists(_.kind == "quantile")) return None
    val groupAttrs = ge.map {
      case a: AttributeReference => a
      case _                     => return None
    }
    val (ctx, hits) = MultiTreeMatch.candidates(child, "quantile")
      .getOrElse(return None)
    val matched = hits.flatMap(h => h.groupNorm(ctx, groupAttrs).map(h -> _))
    val (hit, normed) = matched.find(_._1.fresh)
      .orElse(matched.headOption).getOrElse(return None)
    val groupingSet = AttributeSet(groupAttrs)
    if (!ctx.filters.forall(_.references.subsetOf(groupingSet))) return None
    val valueSet = Set(hit.reg.measureCols.head
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
        MultiQuantileJoinView.quantiles(spark, hit.reg.viewRoot, phis)
      else if (hit.reg.serveStale)
        MultiQuantileJoinView.compensatedQuantiles(spark, hit.reg.roots,
          hit.reg.viewRoot, hit.reg.edges, hit.reg.groupCols,
          hit.reg.measureCols.head, phis, hit.reg.bins)
          .getOrElse(return None)
      else return None
    val viewPlan =
      widen(longDf, hit.reg.groupCols, phis).queryExecution.analyzed
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
