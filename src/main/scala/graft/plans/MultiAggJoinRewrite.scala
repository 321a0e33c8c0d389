package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DecimalType

import graft.sources.{MultiAggJoinView, MultiNdvJoinView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** Registry of N-table (N ≥ 2) join-tree specs → maintained
  * [[MultiAggJoinView]] the [[MultiAggJoinRewriteRule]] may answer
  * from. Explicit opt-in like every sibling registry; the two-table
  * registrations ([[MaterializedAggJoins]]) are its one-edge trees. */
object MaterializedMultiJoins {

  /** A registration: ordered roots, the edge tree, spec columns, and the
    * stale opt-in — everything refresh-shaped so the rewrite can hand
    * the stale path to [[MultiAggJoinView.compensatedRead]] verbatim.
    * `kind`: "agg" (count/sum/avg[/extents] partials), "ndv" (HLL
    * sketch of `measureCols.head` — the [[MultiNdvJoinView]] store,
    * serving the `hll_sketch_estimate(hll_sketch_agg(x, lgK))` shape),
    * or "quantile" (signed bin counts of `measureCols.head` — the
    * [[graft.sources.MultiQuantileJoinView]] store, served by the
    * [[QuantileRewriteRule]]'s multiway arm; `bins` is its freeze
    * width, meaningful only there). */
  private[plans] final case class MReg(roots: Seq[String], viewRoot: String,
                                       edges: Seq[Edge],
                                       groupCols: Seq[String],
                                       measureCols: Seq[String],
                                       serveStale: Boolean,
                                       kind: String = "agg",
                                       bins: Int = 0)

  private val regs =
    new java.util.concurrent.ConcurrentHashMap[String, MReg]()

  private def canon(p: String): String = MaterializedRollups.canon(p)

  /** Declare `viewRoot` as [[MultiAggJoinView]]-maintained over the
    * join tree. A user-shaped chain of INNER equi-joins over the
    * registered stores' CURRENT snapshots whose flattened equality set
    * equals the edge set, grouped on the registered columns, is answered
    * from the view when fresh (or stale-compensated when `serveStale`
    * and the gaps are append-only). */
  def enable(roots: Seq[String], viewRoot: String, edges: Seq[Edge],
             groupCols: Seq[String], measureCols: Seq[String],
             serveStale: Boolean = false): Unit =
    regs.put(canon(viewRoot),
      MReg(roots, viewRoot, edges, groupCols, measureCols, serveStale))

  /** Declare `viewRoot` as [[MultiNdvJoinView]]-maintained: the
    * user-shaped distinct-count aggregate over the registered tree —
    * `hll_sketch_estimate(hll_sketch_agg(x, lgK))` at the engine's lgK —
    * is answered from the stored sketches (register-max union keeps the
    * merged estimate bit-equal to the single-pass aggregate).
    * `serveStale` opts append-only gaps into the compensated sketch
    * union; churned gaps decline (a monotone sketch cannot retract). */
  def enableNdv(roots: Seq[String], viewRoot: String, edges: Seq[Edge],
                groupCols: Seq[String], distinctCol: String,
                serveStale: Boolean = false): Unit =
    regs.put(canon(viewRoot),
      MReg(roots, viewRoot, edges, groupCols, Seq(distinctCol), serveStale,
        kind = "ndv"))

  /** Declare `viewRoot` as [[graft.sources.MultiQuantileJoinView]]-
    * maintained: `percentile_approx`-shaped aggregates of `valueCol`
    * over the registered tree are answered from the view's O(bins) read
    * by the [[QuantileRewriteRule]]'s multiway arm — the registry-wide
    * EXPLICIT approximation opt-in ([[MaterializedQuantiles]] doc: the
    * served estimate is the view's fixed-bin interpolation, ≤ 2·w of
    * exact, not GK's answer). `serveStale` adds delta-compensated
    * serving, sound over churn gaps too (signed counts retract). */
  def enableQuantile(roots: Seq[String], viewRoot: String, edges: Seq[Edge],
                     groupCols: Seq[String], valueCol: String,
                     bins: Int = graft.sources.QuantileJoinView.DefaultBins,
                     serveStale: Boolean = false): Unit =
    regs.put(canon(viewRoot),
      MReg(roots, viewRoot, edges, groupCols, Seq(valueCol), serveStale,
        kind = "quantile", bins = bins))

  /** Unregister every registration mentioning `root` as a source or as
    * the view. */
  def disable(root: String): Unit = {
    val c = canon(root)
    regs.entrySet().asScala
      .filter(e => e.getKey == c || e.getValue.roots.exists(canon(_) == c))
      .map(_.getKey).toSeq.foreach { k =>
        regs.remove(k); probeCache.remove(k)
      }
  }

  /** Unregister exactly the registration serving from `viewRoot` —
    * registrations that read it as a source keep serving. */
  def disableView(viewRoot: String): Unit = {
    val c = canon(viewRoot)
    regs.remove(c); probeCache.remove(c)
  }

  def clear(): Unit = { regs.clear(); probeCache.clear() }

  private[plans] def isEmpty: Boolean = regs.isEmpty

  private[plans] def all: Iterable[MReg] = regs.asScala.values

  // ---- freshness probe (the sibling registries' mtime-keyed cache) ----

  private final case class MProbe(srcM: Seq[Long], viewM: Long,
                                  srcV: Seq[Int], viewV: Int,
                                  dirs: Seq[Set[String]], fresh: Boolean)

  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, MProbe]()

  /** Per-table current-snapshot dirs + view freshness, cached until any
    * store's manifest directory moves (publishes create exactly version
    * v+1 — the [[MaterializedRollups.storeUnmoved]] invariant). None
    * when any source has no published version. */
  private[plans] def probe(reg: MReg): Option[(Seq[Set[String]], Boolean)] = {
    val key = canon(reg.viewRoot)
    val srcM = reg.roots.map(MaterializedRollups.manifestDirMtime)
    val viewM = MaterializedRollups.manifestDirMtime(reg.viewRoot)
    if (srcM.exists(_ < 0)) return None
    val cached = probeCache.get(key)
    if (cached != null && cached.srcM == srcM && cached.viewM == viewM &&
        reg.roots.indices.forall(i =>
          MaterializedRollups.storeUnmoved(reg.roots(i), cached.srcV(i))) &&
        MaterializedRollups.storeUnmoved(reg.viewRoot, cached.viewV))
      return Some((cached.dirs, cached.fresh))
    val srcV = reg.roots.map(SnapshotStore.currentVersion)
    if (srcV.exists(_ == 0)) return None
    val viewV = SnapshotStore.currentVersion(reg.viewRoot)
    // decode the stored stamp (packed or wide-sidecar) and compare the
    // VECTORS — a view past its packed base keeps serving on the wide
    // cursor; a surgically broken sidecar answers STALE, never throws
    // (a Catalyst rule must not fail unrelated user queries)
    val fresh = SnapshotStore.lastEpoch(reg.viewRoot).exists(e =>
      scala.util.Try(
        MultiAggJoinView.vecOf(reg.viewRoot, e, srcV.size) == srcV)
        .getOrElse(false))
    val next = MProbe(srcM, viewM, srcV, viewV,
      reg.roots.zip(srcV).map { case (r, v) =>
        SnapshotStore.manifestDirs(r, v).map(canon).toSet
      }, fresh)
    probeCache.put(key, next)
    Some((next.dirs, next.fresh))
  }
}

/** The N-way join-TREE plan matcher shared by [[MultiAggJoinRewriteRule]]
  * and [[QuantileRewriteRule]]'s multiway arm: flatten a chain of INNER
  * equi-joins to (leaves, equalities, filters) — inner joins commute and
  * associate, so the flattened form is canonical and any join order the
  * user wrote matches — then find the registrations of a given kind
  * whose table set (leaf↔table bijection on current-snapshot dirs) and
  * edge set (unordered table-qualified key pairs) equal the user's, with
  * the child→parent key normalization both rules need to resolve group
  * and measure attributes onto registered columns. */
private[plans] object MultiTreeMatch {

  /** The flattened user plan: scan leaves, their filter conjuncts, and
    * attribute → leaf ownership. */
  final case class Ctx(leaves: Seq[LogicalRelation], filters: Seq[Expression],
                       leafOf: Map[ExprId, Int])

  /** One registration whose tree equals the user's. */
  final case class Hit(reg: MaterializedMultiJoins.MReg,
                       leafToTable: Map[Int, Int], fresh: Boolean) {

    val childToParent: Map[(Int, String), (Int, String)] =
      reg.edges.zipWithIndex.flatMap { case (e, i) =>
        e.parentKeys.zip(e.childKeys).map { case (pk, ck) =>
          ((i + 1, ck.toLowerCase), (e.parent, pk.toLowerCase))
        }
      }.toMap

    @annotation.tailrec
    final def normalizeTc(tc: (Int, String)): (Int, String) =
      childToParent.get(tc) match {
        case Some(up) => normalizeTc(up)
        case None     => tc
      }

    private val childKeyOfTable: Map[Int, Set[String]] =
      reg.edges.zipWithIndex.map { case (e, i) =>
        (i + 1) -> e.childKeys.map(_.toLowerCase).toSet
      }.toMap.withDefaultValue(Set.empty)

    val leafByTable: Map[Int, Int] = leafToTable.map(_.swap)

    /** The unique table OWNING a column name — child-side edge keys
      * excluded, mirroring the refresh resolution contract. */
    def ownerOf(ctx: Ctx, nameLc: String): Option[Int] = {
      val ts = leafByTable.keys.filter { t =>
        ctx.leaves(leafByTable(t)).output
          .exists(_.name.equalsIgnoreCase(nameLc)) &&
          !childKeyOfTable(t).contains(nameLc)
      }.toSeq
      if (ts.size == 1) Some(ts.head) else None
    }

    /** Grouping attrs normalized (child-side keys map onto their paired
      * parent keys, transitively) onto the registered group set — None
      * when they don't land exactly there. */
    def groupNorm(ctx: Ctx, groupAttrs: Seq[AttributeReference]): Option[Map[ExprId, String]] = {
      val entries = groupAttrs.map { a =>
        ctx.leafOf.get(a.exprId).map(leaf =>
          a.exprId -> normalizeTc((leafToTable(leaf), a.name.toLowerCase))._2)
      }
      if (entries.exists(_.isEmpty)) return None
      val m = entries.flatten.toMap
      if (m.values.toSet == reg.groupCols.map(_.toLowerCase).toSet) Some(m)
      else None
    }

    /** A measure/value/distinct attribute normalized through the tree
      * onto a registered column's OWNING table (a same-named column on a
      * different table declines). */
    def measureNorm(ctx: Ctx, measures: Set[String])(v: AttributeReference): Option[String] =
      ctx.leafOf.get(v.exprId).map(leafToTable).flatMap { t =>
        val norm = normalizeTc((t, v.name.toLowerCase))
        if (measures.contains(norm._2) && ownerOf(ctx, norm._2).contains(norm._1))
          Some(norm._2)
        else None
      }
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other     => Seq(other)
  }

  /** Flatten a tree of inner joins to (scan leaves, equality conjuncts,
    * filter conjuncts). Projects must be column-pruning; filters
    * deterministic; any other node declines. */
  def flatten(plan: LogicalPlan):
      Option[(Seq[LogicalRelation], Seq[Expression], Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => Some((Seq(lr), Nil, Nil))
      case SubqueryAlias(_, child) => flatten(child) // temp-view name
      case v: View => flatten(v.child) // temp-view body wrapper
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        flatten(child)
      case Filter(cond, child) if cond.deterministic =>
        flatten(child).map { case (ls, es, fs) => (ls, es, conjuncts(cond) ++ fs) }
      case Join(l, r, Inner, Some(c), _) =>
        for ((ll, le, lf) <- flatten(l); (rl, re, rf) <- flatten(r))
          yield (ll ++ rl, conjuncts(c) ++ le ++ re, lf ++ rf)
      case _ => None
    }

  /** Flatten + match: every registration of `kind` whose tree equals the
    * user plan's. None when the plan isn't an N ≥ 2 inner-join tree of
    * plain scans or an equality isn't attr = attr across two leaves. */
  def candidates(child: LogicalPlan, kind: String): Option[(Ctx, Seq[Hit])] = {
    val (leaves, eqs, filters) = flatten(child).getOrElse(return None)
    if (leaves.size < 2) return None
    val leafPaths = leaves.map(l =>
      MaterializedJoins.canonPaths(l).getOrElse(return None))
    val leafOf: Map[ExprId, Int] = leaves.zipWithIndex.flatMap {
      case (l, i) => l.output.map(a => a.exprId -> i)
    }.toMap
    val eqPairs = eqs.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (la, lb) = (leafOf.get(a.exprId).getOrElse(return None),
          leafOf.get(b.exprId).getOrElse(return None))
        if (la == lb) return None
        ((la, a.name.toLowerCase), (lb, b.name.toLowerCase))
      case _ => return None
    }
    val hits = MaterializedMultiJoins.all.iterator
      .filter(_.kind == kind).flatMap { reg =>
        if (reg.roots.size != leaves.size) None
        else MaterializedMultiJoins.probe(reg).flatMap { case (dirs, fresh) =>
          // leaf i ↦ the unique table whose dirs equal leaf i's paths;
          // a leaf matching no table of THIS registration skips it
          val pairs = leafPaths.zipWithIndex.flatMap { case (p, li) =>
            dirs.indexWhere(_ == p) match {
              case -1 => None
              case ti => Some(li -> ti)
            }
          }
          val mapping = pairs.toMap
          if (pairs.size != leaves.size ||
              mapping.values.toSet.size != leaves.size) None
          else {
            val regPairs: Set[Set[(Int, String)]] = reg.edges.zipWithIndex
              .flatMap { case (e, i) =>
                e.parentKeys.zip(e.childKeys).map { case (pk, ck) =>
                  Set((e.parent, pk.toLowerCase), (i + 1, ck.toLowerCase))
                }
              }.toSet
            val userPairs: Set[Set[(Int, String)]] = eqPairs.map {
              case ((la, an), (lb, bn)) =>
                Set((mapping(la), an), (mapping(lb), bn))
            }.toSet
            if (userPairs == regPairs) Some(Hit(reg, mapping, fresh))
            else None
          }
        }
      }.toSeq
    Some((Ctx(leaves, filters, leafOf), hits))
  }
}

/** Materialized aggregate-over-join rewrite — the star and snowflake MV
  * as one Catalyst rule: a user-shaped chain of INNER equi-joins over N
  * ≥ 2 registered stores' current snapshots (two tables are the one-edge
  * tree), grouped on registered columns
  * and aggregated as `count(1)` / `sum(CAST(m AS DECIMAL(18..30, 2)))` /
  * the matching `avg`, is answered from the O(groups) maintained
  * [[MultiAggJoinView]] — the whole join TREE disappears from the plan.
  * At 100 TB this is the standard BI dashboard shape (fact × several
  * dims, GROUP BY dim attributes) served from partial rows the refresh
  * already paid for.
  *
  * Fires only when EXACT:
  *   - the aggregate's child flattens to INNER joins over exactly the
  *     registered stores' current-version scans (at most column-pruning
  *     Projects and deterministic grouping-column Filters in between);
  *     inner joins commute and associate, so the FLATTENED form — the
  *     leaf set plus the set of equality conjuncts — is the canonical
  *     shape, and any join ORDER the user wrote matches;
  *   - the flattened equality set equals the registered edge set exactly
  *     (as unordered table-qualified column pairs);
  *   - the view is FRESH (packed cursor = every source's current
  *     version), or `serveStale` with an append-only gap (served via
  *     [[MultiAggJoinView.compensatedRead]]);
  *   - grouping attributes are plain columns that normalize (child-side
  *     edge keys map onto their paired parent keys, transitively) onto
  *     the registered group set;
  *   - every aggregate is `count(1)`, `sum(CAST(m AS DECIMAL(p, 2)))`
  *     with 18 ≤ p ≤ 30 (the repo-wide precision-floor rationale), the
  *     matching `avg` served as stored sum ÷ the stored non-null count
  *     with Average's own decimal arithmetic, `min/max(m)` from an
  *     EXTENTS view's stored extents, or — against an "ndv"-kind
  *     registration ([[MultiNdvJoinView]]) — the datasketches
  *     distinct-count shape at the engine's lgK. Measure and distinct
  *     attributes resolve through the tree onto the registered column's
  *     OWNING table (a same-named column on another table declines).
  *     Anything else declines.
  *
  * Output attributes keep the original exprIds. Registered BEFORE
  * [[JoinRewriteRule]] in [[graft.GraftExtensions]]: both match a
  * two-table Join, and serving the aggregate from O(groups) partials
  * beats serving the join view and re-aggregating O(join rows). */
class MultiAggJoinRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MaterializedMultiJoins.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        rewrite(agg, ge, ae, child).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, ge: Seq[Expression],
                      ae: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val groupAttrs = ge.map {
      case a: AttributeReference => a
      case _                     => return None
    }
    // the aggregate list picks the view KIND it needs: any datasketches
    // distinct-count shape wants an ndv view, everything else the agg
    // kind — "quantile"-kind registrations never serve here (their store
    // holds bin partials; the QuantileRewriteRule owns them). Freshness
    // breaks ties among same-kind candidates.
    val wantsNdv = ae.exists {
      case Alias(HllSketchEstimate(_), _) => true
      case _                              => false
    }
    val (ctx, kinded) = MultiTreeMatch.candidates(child,
      if (wantsNdv) "ndv" else "agg").getOrElse(return None)
    val filters = ctx.filters
    // GROUPS participate in candidate SELECTION, not just validation:
    // two registrations can share the same join tree with different
    // group columns, and the query must land on the one whose groups its
    // grouping attributes normalize onto (a grouped-on child-side key
    // maps to its paired parent key, transitively — the inner equality
    // makes them value-identical)
    val matched = kinded.flatMap(h => h.groupNorm(ctx, groupAttrs).map(h -> _))
    val (hit, normed) = matched.find(_._1.fresh)
      .orElse(matched.headOption).getOrElse(return None)

    // filters must reference only grouping attributes
    val groupingSet = AttributeSet(groupAttrs)
    if (!filters.forall(_.references.subsetOf(groupingSet))) return None

    val measures = hit.reg.measureCols.map(_.toLowerCase).toSet
    // measure/distinct attributes resolve THROUGH the join tree, exactly
    // like group attributes — ownership mirrors the refresh contract
    // (child keys excluded); a column on a DIFFERENT table merely
    // sharing the registered measure's name must not serve from the
    // owner's stored partials
    def measureNorm(v: AttributeReference): Option[String] =
      hit.measureNorm(ctx, measures)(v)

    val viewDf =
      if (hit.fresh) hit.reg.kind match {
        case "ndv" => MultiNdvJoinView.read(spark, hit.reg.viewRoot)
        case _     => MultiAggJoinView.read(spark, hit.reg.viewRoot)
      }
      else if (hit.reg.serveStale) {
        hit.reg.kind match {
          case "ndv" => MultiNdvJoinView.compensatedRead(spark,
            hit.reg.roots, hit.reg.viewRoot, hit.reg.edges,
            hit.reg.groupCols, hit.reg.measureCols.head)
          case _ => MultiAggJoinView.compensatedRead(spark, hit.reg.roots,
            hit.reg.viewRoot, hit.reg.edges, hit.reg.groupCols,
            hit.reg.measureCols)
        }
      }.getOrElse(return None)
      else return None
    val viewPlan = viewDf.queryExecution.analyzed
    def viewCol(n: String): Option[Attribute] =
      viewPlan.output.find(_.name.equalsIgnoreCase(n))
    def groupViewCol(a: AttributeReference): Option[Attribute] =
      normed.get(a.exprId).flatMap(viewCol).filter(_.dataType == a.dataType)

    val projections = ae.map {
      case a: AttributeReference if normed.contains(a.exprId) =>
        Alias(groupViewCol(a).getOrElse(return None), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, _) if normed.contains(a.exprId) =>
        Alias(groupViewCol(a).getOrElse(return None), al.name)(exprId = al.exprId)
      case al @ Alias(ag @ AggregateExpression(
          Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        val c = viewCol("cnt").filter(_.dataType == ag.dataType)
          .getOrElse(return None)
        Alias(c, al.name)(exprId = al.exprId)
      // sum(CAST(m AS DECIMAL(p, 2))) serves the exact stored
      // DECIMAL(30,2) partial: casting to scale 2 at any precision ≥ the
      // values' magnitude rounds identically. Precision FLOOR 18 (the
      // repo-wide decimal(18,2) convention): a sub-magnitude cast like
      // DECIMAL(4,2) overflows per-VALUE to null in the base plan
      // (non-ANSI cast) while the stored partial counted the value — the
      // same query would answer differently served vs declined.
      case al @ Alias(ag @ AggregateExpression(
          Sum(Cast(v: AttributeReference, dt: DecimalType, _, _), _),
          _, false, None, _), _)
          if dt.scale == 2 && dt.precision <= 30 && dt.precision >= 18 &&
            measureNorm(v).isDefined =>
        val c = viewCol(s"sum_${measureNorm(v).get}").getOrElse(return None)
        Alias(Cast(c, ag.dataType), al.name)(exprId = al.exprId)
      // avg(CAST(m AS DECIMAL(p,2))) = stored sum ÷ the stored NON-NULL
      // count `nn_<m>` (Average divides by the non-null inputs, not the
      // row count — [2.00, NULL] averages to 2.00), with Average's OWN
      // decimal arithmetic replicated: operands cast to Average's
      // internal types (sum at DECIMAL(p+10,2), count at LongDecimal), so
      // the Divide's result type — and hence its HALF_UP rounding — is
      // the base plan's, then the same final cast. Served == declined to
      // the last digit. An all-NULL group has a NULL stored sum and
      // nn = 0; NULL ÷ 0 under LEGACY eval is NULL, the base plan's
      // answer. A view without the nn column declines.
      case al @ Alias(ag @ AggregateExpression(
          Average(Cast(v: AttributeReference, dt: DecimalType, _, _), _),
          _, false, None, _), _)
          if dt.scale == 2 && dt.precision <= 30 && dt.precision >= 18 &&
            measureNorm(v).isDefined =>
        val sumC = viewCol(s"sum_${measureNorm(v).get}").getOrElse(return None)
        val nnC = viewCol(s"nn_${measureNorm(v).get}").getOrElse(return None)
        val sumDt = DecimalType(
          math.min(dt.precision + 10, DecimalType.MAX_PRECISION), dt.scale)
        Alias(Cast(
          Divide(Cast(sumC, sumDt), Cast(nnC, DecimalType(20, 0)),
            EvalMode.LEGACY),
          ag.dataType), al.name)(exprId = al.exprId)
      // min/max serve only from an EXTENTS view (the stored min_/max_
      // column must exist with the measure's own dataType — a count/sum
      // view lacks it and declines here)
      case al @ Alias(ag @ AggregateExpression(
          Min(v: AttributeReference), _, false, None, _), _)
          if measureNorm(v).isDefined =>
        val c = viewCol(s"min_${measureNorm(v).get}")
          .filter(_.dataType == ag.dataType).getOrElse(return None)
        Alias(c, al.name)(exprId = al.exprId)
      case al @ Alias(ag @ AggregateExpression(
          Max(v: AttributeReference), _, false, None, _), _)
          if measureNorm(v).isDefined =>
        val c = viewCol(s"max_${measureNorm(v).get}")
          .filter(_.dataType == ag.dataType).getOrElse(return None)
        Alias(c, al.name)(exprId = al.exprId)
      // the datasketches distinct-count shape — served from an NDV-kind
      // view's merged-sketch estimate (register-max union makes it
      // bit-equal to the single-pass aggregate over the tree); the lgK
      // must be the engine's own, and the distinct attribute normalizes
      // through the tree onto the registered column (a distinct-count
      // over any edge-key spelling of it is value-identical)
      case al @ Alias(HllSketchEstimate(AggregateExpression(
          HllSketchAgg(u: AttributeReference, lgk, _, _), _, false, None, _)), _)
          if hit.reg.kind == "ndv" && lgk.foldable &&
            lgk.eval() == graft.sources.NdvView.LgK &&
            measureNorm(u).isDefined =>
        val c = viewCol(s"approx_${measureNorm(u).get}")
          .filter(_.dataType == al.dataType).getOrElse(return None)
        Alias(c, al.name)(exprId = al.exprId)
      case _ => return None // decline, never approximate
    }
    var mappable = true
    val mapped = filters.map(_.transform {
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
