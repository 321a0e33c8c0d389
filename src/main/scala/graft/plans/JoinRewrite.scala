package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.JoinView
import MaterializedViews.{JoinKeys, Kind, Reg}

/** Facade over [[MaterializedViews]] for (left store, right store, key
  * pairs, join type) → maintained [[JoinView]] registrations (kind
  * `Join`) the [[JoinRewriteRule]] may answer from. The state lives in
  * the one registry; `disable` (either side's source), `disableView` and
  * `clear` touch only this kind. The join type is part of the slot: an
  * inner and an outer view over the same pair coexist. */
object MaterializedJoins extends MaterializedViews.Facade(_.kind == Kind.Join) {

  /** Declare `viewRoot` as [[JoinView]]-maintained over the two stores on
    * (leftKey = rightKey). From now on a user-shaped equi-join of the two
    * sources' CURRENT snapshots on that key pair — INNER for an inner
    * view, LEFT OUTER for a `how = "left_outer"` view — is answered from
    * the view, when, and only when, the view's packed cursor matches
    * both sources' current versions at planning time (the same
    * analysis-time binding contract as [[MaterializedRollups.enable]]). */
  def enable(leftRoot: String, rightRoot: String, viewRoot: String,
             leftKey: String, rightKey: String,
             how: String = "inner", serveStale: Boolean = false): Unit =
    enableKeys(leftRoot, rightRoot, viewRoot, Seq(leftKey), Seq(rightKey),
      how, serveStale)

  /** [[enable]] for COMPOSITE equi-keys (pairwise positional equalities —
    * the [[JoinView.refreshKeys]] contract).
    *
    * `serveStale = true` additionally opts this registration into
    * DELTA-COMPENSATED serving: when the view's cursor lags the sources
    * but every gap commit is an append, an INNER-view query is answered
    * as `view ∪ Δ-joins` ([[JoinView.compensated]]) instead of
    * declining — fresh answers at O(view + Δ) between refreshes. A
    * churned or compacted gap still declines (compensation would be
    * unsound), as do outer shapes (conversion, not union). */
  def enableKeys(leftRoot: String, rightRoot: String, viewRoot: String,
                 leftKeys: Seq[String], rightKeys: Seq[String],
                 how: String = "inner", serveStale: Boolean = false): Unit = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"key lists must be non-empty and pair up: $leftKeys vs $rightKeys")
    // registration-side sugar mirroring the rule's plan-side
    // normalization: a right-outer registration IS a left-outer one with
    // the sides swapped (JoinView maintains no right_outer views)
    if (how == "right_outer")
      return enableKeys(rightRoot, leftRoot, viewRoot,
        rightKeys, leftKeys, "left_outer", serveStale)
    require(how == "inner" || how == "left_outer" || how == "full_outer",
      s"registrable join types are inner, left_outer, full_outer, got '$how'")
    MaterializedViews.register(Reg(Kind.Join, viewRoot, Seq(leftRoot, rightRoot),
      serveStale, JoinKeys(leftKeys, rightKeys, how)))
  }

  private[plans] def all: Map[String, Reg] = owned
}

/** Materialized JOIN-view rewrite — transparent denormalization serving:
  * a user-shaped equi-join of two REGISTERED stores' current snapshots
  * on the registered key pair — INNER over an inner view, LEFT OUTER
  * over a left-outer view, FULL OUTER over a full-outer view, and a
  * RIGHT OUTER join normalized onto the left-outer view with the sides
  * swapped — is answered from the maintained [[JoinView]] instead of
  * re-running the join. At 100 TB this turns every fact-to-fact
  * navigation query from a two-sided shuffle join into a scan of rows
  * the refresh already paid for.
  *
  * Fires only when EXACT:
  *   - both scanned relations' root paths are precisely the registered
  *     stores' current-version manifest dirs (time travel / incremental
  *     reads never rewrite), with at most column-pruning Projects and
  *     deterministic row Filters between scan and join — an inner join
  *     commutes with per-side filters (σ_p(L) ⋈ R = σ_p(L ⋈ R) when p
  *     reads only L's columns), so side filters re-apply to view rows.
  *     A LEFT OUTER join commutes only with LEFT-side filters (each
  *     left row's fate is independent); a right-side filter changes
  *     which left rows null-extend, so it DECLINES;
  *   - the view is FRESH: its packed cursor equals BOTH sources' current
  *     versions at planning time (analysis-time binding, as documented
  *     on [[MaterializedJoins.enable]]);
  *   - the join condition is a pure conjunction of attribute equalities
  *     whose pair SET equals the registered key pairs (any conjunct
  *     order, either operand order; either join ORIENTATION for inner —
  *     a left-outer join is asymmetric, so only the registered
  *     orientation serves). A subset, superset, or any other shape
  *     declines.
  *
  * Output attributes keep the original exprIds. Inner views drop right
  * key columns, so each right key is served from its PAIRED left key's
  * view column — value-equal by the inner-join equality itself; outer
  * views KEEP their right keys (null = unmatched, exactly the user
  * join's output), so every column resolves by name directly. By-name
  * resolution is safe because JoinView's bootstrap refuses colliding
  * names. */
class JoinRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!MaterializedViews.serves(Kind.Join)) return plan
    plan.transformUp {
      case j @ Join(lchild, rchild, Inner, Some(cond), _) =>
        rewrite(j, lchild, rchild, cond, Inner).getOrElse(j)
      case j @ Join(lchild, rchild, LeftOuter, Some(cond), _) =>
        rewrite(j, lchild, rchild, cond, LeftOuter).getOrElse(j)
      // A RIGHT OUTER join IS a left-outer join with the sides swapped —
      // normalize onto the left-outer view (pure plan sugar, no new
      // maintenance): the swapped call makes the preserved side the
      // view's left side, so the filter-commute rule lands on the right
      // rows automatically and output attrs still resolve by name
      case j @ Join(lchild, rchild, RightOuter, Some(cond), _) =>
        rewrite(j, rchild, lchild, cond, LeftOuter).getOrElse(j)
      case j @ Join(lchild, rchild, FullOuter, Some(cond), _) =>
        rewrite(j, lchild, rchild, cond, FullOuter).getOrElse(j)
    }
  }

  private def rewrite(j: Join, lchild: LogicalPlan, rchild: LogicalPlan,
                      cond: Expression,
                      joinType: JoinType): Option[LogicalPlan] = {
    // the condition must be a pure conjunction of attr = attr equalities,
    // each orientable to (left side, right side)
    val pairs = MultiTreeMatch.conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (lchild.outputSet.contains(a) && rchild.outputSet.contains(b)) (a, b)
        else if (lchild.outputSet.contains(b) && rchild.outputSet.contains(a)) (b, a)
        else return None
      case _ => return None
    }
    val (las, ras) = pairs.unzip
    // each side: one scan through column-pruning Projects and
    // deterministic Filters
    val (lrel, lfilters) = MultiTreeMatch.scan(lchild).getOrElse(return None)
    val (rrel, rfilters) = MultiTreeMatch.scan(rchild).getOrElse(return None)
    // a left-outer join does NOT commute with right-side filters: a left
    // row matched only to filtered-out right rows null-extends in the
    // user's query, but the view materialized it matched. A FULL outer
    // join commutes with NEITHER side's filters (each side's filter
    // changes which rows of the OTHER side null-extend)
    if (joinType == LeftOuter && rfilters.nonEmpty) return None
    if (joinType == FullOuter && (lfilters.nonEmpty || rfilters.nonEmpty))
      return None
    val lpaths = MaterializedViews.canonPaths(lrel).getOrElse(return None)
    val rpaths = MaterializedViews.canonPaths(rrel).getOrElse(return None)
    val sig = MaterializedViews.keySig(las.map(_.name), ras.map(_.name))
    val flipped = MaterializedViews.keySig(ras.map(_.name), las.map(_.name))
    val wantHow = joinType match {
      case LeftOuter => "left_outer"
      case FullOuter => "full_outer"
      case _         => "inner"
    }
    // inner and full-outer joins are symmetric: match the registration in
    // either side order (the user may write R.join(L) for a view
    // registered (L, R)); a left-outer join serves ONLY in the registered
    // orientation (its right-outer spelling is normalized by the caller)
    val symmetric = joinType == Inner || joinType == FullOuter
    // ONE probe call per registration: dirs-match and freshness must come
    // from the SAME atomic probe result — a concurrent refresh between
    // two probe calls could pair version-N dirs with version-N+1
    // freshness and serve content newer than the query's pinned snapshot
    val candidates = MaterializedViews.all.iterator.flatMap {
      case reg @ Reg(Kind.Join, _, _, _, keys @ JoinKeys(lks, rks, `wantHow`)) =>
        val regSig = MaterializedViews.keySig(lks, rks)
        val direct = regSig == sig
        val swapped = symmetric && regSig == flipped
        if (!direct && !swapped) None
        else MaterializedViews.probe(reg).collect {
          case (Seq(ld, rd), fresh)
              if (direct && ld == lpaths && rd == rpaths) ||
                (swapped && ld == rpaths && rd == lpaths) =>
            (reg, keys, fresh)
        }
      case _ => None
    }.toSeq
    // prefer a FRESH hit over a stale one (two registrations can match
    // the same query in opposite orientations — a stale non-opted first
    // hit must not shadow a fresh second)
    val (reg, keys, fresh) = candidates.find(_._3)
      .orElse(candidates.headOption).getOrElse(return None)

    // FRESH: serve the stored view. STALE + opted-in: serve the
    // delta-compensated union when [[JoinView.compensated]] deems it
    // sound — inner views over append-only gaps on either side,
    // left-outer views over a LEFT-side-only append gap (each leg keeps
    // the view's own shape). Anything else declines inside compensated
    // (today's answer off the base join stays correct).
    val baseDf =
      if (fresh) JoinView.read(spark, reg.viewRoot)
      else if (reg.serveStale)
        JoinView.compensated(spark, reg.roots(0), reg.roots(1),
          reg.viewRoot, keys.left, keys.right).getOrElse(return None)
      else return None
    val viewPlan = baseDf.queryExecution.analyzed
    val byName = viewPlan.output.map(a => a.name.toLowerCase -> a).toMap
    // INNER views dropped their right keys; each inner equality makes the
    // two key columns value-identical, so whichever key name the view
    // lacks is served from its PAIRED key's column (covers both join
    // orientations). OUTER views keep both key sets — and the pairing is
    // NOT value-sound there (an unmatched row's right key is null while
    // its left key isn't), so resolution is by name only.
    val pairedName: Map[String, String] =
      if (joinType != Inner) Map.empty
      else (las.map(_.name.toLowerCase).zip(ras.map(_.name.toLowerCase)) ++
        ras.map(_.name.toLowerCase).zip(las.map(_.name.toLowerCase))).toMap
    def resolve(name: String): Option[Attribute] =
      byName.get(name.toLowerCase)
        .orElse(pairedName.get(name.toLowerCase).flatMap(byName.get))

    val projections = j.output.map { attr =>
      resolve(attr.name) match {
        case Some(vc) if vc.dataType == attr.dataType =>
          Alias(vc, attr.name)(exprId = attr.exprId)
        case _ => return None
      }
    }
    var mappable = true
    val mapped = (lfilters ++ rfilters).map(_.transform {
      case a: AttributeReference =>
        resolve(a.name) match {
          case Some(vc) if vc.dataType == a.dataType => vc
          case _ => mappable = false; a
        }
    })
    if (!mappable) return None
    val base =
      if (mapped.isEmpty) viewPlan
      else Filter(mapped.reduce(And), viewPlan)
    Some(Project(projections, base))
  }
}
