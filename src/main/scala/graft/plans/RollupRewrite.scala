package graft.plans

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.sources.{RollupView, SnapshotStore}

/** Registry of source-store → rollup-view pairs the
  * [[RollupRewriteRule]] may answer from. Explicit opt-in
  * ([[enable]]) — a rewrite that silently serves stale or
  * differently-scoped data would be a correctness bug, so the engine
  * never guesses which parquet relations are maintained views. */
object MaterializedRollups {

  // key: (canonical source root, grain seconds, view kind) — one
  // maintained view per (grain, kind) per source (day 86400 / hour 3600
  // are the served grains; "classic" count/sum/min/max and "ndv" HLL
  // sketch views are the served kinds)
  private val regs =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), String]()

  private[plans] def canon(p: String): String =
    Paths.get(p.replaceFirst("^file:/+", "/")).normalize().toAbsolutePath.toString

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
    * serves only the exact stored shape). */
  def enable(srcRoot: String, viewRoot: String,
             grain: RollupView.Grain = RollupView.Day,
             serveStale: Boolean = false): Unit = {
    // a re-registration under a DIFFERENT view must not leave the old
    // view's stale opt-in behind
    Option(regs.put((canon(srcRoot), grain.seconds, "classic"), viewRoot))
      .filter(_ != viewRoot).foreach(staleOk.remove)
    if (serveStale) staleOk.add(viewRoot) else staleOk.remove(viewRoot)
  }

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
                serveStale: Boolean = false): Unit = {
    Option(regs.put((canon(srcRoot), grain.seconds, "ndv"), viewRoot))
      .filter(_ != viewRoot).foreach(staleOk.remove)
    if (serveStale) staleOk.add(viewRoot) else staleOk.remove(viewRoot)
  }

  /** Unregister every grain's view for `srcRoot` (and evict its probe
    * cache entries — registry queries register temp-rooted stores per
    * run, and a session-lifetime map keyed by never-reused temp paths
    * would otherwise grow without bound). */
  def disable(srcRoot: String): Unit = {
    val c = canon(srcRoot)
    regs.keySet().asScala.filter(_._1 == c).toSeq
      .foreach(k => Option(regs.remove(k)).foreach(staleOk.remove))
    probeCache.keySet().asScala.filter(_.startsWith(c + "|")).toSeq
      .foreach(probeCache.remove)
  }

  /** Unregister exactly the registrations SERVING from `viewRoot` —
    * sibling views over the same source (the other grain, the ndv twin)
    * keep serving. The DDL's DROP path: dropping one view must not
    * silently unplug its siblings. */
  def disableView(viewRoot: String): Unit = {
    val c = canon(viewRoot)
    regs.entrySet().asScala.filter(e => canon(e.getValue) == c)
      .map(_.getKey).toSeq
      .foreach(k => Option(regs.remove(k)).foreach(staleOk.remove))
    probeCache.keySet().asScala.filter(_.endsWith("|" + viewRoot)).toSeq
      .foreach(probeCache.remove)
  }

  def clear(): Unit = { regs.clear(); probeCache.clear(); staleOk.clear() }

  /** Views opted into DELTA-COMPENSATED serving: when the view's stamp
    * lags an append-only source gap, the rewrite serves
    * `partials ∪ Δ-partials` ([[RollupView.compensatedRead]] for the
    * classic kind, [[graft.sources.NdvView.compensatedRead]]'s sketch
    * union for NDV — bit-equal to refresh-then-read in both) instead of
    * declining. */
  private[plans] val staleOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[plans] def isEmpty: Boolean = regs.isEmpty

  private[plans] def all: Map[(String, Long, String), String] = regs.asScala.toMap

  // ---- freshness-probe cache -----------------------------------------
  //
  // registrationFor runs during analysis of EVERY Aggregate in every
  // query once any rollup is registered; uncached it would re-list the
  // source's manifest directory, re-read its current manifest, and
  // re-scan the view's O(versions) epoch chain each time. Both stores
  // publish state only by writing a new manifest file into their
  // `_manifests` directories, so (directory mtime, current version) is
  // a sound invalidation key: a publish strictly increases the version
  // even when two commits land inside one filesystem-clock tick (Linux
  // stamps mtimes at coarse-clock granularity, so mtime alone can alias
  // under back-to-back test commits), and a vacuum — which removes
  // manifests without changing the version — moves the mtime. The
  // version half is checked as hasManifest(cached+1) — a publish always
  // creates exactly the next version file — so the hit path costs two
  // stats + two existence checks, never a directory listing, far from
  // the manifest read + O(versions) epoch scan it replaces.

  private final case class Probe(srcM: Long, viewM: Long,
                                 srcV: Int, viewV: Int,
                                 dirs: Set[String], fresh: Boolean)

  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Probe]()

  // shared with MaterializedJoins — both registries' probe caches key on
  // the same publish-site invariant
  private[plans] def manifestDirMtime(root: String): Long = {
    val p = Paths.get(root, "_manifests")
    // nanosecond key: back-to-back commits land within the same
    // millisecond under test loads, and a stale "fresh" verdict must not
    // survive a publish
    try java.nio.file.Files.getLastModifiedTime(p)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: java.io.IOException => -1L }
  }

  /** Is the cached `v` still this store's current version? (v present ∧
    * v+1 absent — a publish always creates exactly the next version
    * file; see the cache-soundness comment above.) Shared with
    * MaterializedJoins. */
  private[plans] def storeUnmoved(root: String, v: Int): Boolean =
    (v == 0 || SnapshotStore.hasManifest(root, v)) &&
      !SnapshotStore.hasManifest(root, v + 1)

  /** Current-snapshot dirs + view freshness for a registration, cached
    * until either store's manifest directory changes. None when the
    * source has no published version yet. Keyed per (src, view) pair —
    * a source serving two grains has two independent probes. */
  private[plans] def probe(srcRoot: String, viewRoot: String): Option[(Set[String], Boolean)] = {
    val cacheKey = s"$srcRoot|$viewRoot"
    val srcM = manifestDirMtime(srcRoot)
    val viewM = manifestDirMtime(viewRoot)
    if (srcM < 0) return None
    val cached = probeCache.get(cacheKey)
    // hit path: two stats + four existence checks. A publish always
    // creates exactly version current+1, so hasManifest(v+1) catches a
    // commit that landed inside the cached mtime's clock tick without
    // paying currentVersion's full directory listing per Aggregate.
    // The cached version itself must ALSO still exist: a vacuum that
    // aliased into the same tick removes manifests bottom-up, so any
    // vacuum that could have erased evidence of newer commits (v+1
    // absent despite commits) necessarily erased v too — checking both
    // makes the pair airtight (v present ∧ v+1 absent ⇒ v is current).
    if (cached != null && cached.srcM == srcM && cached.viewM == viewM &&
        storeUnmoved(srcRoot, cached.srcV) && storeUnmoved(viewRoot, cached.viewV))
      return Some((cached.dirs, cached.fresh))
    val srcV = SnapshotStore.currentVersion(srcRoot)
    if (srcV == 0) return None
    val viewV = SnapshotStore.currentVersion(viewRoot)
    val fresh = SnapshotStore.lastEpoch(viewRoot).contains(srcV.toLong)
    val next = Probe(srcM, viewM, srcV, viewV,
      SnapshotStore.manifestDirs(srcRoot, srcV).map(canon).toSet, fresh)
    probeCache.put(cacheKey, next)
    Some((next.dirs, next.fresh))
  }
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
    if (MaterializedRollups.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        dissect(child)
          .flatMap { case (rel, filters) => rewrite(agg, ge, ae, filters, rel) }
          .getOrElse(agg)
    }
  }

  /** The scanned parquet relation plus any Filter conditions between
    * aggregate and scan, allowing column-pruning Projects (plain
    * attributes only). Filters are returned, not rejected: a predicate
    * over GROUPING columns commutes with the aggregation (rows with the
    * same key share the predicate's verdict), so [[rewrite]] can apply
    * it to the view's groups — anything referencing a non-grouping
    * column declines there. */
  private def dissect(plan: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => Some((lr, Nil))
      case SubqueryAlias(_, child) => dissect(child) // temp-view name
      case v: View => dissect(v.child) // temp-view body wrapper
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        dissect(child)
      case Filter(cond, child) if cond.deterministic =>
        dissect(child).map { case (lr, fs) => (lr, cond +: fs) }
      case _ => None
    }

  /** A registered, CURRENT view of `kind` at `grain` for this
    * relation's exact paths, with its source root and freshness — the
    * caller decides whether a stale hit may serve compensated. */
  private def registrationFor(rel: LogicalRelation, grain: RollupView.Grain,
                              kind: String): Option[(String, String, Boolean)] = {
    val paths = rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(p => MaterializedRollups.canon(p.toString)).toSet
      case _ => return None
    }
    // ONE probe call: dirs-match and freshness from the same atomic
    // result (a concurrent refresh between two calls could pair old dirs
    // with new freshness and serve past the query's pinned snapshot)
    MaterializedRollups.all.iterator.flatMap {
      case ((srcRoot, g, k), viewRoot) if g == grain.seconds && k == kind =>
        MaterializedRollups.probe(srcRoot, viewRoot).collect {
          case (dirs, fresh) if dirs == paths => (srcRoot, viewRoot, fresh)
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
    serve(ae, metricAttr, dayOf, grain, filters, rel, "classic")
      .orElse(serve(ae, metricAttr, dayOf, grain, filters, rel, "ndv"))
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
                    kind: String): Option[LogicalPlan] = {
    val (srcRoot, viewRoot, fresh) =
      registrationFor(rel, grain, kind).getOrElse(return None)
    // FRESH: serve the stored partials. STALE + opted-in + append-only
    // gap: serve the delta-compensated merge (either kind — both are
    // bit-equal to refresh-then-read). Anything else declines.
    val viewDf =
      if (fresh) kind match {
        case "classic" => RollupView.read(spark, viewRoot, grain)
        case _         => graft.sources.NdvView.read(spark, viewRoot, grain)
      }
      else if (MaterializedRollups.staleOk.contains(viewRoot)) {
        kind match {
          case "classic" => RollupView.compensatedRead(spark, srcRoot, viewRoot, grain)
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
        (if (kind == "classic") classicAgg(al, viewCol, viewColOpt)
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
