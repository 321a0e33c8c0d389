package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}

import graft.sources.{JoinView, MultiAggJoinView, MultiNdvJoinView, MultiQuantileJoinView, NdvView, QuantileJoinView, QuantileView, RollupView}
import graft.sources.MultiAggJoinView.Edge

/** The SQL DDL surface for the engine's materialized views — the
  * missing piece for SQL-only sessions, which could SERVE from every
  * registered view (the rewrite rules run at analysis for any query
  * shape, `spark.sql` included) but had no way to REGISTER one without
  * dropping to the Scala registries. Four statements, dispatched to the
  * SAME registries and refresh functions the Scala API uses (one
  * definition of each view's semantics):
  *
  * {{{
  * CREATE MATERIALIZED VIEW '<viewRoot>' AS <KIND>(NAME => 'value', …)
  * REFRESH MATERIALIZED VIEW '<viewRoot>'
  * DROP MATERIALIZED VIEW '<viewRoot>'
  * SHOW MATERIALIZED VIEWS
  * }}}
  *
  * Kinds and their arguments (comma-separated name => 'literal' pairs;
  * list-valued arguments are comma-separated INSIDE the quotes):
  *
  *   - `ROLLUP(SRC => '…' [, GRAIN => 'day'|'hour'] [, STALE => 'true'])`
  *   - `NDV(SRC => '…' [, GRAIN => …] [, STALE => …])` — distinct users
  *   - `QUANTILE(SRC => '…' [, GRAIN_SEC => '86400'] [, BINS => '64']
  *     [, SERVE => 'true'] [, STALE => 'true'])` — SERVE opts
  *     `percentile_approx`-shaped aggregates into the view's O(bins)
  *     Catalyst serve (an EXPLICIT opt-in: the served estimate is the
  *     view's deterministic fixed-bin interpolation, ≤ 2·w of exact,
  *     not percentile_approx's GK answer — [[MaterializedQuantiles]]);
  *     without SERVE the view is maintained + read through its own API
  *   - `JOIN(LEFT => '…', RIGHT => '…', LEFT_KEYS => 'a,b',
  *     RIGHT_KEYS => 'c,d' [, HOW => 'inner'|'left_outer'|'full_outer']
  *     [, STALE => …])`
  *   - `AGG_JOIN(LEFT, RIGHT, LEFT_KEYS, RIGHT_KEYS, GROUPS => 'g,…',
  *     MEASURES => 'm,…' [, EXTENTS => 'true'] [, STALE => …])` — the
  *     one-edge MULTI_AGG_JOIN (ROOTS => 'LEFT;RIGHT', EDGES =>
  *     '0:LEFT_KEYS:RIGHT_KEYS')
  *   - `NDV_JOIN(LEFT, RIGHT, LEFT_KEYS, RIGHT_KEYS, GROUPS,
  *     DISTINCT_COL => 'x' [, STALE => …])` — the one-edge
  *     MULTI_NDV_JOIN
  *   - `MULTI_AGG_JOIN(ROOTS => 'r0;r1;…', EDGES =>
  *     'parent:pk,…:ck,…;…' (edge i attaches table i+1), GROUPS,
  *     MEASURES [, EXTENTS => 'true'] [, STALE => …])`
  *   - `MULTI_NDV_JOIN(ROOTS, EDGES, GROUPS, DISTINCT_COL => 'x'
  *     [, STALE => …])` — distinct count over the join tree
  *   - `QUANTILE_JOIN(LEFT, RIGHT, LEFT_KEYS, RIGHT_KEYS, GROUPS,
  *     VALUE_COL => 'm' [, BINS => '64'] [, SERVE => 'true']
  *     [, STALE => 'true'])` — percentiles per dim attribute; SERVE
  *     opts the `percentile_approx`-over-the-join shape into the
  *     O(bins) Catalyst serve (same explicit-approximation contract
  *     as QUANTILE; STALE adds delta-compensated serving, sound over
  *     churn gaps too — signed counts retract)
  *   - `MULTI_QUANTILE_JOIN(ROOTS, EDGES, GROUPS, VALUE_COL => 'm'
  *     [, BINS => '64'] [, SERVE => 'true'] [, STALE => 'true'])` —
  *     percentiles over the N-way join tree (QUANTILE_JOIN's contract
  *     lifted to MULTI_AGG_JOIN's tree shape); SERVE opts the
  *     `percentile_approx`-over-the-tree shape into the O(bins)
  *     Catalyst serve, STALE adds the telescoped delta-compensated
  *     serving (sound over churn gaps — signed counts retract)
  *
  * Ten kinds over eight view implementations: AGG_JOIN and NDV_JOIN
  * build the same spec as their MULTI_ twins, and SHOW still reports
  * the kind the CREATE named.
  *
  * CREATE registers AND materializes (the initial refresh runs — a
  * CREATE that didn't materialize would serve nothing); REFRESH brings
  * the view current from the DDL catalog's recorded spec; DROP
  * unregisters exactly that view (sibling views over the same sources
  * keep serving). Any statement that doesn't match the four shapes
  * delegates to Spark's own parser untouched.
  *
  * The catalog PERSISTS: CREATE writes one small entry file (view root
  * + kind + the CREATE's own args) under the catalog directory —
  * `spark.graft.catalog` when set, else
  * `<spark.sql.warehouse.dir>/graft_catalog` — and every parsed
  * statement lazily rehydrates missing registrations from it (cached on
  * the directory's mtime), so a RESTARTED session serves, refreshes,
  * and lists everything it CREATEd without re-running any bootstrap.
  * DROP removes the entry file.
  *
  * Operational note on refresh cadence: a MULTI view's cursor stamp
  * starts in the packed form (each source gets `2^(62/n)` versions —
  * 4096 for 5 tables, 128 for 8) and, the moment any source outgrows
  * that base, switches automatically to the VARIABLE-WIDTH cursor (a
  * sequence-id stamp whose version vector persists in a `_cursors`
  * sidecar — [[MultiAggJoinView.stampFor]]), so per-trigger streaming
  * maintenance runs to `Int.MaxValue` versions per source with no
  * rebuild cliff. Pre-existing packed-cursor views migrate in place on
  * their first over-base refresh.
  */
object GraftDdl {

  sealed trait Spec { def refresh(spark: SparkSession, view: String): Int }

  private final case class RollupSpec(src: String, grain: RollupView.Grain,
                                      stale: Boolean, ndv: Boolean) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      if (ndv) NdvView.refresh(spark, src, view, grain)
      else RollupView.refresh(spark, src, view, grain)
  }
  private final case class QuantileSpec(src: String, grainSec: Long,
                                        bins: Int, serve: Boolean,
                                        stale: Boolean) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      QuantileView.refresh(spark, src, view, grainSec, bins)
  }
  private final case class JoinSpec(l: String, r: String, lks: Seq[String],
                                    rks: Seq[String], how: String,
                                    stale: Boolean) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      JoinView.refreshKeys(spark, l, r, view, lks, rks, how)
  }
  /** `kind`: the DDL kind SHOW reports — MULTI_AGG_JOIN, or AGG_JOIN
    * for its one-edge spelling (likewise for [[MultiNdvSpec]]). */
  private final case class MultiSpec(roots: Seq[String], edges: Seq[Edge],
                                     groups: Seq[String],
                                     measures: Seq[String],
                                     extents: Boolean,
                                     stale: Boolean,
                                     kind: String) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      MultiAggJoinView.refresh(spark, roots, view, edges, groups, measures,
        extents)
  }
  private final case class MultiNdvSpec(roots: Seq[String], edges: Seq[Edge],
                                        groups: Seq[String], x: String,
                                        stale: Boolean,
                                        kind: String) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      MultiNdvJoinView.refresh(spark, roots, view, edges, groups, x)
  }
  private final case class QuantileJoinSpec(l: String, r: String,
                                            lks: Seq[String], rks: Seq[String],
                                            groups: Seq[String], x: String,
                                            bins: Int, serve: Boolean,
                                            stale: Boolean) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      QuantileJoinView.refresh(spark, l, r, view, lks, rks, groups, x, bins)
  }
  private final case class MultiQuantileJoinSpec(roots: Seq[String],
                                                 edges: Seq[Edge],
                                                 groups: Seq[String],
                                                 x: String, bins: Int,
                                                 serve: Boolean,
                                                 stale: Boolean) extends Spec {
    def refresh(spark: SparkSession, view: String): Int =
      MultiQuantileJoinView.refresh(spark, roots, view, edges, groups, x,
        bins)
  }

  /** The DDL catalog: view root → recorded spec (what REFRESH/DROP
    * resolve against), rehydrated lazily from the persisted entries. */
  private val catalog =
    new java.util.concurrent.ConcurrentHashMap[String, Spec]()

  // ---- persistence -------------------------------------------------------
  // One small entry file per CREATEd view — view root, kind, and the
  // CREATE's own args (URL-encoded, one per line) — under the catalog
  // directory. That is exactly enough to rebuild the Spec and re-register
  // the rewrite registries in a fresh session WITHOUT re-running the
  // bootstrap: the view's store (content, cursors, spec sidecar) is
  // already on disk.

  private def catalogDir(spark: SparkSession): java.nio.file.Path = {
    val loc = spark.conf.getOption("spark.graft.catalog").getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val base =
        if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh
      s"$base/graft_catalog"
    }
    java.nio.file.Paths.get(loc)
  }

  private def entryFile(dir: java.nio.file.Path,
                        view: String): java.nio.file.Path = {
    val h = java.security.MessageDigest.getInstance("SHA-1")
      .digest(MaterializedRollups.canon(view).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    dir.resolve(s"$h.mv")
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def persist(spark: SparkSession, view: String, kind: String,
                      args: Map[String, String]): Unit = {
    val dir = catalogDir(spark)
    java.nio.file.Files.createDirectories(dir)
    val body = (Seq(enc(view), kind) ++
      args.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" })
      .mkString("\n")
    java.nio.file.Files.write(entryFile(dir, view), body.getBytes("UTF-8"))
  }

  // dir path → last rehydrated mtime (nanos) — repeat parses cost one stat
  private val rehydratedAt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Re-register every persisted view this session doesn't know yet —
    * ADD-only (a missing file never unregisters: DROP is explicit in the
    * session that issues it). Runs on every parsed statement, cached on
    * the catalog directory's mtime. */
  def rehydrate(spark: SparkSession): Unit = {
    val dir = catalogDir(spark)
    // the common no-catalog session pays ONE stat here, never an
    // exception (this runs on every parsed statement)
    if (!java.nio.file.Files.isDirectory(dir)) return
    val key = dir.toString
    val mtime =
      try java.nio.file.Files.getLastModifiedTime(dir)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => return }
    if (Option(rehydratedAt.get(key)).contains(java.lang.Long.valueOf(mtime)))
      return
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".mv")).foreach { f =>
        // a corrupt/foreign entry must not wedge every statement the
        // session parses — skip it LOUDLY and keep rehydrating the rest
        try {
          val lines = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .split("\n").toSeq
          if (lines.size >= 2) {
            val view = dec(lines.head)
            val kind = lines(1)
            if (!catalog.containsKey(view)) {
              val args = lines.drop(2).filter(_.contains("=")).map { l =>
                val i = l.indexOf('=')
                dec(l.take(i)) -> dec(l.drop(i + 1))
              }.toMap
              val spec = buildSpec(kind, args)
              register(view, spec)
              catalog.put(view, spec)
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[graft] skipping unreadable catalog entry $f: $e")
        }
      }
    rehydratedAt.put(key, mtime)
  }

  private val CreateRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s+AS\s+([A-Za-z_]+)\s*\((.*)\)\s*;?\s*$""".r
  private val RefreshRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+'([^']+)'\s*;?\s*$""".r
  private val ShowRe =
    """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$""".r
  private val ArgRe = """(\w+)\s*=>\s*'([^']*)'""".r

  /** Intercept one of the DDL shapes, or None → delegate. */
  def tryParse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case CreateRe(view, kind, argText) =>
      val args = ArgRe.findAllMatchIn(argText)
        .map(m => m.group(1).toUpperCase(java.util.Locale.ROOT) -> m.group(2))
        .toMap
      Some(CreateMaterializedViewCommand(view, kind.toUpperCase, args))
    case RefreshRe(view) => Some(RefreshMaterializedViewCommand(view))
    case DropRe(view)    => Some(DropMaterializedViewCommand(view))
    case ShowRe()        => Some(ShowMaterializedViewsCommand())
    case _               => None
  }

  /** The DDL catalog's rows for SHOW: (view, kind, spec description). */
  private[plans] def listViews: Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    catalog.asScala.toSeq.sortBy(_._1).map { case (view, spec) =>
      val kind = spec match {
        case r: RollupSpec if r.ndv => "NDV"
        case _: RollupSpec          => "ROLLUP"
        case _: QuantileSpec        => "QUANTILE"
        case _: JoinSpec            => "JOIN"
        case m: MultiSpec           => m.kind
        case m: MultiNdvSpec        => m.kind
        case _: QuantileJoinSpec    => "QUANTILE_JOIN"
        case _: MultiQuantileJoinSpec => "MULTI_QUANTILE_JOIN"
      }
      (view, kind, spec.toString)
    }
  }

  private def need(args: Map[String, String], k: String, kind: String): String =
    args.getOrElse(k, sys.error(s"$kind needs $k => '…'"))

  private def list(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def flag(args: Map[String, String], k: String): Boolean =
    args.get(k).exists(_.equalsIgnoreCase("true"))

  /** The join tree of a kind: ROOTS + EDGES for the MULTI_ kinds, the
    * one-edge tree LEFT ⋈ RIGHT otherwise. */
  private def tree(args: Map[String, String],
                   kind: String): (Seq[String], Seq[Edge]) =
    if (kind.startsWith("MULTI_"))
      (need(args, "ROOTS", kind).split(";").map(_.trim).toSeq,
        need(args, "EDGES", kind).split(";").map(_.trim).map { e =>
          e.split(":") match {
            case Array(p, pks, cks) => Edge(p.trim.toInt, list(pks), list(cks))
            case _ => sys.error(s"bad EDGES entry '$e' (parent:pk,…:ck,…)")
          }
        }.toSeq)
    else
      (Seq(need(args, "LEFT", kind), need(args, "RIGHT", kind)),
        Seq(Edge(0, list(need(args, "LEFT_KEYS", kind)),
          list(need(args, "RIGHT_KEYS", kind)))))

  /** Build the spec + perform the registration for CREATE; the entry
    * persists so a restarted session rehydrates it. */
  private[plans] def create(spark: SparkSession, view: String,
                            kind: String, args: Map[String, String]): Int = {
    val spec = buildSpec(kind, args)
    // materialize FIRST (a failed bootstrap must not leave a live
    // registration serving nothing), then register for serving
    val v = spec.refresh(spark, view)
    register(view, spec)
    catalog.put(view, spec)
    persist(spark, view, kind, args)
    v
  }

  /** The kind → Spec constructor shared by CREATE and rehydration. */
  private def buildSpec(kind: String, args: Map[String, String]): Spec =
    kind match {
      case "ROLLUP" | "NDV" =>
        val grain = args.get("GRAIN").map(_.toLowerCase) match {
          case Some("hour")       => RollupView.Hour
          case Some("day") | None => RollupView.Day
          case Some(other) => sys.error(s"unknown GRAIN '$other' (day|hour)")
        }
        RollupSpec(need(args, "SRC", kind), grain, flag(args, "STALE"),
          ndv = kind == "NDV")
      case "QUANTILE" =>
        QuantileSpec(need(args, "SRC", kind),
          args.get("GRAIN_SEC").map(_.toLong).getOrElse(86400L),
          args.get("BINS").map(_.toInt).getOrElse(QuantileView.DefaultBins),
          flag(args, "SERVE"), flag(args, "STALE"))
      case "JOIN" =>
        JoinSpec(need(args, "LEFT", kind), need(args, "RIGHT", kind),
          list(need(args, "LEFT_KEYS", kind)),
          list(need(args, "RIGHT_KEYS", kind)),
          args.getOrElse("HOW", "inner").toLowerCase, flag(args, "STALE"))
      case "AGG_JOIN" | "MULTI_AGG_JOIN" =>
        val (roots, edges) = tree(args, kind)
        MultiSpec(roots, edges, list(need(args, "GROUPS", kind)),
          list(need(args, "MEASURES", kind)), flag(args, "EXTENTS"),
          flag(args, "STALE"), kind)
      case "NDV_JOIN" | "MULTI_NDV_JOIN" =>
        val (roots, edges) = tree(args, kind)
        MultiNdvSpec(roots, edges, list(need(args, "GROUPS", kind)),
          need(args, "DISTINCT_COL", kind), flag(args, "STALE"), kind)
      case "QUANTILE_JOIN" =>
        QuantileJoinSpec(need(args, "LEFT", kind), need(args, "RIGHT", kind),
          list(need(args, "LEFT_KEYS", kind)),
          list(need(args, "RIGHT_KEYS", kind)),
          list(need(args, "GROUPS", kind)),
          need(args, "VALUE_COL", kind),
          args.get("BINS").map(_.toInt)
            .getOrElse(QuantileJoinView.DefaultBins),
          flag(args, "SERVE"), flag(args, "STALE"))
      case "MULTI_QUANTILE_JOIN" =>
        val (roots, edges) = tree(args, kind)
        MultiQuantileJoinSpec(roots, edges, list(need(args, "GROUPS", kind)),
          need(args, "VALUE_COL", kind),
          args.get("BINS").map(_.toInt)
            .getOrElse(QuantileJoinView.DefaultBins),
          flag(args, "SERVE"), flag(args, "STALE"))
      case other =>
        sys.error(s"unknown materialized-view kind '$other' (ROLLUP, NDV, " +
          "QUANTILE, JOIN, AGG_JOIN, NDV_JOIN, MULTI_AGG_JOIN, " +
          "MULTI_NDV_JOIN, QUANTILE_JOIN, MULTI_QUANTILE_JOIN)")
    }

  private def register(view: String, spec: Spec): Unit = spec match {
    case RollupSpec(src, grain, stale, false) =>
      MaterializedRollups.enable(src, view, grain, stale)
    case RollupSpec(src, grain, stale, true) =>
      MaterializedRollups.enableNdv(src, view, grain, stale)
    // quantile serving is the registry's EXPLICIT approximation opt-in
    // (the served estimate is the view's fixed-bin interpolation, not
    // percentile_approx's GK answer) — only SERVE => 'true' registers
    case QuantileSpec(src, grainSec, _, serve, stale) =>
      if (serve) MaterializedQuantiles.enable(src, view, grainSec, stale)
    case JoinSpec(l, r, lks, rks, how, stale) =>
      MaterializedJoins.enableKeys(l, r, view, lks, rks, how, stale)
    case MultiSpec(roots, edges, g, m, _, stale, _) =>
      MaterializedMultiJoins.enable(roots, view, edges, g, m, stale)
    case MultiNdvSpec(roots, edges, g, x, stale, _) =>
      MaterializedMultiJoins.enableNdv(roots, view, edges, g, x, stale)
    case QuantileJoinSpec(l, r, lks, rks, g, x, bins, serve, stale) =>
      if (serve)
        MaterializedQuantiles.enableJoin(l, r, view, lks, rks, g, x, bins,
          stale)
    case MultiQuantileJoinSpec(roots, edges, g, x, bins, serve, stale) =>
      if (serve)
        MaterializedMultiJoins.enableQuantile(roots, view, edges, g, x,
          bins, stale)
  }

  /** Catalog lookup with a MISS-triggered forced re-scan: the rehydrate
    * cache keys on the catalog directory's mtime, and on filesystems
    * with coarse mtime granularity an entry persisted by ANOTHER session
    * inside the same tick as this session's scan would otherwise stay
    * invisible until the directory mtime moves again. A miss is the rare
    * path, so re-listing the directory there costs nothing on the warm
    * path and closes the race. */
  private def lookup(spark: SparkSession, view: String): Option[Spec] =
    Option(catalog.get(view)).orElse {
      rehydratedAt.remove(catalogDir(spark).toString)
      rehydrate(spark)
      Option(catalog.get(view))
    }

  private[plans] def refresh(spark: SparkSession, view: String): Int =
    lookup(spark, view).map(_.refresh(spark, view)).getOrElse(
      sys.error(s"no materialized view registered at '$view' — " +
        "CREATE MATERIALIZED VIEW first"))

  /** DROP unregisters exactly THIS view — by view root, never by source
    * root: sibling views sharing a source (day+hour rollups, an
    * AGG_JOIN and an NDV_JOIN over the same join) keep serving. The
    * persisted entry is removed too. */
  private[plans] def drop(spark: SparkSession, view: String): Unit = {
    // same miss-triggered re-scan as refresh: a DROP racing another
    // session's same-tick CREATE must resolve the entry, not error
    lookup(spark, view)
    val spec = Option(catalog.remove(view)).getOrElse(
      sys.error(s"no materialized view registered at '$view'"))
    spec match {
      case _: RollupSpec   => MaterializedRollups.disableView(view)
      case _: QuantileSpec => MaterializedQuantiles.disableView(view)
      case _: JoinSpec     => MaterializedJoins.disableView(view)
      case _: MultiSpec        => MaterializedMultiJoins.disableView(view)
      case _: MultiNdvSpec     => MaterializedMultiJoins.disableView(view)
      case _: QuantileJoinSpec => MaterializedQuantiles.disableView(view)
      case _: MultiQuantileJoinSpec => MaterializedMultiJoins.disableView(view)
    }
    java.nio.file.Files.deleteIfExists(entryFile(catalogDir(spark), view))
  }

  def clear(): Unit = { catalog.clear(); rehydratedAt.clear() }
}

private[plans] trait MvCommand extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())
}

case class CreateMaterializedViewCommand(view: String, kind: String,
                                         args: Map[String, String])
    extends MvCommand {
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(view, GraftDdl.create(spark, view, kind, args)))
}

case class RefreshMaterializedViewCommand(view: String) extends MvCommand {
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(view, GraftDdl.refresh(spark, view)))
}

case class DropMaterializedViewCommand(view: String) extends MvCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDdl.drop(spark, view)
    Seq(Row(view, -1))
  }
}

case class ShowMaterializedViewsCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("spec", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftDdl.listViews.map { case (v, k, s) => Row(v, k, s) }
}

/** Parser injection: intercept the materialized-view statements,
  * delegate everything else to Spark's parser verbatim. Every parsed
  * statement first rehydrates persisted registrations (mtime-cached, one
  * stat on the warm path), so a restarted SQL-only session serves,
  * refreshes, and lists its views with no Scala calls. */
class GraftSqlParser(session: SparkSession,
                     delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    GraftDdl.rehydrate(session)
    GraftDdl.tryParse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  }
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
