package graft.plans

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.{JoinView, MultiAggJoinView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** The one registry of maintained views the serving rules
  * ([[RollupRewriteRule]], [[MultiAggJoinRewriteRule]],
  * [[QuantileRewriteRule]], [[JoinRewriteRule]]) may answer from, keyed
  * by canonical view root. Registration is an explicit opt-in — a
  * rewrite that silently served stale or differently-scoped data would
  * be a correctness bug, so the engine never guesses which parquet
  * relations are maintained views. Callers register through the
  * [[Facade]] objects ([[MaterializedRollups]], [[MaterializedJoins]],
  * [[MaterializedMultiJoins]], [[MaterializedQuantiles]],
  * [[MaterializedAggJoins]]); the DDL's DROP unregisters through
  * [[disableView]].
  *
  * Freshness is one decision for every kind: serve only when the scanned
  * dirs are the sources' current manifest dirs and the view's cursor
  * equals their versions. [[probe]] answers both from one call. */
object MaterializedViews {

  sealed trait Kind
  object Kind {
    case object Rollup extends Kind        // RollupView count/sum/min/max
    case object RollupNdv extends Kind     // NdvView sketches
    case object Quantile extends Kind      // single-table QuantileView
    case object Join extends Kind          // JoinView rows
    case object MultiAgg extends Kind      // MultiAggJoinView partials
    case object MultiNdv extends Kind      // MultiNdvJoinView sketches
    case object MultiQuantile extends Kind // MultiQuantileJoinView bins
  }

  /** What a registration serves. */
  sealed trait Shape
  /** Single-table views: the bucket width in seconds. */
  final case class Grain(seconds: Long) extends Shape
  /** Join views: positional key pairs and "inner" | "left_outer" |
    * "full_outer" (a right-outer registration is stored swapped). */
  final case class JoinKeys(left: Seq[String], right: Seq[String],
                            how: String) extends Shape
  /** Join-tree views: the edges, group columns, measure (or distinct /
    * value) columns, and a quantile view's bin count. */
  final case class Tree(edges: Seq[Edge], groupCols: Seq[String],
                        measureCols: Seq[String], bins: Int = 0) extends Shape

  /** One registration: `roots` are the source stores as given (the one
    * source, the join's left and right, or the tree's tables in order). */
  final case class Reg(kind: Kind, viewRoot: String, roots: Seq[String],
                       serveStale: Boolean, shape: Shape)

  private val regs = new ConcurrentHashMap[String, Reg]()

  private[plans] def canon(p: String): String =
    Paths.get(p.replaceFirst("^file:/+", "/")).normalize().toAbsolutePath.toString

  private[plans] def canonPaths(rel: LogicalRelation): Option[Set[String]] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(p => canon(p.toString)).toSet)
      case _ => None
    }

  /** Canonical form of a key-pair list: pairs sorted by left key name —
    * a conjunction's equalities carry no order, so both the registration
    * and the matched condition normalize the same way. */
  private[plans] def keySig(lks: Seq[String], rks: Seq[String]): (String, String) = {
    val pairs = lks.map(_.toLowerCase).zip(rks.map(_.toLowerCase)).sortBy(_._1)
    (pairs.map(_._1).mkString(","), pairs.map(_._2).mkString(","))
  }

  /** The slot a registration holds; registering a second view at the
    * same slot replaces the first. Single-table views hold (kind,
    * source, grain), join views (sources, key signature, join type), and
    * every registration its view root. */
  private def slot(r: Reg): Any = r.shape match {
    case Grain(s)             => (r.kind, canon(r.roots.head), s)
    case JoinKeys(l, rt, how) => (r.roots.map(canon), keySig(l, rt), how)
    case _: Tree              => canon(r.viewRoot)
  }

  private[plans] def register(reg: Reg): Unit = synchronized {
    val s = slot(reg)
    unregister(slot(_) == s)
    regs.put(canon(reg.viewRoot), reg)
    probes.remove(canon(reg.viewRoot))
  }

  /** Remove every registration matching `p`, with its probe. */
  private def unregister(p: Reg => Boolean): Unit = synchronized {
    regs.forEach((k, r) => if (p(r)) { regs.remove(k); probes.remove(k) })
  }

  private def servesFrom(viewRoot: String): Reg => Boolean = {
    val c = canon(viewRoot)
    r => canon(r.viewRoot) == c
  }

  private def reads(root: String): Reg => Boolean = {
    val c = canon(root)
    r => r.roots.exists(canon(_) == c)
  }

  /** Unregister every registration serving from `viewRoot`, whatever its
    * kind — the DDL's DROP. Views reading it as a source keep serving. */
  def disableView(viewRoot: String): Unit = unregister(servesFrom(viewRoot))

  private[plans] def all: Iterable[Reg] = regs.values.asScala

  private[plans] def serves(kinds: Kind*): Boolean =
    all.exists(r => kinds.contains(r.kind))

  /** One facade's slice of the registry: its `disable`, `disableView`
    * and `clear` remove only the registrations it `owns`, and each
    * removal evicts the registration's probe (registry queries register
    * temp-rooted stores per run, so entries keyed by never-reused paths
    * must not outlive their registration). */
  abstract class Facade(owns: Reg => Boolean) {

    /** Unregister this facade's registrations reading `root` as a source. */
    def disable(root: String): Unit = {
      val p = reads(root)
      unregister(r => owns(r) && p(r))
    }

    /** Unregister exactly this facade's registrations serving from
      * `viewRoot` — sibling views over the same sources keep serving. */
    def disableView(viewRoot: String): Unit = {
      val p = servesFrom(viewRoot)
      unregister(r => owns(r) && p(r))
    }

    def clear(): Unit = unregister(owns)

    /** This facade's registrations by canonical view root. */
    private[plans] def owned: Map[String, Reg] =
      all.filter(owns).map(r => canon(r.viewRoot) -> r).toMap
  }

  // ---- freshness probe -------------------------------------------------
  //
  // Every serving rule probes during analysis of EVERY candidate plan
  // node once a view of its kind is registered; uncached that would
  // re-list each store's manifest directory, re-read its current
  // manifest, and re-scan the view's O(versions) epoch chain each time.
  // Stores publish state only by writing a new manifest file into their
  // `_manifests` directories, so (directory mtime, current version) per
  // store is a sound invalidation key: a publish strictly increases the
  // version even when two commits land inside one filesystem-clock tick
  // (Linux stamps mtimes at coarse-clock granularity, so mtime alone can
  // alias under back-to-back commits), and a vacuum — which removes
  // manifests without changing the version — moves the mtime. The
  // version half is checked as hasManifest(v) ∧ ¬hasManifest(v+1), so the
  // hit path is stats and existence checks, never a listing.

  /** One registration's dirs and freshness, valid while every store
    * (sources, then the view) keeps its mtime and version. */
  private[plans] final case class Probe(reg: Reg, mtimes: Seq[Long],
                                        versions: Seq[Int],
                                        dirs: Seq[Set[String]], fresh: Boolean)

  private[plans] val probes = new ConcurrentHashMap[String, Probe]()

  private def manifestDirMtime(root: String): Long =
    // nanosecond key: back-to-back commits land within the same
    // millisecond under test loads, and a stale "fresh" verdict must not
    // survive a publish
    try Files.getLastModifiedTime(Paths.get(root, "_manifests"))
      .to(TimeUnit.NANOSECONDS)
    catch { case _: java.io.IOException => -1L }

  /** Is `v` still this store's current version? A publish always creates
    * exactly version v+1, and a vacuum that aliased into the cached mtime
    * tick removes manifests bottom-up, so any vacuum that could have
    * erased evidence of newer commits erased v too: v present ∧ v+1
    * absent ⇒ v is current. */
  private def storeUnmoved(root: String, v: Int): Boolean =
    (v == 0 || SnapshotStore.hasManifest(root, v)) &&
      !SnapshotStore.hasManifest(root, v + 1)

  /** Does the view's stored cursor `epoch` equal the sources' versions? */
  private def current(reg: Reg, epoch: Long, srcV: Seq[Int]): Boolean =
    reg.shape match {
      case _: Grain    => epoch == srcV.head
      case _: JoinKeys => epoch == JoinView.packedCursor(srcV(0), srcV(1))
      // decode the stored stamp (packed or wide-sidecar) and compare the
      // VECTORS; a surgically broken sidecar answers STALE, never throws
      // (a Catalyst rule must not fail unrelated user queries)
      case _: Tree =>
        scala.util.Try(MultiAggJoinView.vecOf(reg.viewRoot, epoch, srcV.size) == srcV)
          .getOrElse(false)
    }

  /** Per-source current-snapshot dirs + view freshness, from ONE call —
    * a concurrent refresh between two calls could pair old dirs with new
    * freshness and serve past the query's pinned snapshot. None when a
    * source has no published version. */
  private[plans] def probe(reg: Reg): Option[(Seq[Set[String]], Boolean)] = {
    val stores = reg.roots :+ reg.viewRoot
    val mtimes = stores.map(manifestDirMtime)
    if (mtimes.init.exists(_ < 0)) return None
    val key = canon(reg.viewRoot)
    val cached = probes.get(key)
    if (cached != null && cached.reg == reg && cached.mtimes == mtimes &&
        stores.zip(cached.versions).forall { case (s, v) => storeUnmoved(s, v) })
      return Some((cached.dirs, cached.fresh))
    val srcV = reg.roots.map(SnapshotStore.currentVersion)
    if (srcV.contains(0)) return None
    val next = Probe(reg, mtimes, srcV :+ SnapshotStore.currentVersion(reg.viewRoot),
      reg.roots.zip(srcV).map { case (r, v) =>
        SnapshotStore.manifestDirs(r, v).map(canon).toSet
      },
      SnapshotStore.lastEpoch(reg.viewRoot).exists(current(reg, _, srcV)))
    probes.put(key, next)
    // an unregister racing this probe must not leave the entry behind
    if (regs.get(key) != reg) probes.remove(key, next)
    Some((next.dirs, next.fresh))
  }
}
