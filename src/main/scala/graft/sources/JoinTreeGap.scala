package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import MultiAggJoinView.Edge

/** The join-tree machinery under the three N-way maintained views —
  * [[MultiAggJoinView]], [[MultiNdvJoinView]] and
  * [[MultiQuantileJoinView]]: the tree and column-resolution contract,
  * the recorded spec sidecar, opening and closing a refresh or a
  * compensated read, the telescoped gap's per-table terms, the semi-join
  * cascade, and the dirty-group replace publish. The views differ only in
  * how they fold join rows into partials; each difference reaches this
  * module as data (a spec tail, reserved names, a fold, tombstone
  * columns) or stays in the view.
  *
  * THE GAP. For any per-table change from `old_i` to `new_i`,
  *
  *   J(new…) − J(old…) = Σᵢ [ J(new_<i, new_i, old_>i) − J(new_<i, old_i, old_>i) ]
  *
  * and the i-th difference only involves join rows whose table-i row
  * changed. So each moved table contributes terms ([[Gap.termsOf]]):
  *
  *   - APPENDED since its cursor ([[SnapshotStore.gap]]: no directory
  *     went missing): the single positive term
  *     `ΔTᵢ ⋈ (earlier tables at NEW, later at OLD)` — `new_i − old_i`
  *     IS the appended rows;
  *   - CHURNED (a delete or upsert rewrote directories): both legs
  *     restricted to the table's dirty key tuples from its O(churn)
  *     change feed, old at −1 and new at +1 (unchanged rows in the dirty
  *     set appear in both and cancel for retractable partials). The legs
  *     share the dirty keys, so they pin ONE union whose rows carry their
  *     sign in [[SignCol]]: one cascade, one join tree and one fold where
  *     two legs paid each twice (the cascade restriction by the union's
  *     keys is a superset of each leg's; restriction is pure pruning, so
  *     the join stays exact). When the gap evolved the table's schema the
  *     union cannot form and the two legs stay separate.
  *
  * The standing sides of a term come from the semi-join [[cascade]]
  * outward from the pinned table. A side too big to broadcast, or one
  * the cascade must pass through to reach such a side, is restricted by
  * its neighbour's key tuples, so at 100 TB a dim delta touches only the
  * fact files its keys can live in. Every other side is a store the
  * planner would broadcast anyway: it reads whole, and the inner join
  * with the pinned frame restricts it exactly as a probe would
  * (restriction is pure pruning) without the probe's Spark jobs. This
  * module never checkpoints a term; a view that reads one twice does
  * (the quantile view's escape probe and binning).
  */
private[sources] object JoinTreeGap {

  /** Leg-sign column of a churned table's fused term. */
  val SignCol = "__gap_sign"

  private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  // ---- recorded spec ---------------------------------------------------

  /** A view's spec: the sidecar `file` under the view root, and the
    * `line` the refresh arguments render to. */
  final case class Spec(file: String, line: String)

  /** The spec of a tree: the shared `n=…;e=…;g=…` prefix, the view's own
    * `tail` fields, then the `p=1` layout mark. */
  def spec(file: String, n: Int, edges: Seq[Edge], groups: Seq[String],
           tail: String): Spec = {
    val es = edges.map(e =>
      s"${e.parent}:${e.parentKeys.map(lc).mkString(",")}:" +
        e.childKeys.map(lc).mkString(",")).mkString("|")
    Spec(file, s"n=$n;e=$es;g=${groups.map(lc).sorted.mkString(",")};$tail;p=1")
  }

  /** The spec line recorded in `file` under `viewRoot`, if any. */
  def recorded(viewRoot: String, file: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, file)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** The recorded spec's `key=` field, if any. */
  def recordedField(viewRoot: String, file: String, key: String): Option[String] =
    recorded(viewRoot, file).flatMap(_.split(";")
      .find(_.startsWith(s"$key=")).map(_.drop(key.length + 1)))

  private def record(viewRoot: String, spec: Spec): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(java.nio.file.Paths.get(viewRoot, spec.file),
      spec.line.getBytes("UTF-8"))
  }

  // ---- the tree contract -----------------------------------------------

  /** Refuse a store written by the earlier two-table AGG_JOIN / NDV_JOIN
    * / QUANTILE_JOIN implementation: its spec file (`_aggspec` /
    * `_ndvjspec` / `_qjspec`) is not a tree view's, and its base-10⁶
    * cursor would decode under the tree's packing as a wrong version
    * vector (and refresh would then fail with a misleading "source went
    * backwards"). */
  def refuseTwoTableLayout(viewRoot: String): Unit =
    Seq("_aggspec", "_ndvjspec", "_qjspec")
      .find(f => java.nio.file.Files.exists(java.nio.file.Paths.get(viewRoot, f)))
      .foreach(f => throw new IllegalArgumentException(
        s"view at $viewRoot is in the old two-table layout ($f spec file, " +
          "base-10^6 cursor), which this build no longer maintains — " +
          "rebuild the view into a fresh store"))

  /** The join-graph contract: n ≥ 2 tables, n−1 edges each attaching to
    * an earlier table, distinct store roots, non-empty groups, and every
    * edge's parent keys surviving the parent's OWN join (child keys are
    * dropped when the parent was joined in as a child). */
  def validateTree(roots: Seq[String], edges: Seq[Edge],
                   groupCols: Seq[String]): Unit = {
    val n = roots.size
    require(n >= 2 && edges.size == n - 1,
      s"need n tables and n-1 edges: got $n roots, ${edges.size} edges")
    edges.zipWithIndex.foreach { case (e, i) =>
      require(e.parent >= 0 && e.parent <= i,
        s"edge ${i + 1}'s parent ${e.parent} must be an earlier table")
    }
    require(roots.map(p => java.nio.file.Paths.get(p).normalize()
      .toAbsolutePath.toString).distinct.size == n,
      "table roots must be distinct stores (self-joins are out of the " +
        "multi-way view contract)")
    require(groupCols.nonEmpty, "at least one group column")
    edges.zipWithIndex.foreach { case (e, i) =>
      if (e.parent > 0) {
        val dropped = edges(e.parent - 1).childKeys.map(lc).toSet
        e.parentKeys.find(k => dropped.contains(lc(k))).foreach(k =>
          sys.error(s"edge ${i + 1}'s parent key '$k' is dropped when " +
            s"table ${e.parent} joins in — name its paired upstream key " +
            "instead"))
      }
    }
  }

  /** Table i's edge child keys (lower-cased) — dropped after its join. */
  private def childKeyOf(edges: Seq[Edge]): Map[Int, Set[String]] =
    edges.zipWithIndex.map { case (e, i) => (i + 1) -> e.childKeys.map(lc).toSet }
      .toMap.withDefaultValue(Set.empty)

  /** The table owning view column `c`: the one carrying it, edge child
    * keys excluded (they are recoverable from their paired parent keys). */
  private def owners(frames: IndexedSeq[DataFrame], edges: Seq[Edge],
                     c: String): Seq[Int] = {
    val dropped = childKeyOf(edges)
    frames.indices.filter(i => frames(i).columns.exists(_.equalsIgnoreCase(c)) &&
      !dropped(i).contains(lc(c)))
  }

  /** The column-resolution contract: paired edge keys share a dataType
    * (bloom hashes by type), and every view column resolves on exactly
    * ONE table with edge child keys excluded. */
  def validateResolution(newFrames: IndexedSeq[DataFrame], edges: Seq[Edge],
                         viewCols: Seq[String]): Unit = {
    edges.zipWithIndex.foreach { case (e, i) =>
      e.parentKeys.zip(e.childKeys).foreach { case (pk, ck) =>
        val (pt, ct) = (newFrames(e.parent).schema(pk).dataType,
          newFrames(i + 1).schema(ck).dataType)
        require(pt == ct,
          s"paired join keys must share a dataType: $pk:$pt vs $ck:$ct")
      }
    }
    viewCols.foreach { c =>
      val found = owners(newFrames, edges, c).size
      require(found == 1,
        s"view column '$c' must resolve on exactly one join table " +
          s"(found on $found) — child-side keys are dropped; " +
          "name the paired parent key instead")
    }
  }

  // ---- the join tree ---------------------------------------------------

  /** Inner-join `frames` along the edges, dropping each child's keys
    * after its join (recoverable from the paired parent keys), projected
    * to `cols`. `frames(i)` must be the exact objects the conditions
    * reference. */
  def joinedSlice(frames: IndexedSeq[DataFrame], edges: Seq[Edge],
                  cols: Seq[String]): DataFrame = {
    val joined = edges.zipWithIndex.foldLeft(frames(0)) {
      case (acc, (e, i)) =>
        val child = frames(i + 1)
        val cond = e.parentKeys.zip(e.childKeys)
          .map { case (pk, ck) => frames(e.parent)(pk) === child(ck) }
          .reduce(_ && _)
        e.childKeys.foldLeft(acc.join(child, cond, "inner"))(
          (df, k) => df.drop(child(k)))
    }
    joined.select(cols.map(col): _*)
  }

  /** Undirected adjacency of the edge tree: node → (neighbor, keys on
    * node, keys on neighbor). */
  private def adjacency(edges: Seq[Edge]): Map[Int, Seq[(Int, Seq[String], Seq[String])]] =
    edges.zipWithIndex.flatMap { case (e, i) =>
      Seq(e.parent -> (i + 1, e.parentKeys, e.childKeys),
        (i + 1) -> (e.parent, e.childKeys, e.parentKeys))
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      .withDefaultValue(Seq.empty)

  /** The semi-join CASCADE: `seeds` pin their tables' frames; every other
    * table v reads its store at `vers(v)`, reached from the neighbour u
    * that gets to it first, breadth-first outward along the tree.
    *
    * The hop u→v PROBES — v restricted by u's key tuples, file-pruned
    * and bloom-prefiltered ([[JoinView.standing]]/[[JoinView.prefiltered]])
    * — only when v, or any table the cascade reaches through v, is larger
    * on disk ([[SnapshotStore.versionBytes]]) than the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the planner's own "small
    * enough to join without pruning" line. Otherwise v reads whole at
    * `vers(v)` and the inner join with u's frame restricts it. A small
    * table with a big one beyond it still probes, so the big one is
    * restricted in turn (a nation churn prunes lineitem through
    * supplier). A threshold ≤ 0 (broadcast off) probes every hop.
    *
    * Exact either way for trees: restriction is pure pruning, and each
    * join row reaches a seed through its unique tree path. Whole reads
    * resolve on the calling thread; only probing hops overlap. */
  private def cascade(spark: SparkSession, roots: IndexedSeq[String],
                      edges: Seq[Edge], seeds: Map[Int, DataFrame],
                      vers: IndexedSeq[Int]): IndexedSeq[DataFrame] = {
    val adj = adjacency(edges)
    // the BFS forest from the seeds, ring by ring: hops within one ring
    // are independent (a tree reaches each node once)
    val rings = scala.collection.mutable.ArrayBuffer
      .empty[List[(Int, Int, Seq[String], Seq[String])]]
    val seen = scala.collection.mutable.Set(seeds.keys.toSeq: _*)
    var ring = seeds.keys.toList
    while (ring.nonEmpty) {
      val hops = for {
        u <- ring; (v, ku, kv) <- adj(u) if seen.add(v)
      } yield (u, v, ku, kv)
      rings += hops
      ring = hops.map(_._2)
    }
    // probe(v): v or a table beyond it is too big to broadcast — leaves
    // first, so a probing child marks its parent before the parent's size
    // is ever listed
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val probe = new Array[Boolean](roots.size)
    for (hops <- rings.reverseIterator; (u, v, _, _) <- hops) {
      probe(v) = limit <= 0 || probe(v) ||
        SnapshotStore.versionBytes(roots(v), vers(v)) > limit
      if (probe(v)) probe(u) = true
    }
    val frames = new Array[DataFrame](roots.size)
    seeds.foreach { case (i, df) => frames(i) = df }
    rings.foreach { hops =>
      val (probed, whole) = hops.partition(h => probe(h._2))
      whole.foreach { case (_, v, _, _) =>
        frames(v) = SnapshotStore.readEvolved(spark, roots(v), vers(v))
      }
      // overlap the probe jobs (guide §2.6) — a star's fact→all-dims ring
      // runs its keyTuples probes concurrently
      Overlap.map(probed) { case (u, v, ku, kv) =>
        SnapshotStore.labeled(spark, s"hop $u>$v") {
          val kt = JoinView.keyTuples(frames(u), ku)
          v -> JoinView.prefiltered(
            JoinView.standing(spark, roots(v), vers(v), kv, kt), kv, kt)
        }
      }.foreach { case (v, df) => frames(v) = df }
    }
    frames.toIndexedSeq
  }

  // ---- opening a refresh or a compensated read ---------------------------

  /** Bring a tree view up to every source's current version: the tree
    * and layout contract, no group column named like one of the view's
    * `reserved` partial columns, cursor checks, the spec check and the
    * column resolution; then `publish` over the opened gap, then each
    * source's view baseline. Returns the view version — unchanged, and
    * `publish` never called, when every cursor already matches. A
    * bootstrap records `spec` BEFORE `publish` (a crash re-bootstraps). */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groups: Seq[String], values: Seq[String],
              reserved: Seq[String], spec: Spec)(publish: Gap => Int): Int = {
    validateTree(roots, edges, groups)
    refuseTwoTableLayout(viewRoot)
    // reserved partial names can't be group columns (duplicate output)
    groups.find(g => reserved.exists(_.equalsIgnoreCase(g))).foreach(g =>
      sys.error(s"group column '$g' collides with a partial column name"))
    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    curVs.zip(roots).foreach { case (v, r) =>
      require(v > 0, s"every source must have a published version ($r=$v)")
    }
    val prevVs = MultiAggJoinView.cursors(viewRoot, roots.size).toIndexedSeq
    if (curVs == prevVs) return SnapshotStore.currentVersion(viewRoot)
    curVs.zip(prevVs).zip(roots).foreach { case ((cv, pv), r) =>
      require(cv >= pv, s"source went backwards at $r: $pv -> $cv")
    }
    if (prevVs.exists(_ != 0)) {
      val rec = recorded(viewRoot, spec.file).getOrElse("")
      require(rec == spec.line,
        s"view at $viewRoot is maintained with spec '$rec', refresh asked '${spec.line}'")
    }
    val gap = new Gap(spark, roots.toIndexedSeq, viewRoot, edges, groups,
      values, prevVs, curVs)
    validateResolution(gap.newFrames, edges, groups ++ values)
    if (gap.bootstrap) record(viewRoot, spec)
    val v = publish(gap)
    roots.zip(curVs).foreach { case (r, cv) =>
      SnapshotStore.recordViewBaseline(r, viewRoot, cv)
    }
    v
  }

  /** Open a compensated read of a tree view: None with no cursor or a
    * source gone backwards, `fresh` when every cursor matches, None on a
    * spec mismatch, else `stale` over the opened gap — each view keeps
    * its own soundness rule ([[Gap.allAppend]], [[Gap.diffable]]). */
  def compensated(spark: SparkSession, roots: Seq[String], viewRoot: String,
                  edges: Seq[Edge], groups: Seq[String], values: Seq[String],
                  spec: Spec)(fresh: => DataFrame)(
                  stale: Gap => Option[DataFrame]): Option[DataFrame] = {
    val prevVs = MultiAggJoinView.cursors(viewRoot, roots.size).toIndexedSeq
    if (prevVs.forall(_ == 0)) return None
    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    if (curVs.zip(prevVs).exists { case (cv, pv) => cv < pv }) None
    else if (curVs == prevVs) Some(fresh)
    else if (!recorded(viewRoot, spec.file).contains(spec.line)) None
    else stale(new Gap(spark, roots.toIndexedSeq, viewRoot, edges, groups,
      values, prevVs, curVs))
  }

  // ---- the gap ---------------------------------------------------------

  /** One term of the gap: join rows (groups ++ values, plus [[SignCol]]
    * when fused) at `sign` — a whole leg's ±1, or None when each row
    * carries its own in [[SignCol]] (a churned table's fused legs). */
  final case class Term(rows: DataFrame, sign: Option[Int]) {
    /** The rows' signs as a column. */
    def signCol: Column = sign.fold(col(SignCol))(s => lit(s.toLong))

    /** The rows holding POSITIVE mass, if any. */
    def positive: Option[DataFrame] = sign match {
      case None    => Some(rows.where(col(SignCol) === 1L))
      case Some(s) => if (s > 0) Some(rows) else None
    }
  }

  /** A tree view's gap: every source's cursor `prevVs` and current
    * version `curVs`, the per-table terms between them, and the publishes
    * that land a refresh at `curVs`. */
  final class Gap private[JoinTreeGap] (spark: SparkSession,
      roots: IndexedSeq[String], viewRoot: String, edges: Seq[Edge],
      groups: Seq[String], values: Seq[String],
      prevVs: IndexedSeq[Int], curVs: IndexedSeq[Int]) {

    /** Every source at its current version. */
    lazy val newFrames: IndexedSeq[DataFrame] = roots.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }

    /** The N-way cursor stamp every publish of this refresh carries (wide
      * mode writes its vector sidecar on first use, before the publish). */
    lazy val stamp: Long = MultiAggJoinView.stampFor(viewRoot, curVs)

    /** No cursor yet: the view is built from scratch. */
    def bootstrap: Boolean = prevVs.forall(_ == 0)

    private val moved = roots.indices.filter(i => curVs(i) > prevVs(i))

    /** Each table's own version gap since its cursor. */
    private lazy val storeGaps: IndexedSeq[SnapshotStore.Gap] = roots.indices
      .map(i => SnapshotStore.gap(spark, roots(i), prevVs(i), curVs(i)))

    private def appended(i: Int): Boolean =
      storeGaps(i).isInstanceOf[SnapshotStore.Gap.Appended]

    /** Every moved table's gap is appended since its cursor. */
    def allAppend: Boolean = moved.forall(appended)

    /** The moved tables whose gap churned rows since their cursor. */
    private def churned: Seq[Int] = moved.filterNot(appended)

    /** Every moved table's gap is appended or churned — the gap has a
      * sound row diff (a compaction or a vacuumed baseline breaks it; a
      * recorded feed is a view-row diff, not the per-table one the terms
      * need). */
    def diffable: Boolean = moved.forall(i => storeGaps(i) match {
      case _: SnapshotStore.Gap.Appended | _: SnapshotStore.Gap.Churned => true
      case _ => false
    })

    /** Join `frames` along the tree to groups ++ values ++ `extra`. */
    private def slice(frames: IndexedSeq[DataFrame], extra: Seq[String] = Nil): DataFrame =
      joinedSlice(frames, edges, groups ++ values ++ extra)

    /** The whole current tree's join rows. */
    def full: DataFrame = slice(newFrames)

    /** Table `i` pinned to `pinned`, earlier tables at NEW and later at
      * OLD, each cascade-restricted outward from `i`. */
    private def term(i: Int, pinned: DataFrame, extra: Seq[String] = Nil): DataFrame =
      slice(cascade(spark, roots, edges, Map(i -> pinned),
        roots.indices.map(j => if (j < i) curVs(j) else prevVs(j))), extra)

    /** Moved table `i`'s terms: the positive delta term when its gap is
      * appended, its fused ± churn term when churned (two legs when the
      * gap evolved its schema). */
    def termsOf(i: Int): Seq[Term] = storeGaps(i) match {
      case ap: SnapshotStore.Gap.Appended =>
        Seq(Term(term(i, ap.rows(Some(newFrames(i).schema))), Some(1)))
      case ch: SnapshotStore.Gap.Churned =>
        val keys = if (i == 0) edges.head.parentKeys else edges(i - 1).childKeys
        val dirty = JoinView.keyTuples(ch.changes.select(keys.map(col): _*), keys)
        def restricted(ver: Int): DataFrame = JoinView.prefiltered(
          JoinView.standing(spark, roots(i), ver, keys, dirty), keys, dirty)
        val old = restricted(prevVs(i)); val nw = restricted(curVs(i))
        if (old.columns.toSeq != nw.columns.toSeq)
          Seq(Term(term(i, old), Some(-1)), Term(term(i, nw), Some(1)))
        else Seq(Term(term(i,
          old.withColumn(SignCol, lit(-1L)).unionByName(nw.withColumn(SignCol, lit(1L))),
          Seq(SignCol)), None))
      case other => sys.error(s"table $i's $other gap has no terms")
    }

    /** The terms of `tables` (every moved table by default), each mapped
      * by `f` inside its table's build. Builds overlap (guide §2.6) — each
      * blocks on probe jobs — and results keep table order, so the
      * published union is the sequential one. */
    def terms[T](f: Term => T, tables: Seq[Int] = moved): Seq[T] =
      Overlap.flatMap(tables)(i => termsOf(i).map(f))

    /** Publish `df` as the view's next version, appended. */
    def append(df: DataFrame): Int = SnapshotStore.appendEpoch(df, viewRoot, stamp)

    /** Publish `df` as the view's whole content. */
    def rebuild(df: DataFrame): Int =
      SnapshotStore.compactWith(df, viewRoot, epochOverride = Some(stamp))

    /** THE DIRTY-GROUP REPLACE, for partials that cannot retract (min/max
      * extents, HLL sketches). The dirty GROUPS — every group owning or
      * gaining a churned table's dirty-key join row, from the same terms
      * the telescoping would fold — re-aggregate WHOLE from the current
      * tree through `fold` and REPLACE by group key; emptied groups
      * publish `tombstone(recomputed)`'s partial columns. Append-moved
      * tables' folded delta terms restrict to the NON-dirty groups (the
      * recompute already counts their rows) and land as the append side
      * of the SAME atomic publish ([[SnapshotStore.upsertAndAppendEpoch]]).
      *
      * One aggregate over the checkpointed dirty groups answers all three
      * questions the publish asks: any NULL group (those slip the
      * null-unsafe keyed replace, so the view rebuilds whole), none at
      * all, and each group column's band. With no dirty groups (churned
      * keys joining no row at either version) the append terms publish
      * unrestricted — an empty append would drop their mass while the
      * cursor advances. */
    def replaceDirtyGroups(fold: DataFrame => DataFrame,
                           tombstone: DataFrame => Seq[Column]): Int = {
      val dirtyG = terms(_.rows.select(groups.map(col): _*), churned)
        .reduce(_ unionByName _).distinct().localCheckpoint(true)
      val anyNull = groups.map(col(_).isNull).reduce(_ || _)
      val probe = dirtyG.agg(count(lit(1)).as("__n"),
        (count(when(anyNull, 1)).as("__nulls") +: groups.flatMap(g =>
          Seq(min(col(g)).as(s"__lo_$g"), max(col(g)).as(s"__hi_$g")))): _*).head()
      def appendSide(restrict: DataFrame => DataFrame): Option[DataFrame] =
        terms(t => restrict(fold(t.rows)), moved.filter(appended))
          .reduceOption(_ unionByName _)
      if (probe.getAs[Long]("__nulls") > 0) rebuild(fold(full))
      else if (probe.getAs[Long]("__n") == 0)
        append(appendSide(identity)
          .getOrElse(fold(slice(newFrames.map(_.limit(0))))))
      else {
        // checkpointed: group-sized, referenced twice (replace + gone)
        val recomputed = fold(dirtyGroupRows(dirtyG, probe)).localCheckpoint(true)
        val gone = dirtyG.join(
          recomputed.select(groups.map(col): _*), groups, "left_anti")
        SnapshotStore.upsertAndAppendEpoch(spark,
          recomputed.unionByName(
            gone.select(gone.columns.toSeq.map(col) ++ tombstone(recomputed): _*)),
          appendSide(_.join(broadcast(dirtyG), groups, "left_anti"))
            .getOrElse(recomputed.limit(0)),
          viewRoot, groups, stamp)
      }
    }

    /** CURRENT-tree join rows of `dirtyG`'s groups. Each table OWNING a
      * group column restricts to the `band` of its group columns and
      * semi-joins the dirty groups' values; the cascade prunes the rest
      * of the tree outward from the owners (superset-sound), and the
      * closing group semi is the exact cut (the [[RollupView]]
      * dirty-group technique, lifted to N). Ownership excludes edge CHILD
      * keys like the resolution contract: a group column sharing a name
      * with another table's child key restricts its OWNER (restricting a
      * join key by group values would drop recompute rows). */
    private def dirtyGroupRows(dirtyG: DataFrame, band: Row): DataFrame = {
      val seeds = groups.groupBy(owners(newFrames, edges, _).head).map {
        case (i, gs) =>
          val banded = gs.foldLeft(newFrames(i)) { (d, g) =>
            d.where(col(g) >= lit(band.getAs[Any](s"__lo_$g")) &&
              col(g) <= lit(band.getAs[Any](s"__hi_$g")))
          }
          i -> banded.join(broadcast(dirtyG.select(gs.map(col): _*).distinct()),
            gs, "left_semi")
      }
      slice(cascade(spark, roots, edges, seeds, curVs))
        .join(broadcast(dirtyG), groups, "left_semi")
    }
  }
}
