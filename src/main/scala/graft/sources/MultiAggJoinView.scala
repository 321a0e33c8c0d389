package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained AGGREGATE over an N-WAY JOIN TREE — the
  * star- and snowflake-schema materialized view, from one fact × one dim
  * (N = 2, the one-edge tree [[AggJoinView]] forwards to) to a fact plus
  * any TREE of dims:
  *
  * {{{ SELECT g…, count(*), sum(m…) FROM T0 JOIN T1 ON … JOIN T2 ON … … GROUP BY g… }}}
  *
  * where every join is an INNER equi-join and the join GRAPH is a tree —
  * table `i` (i ≥ 1) attaches to exactly one earlier table through an
  * [[MultiAggJoinView.Edge]]. That covers both the star (every dim on
  * the fact: q5/q9-class dashboards) and the snowflake (a dim hanging
  * off another dim, e.g. nation via supplier). Storage stays O(groups):
  * one signed partial row per group, never O(join rows).
  *
  * Maintenance is ONE telescoping identity covering appends and churn.
  * For any per-table change from `old_i` to `new_i`,
  *
  *   J(new…) − J(old…) = Σᵢ [ J(new_<i, new_i, old_>i) − J(new_<i, old_i, old_>i) ]
  *
  * and the i-th difference only involves join rows whose table-i row
  * changed, so both of its legs restrict EXACTLY to table i's dirty key
  * tuples (unchanged rows inside the dirty set appear in both legs and
  * cancel arithmetically — count and decimal sums are retractable
  * monoids). Per moved table the refresh therefore folds:
  *
  *   - APPEND-ONLY gap: the single positive term `ΔTᵢ ⋈ (earlier tables
  *     at NEW, later at OLD)` — `new_i − old_i` IS the appended rows, so
  *     no negative leg is needed (for N = 2 this is the delta-join
  *     identity ΔL⋈R_new ∪ L_old⋈ΔR);
  *   - ROW-CHURN gap (delete/upsert): the dirty keys come from the
  *     table's O(churn) change feed; `old_i` restricted to them folds
  *     NEGATIVE, `new_i` restricted to them folds POSITIVE (retraction
  *     by arithmetic). No view rewrite, no dirty-group upsert.
  *
  * All terms land in ONE epoch-stamped append (crash-idempotent). Every
  * standing side of every term is restricted by a semi-join CASCADE
  * outward from the moved table along the tree edges — exact for trees
  * (each join row reaches the delta through the unique tree path), each
  * hop bloom-prefiltered and file-pruned by the restricting side's key
  * range ([[JoinView.standing]]/[[JoinView.prefiltered]] per edge). At
  * 100 TB that means a dim delta touches only the fact files its keys
  * can live in, never the corpus.
  *
  * A compaction (or vacuumed baseline) on ANY source breaks the manifest
  * diff: one full rebuild. `extents = true` additionally stores min/max
  * partials: append legs stay on the O(Δ) telescoped
  * fold (min/max are insert-monotone), but churn pays the honest
  * dirty-GROUP recompute — dirty groups re-aggregate whole from the
  * current tree (group-band + semi restriction on the owning tables,
  * cascade-pruned outward) and REPLACE by group key beside any
  * append-moved tables' delta terms in ONE atomic publish
  * ([[SnapshotStore.upsertAndAppendEpoch]]); the count/sum-only default
  * keeps churn pure arithmetic.
  *
  * Read merges partials per group, drops `cnt = 0` groups, and serves
  * each sum NULL while its merged non-null count `nn_<m>` is zero
  * (Spark's sum over an all-NULL group is NULL; signed partials that
  * retracted to zero would otherwise serve 0). Decimal
  * partials keep the merge exact in any order — the view is bit-equal
  * to a from-scratch GROUP BY over the N-way join, which is what the
  * oracle checks and [[graft.plans.MultiAggJoinRewriteRule]] serves.
  *
  * Contract: inner equi-joins only; the join graph is a TREE (table i
  * attaches to one earlier table); group and measure columns resolve on
  * exactly one table (child-side keys excluded — each is recoverable
  * from its paired parent key); an edge's parent keys must not be keys
  * the parent itself joined through as a child (they are dropped — name
  * the paired upstream column instead); measures are summed as
  * DECIMAL(30,2) with signed non-null counts.
  */
object MultiAggJoinView {

  /** Table `i`'s attachment (i = position in the edges list + 1):
    * `parent` is an earlier table index (0-based, < i), `parentKeys`
    * columns of that table, `childKeys` the paired columns of table i. */
  final case class Edge(parent: Int, parentKeys: Seq[String],
                        childKeys: Seq[String]) {
    require(parentKeys.nonEmpty && parentKeys.size == childKeys.size,
      s"edge keys must be non-empty and pair up: $parentKeys vs $childKeys")
  }

  private val SumType = "decimal(30,2)"
  /** Leg-sign column of the fused churn fold (see churnUnionRows). */
  private val SignCol = "__magg_sign"
  private def sumCol(m: String): String = s"sum_$m"
  private def nnCol(m: String): String = s"nn_$m"
  private def minCol(m: String): String = s"min_$m"
  private def maxCol(m: String): String = s"max_$m"

  // ---- N-way cursor: packed fast path + variable-width sidecar ---------
  // The view's epoch stamp identifies ALL N source versions so a replayed
  // refresh is a true no-op and the serving rewrite's freshness probe is
  // one comparison. While every version fits the packed base (largest
  // power of two with base^n below 2^62 — 2 tables get ~2^31 versions
  // each, 5 tables 2^12, 8 tables 2^7) the stamp IS the packed vector —
  // zero extra I/O, and every pre-existing view keeps reading. A view
  // that OUTLIVES its base (per-trigger streaming maintenance burns 4096
  // versions in days at minute cadence for a 5-way tree) switches to the
  // VARIABLE-WIDTH cursor: the stamp becomes `WideBit | seq` (seq a
  // per-view monotone counter, so stamps stay strictly increasing across
  // the transition) and the actual version VECTOR persists in a sidecar
  // `_cursors/e<seq>` written BEFORE the publish — the QuantileView
  // edges-sidecar protocol: a crash between sidecar write and publish
  // leaves an orphan nothing reads (readers resolve exactly the sidecar
  // named by lastEpoch), and the re-run overwrites it. The view then
  // lives to Int.MaxValue versions PER SOURCE regardless of table count.

  private[graft] def packBase(n: Int): Long = 1L << (62 / n)

  /** Marks a wide (sidecar-backed) cursor stamp. Legacy packed stamps
    * are < 2^62, so the bit also keeps stamps monotone across the
    * packed→wide transition. */
  private[graft] val WideBit: Long = 1L << 62

  private[graft] def packAll(vs: Seq[Int]): Long = {
    val b = packBase(vs.size)
    vs.foldLeft(0L) { (acc, v) =>
      require(v >= 0 && v < b,
        s"source version $v beyond the ${vs.size}-way cursor base $b — " +
          "rebuild the view into a fresh store")
      acc * b + v
    }
  }

  private[graft] def unpackAll(e: Long, n: Int): Seq[Int] = {
    val b = packBase(n)
    (1 to n).foldLeft((List.empty[Int], e)) { case ((acc, rem), _) =>
      ((rem % b).toInt :: acc, rem / b)
    }._1
  }

  private def cursorVecPath(viewRoot: String, seq: Long): java.nio.file.Path =
    java.nio.file.Paths.get(viewRoot, "_cursors", s"e$seq")

  /** The version vector a stamp identifies: packed stamps decode
    * arithmetically, wide stamps read their sidecar (written before the
    * publish that created the stamp, so a committed stamp always finds
    * it — a missing sidecar is store surgery and refuses loudly). */
  private[graft] def vecOf(viewRoot: String, e: Long, n: Int): Seq[Int] =
    if ((e & WideBit) == 0) unpackAll(e, n)
    else {
      val p = cursorVecPath(viewRoot, e & ~WideBit)
      require(java.nio.file.Files.exists(p),
        s"wide cursor stamp e=${e & ~WideBit} at $viewRoot has no " +
          "_cursors sidecar — the store was surgically modified")
      val vs = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.split(",").map(_.toInt).toSeq
      require(vs.size == n,
        s"cursor sidecar at $p holds ${vs.size} versions, expected $n")
      vs
    }

  /** The stamp for publishing at `vs` — the packed form while it fits
    * (backward-compatible, no I/O), else the next wide sequence id with
    * its vector sidecar written NOW (before the caller's publish).
    * Deterministic given the view's pre-publish state, so a crashed
    * refresh's re-run recomputes the same stamp and overwrites the same
    * sidecar — publish idempotence is preserved. */
  private[sources] def stampFor(viewRoot: String, vs: Seq[Int]): Long = {
    val b = packBase(vs.size)
    if (vs.forall(v => v >= 0 && v < b)) packAll(vs)
    else {
      val last = SnapshotStore.lastEpoch(viewRoot).getOrElse(0L)
      val seq = if ((last & WideBit) != 0) (last & ~WideBit) + 1 else 1L
      val p = cursorVecPath(viewRoot, seq)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, vs.mkString(",").getBytes("UTF-8"))
      WideBit | seq
    }
  }

  /** The view's per-source cursor vector (all zeros before bootstrap). */
  private[graft] def cursors(viewRoot: String, n: Int): Seq[Int] =
    SnapshotStore.lastEpoch(viewRoot).map(vecOf(viewRoot, _, n))
      .getOrElse(Seq.fill(n)(0))

  // ---- recorded spec ---------------------------------------------------

  private def specLine(n: Int, edges: Seq[Edge], groups: Seq[String],
                       measures: Seq[String], extents: Boolean): String = {
    def lc(xs: Seq[String]) = xs.map(_.toLowerCase(java.util.Locale.ROOT))
    val es = edges.map(e =>
      s"${e.parent}:${lc(e.parentKeys).mkString(",")}:${lc(e.childKeys).mkString(",")}")
      .mkString("|")
    s"n=$n;e=$es;g=${lc(groups).sorted.mkString(",")};" +
      s"m=${lc(measures).sorted.mkString(",")}" +
      (if (extents) ";x=1" else "") + ";p=1"
  }

  /** Does this view's recorded spec carry min/max partials? */
  private def recordedExtents(viewRoot: String): Boolean =
    recordedSpec(viewRoot).exists(_.split(";").contains("x=1"))

  private def recordedSpec(viewRoot: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, "_maggspec")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordSpec(viewRoot: String, line: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(viewRoot, "_maggspec"), line.getBytes("UTF-8"))
  }

  /** Table count recorded at `viewRoot` (needed to unpack the cursor
    * before anything else is known about the spec). */
  private[graft] def recordedN(viewRoot: String): Option[Int] =
    recordedSpec(viewRoot).flatMap(_.split(";").find(_.startsWith("n="))
      .flatMap(s => scala.util.Try(s.drop(2).toInt).toOption))

  // ---- the join tree ---------------------------------------------------

  /** Inner-join `frames` along the edges, dropping each child's keys
    * after its join (recoverable from the paired parent keys), projected
    * to (groups ++ measures). `frames(i)` must be the exact objects the
    * conditions reference. Shared with [[MultiNdvJoinView]] (whose
    * "measures" is the single distinct column). */
  private[sources] def joinedSlice(frames: IndexedSeq[DataFrame], edges: Seq[Edge],
                          groups: Seq[String], measures: Seq[String]): DataFrame = {
    val joined = edges.zipWithIndex.foldLeft(frames(0)) {
      case (acc, (e, i)) =>
        val child = frames(i + 1)
        val cond = e.parentKeys.zip(e.childKeys)
          .map { case (pk, ck) => frames(e.parent)(pk) === child(ck) }
          .reduce(_ && _)
        e.childKeys.foldLeft(acc.join(child, cond, "inner"))(
          (df, k) => df.drop(child(k)))
    }
    joined.select((groups ++ measures).map(col): _*)
  }

  /** Fold join rows to one signed partial per group. `extents = true`
    * adds min/max partials — insert-monotone only, so signed folding is
    * forbidden there (the churn path replaces dirty groups whole
    * instead). */
  private def fold(rows: DataFrame, groups: Seq[String],
                   measures: Seq[String], sign: Int,
                   extents: Boolean = false): DataFrame = {
    require(sign == 1 || !extents,
      "internal: min/max partials cannot fold signed")
    val aggs: Seq[Column] =
      (count(lit(1)) * lit(sign.toLong)).as("cnt") +:
        measures.flatMap(m =>
          Seq((sum(col(m).cast(SumType)) * lit(sign)).cast(SumType).as(sumCol(m)),
            (count(col(m)) * lit(sign.toLong)).as(nnCol(m))) ++
            (if (extents)
              Seq(min(col(m)).as(minCol(m)), max(col(m)).as(maxCol(m)))
            else Nil))
    rows.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The signed fold over a FUSED two-leg churn term (rows carry their
    * leg's sign in [[SignCol]]): per group, `cnt = Σ sign`,
    * `sum_m = Σ m·sign` (decimal, exact — sign only flips magnitude),
    * `nn_m = Σ sign over non-null m`. One partial row per group equal to
    * the SUM of the separate ± fold rows — identical after the read's
    * merge, at half the execution. Signed only (extents churn replaces
    * dirty groups whole instead). */
  private def foldSigned(rows: DataFrame, groups: Seq[String],
                         measures: Seq[String]): DataFrame = {
    val sign = col(SignCol)
    val aggs: Seq[Column] = sum(sign).as("cnt") +:
      measures.flatMap(m => Seq(
        sum(col(m).cast(SumType) * sign).cast(SumType).as(sumCol(m)),
        sum(when(col(m).isNotNull, sign).otherwise(lit(0L))).as(nnCol(m))))
    rows.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Tombstone partials for dirty groups whose join rows all vanished
    * (extents churn only — the signed path retracts to cnt = 0 by
    * arithmetic). */
  private def tombstones(gone: DataFrame, recomputed: DataFrame,
                         measures: Seq[String]): DataFrame = {
    val cols: Seq[Column] = gone.columns.toSeq.map(col) ++
      (lit(0L).as("cnt") +: measures.flatMap { m =>
        val mt = recomputed.schema(recomputed.columns
          .find(_.equalsIgnoreCase(minCol(m))).get).dataType
        Seq(lit(0).cast(SumType).as(sumCol(m)), lit(0L).as(nnCol(m)),
          lit(null).cast(mt).as(minCol(m)), lit(null).cast(mt).as(maxCol(m)))
      })
    gone.select(cols: _*)
  }

  /** Undirected adjacency of the edge tree: node → (neighbor, keys on
    * node, keys on neighbor). */
  private[sources] def adjacency(n: Int, edges: Seq[Edge]): Map[Int, Seq[(Int, Seq[String], Seq[String])]] = {
    val fwd = edges.zipWithIndex.flatMap { case (e, i) =>
      Seq(e.parent -> (i + 1, e.parentKeys, e.childKeys),
        (i + 1) -> (e.parent, e.childKeys, e.parentKeys))
    }
    fwd.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      .withDefaultValue(Seq.empty)
  }

  /** One telescoping TERM's frames: table `at` pinned to `pinned`
    * (a delta, or a version restricted to dirty keys), every other table
    * j at version `vers(j)`, restricted by a semi-join CASCADE outward
    * from `at` along the tree — each hop reads the standing store
    * file-pruned + bloom-prefiltered by the restricting side's key
    * tuples ([[JoinView]] per-edge machinery; exact for trees). */
  private[sources] def termFrames(spark: SparkSession, roots: IndexedSeq[String],
                         n: Int, adj: Map[Int, Seq[(Int, Seq[String], Seq[String])]],
                         at: Int, pinned: DataFrame,
                         vers: IndexedSeq[Int]): IndexedSeq[DataFrame] = {
    val frames = new Array[DataFrame](n)
    frames(at) = pinned
    var ring = List(at)
    val seen = scala.collection.mutable.Set(at)
    while (ring.nonEmpty) {
      // hops within one BFS ring are independent (a tree reaches each
      // node once): overlap their probe jobs (guide §2.6) — a star's
      // fact→all-dims ring runs its keyTuples probes concurrently
      // instead of paying each probe's latency end-to-end
      val hops = for {
        u <- ring; (v, ku, kv) <- adj(u) if seen.add(v)
      } yield (u, v, ku, kv)
      Overlap.map(hops) { case (u, v, ku, kv) =>
        val kt = JoinView.keyTuples(frames(u), ku)
        v -> JoinView.prefiltered(
          JoinView.standing(spark, roots(v), vers(v), kv, kt), kv, kt)
      }.foreach { case (v, df) => frames(v) = df }
      ring = hops.map(_._2)
    }
    frames.toIndexedSeq
  }

  /** Bring the view up to every source's current version. Returns the
    * view version (unchanged when all cursors already match). The spec
    * arguments must repeat the bootstrap's spec verbatim — including
    * `extents`: `extents = true` additionally stores min/max partials
    * per measure. Extents keep every APPEND leg on the O(Δ) telescoped
    * fold (min/max are insert-monotone), but CHURN can no longer retract
    * by arithmetic — dirty GROUPS (every group that owned or gained a
    * churned table's dirty-key join row) re-aggregate WHOLE from the
    * current tree and REPLACE by group key, while append-moved tables'
    * delta terms land beside them, ALL in one atomic publish
    * ([[SnapshotStore.upsertAndAppendEpoch]] — the replace, the appends,
    * and the cursor advance are one manifest swap); emptied groups
    * tombstone. The count/sum-only default keeps pure-arithmetic churn. */
  def refresh(spark: SparkSession, roots: Seq[String], viewRoot: String,
              edges: Seq[Edge], groupCols: Seq[String],
              measureCols: Seq[String], extents: Boolean = false): Int = {
    val n = roots.size
    validateTree(roots, edges, groupCols)
    refuseTwoTableLayout(viewRoot)
    // reserved partial names can't be group columns (duplicate output)
    locally {
      val reserved = "cnt" +: measureCols.flatMap(m =>
        Seq(sumCol(m), nnCol(m)) ++
          (if (extents) Seq(minCol(m), maxCol(m)) else Nil))
      groupCols.find(g => reserved.exists(_.equalsIgnoreCase(g))).foreach(g =>
        sys.error(s"group column '$g' collides with a partial column name"))
    }

    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    curVs.zip(roots).foreach { case (v, r) =>
      require(v > 0, s"every source must have a published version ($r=$v)")
    }
    val prevVs = cursors(viewRoot, n).toIndexedSeq
    if (curVs == prevVs) return SnapshotStore.currentVersion(viewRoot)
    curVs.zip(prevVs).zip(roots).foreach { case ((cv, pv), r) =>
      require(cv >= pv, s"source went backwards at $r: $pv -> $cv")
    }
    val spec = specLine(n, edges, groupCols, measureCols, extents)
    if (prevVs.exists(_ != 0)) {
      val rec = recordedSpec(viewRoot).getOrElse("")
      require(rec == spec,
        s"view at $viewRoot is maintained with spec '$rec', refresh asked '$spec'")
    }

    val rootsV = roots.toIndexedSeq
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    validateResolution(newFrames, edges, groupCols ++ measureCols)
    // every branch below publishes at curVs — one stamp (wide mode
    // writes its vector sidecar here, BEFORE any publish)
    val stamp = stampFor(viewRoot, curVs)

    val adj = adjacency(n, edges)
    def slice(frames: IndexedSeq[DataFrame]): DataFrame =
      joinedSlice(frames, edges, groupCols, measureCols)

    // per-table delta/churn leg builders shared by every maintenance path
    def versFor(i: Int): IndexedSeq[Int] =
      rootsV.indices.map(j => if (j < i) curVs(j) else prevVs(j)).toIndexedSeq
    def deltaTermRows(i: Int): DataFrame = {
      val delta = SnapshotStore.incremental(spark, rootsV(i),
        prevVs(i), curVs(i), Some(newFrames(i).schema))
      slice(termFrames(spark, rootsV, n, adj, i, delta, versFor(i)))
    }
    def restrictionKeys(i: Int): Seq[String] =
      if (i == 0) edges.head.parentKeys else edges(i - 1).childKeys
    def churnLegRows(i: Int, dirty: JoinView.DeltaKeys, ver: Int): DataFrame = {
      val myKeys = restrictionKeys(i)
      val restricted = JoinView.prefiltered(
        JoinView.standing(spark, rootsV(i), ver, myKeys, dirty),
        myKeys, dirty)
      slice(termFrames(spark, rootsV, n, adj, i, restricted, versFor(i)))
    }
    // BOTH churn legs of table i in ONE term build: the old and new
    // restrictions share the dirty keys, so pinning their UNION (old rows
    // carrying sign −1, new +1 when `signed`) builds ONE cascade, ONE
    // join tree and ONE fold where the two-leg shape paid all three
    // twice (the cascade restriction by the union's keys is a superset
    // of each leg's — restriction is pure pruning, so the join stays
    // exact; measured: churn was 60% of the 5-way lifecycle, half of it
    // this duplication). None when the gap evolved the table's schema
    // mid-churn — the caller falls back to the two-leg fold.
    def churnUnionRows(i: Int, dirty: JoinView.DeltaKeys,
                       signed: Boolean): Option[DataFrame] = {
      val myKeys = restrictionKeys(i)
      def restricted(ver: Int) = JoinView.prefiltered(
        JoinView.standing(spark, rootsV(i), ver, myKeys, dirty),
        myKeys, dirty)
      val old = restricted(prevVs(i)); val nw = restricted(curVs(i))
      if (old.columns.toSeq != nw.columns.toSeq) return None
      val pinned =
        if (signed)
          old.withColumn(SignCol, lit(-1L))
            .unionByName(nw.withColumn(SignCol, lit(1L)))
        else old.unionByName(nw)
      Some(joinedSlice(
        termFrames(spark, rootsV, n, adj, i, pinned, versFor(i)),
        edges, groupCols,
        measureCols ++ (if (signed) Seq(SignCol) else Nil)))
    }
    def dirtyOf(i: Int): JoinView.DeltaKeys = {
      val myKeys = restrictionKeys(i)
      JoinView.keyTuples(
        SnapshotStore.changes(spark, rootsV(i), prevVs(i), curVs(i))
          .select(myKeys.map(col): _*), myKeys)
    }
    val moved = rootsV.indices.filter(i => curVs(i) > prevVs(i))
    def appendMoved(i: Int): Boolean =
      JoinView.appendOnly(rootsV(i), prevVs(i), curVs(i))

    def phase[T](name: String)(body: => T): T =
      SnapshotStore.labeled(spark, s"magg $name")(body)

    val vNew = if (prevVs.forall(_ == 0)) phase("bootstrap") {
      recordSpec(viewRoot, spec) // BEFORE the publish: crash re-bootstraps
      SnapshotStore.appendEpoch(fold(slice(newFrames), groupCols,
        measureCols, 1, extents), viewRoot, stamp)
    } else if (rootsV.indices.forall(i => curVs(i) == prevVs(i) ||
        JoinView.churnOnly(rootsV(i), prevVs(i), curVs(i)))) {
      val churned = moved.filterNot(appendMoved)
      if (churned.isEmpty) phase("append-fold") {
        // THE TELESCOPING REFRESH, all-append flavor: per moved table,
        // the single positive delta term (new − old IS the appended
        // rows); min/max partials fold too (insert-monotone). ONE
        // stamped append (crash replays as an epoch no-op). Per-table
        // term builds overlap (guide §2.6) — union order stays fixed.
        val partials = Overlap.map(moved)(i =>
          fold(deltaTermRows(i), groupCols, measureCols, 1, extents))
          .reduce(_ unionByName _)
        SnapshotStore.appendEpoch(
          if (partials.isEmpty) partials.repartition(1) else partials,
          viewRoot, stamp)
      } else if (!extents) phase("signed-churn") {
        // THE TELESCOPING REFRESH, signed flavor: append-moved tables
        // fold their positive delta term, churned tables fold BOTH legs
        // restricted to their dirty key tuples (unchanged rows cancel
        // arithmetically); all terms in ONE stamped append. Per-table
        // term builds overlap (guide §2.6) — union order stays fixed.
        val terms = Overlap.flatMap(moved) { i =>
          if (appendMoved(i))
            Seq(fold(deltaTermRows(i), groupCols, measureCols, 1))
          else {
            val dirty = dirtyOf(i)
            churnUnionRows(i, dirty, signed = true) match {
              case Some(rows) =>
                Seq(foldSigned(rows, groupCols, measureCols))
              case None => // schema evolved mid-gap: honest two-leg fold
                Seq(fold(churnLegRows(i, dirty, prevVs(i)), groupCols,
                  measureCols, -1),
                  fold(churnLegRows(i, dirty, curVs(i)), groupCols,
                    measureCols, 1))
            }
          }
        }
        val partials = terms.reduce(_ unionByName _)
        SnapshotStore.appendEpoch(
          if (partials.isEmpty) partials.repartition(1) else partials,
          viewRoot, stamp)
      } else phase("extents-churn") {
        // EXTENTS churn: min/max cannot retract — the dirty GROUPS
        // (every group owning or gaining a churned table's dirty-key
        // join row, from the SAME restricted legs the telescoping would
        // fold) re-aggregate WHOLE from the current tree and REPLACE by
        // group key; append-moved tables' delta terms restrict to the
        // NON-dirty groups (the dirty recompute already counts their
        // rows) and land as the append side of the SAME atomic publish.
        val dirtyG = Overlap.map(churned) { i =>
          val dirty = dirtyOf(i)
          churnUnionRows(i, dirty, signed = false)
            .map(_.select(groupCols.map(col): _*))
            .getOrElse( // schema evolved mid-gap: two-leg union
              churnLegRows(i, dirty, prevVs(i)).select(groupCols.map(col): _*)
                .unionByName(churnLegRows(i, dirty, curVs(i))
                  .select(groupCols.map(col): _*)))
        }.reduce(_ unionByName _).distinct().localCheckpoint(true)
        val anyNull = groupCols.map(col(_).isNull).reduce(_ || _)
        if (!dirtyG.where(anyNull).isEmpty) {
          // NULL-keyed dirty groups slip the null-unsafe keyed replace —
          // one full rebuild handles them exactly (the 2-table posture)
          SnapshotStore.compactWith(fold(slice(newFrames), groupCols,
            measureCols, 1, extents), viewRoot,
            epochOverride = Some(stamp))
        } else {
          val cur = dirtyGroupJoinRows(spark, rootsV, edges, curVs,
            newFrames, groupCols, measureCols, dirtyG)
          // checkpointed: group-sized, referenced twice (replace + gone)
          val recomputed = fold(cur, groupCols, measureCols, 1, extents)
            .localCheckpoint(true)
          val gone = dirtyG.join(
            recomputed.select(groupCols.map(col): _*), groupCols, "left_anti")
          val appendTerms = Overlap.map(moved.filter(appendMoved))(i =>
            fold(deltaTermRows(i), groupCols, measureCols, 1, extents)
              .join(broadcast(dirtyG), groupCols, "left_anti"))
          val appendSide = appendTerms
            .reduceOption(_ unionByName _)
            .getOrElse(recomputed.limit(0))
          // ONE atomic publish: the keyed replace, the delta appends, and
          // the packed cursor land in a single manifest swap
          SnapshotStore.upsertAndAppendEpoch(spark,
            recomputed.unionByName(tombstones(gone, recomputed, measureCols)),
            if (appendSide.isEmpty) appendSide.repartition(1) else appendSide,
            viewRoot, groupCols, stamp)
        }
      }
    } else phase("rebuild") {
      // a compaction (or vacuumed baseline) somewhere broke the diff
      SnapshotStore.compactWith(fold(slice(newFrames), groupCols,
        measureCols, 1, extents), viewRoot,
        epochOverride = Some(stamp))
    }
    rootsV.indices.foreach(i =>
      SnapshotStore.recordViewBaseline(rootsV(i), viewRoot, curVs(i)))
    vNew
  }

  /** Refuse a store written by the earlier two-table AGG_JOIN / NDV_JOIN
    * / QUANTILE_JOIN implementation: its spec file (`_aggspec` /
    * `_ndvjspec` / `_qjspec`) is not this view's, and its base-10⁶
    * cursor would decode under this view's packing as a wrong version
    * vector (and refresh would then fail with a misleading "source went
    * backwards"). Shared with [[MultiNdvJoinView]] and
    * [[MultiQuantileJoinView]]. */
  private[sources] def refuseTwoTableLayout(viewRoot: String): Unit =
    Seq("_aggspec", "_ndvjspec", "_qjspec")
      .find(f => java.nio.file.Files.exists(java.nio.file.Paths.get(viewRoot, f)))
      .foreach(f => throw new IllegalArgumentException(
        s"view at $viewRoot is in the old two-table layout ($f spec file, " +
          "base-10^6 cursor), which this build no longer maintains — " +
          "rebuild the view into a fresh store"))

  /** The join-graph contract shared by every N-way view flavor: n ≥ 2
    * tables, n−1 edges each attaching to an earlier table, distinct
    * store roots, non-empty groups, and every edge's parent keys
    * surviving the parent's OWN join (child keys are dropped when the
    * parent was joined in as a child). */
  private[sources] def validateTree(roots: Seq[String], edges: Seq[Edge],
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
        val dropped = edges(e.parent - 1).childKeys
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        e.parentKeys.find(k => dropped.contains(
          k.toLowerCase(java.util.Locale.ROOT))).foreach(k =>
          sys.error(s"edge ${i + 1}'s parent key '$k' is dropped when " +
            s"table ${e.parent} joins in — name its paired upstream key " +
            "instead"))
      }
    }
  }

  /** The column-resolution contract shared by every N-way view flavor:
    * paired edge keys share a dataType (bloom hashes by type), and every
    * view column resolves on exactly ONE table with edge child keys
    * excluded (recoverable from their paired parent keys). */
  private[sources] def validateResolution(newFrames: IndexedSeq[DataFrame],
                                          edges: Seq[Edge],
                                          viewCols: Seq[String]): Unit = {
    edges.zipWithIndex.foreach { case (e, i) =>
      e.parentKeys.zip(e.childKeys).foreach { case (pk, ck) =>
        val (pt, ct) = (newFrames(e.parent).schema(pk).dataType,
          newFrames(i + 1).schema(ck).dataType)
        require(pt == ct,
          s"paired join keys must share a dataType: $pk:$pt vs $ck:$ct")
      }
    }
    val childKeyOf: Map[Int, Set[String]] = edges.zipWithIndex.map {
      case (e, i) => (i + 1) -> e.childKeys
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    }.toMap.withDefaultValue(Set.empty)
    viewCols.foreach { c =>
      val lc = c.toLowerCase(java.util.Locale.ROOT)
      val owners = newFrames.indices.filter(i =>
        newFrames(i).columns.exists(_.equalsIgnoreCase(c)) &&
          !childKeyOf(i).contains(lc))
      require(owners.size == 1,
        s"view column '$c' must resolve on exactly one join table " +
          s"(found on ${owners.size}) — child-side keys are dropped; " +
          "name the paired parent key instead")
    }
  }

  /** CURRENT-tree join rows belonging to `dirtyG`'s groups — the
    * dirty-GROUP recompute's input, shared by the extents churn and the
    * [[MultiNdvJoinView]] re-sketch churn. Each table OWNING a group
    * column band+semi-restricts by the dirty groups' values, then the
    * cascade prunes the rest of the tree outward from the restricted
    * owners (superset-sound); the closing group-semi refines exactly
    * (the [[RollupView]] dirty-group technique, lifted to N). Ownership
    * excludes edge CHILD keys exactly like the bootstrap resolution — a
    * group column sharing a name with another table's child key must
    * restrict the OWNER, not the key column (restricting a join key by
    * group values would silently drop recompute rows). */
  private[sources] def dirtyGroupJoinRows(spark: SparkSession,
      rootsV: IndexedSeq[String], edges: Seq[Edge], curVs: IndexedSeq[Int],
      newFrames: IndexedSeq[DataFrame], groupCols: Seq[String],
      valueCols: Seq[String], dirtyG: DataFrame): DataFrame = {
    val n = rootsV.size
    val adj = adjacency(n, edges)
    val childKeyOf: Map[Int, Set[String]] = edges.zipWithIndex.map {
      case (e, i) => (i + 1) -> e.childKeys
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    }.toMap.withDefaultValue(Set.empty)
    val owners: Map[Int, Seq[String]] = groupCols.groupBy(g =>
      newFrames.indices.find(i =>
        newFrames(i).columns.exists(_.equalsIgnoreCase(g)) &&
          !childKeyOf(i).contains(
            g.toLowerCase(java.util.Locale.ROOT))).get)
    def restrict(i: Int): DataFrame = owners.get(i) match {
      case None => newFrames(i)
      case Some(gs) =>
        val b = dirtyG.agg(lit(1).as("__one"),
          gs.flatMap(g => Seq(min(col(g)).as(s"__lo_$g"),
            max(col(g)).as(s"__hi_$g"))): _*).head()
        val banded = gs.foldLeft(newFrames(i)) { (d, g) =>
          val lo = b.getAs[Any](s"__lo_$g"); val hi = b.getAs[Any](s"__hi_$g")
          if (lo == null || hi == null) d
          else d.where(col(g) >= lit(lo) && col(g) <= lit(hi))
        }
        banded.join(broadcast(dirtyG.select(gs.map(col): _*).distinct()),
          gs, "left_semi")
    }
    val frames = new Array[DataFrame](n)
    // per-owner band probes (one tiny head() each) overlap, as do the
    // cascade hops within a ring (guide §2.6; assignment order is
    // deterministic, so the recompute plan is unchanged)
    Overlap.map(owners.keys.toSeq)(i => i -> restrict(i))
      .foreach { case (i, df) => frames(i) = df }
    // cascade outward from the restricted owners (superset-sound;
    // the group semi below is the exact cut)
    var ring = owners.keys.toList
    val seen = scala.collection.mutable.Set(owners.keys.toSeq: _*)
    while (ring.nonEmpty) {
      val hops = for {
        u <- ring; (v, ku, kv) <- adj(u) if seen.add(v)
      } yield (u, v, ku, kv)
      Overlap.map(hops) { case (u, v, ku, kv) =>
        val kt = JoinView.keyTuples(frames(u), ku)
        v -> JoinView.prefiltered(
          JoinView.standing(spark, rootsV(v), curVs(v), kv, kt), kv, kt)
      }.foreach { case (v, df) => frames(v) = df }
      ring = hops.map(_._2)
    }
    joinedSlice(frames.toIndexedSeq, edges, groupCols, valueCols)
      .join(broadcast(dirtyG), groupCols, "left_semi")
  }

  /** Merge signed partials to the materialized aggregate (NULL-exact
    * sums via the nn counts; min/max skip null tombstones natively),
    * shared by [[read]] and [[compensatedRead]]. */
  private def merged(partials: DataFrame, groups: Seq[String],
                     measures: Seq[String],
                     extents: Boolean = false): DataFrame = {
    def resolve(nm: String): String =
      partials.columns.find(_.equalsIgnoreCase(nm)).getOrElse(nm)
    val aggs: Seq[Column] = sum(col("cnt")).as("cnt") +:
      measures.flatMap { m =>
        val s = resolve(sumCol(m)); val nn = resolve(nnCol(m))
        Seq(
          when(sum(col(nn)) > 0, sum(col(s)).cast(SumType))
            .otherwise(lit(null).cast(SumType)).as(s),
          sum(col(nn)).as(nn)) ++
          (if (extents) {
            val mn = resolve(minCol(m)); val mx = resolve(maxCol(m))
            Seq(min(col(mn)).as(mn), max(col(mx)).as(mx))
          } else Nil)
      }
    partials.groupBy(groups.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(col("cnt") > 0)
  }

  /** The materialized aggregate: groups…, `cnt`, `sum_<m>` (+ its
    * `nn_<m>` bookkeeping, kept so [[compact]]'s round-trip preserves
    * NULL-exactness). */
  def read(spark: SparkSession, viewRoot: String): DataFrame = {
    val partials = SnapshotStore.read(spark, viewRoot)
    val specMeasures: Seq[String] = recordedSpec(viewRoot) match {
      case Some(line) =>
        line.split(";").find(_.startsWith("m=")).map(_.drop(2)) match {
          case Some("") | None => Seq.empty[String]
          case Some(ms)        => ms.split(",").toSeq
        }
      case None =>
        partials.columns.filter(_.startsWith("sum_")).map(_.drop(4)).toSeq
    }
    val extents = recordedExtents(viewRoot)
    val aggNames = "cnt" +: specMeasures.flatMap(m =>
      Seq(sumCol(m), nnCol(m)) ++
        (if (extents) Seq(minCol(m), maxCol(m)) else Nil))
    val groups = partials.columns.filterNot(c =>
      aggNames.exists(_.equalsIgnoreCase(c))).toSeq
    merged(partials, groups, specMeasures, extents)
  }

  /** DELTA-COMPENSATED content of a STALE view: when every moved
    * source's gap is an APPEND, the current aggregate is the stored
    * partials merged with the telescoped delta terms folded on the fly
    * (count/decimal-sum and min/max are insert-monotone). None when
    * unsound — a churned/compacted gap, a vacuumed baseline, no cursor,
    * or a spec mismatch; an already-fresh view returns the plain read. */
  def compensatedRead(spark: SparkSession, roots: Seq[String],
                      viewRoot: String, edges: Seq[Edge],
                      groupCols: Seq[String],
                      measureCols: Seq[String]): Option[DataFrame] = {
    val n = roots.size
    val prevVs = cursors(viewRoot, n).toIndexedSeq
    if (prevVs.forall(_ == 0)) return None
    val curVs = roots.map(SnapshotStore.currentVersion).toIndexedSeq
    if (curVs.zip(prevVs).exists { case (cv, pv) => cv < pv }) return None
    if (curVs == prevVs) return Some(read(spark, viewRoot))
    val rootsV = roots.toIndexedSeq
    if (!rootsV.indices.forall(i => curVs(i) == prevVs(i) ||
        JoinView.appendOnly(rootsV(i), prevVs(i), curVs(i)))) return None
    val extents = recordedExtents(viewRoot)
    if (!recordedSpec(viewRoot).contains(
        specLine(n, edges, groupCols, measureCols, extents))) return None
    val newFrames = rootsV.zip(curVs)
      .map { case (r, v) => SnapshotStore.readEvolved(spark, r, v) }
    val adj = adjacency(n, edges)
    // min/max are insert-monotone, so the compensated fold stays sound
    // with extents over APPEND gaps (churn declined above)
    val terms = (for (i <- rootsV.indices if curVs(i) > prevVs(i)) yield {
      val vers = rootsV.indices.map(j => if (j < i) curVs(j) else prevVs(j))
        .toIndexedSeq
      val delta = SnapshotStore.incremental(spark, rootsV(i),
        prevVs(i), curVs(i), Some(newFrames(i).schema))
      fold(joinedSlice(termFrames(spark, rootsV, n, adj, i, delta, vers),
        edges, groupCols, measureCols), groupCols, measureCols, 1, extents)
    }).reduce(_ unionByName _)
    Some(merged(SnapshotStore.read(spark, viewRoot).unionByName(terms),
      groupCols, measureCols, extents))
  }

  /** Fold accumulated partials to one row per group (drops retraction
    * residue physically); content and cursor stamp unchanged. */
  def compact(spark: SparkSession, viewRoot: String): Int =
    SnapshotStore.compactWith(read(spark, viewRoot), viewRoot)
}
