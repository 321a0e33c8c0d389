package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps

import SnapshotStore.Gap

/** Incrementally maintained equi-JOIN view between two [[SnapshotStore]]
  * tables — the denormalization half of IVM ([[RollupView]] owns the
  * aggregate half). The view materializes `L ⋈ R` on an equi-key pair
  * LIST (single or composite, pairwise positional equalities) and
  * absorbs source commits without re-running the join:
  *
  *   - append-only delta (the classic delta-join identity):
  *     Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR — the two terms are disjoint
  *     (L_old excludes ΔL) and together exactly the new rows. Each term
  *     joins a DELTA against a standing side with the standing side
  *     bloom-prefiltered by the delta's key tuples
  *     ([[RelationalOps.bloomFilteredJoinKeys]]): only standing rows
  *     whose key might match shuffle — O(Δ + matching), never
  *     O(standing).
  *   - retraction (a source lost rows to delete/upsert): the DIRTY join
  *     keys come from the sources' O(churn) change feeds; the view
  *     rewrites as (view ∖ dirty) ∪ (L_new ⋈ R_new restricted to dirty)
  *     — the expensive JOIN work is bounded by the dirty keys' rows,
  *     the rewrite cost by the view itself (no un-keyed store can
  *     retract cheaper), published as the view's own compaction.
  *   - a source compaction (or a vacuumed refresh baseline) invalidates
  *     the manifest diff: one full rebuild, same as [[RollupView]].
  *
  * The refresh position is ONE epoch stamp packing both source cursors
  * (`leftVer * 10^6 + rightVer`) into the view's manifest — crash-safe
  * the same way the rollup view is: the delta path publishes through
  * [[SnapshotStore.appendEpoch]] (a replayed refresh with the same
  * cursors is a true no-op), the rewrite paths through the
  * non-commutative compaction commit.
  *
  * Contract: paired keys share a dataType (the composite bloom hashes by
  * type — checked every refresh); the two schemas' non-key columns must
  * not collide, and a right key may share a name only with its OWN pair
  * (both checked at bootstrap); the view's rows are `l.* ++ r.*` minus
  * the right keys (each recoverable from its paired left key).
  */
object JoinView {

  private val CursorBase = 1000000L

  /** The epoch stamp a view refreshed through (leftVer, rightVer) carries
    * — the freshness probe the Catalyst join rewrite checks. */
  private[graft] def packedCursor(lv: Int, rv: Int): Long = pack(lv, rv)

  private[sources] def pack(lv: Int, rv: Int): Long = {
    require(lv < CursorBase && rv < CursorBase,
      s"source version beyond cursor capacity: $lv/$rv")
    lv * CursorBase + rv
  }

  private[sources] def cursors(viewRoot: String): (Int, Int) =
    SnapshotStore.lastEpoch(viewRoot)
      .map(e => ((e / CursorBase).toInt, (e % CursorBase).toInt))
      .getOrElse((0, 0))

  /** The view-shaped join on the full key list: conjunction of pairwise
    * equalities. INNER views drop the right key columns (each recoverable
    * from its paired left key); LEFT-OUTER views KEEP them — a null right
    * key IS the unmatched marker (null keys never equi-match, so a
    * matched row always has them non-null), which both the serving
    * rewrite and the null-conversion maintenance rely on. `joinType` is
    * any Spark join type; `keepRightKeys` is the VIEW
    * SHAPE and is independent of it (the outer view's ΔR maintenance leg
    * is an inner join that still keeps right keys). */
  private[sources] def joined(l: DataFrame, r: DataFrame,
                     lks: Seq[String], rks: Seq[String],
                     joinType: String = "inner",
                     keepRightKeys: Boolean = false): DataFrame = {
    val cond = lks.zip(rks).map { case (a, b) => l(a) === r(b) }.reduce(_ && _)
    val j = l.join(r, cond, joinType)
    if (keepRightKeys) j else rks.foldLeft(j)((df, k) => df.drop(r(k)))
  }

  /** The view's recorded join type — written once at bootstrap (BEFORE
    * the first publish, so a crash between the two converges: re-running
    * the bootstrap rewrites the file), read by every later refresh. A
    * view with versions but no record is a legacy inner view. */
  private def recordedHow(viewRoot: String): Option[String] = {
    val p = java.nio.file.Paths.get(viewRoot, "_jointype")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordHow(viewRoot: String, how: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(viewRoot))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(viewRoot, "_jointype"), how.getBytes("UTF-8"))
  }

  /** How many distinct delta-key tuples may be pulled to the driver for
    * the IN-pushdown restriction path (below that, one restriction costs
    * ONE Spark job and the standing scan prunes by an In filter; above
    * it, the bloom + broadcast-join path). Bounds driver memory at
    * cap × tuple-width (≈ a few MB) — the same
    * model-sized-collect posture as bloom sizing and PQ codebooks.
    *
    * 1024, not larger: a bigger In-set would still be cheap to EXECUTE,
    * but every plan/event stringification enumerates In values
    * (sources.In.toString and InSet.toString are untruncated), measured
    * as seconds of driver string-building per lifecycle at 12k+ keys. */
  private[graft] val SmallKeyCap = 1024

  /** The distinct key tuples of a delta/dirty set, probed ONCE per
    * restriction (optimization-guide §1.2: fewer passes/actions —
    * the previous shape paid FOUR driver actions per restriction:
    * checkpoint, min/max, count, bloom build).
    *
    *   - SMALL sets (≤ [[SmallKeyCap]], inlineable key types): the
    *     tuples live on the driver after ONE job; `df` is a
    *     LocalRelation, range and count are driver-computed, and
    *     [[prefiltered]] restricts with an exact In filter that reaches
    *     the parquet scan as a PushedFilter (row-group pruning the bloom
    *     probe could never do).
    *   - LARGE sets: the distinct frame checkpoints and ONE fused
    *     aggregate yields (count, head-range); the bloom build sizes
    *     from that count instead of its own count job.
    *
    * Steady-state maintenance deltas are small relative to the corpus —
    * that is the IVM premise — so the small path is the hot path; the
    * large path's extra probe pass is noise beside its O(Δ) join. */
  private[graft] final class DeltaKeys(
      val df: DataFrame,
      val n: Long,
      val headIntegral: Boolean,
      val headLo: Option[Long],
      val headHi: Option[Long],
      val rows: Option[Array[org.apache.spark.sql.Row]])

  /** `column IN set` as a hash-set [[ce.InSet]] over the values'
    * CATALYST representation — constant-size in the expression tree
    * regardless of set cardinality (an `isin` literal list re-walks
    * every element in each analyzer/optimizer pass) and still translated
    * to a data-source In filter at the scan. */
  private def inSet(column: org.apache.spark.sql.Column, values: Set[Any],
                    dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val conv = CatalystTypeConverters.createToCatalystConverter(dt)
    ColumnBridge.column(
      ce.InSet(ColumnBridge.eagerExpression(column), values.map(conv)))
  }

  private def inlineable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }

  /** The delta's distinct key tuples as __bk0.._bkN columns, with their
    * count and head-key range probed once (see [[DeltaKeys]]). */
  private[sources] def keyTuples(delta: DataFrame, keys: Seq[String]): DeltaKeys =
    SnapshotStore.labeled(delta.sparkSession, s"keys probe ${keys.mkString(",")}") {
      keyTuplesImpl(delta, keys)
    }

  private def keyTuplesImpl(delta: DataFrame, keys: Seq[String]): DeltaKeys = {
    val spark = delta.sparkSession
    val sel = delta.select(keys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__bk$i")
    }: _*).distinct()
    val headIntegral = sel.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    // ONE full pass computes the distinct (checkpointed — every later
    // probe is partition-local over it), then one fused tiny aggregate
    // for (count, head range). A limit(SmallKeyCap).collect() probe instead
    // would pay CollectLimit's incremental take — several SEQUENTIAL
    // scheduling rounds per probe (measured slower than the jobs saved).
    val ck = sel.localCheckpoint(true)
    // head-range only for integral heads (an ANSI cast of a string key
    // would throw; non-integral heads never range-prune anyway)
    val rangeCols =
      if (headIntegral)
        Seq(min(col("__bk0").cast("long")), max(col("__bk0").cast("long")))
      else Seq(lit(null).cast("long"), lit(null).cast("long"))
    val st = ck.agg(count(lit(1)), rangeCols: _*).head()
    val n = st.getLong(0)
    val lo = if (headIntegral && !st.isNullAt(1)) Some(st.getLong(1)) else None
    val hi = if (headIntegral && !st.isNullAt(2)) Some(st.getLong(2)) else None
    if (n <= SmallKeyCap && sel.schema.forall(f => inlineable(f.dataType))) {
      val rows = ck.collect() // tiny: ≤ SmallKeyCap checkpointed tuples
      new DeltaKeys(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), sel.schema),
        n, headIntegral, lo, hi, Some(rows))
    } else new DeltaKeys(ck, n, headIntegral, lo, hi, None)
  }

  /** Standing rows restricted EXACTLY to the delta's key tuples — only
    * possibly-matching standing rows ever shuffle. Small key sets
    * restrict with an exact In filter (pushed to the parquet scan;
    * composite keys add the equi-join against the driver-local tuples
    * for tuple-exactness); large sets keep the bloom prefilter + dedup
    * equi-join ([[RelationalOps.bloomFilteredJoinKeys]] shape, bloom
    * sized from the probed count). Both paths drop null-keyed standing
    * rows and null tuples exactly like the equi-join they restrict. */
  private[sources] def prefiltered(standing: DataFrame, standingKeys: Seq[String],
                          dk: DeltaKeys): DataFrame = {
    if (dk.n == 0) return standing.limit(0)
    dk.rows match {
      case Some(rows) =>
        // per-column In: exact for a single key, a pushable superset for
        // composite keys (the join below refines to exact tuples). Built
        // as a hash-set InSet, NOT an isin literal list — a literal In
        // with thousands of children costs more in analyzer/optimizer
        // tree walks than the jobs it saves (measured: +6 s driver gap
        // on a 12k-key delta); InSet is O(1) per walk and still
        // translates to a parquet source In filter.
        val perCol = standingKeys.zipWithIndex.map { case (k, i) =>
          val vs = rows.iterator.map(_.get(i)).filter(_ != null).toSet
          if (vs.isEmpty) lit(false)
          else inSet(standing(k), vs, dk.df.schema(s"__bk$i").dataType)
        }.reduce(_ && _)
        val filtered = standing.where(perCol)
        if (standingKeys.size == 1) filtered
        else {
          val cond = standingKeys.zipWithIndex.map { case (k, i) =>
            filtered(k) === dk.df(s"__bk$i")
          }.reduce(_ && _)
          dk.df.columns.foldLeft(
            filtered.join(broadcast(dk.df), cond))((df, b) => df.drop(dk.df(b)))
        }
      case None =>
        val bks = dk.df.columns.toSeq
        val bf = RelationalOps.buildKeyBloomSized(dk.df,
          struct(bks.map(dk.df(_)): _*), dk.n)
        val cond = standingKeys.zip(bks)
          .map { case (f, d) => standing(f) === dk.df(d) }.reduce(_ && _)
        bks.foldLeft(
          standing.where(RelationalOps.mightContainKey(bf,
              struct(standingKeys.map(standing(_)): _*)))
            .join(dk.df, cond))((df, b) => df.drop(dk.df(b)))
    }
  }

  /** Evidence hook (the `restriction` row of [[graft.ScaleGate]]): the
    * standing side of `root` restricted to `delta`'s key tuples — the
    * probe → range-prune → exact-restriction pipeline every view refresh
    * funnels through, as one inspectable frame. */
  private[graft] def restrictionPlan(spark: SparkSession, root: String,
                                     ver: Int, keys: Seq[String],
                                     delta: DataFrame): DataFrame = {
    val dk = keyTuples(delta, keys)
    prefiltered(standing(spark, root, ver, keys, dk), keys, dk)
  }

  /** Range-cluster a FULL-DOMAIN view write on the first left key so its
    * per-file stats actually prune (a hash-partitioned join output puts
    * the whole key domain in every file, making min/max sidecars
    * useless). Only the bootstrap/rewrite paths need this — a delta
    * append's files already cover just the delta's key range. */
  private def clustered(df: DataFrame, key: String, on: Boolean): DataFrame =
    if (on) df.repartitionByRange(col(key)) else df

  /** Stamp per-file min/max stats on the head key column(s) over the dirs
    * a view commit just produced (OUTER views, integral key only): the
    * match-arrival probe file-prunes the view by the delta's key range
    * through these — without them every delta refresh would re-scan the
    * whole view just to learn nothing converted. Left-outer views stamp
    * the left key (the ΔR-direction probe); full-outer views stamp BOTH
    * head keys (a ΔL probes the view's null-left rows by RIGHT key).
    * Written AFTER the commit (pure acceleration: a crash between commit
    * and sidecar leaves a conservatively-read version — planFiles selects
    * statless files unconditionally). */
  private def stampStats(spark: SparkSession, viewRoot: String,
                         before: Int, v: Int, cols: Seq[String]): Unit = {
    if (v == before) return
    val newDirs = SnapshotStore.manifestDirs(viewRoot, v)
      .diff(if (before > 0 && SnapshotStore.hasManifest(viewRoot, before))
              SnapshotStore.manifestDirs(viewRoot, before)
            else Nil)
    SnapshotStore.writeStatsSidecar(spark, viewRoot, v, newDirs, cols)
  }

  /** The rows whose join keys a source gap dirties: an appended gap's
    * rows, a churned gap's change feed (both signs); none when unmoved. */
  private def touched(gap: Gap): Option[DataFrame] = gap match {
    case a: Gap.Appended => Some(a.rows())
    case c: Gap.Churned  => Some(c.changes)
    case _               => None
  }

  /** The standing side of a delta join, FILE-pruned by the delta's key
    * range when the standing store carries min/max stats on the join key
    * (appendWithStats / a z-ordered compaction): keys outside
    * [min(Δkeys), max(Δkeys)] cannot match, so only overlapping files
    * are read — with monotone ingest keys (the common fact-table shape)
    * a delta touches only the newest files of the other side. Statless
    * stores fall back to the full snapshot read (sound, just unpruned);
    * non-integral keys skip range pruning (the stats sidecar is
    * long-typed). The bloom row-prefilter still applies on top. */
  private[sources] def standing(spark: SparkSession, root: String, ver: Int,
                       keys: Seq[String], deltaKeys: DeltaKeys): DataFrame = {
    // an EVOLVED store (mixed-schema files) cannot be read as a file
    // subset or from one sampled footer without silently dropping the
    // newer columns — fall back to the full merged read (bloom
    // row-prefiltering still applies on top; a compaction re-unifies
    // the files and restores pruning)
    if (SnapshotStore.schemaEvolved(spark, root, ver))
      return SnapshotStore.readEvolved(spark, root, ver)
    val full = SnapshotStore.read(spark, root, ver)
    if (deltaKeys.n == 0) return full.limit(0) // empty delta: no match
    // range pruning rides the FIRST key (the stats sidecar is per-column
    // long min/max), already probed into the DeltaKeys — no extra job;
    // further keys still gate through [[prefiltered]]
    if (!deltaKeys.headIntegral) full
    else (deltaKeys.headLo, deltaKeys.headHi) match {
      case (Some(lo), Some(hi)) =>
        SnapshotStore.readWhere(spark, root, keys.head, lo, hi, ver)
      case _ => full.limit(0) // every head key null: nothing can equi-match
    }
  }

  /** The delta identity's legs over appended (or unmoved) source gaps,
    * each with its delta's key tuples: Δ(L⋈R) = ΔL⋈R_new ∪ L_old⋈ΔR, the
    * standing sides bloom-prefiltered by the in-hand delta's keys so only
    * possibly-matching rows join. Outer adds: ΔL null-extends itself
    * (ΔL ⟕ R_new) and the ΔR leg stays an inner join (old left rows that
    * STILL don't match keep their null rows). Full-outer adds one term:
    * ΔR rows unmatched against L_NEW null-extend as unmatched-RIGHT view
    * rows (see [[refreshKeys]]). The legs are independent builds, each
    * blocking on its keyTuples probe, so they overlap (guide §2.6); the
    * result keeps the fixed L-then-R order. One definition for
    * [[refreshKeys]] and [[compensated]], so a compensated read serves the
    * rows a refresh would append. */
  private def deltaLegs(spark: SparkSession, leftRoot: String, rightRoot: String,
                        leftKeys: Seq[String], rightKeys: Seq[String], how: String,
                        lGap: Gap, rGap: Gap, plv: Int, lv: Int, rv: Int,
                        lNew: => DataFrame, rNew: => DataFrame)
      : Seq[(Option[DataFrame], Option[DeltaKeys])] = {
    val outer = how != "inner"
    val full = how == "full_outer"
    def buildL(): (Option[DataFrame], Option[DeltaKeys]) = lGap match {
      case ap: Gap.Appended =>
        // explicit schema: a narrow post-evolution append still
        // reads the full shape
        val delta = ap.rows(Some(lNew.schema))
        val dk = keyTuples(delta, leftKeys)
        (Some(joined(delta,
          prefiltered(standing(spark, rightRoot, rv, rightKeys, dk),
            rightKeys, dk),
          leftKeys, rightKeys,
          if (outer) "left_outer" else "inner", outer)), Some(dk))
      case _ => (None, None)
    }
    def buildR(): (Option[DataFrame], Option[DeltaKeys]) = rGap match {
      case ap: Gap.Appended =>
        val delta = ap.rows(Some(rNew.schema))
        val dk = keyTuples(delta, rightKeys)
        val matched = joined(
          prefiltered(standing(spark, leftRoot, plv, leftKeys, dk),
            leftKeys, dk),
          delta, leftKeys, rightKeys, "inner", outer)
        val part = if (!full) matched else {
          // anti against the PRUNED current left side is exact: the
          // prefilter is an equi-join against the delta's own distinct
          // key tuples (no false negatives), so every left row that
          // could match a ΔR key survives into the anti's build side
          val lStand = prefiltered(
            standing(spark, leftRoot, lv, leftKeys, dk), leftKeys, dk)
          val unmatched = delta.join(lStand,
            leftKeys.zip(rightKeys).map { case (a, b) =>
              lStand(a) === delta(b)
            }.reduce(_ && _), "left_anti")
          // null-extend to the view's exact l.* ++ r.* shape via a
          // right-outer join against the EMPTY left relation (types,
          // names, and column set all come from the source itself)
          matched.unionByName(joined(lNew.limit(0), unmatched,
            leftKeys, rightKeys, "right_outer", keepRightKeys = true))
        }
        (Some(part), Some(dk))
      case _ => (None, None)
    }
    Overlap.map(Seq(true, false))(isL => if (isL) buildL() else buildR())
  }

  /** Single-key [[refreshKeys]]. */
  def refresh(spark: SparkSession, leftRoot: String, rightRoot: String,
              viewRoot: String, leftKey: String, rightKey: String,
              how: String = "inner"): Int =
    refreshKeys(spark, leftRoot, rightRoot, viewRoot,
      Seq(leftKey), Seq(rightKey), how)

  /** Bring the view up to both sources' current versions — COMPOSITE
    * equi-keys supported (pairwise positional equalities). Returns the
    * view version (unchanged when both cursors already match).
    *
    * `how` is the maintained join's type: "inner" (default),
    * "left_outer", or "full_outer". A LEFT-OUTER view is `L ⟕ R` —
    * unmatched left rows null-extend, right key columns are KEPT (null =
    * unmatched marker), and maintenance adds one semantics the inner
    * view never needs: MATCH ARRIVAL — a right delta matching a key that
    * currently has null-extended view rows must RETRACT those rows as it
    * appends the matched ones (detected per refresh by probing the
    * view's null rows against the delta's key tuples; when none convert,
    * the refresh stays a pure O(Δ) append — the common monotone-ingest
    * shape where dims land before facts).
    *
    * A FULL-OUTER view is `L ⟗ R` — BOTH sides null-extend, and the
    * match-arrival semantics runs SYMMETRICALLY: a ΔR can convert
    * null-extended left rows AND a ΔL can convert null-extended right
    * rows (identified by a null left key head — a matched row's keys are
    * all non-null because null never equi-matches). The append-only delta
    * identity gains one term over ⟕:
    *
    *   Δ(L⟗R) = (ΔL ⟕ R_new)  ∪  (L_old ⋈ ΔR)  ∪  nullext(ΔR ∖ L_new)
    *
    * — the unmatched-right determination runs against L_NEW, not L_old,
    * because a ΔL row landing in the same refresh may be the match
    * (that pair is already carried by the first term). The view's join
    * type is recorded at bootstrap and every later refresh must pass the
    * same `how`. */
  def refreshKeys(spark: SparkSession, leftRoot: String, rightRoot: String,
                  viewRoot: String, leftKeys: Seq[String],
                  rightKeys: Seq[String], how: String = "inner"): Int = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"key lists must be non-empty and pair up: $leftKeys vs $rightKeys")
    require(how == "inner" || how == "left_outer" || how == "full_outer",
      s"join view supports inner, left_outer, full_outer, got '$how'")
    val outer = how != "inner"
    val full = how == "full_outer"
    val lv = SnapshotStore.currentVersion(leftRoot)
    val rv = SnapshotStore.currentVersion(rightRoot)
    require(lv > 0 && rv > 0,
      s"both sources must have a published version ($leftRoot=$lv, $rightRoot=$rv)")
    val (plv, prv) = cursors(viewRoot)
    if (lv == plv && rv == prv) return SnapshotStore.currentVersion(viewRoot)
    require(lv >= plv && rv >= prv,
      s"source went backwards: ($plv,$prv) -> ($lv,$rv)")
    // a view refreshed under one join type must never be refreshed under
    // another (the content would silently mix semantics); a pre-record
    // view (versions, no file) is a legacy inner view
    if (plv != 0 || prv != 0) {
      val rec = recordedHow(viewRoot).getOrElse("inner")
      require(rec == how,
        s"view at $viewRoot is maintained as '$rec', refresh asked '$how'")
    }

    // evolved-safe reads: a source whose files span a schema evolution
    // merges footers instead of sampling one (see the schema-change
    // rebuild below for how the VIEW absorbs the new shape)
    val lNew = SnapshotStore.readEvolved(spark, leftRoot, lv)
    val rNew = SnapshotStore.readEvolved(spark, rightRoot, rv)

    // per-refresh (schemas can evolve): paired keys must share a type —
    // the composite bloom hashes by type (xxhash64(1) != xxhash64(1L)),
    // and a mixed pair would silently DROP matching rows at the prefilter
    leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
      val (lt, rt) = (lNew.schema(lk).dataType, rNew.schema(rk).dataType)
      require(lt == rt,
        s"paired join keys must share a dataType: $lk:$lt vs $rk:$rt")
    }
    val keyIntegral = lNew.schema(leftKeys.head).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    val vBefore = SnapshotStore.currentVersion(viewRoot)
    // SCHEMA EVOLUTION: a source that widened (or narrowed) since the
    // last refresh changes the view's row shape. The delta paths would
    // then publish mixed-schema view versions that the plain read plans
    // from one footer — silently DROPPING the new column on standing
    // rows — and the rewrite paths would fail the union far from the
    // cause. Detect the shape change against the view's recorded columns
    // and take ONE full rebuild under the new schema (the same honest
    // price a source compaction pays); pre-tracking legacy views keep
    // the old behavior.
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val expectedCols = (lNew.columns ++ rNew.columns.filterNot(c =>
      !outer && rightKeys.exists(_.equalsIgnoreCase(c)))).map(lc).toSet
    val schemaChanged = vBefore > 0 &&
      SnapshotStore.manifestCols(viewRoot, vBefore)
        .exists(vc => vc.map(lc).toSet != expectedCols)

    // non-key column collision would corrupt every later dirty anti-join —
    // fail before anything publishes. Case-INSENSITIVE, matching
    // JoinRewriteRule's lowercased by-name resolution (left 'Amount' vs
    // right 'amount' collapses to one entry in the rewrite's name map —
    // refuse it here, at the cause). An OUTER view keeps its right keys,
    // so those count as columns too: NO shared name is legal at all.
    // Checked on EVERY refresh (pure driver-side name logic): schema
    // evolution can introduce a collision bootstrap never saw, on either
    // side, without changing the name SET the schema-change probe sees.
    locally {
      val overlap = lNew.columns.map(_.toLowerCase).toSet
        .intersect(rNew.columns.map(_.toLowerCase).toSet) --
        (if (outer) Set.empty[String] else rightKeys.map(_.toLowerCase).toSet)
      require(overlap.isEmpty,
        s"non-key columns collide across the join view's sides: $overlap — " +
          "rename one side (compactWith on the source is the rename " +
          "migration) and rebuild the view")
      // a right KEY named like an UNRELATED left column would make the
      // rewrite's by-name resolution serve the wrong column (the inner
      // view drops right keys): a shared name is legal only for a key
      // and its OWN pair
      if (!outer) leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
        require(!lNew.columns.exists(_.equalsIgnoreCase(rk)) ||
            rk.equalsIgnoreCase(lk),
          s"right key '$rk' shadows an unrelated left column — rename one " +
            s"(a shared name is only legal for a key and its own pair)")
      }
    }

    val vNew = if (schemaChanged) {
      SnapshotStore.compactWith(
        clustered(joined(lNew, rNew, leftKeys, rightKeys, how, outer),
          leftKeys.head, outer && keyIntegral),
        viewRoot, epochOverride = Some(pack(lv, rv)))
    } else if (plv == 0 && prv == 0) {
      recordHow(viewRoot, how) // BEFORE the publish: crash re-bootstraps
      SnapshotStore.appendEpoch(
        clustered(joined(lNew, rNew, leftKeys, rightKeys, how, outer),
          leftKeys.head, outer && keyIntegral),
        viewRoot, pack(lv, rv))
    } else (SnapshotStore.gap(spark, leftRoot, plv, lv),
        SnapshotStore.gap(spark, rightRoot, prv, rv)) match {
      case (lGap @ (Gap.Unmoved | _: Gap.Appended),
            rGap @ (Gap.Unmoved | _: Gap.Appended)) =>
        val Seq((lPart, lDeltaKeys), (rPart, rDeltaKeys)) = deltaLegs(spark,
          leftRoot, rightRoot, leftKeys, rightKeys, how, lGap, rGap, plv, lv, rv,
          lNew, rNew)
        val adds = (lPart.toSeq ++ rPart.toSeq).reduce(_ unionByName _)
        lazy val view = SnapshotStore.readEvolved(spark, viewRoot)
        // MATCH ARRIVAL (outer only): does ΔR hit any key that currently
        // has null-extended view rows? The probe reads the VIEW as a
        // standing side — file-pruned by the delta's key range (outer
        // commits stamp key stats below) and bloom-prefiltered by the
        // delta's key tuples — O(view rows that might match), no collect.
        // Full-outer runs the symmetric probe too: ΔL against the view's
        // null-LEFT rows by right key.
        val viewVer = SnapshotStore.currentVersion(viewRoot)
        // the two match-arrival probes are independent isEmpty actions —
        // overlap them too (full-outer pays both; inner pays neither)
        val Seq(convertingR, convertingL) = Overlap.map(Seq(true, false)) {
          case true => outer && rDeltaKeys.exists { dk =>
            !prefiltered(
              standing(spark, viewRoot, viewVer, leftKeys, dk)
                .where(col(rightKeys.head).isNull)
                .select(leftKeys.map(col): _*),
              leftKeys, dk).isEmpty
          }
          case false => full && lDeltaKeys.exists { dk =>
            !prefiltered(
              standing(spark, viewRoot, viewVer, rightKeys, dk)
                .where(col(leftKeys.head).isNull)
                .select(rightKeys.map(col): _*),
              rightKeys, dk).isEmpty
          }
        }
        if (!convertingR && !convertingL) {
          SnapshotStore.appendEpoch(adds, viewRoot, pack(lv, rv))
        } else {
          // converted keys' null rows retract; everything else survives.
          // Published as the view's own compaction (non-commutative commit)
          var keep = view
          if (convertingR) {
            val dk = rDeltaKeys.get
            keep = keep.join(broadcast(dk.df),
              leftKeys.zipWithIndex.map { case (k, i) =>
                keep(k) === dk.df(s"__bk$i")
              }.reduce(_ && _) && keep(rightKeys.head).isNull, "left_anti")
          }
          if (convertingL) {
            val dk = lDeltaKeys.get
            keep = keep.join(broadcast(dk.df),
              rightKeys.zipWithIndex.map { case (k, i) =>
                keep(k) === dk.df(s"__bk$i")
              }.reduce(_ && _) && keep(leftKeys.head).isNull, "left_anti")
          }
          SnapshotStore.compactWith(
            clustered(keep.unionByName(adds), leftKeys.head, keyIntegral),
            viewRoot, epochOverride = Some(pack(lv, rv)))
        }
      case (lGap @ (Gap.Unmoved | _: Gap.Appended | _: Gap.Churned),
            rGap @ (Gap.Unmoved | _: Gap.Appended | _: Gap.Churned)) =>
        // retraction: dirty key tuples from both change feeds, join work
        // bounded by them; the view rewrites once (anti survivors +
        // recompute — the recompute replays the VIEW's join type, so a
        // right-side delete that un-matches a left row re-null-extends it)
        val dirty = keyTuples(
          (touched(lGap).map(_.select(leftKeys.map(col): _*)).toSeq ++
            touched(rGap).map(_.select(rightKeys.zip(leftKeys).map {
              case (rk, lk) => col(rk).as(lk)
            }: _*))).reduce(_ unionByName _),
          leftKeys)
        // NULL-SAFE key equality (<=>): an OUTER view legitimately carries
        // null-key left rows (they null-extend at bootstrap and in ΔL), so
        // the retraction machinery must be able to target them — `===`
        // never matches null, which would strand a deleted null-key row in
        // the view forever and drop a churn-range-inserted one. Inner
        // views carry no null-key rows, so <=> is equivalence there.
        def dirtyJoin(df: DataFrame, keys: Seq[String], jt: String) =
          df.join(broadcast(dirty.df),
            keys.zipWithIndex.map { case (k, i) =>
              df(k) <=> dirty.df(s"__bk$i")
            }.reduce(_ && _), jt)
        // a FULL-outer view row's effective key is coalesce(lk, rk): an
        // unmatched-RIGHT row carries its key only on the right side, so a
        // survivors anti-join on the left key alone would strand it when
        // its right row churns (matched rows have lk == rk; both-null rows
        // coalesce to null, which <=> targets)
        val viewDf = SnapshotStore.readEvolved(spark, viewRoot)
        val survivors =
          if (!full) dirtyJoin(viewDf, leftKeys, "left_anti")
          else viewDf.join(broadcast(dirty.df),
            leftKeys.zip(rightKeys).zipWithIndex.map { case ((lk, rk), i) =>
              coalesce(viewDf(lk), viewDf(rk)) <=> dirty.df(s"__bk$i")
            }.reduce(_ && _), "left_anti")
        val recomputed = joined(
          dirtyJoin(lNew, leftKeys, "left_semi"),
          dirtyJoin(rNew, rightKeys, "left_semi"),
          leftKeys, rightKeys, how, outer)
        // COMPOSITION sidecar: this publish is a full-content swap whose
        // manifest diff is not the row diff — record the O(Δ) feed
        // (replaced view rows → deletes, the dirty recompute → inserts) so
        // a DOWNSTREAM maintained view (rollup-over-join-view) absorbs
        // this churn through its retraction path instead of rebuilding.
        // Unchanged rows inside the dirty set ride as cancelling pairs
        // (documented at SnapshotStore.recordChangeFeed).
        locally {
          val replaced =
            if (!full) dirtyJoin(viewDf, leftKeys, "left_semi")
            else viewDf.join(broadcast(dirty.df),
              leftKeys.zip(rightKeys).zipWithIndex.map { case ((lk, rk), i) =>
                coalesce(viewDf(lk), viewDf(rk)) <=> dirty.df(s"__bk$i")
              }.reduce(_ && _), "left_semi")
          SnapshotStore.recordChangeFeed(
            replaced.withColumn("_change_type", lit("delete"))
              .unionByName(recomputed.withColumn("_change_type", lit("insert"))),
            viewRoot, pack(lv, rv))
        }
        SnapshotStore.compactWith(
          clustered(survivors.unionByName(recomputed), leftKeys.head,
            outer && keyIntegral),
          viewRoot, epochOverride = Some(pack(lv, rv)))
      case _ =>
        // a source compaction (or vacuumed baseline) broke the diff: rebuild
        SnapshotStore.compactWith(
          clustered(joined(lNew, rNew, leftKeys, rightKeys, how, outer),
            leftKeys.head, outer && keyIntegral),
          viewRoot, epochOverride = Some(pack(lv, rv)))
    }
    // outer views carry key file stats so the NEXT match-arrival probe
    // prunes; inner views never scan themselves on the delta path.
    // Full-outer views stamp BOTH head keys (the ΔL-direction probe
    // prunes by right key; paired keys share a dataType, so integral-ness
    // of the left head covers the right head too).
    if (outer && keyIntegral)
      stampStats(spark, viewRoot, vBefore, vNew,
        if (full) Seq(leftKeys.head, rightKeys.head) else Seq(leftKeys.head))
    // the refreshed cursors pin BOTH sources' vacuums (viewrefs guard):
    // recorded AFTER the publish, so a crash leaves no false pin
    SnapshotStore.recordViewBaseline(leftRoot, viewRoot, lv)
    SnapshotStore.recordViewBaseline(rightRoot, viewRoot, rv)
    vNew
  }

  /** The maintained join content (evolved-safe: a view mid-way through a
    * schema change still reads its full shape). */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    SnapshotStore.readEvolved(spark, viewRoot)

  /** DELTA-COMPENSATED content of a STALE inner view — the
    * lambda-architecture read path: when the view's cursor (plv, prv)
    * lags the sources' current versions and both gaps are appended or
    * unmoved ([[SnapshotStore.gap]]), the current join is exactly
    *
    *   view  ∪  (ΔL ⋈ R_new)  ∪  (L_old ⋈ ΔR)
    *
    * (the same disjoint delta identity a refresh would append), so a
    * reader can serve fresh answers at O(view + Δ) cost without waiting
    * for the refresh. Standing sides are bloom-prefiltered and
    * file-pruned by the delta's key range — with monotone ingest keys
    * the compensation literally reads the view plus the delta-band
    * files. A LEFT-OUTER view compensates one-sidedly: while the RIGHT
    * source is UNCHANGED, `L_new ⟕ R  =  view ∪ (ΔL ⟕ R)` is a pure
    * union too (no standing left row's match status can change when R
    * didn't move; the ΔL leg's unmatched rows null-extend exactly like
    * the view's own maintenance) — any right-side gap declines there
    * (a ΔR arrival CONVERTS standing unmatched-left rows, and
    * conversion is not a union), and a FULL-OUTER view always declines
    * (either side's delta can convert the other side's unmatched rows).
    * None otherwise when compensation is unsound: a gap churned rows, a
    * baseline manifest was vacuumed, or the view has no cursor yet.
    * Already-fresh views return the plain view read.
    *
    * Building the compensation runs small driver jobs (the delta's key
    * tuples and range) — the price of file-pruned standing reads; the
    * serving rewrite only takes this path for registrations that opted
    * into stale serving. */
  def compensated(spark: SparkSession, leftRoot: String, rightRoot: String,
                  viewRoot: String, leftKeys: Seq[String],
                  rightKeys: Seq[String]): Option[DataFrame] = {
    val how = recordedHow(viewRoot).getOrElse("inner")
    if (how == "full_outer") return None
    val (plv, prv) = cursors(viewRoot)
    if (plv == 0 && prv == 0) return None
    val lv = SnapshotStore.currentVersion(leftRoot)
    val rv = SnapshotStore.currentVersion(rightRoot)
    if (lv < plv || rv < prv) return None
    val view = read(spark, viewRoot)
    if (lv == plv && rv == prv) return Some(view)
    (SnapshotStore.gap(spark, leftRoot, plv, lv),
        SnapshotStore.gap(spark, rightRoot, prv, rv)) match {
      // left-outer: a one-sided union, sound ONLY while R is unchanged
      case (lGap @ (Gap.Unmoved | _: Gap.Appended),
            rGap @ (Gap.Unmoved | _: Gap.Appended))
          if how == "inner" || rGap == Gap.Unmoved =>
        lazy val lNew = SnapshotStore.readEvolved(spark, leftRoot, lv)
        lazy val rNew = SnapshotStore.readEvolved(spark, rightRoot, rv)
        val legs = deltaLegs(spark, leftRoot, rightRoot, leftKeys, rightKeys,
          how, lGap, rGap, plv, lv, rv, lNew, rNew)
        // allowMissingColumns: an appended gap can WIDEN a source (the
        // store's additive-evolution contract), so the delta legs may
        // carry a column the view predates, or vice versa. Null-filling
        // is EXACT here: the view's rows joined under the old schema, and
        // the user's own current-snapshot join reads those same
        // pre-evolution rows' new column as null through the merged footer.
        Some((view +: legs.flatMap(_._1))
          .reduce(_.unionByName(_, allowMissingColumns = true)))
      case _ => None
    }
  }
}
