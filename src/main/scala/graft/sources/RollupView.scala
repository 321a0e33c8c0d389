package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SnapshotStore.Gap

/** Incrementally-maintained materialized rollup over a [[SnapshotStore]]
  * series table — incremental view maintenance (IVM) reduced to its
  * mergeable-aggregate core, the reference's re-aggregate-on-append loop
  * (trend-o-meter:258-266 recomputes per-day aggregates when samples
  * arrive) lifted to the batch corpus layer.
  *
  * The view's stored rows are PARTIAL aggregates per (metric, bucket) at
  * a chosen [[Grain]] — day (`e div 86400`) by default, hour
  * (`e div 3600`) as the finer serving tier; one maintained view per
  * grain: `(cnt, vsum DECIMAL, nn, vmin, vmax)` — count/sum/non-null
  * count/min/max are all commutative monoids, so a refresh only
  * aggregates the DELTA the
  * source's newer manifests introduced and appends those partials as a
  * new view version. Nothing re-reads the standing corpus:
  *
  *   - refresh cost:  O(delta)            (not O(table), not O(view))
  *   - read cost:     O(partial rows)     (one merge groupBy)
  *   - compact cost:  O(view)             (folds partials to one row/key)
  *
  * At 100 TB this is the difference between a nightly full recompute and
  * a minutes-long delta pass: the source appends a few GB, the refresh
  * aggregates exactly those files (manifest-planned, no listing, no
  * diff), and the view's own store compacts on whatever cadence keeps
  * the partial-row count bounded. Decimal sums keep the merge EXACT in
  * any order (IEEE doubles would drift under re-association), which is
  * what makes the view bit-equal to a from-scratch rollup — the property
  * the oracle checks.
  *
  * Source DELETES and UPSERTS ([[SnapshotStore.deleteWhere]]/
  * [[SnapshotStore.upsert]]) maintain incrementally too: refresh reads
  * the gap's row feed ([[SnapshotStore.gap]]), re-aggregates only the
  * (metric, day) groups that LOST rows (min/max are not retractable
  * monoids — recompute-the-dirty-group is the standard IVM answer) and
  * replaces their partials via the view store's own keyed upsert;
  * insert-only groups keep the O(delta) append path. Only an opaque gap
  * (a source COMPACTION, or pre-kind legacy history) still falls back to
  * one full rebuild, because a content-preserving directory swap has no
  * row diff to follow.
  *
  * Resume position: each refresh stamps the processed SOURCE version into
  * the view's manifest as the epoch id ([[SnapshotStore.appendEpoch]]),
  * so a re-run of the same refresh is a no-op (exactly-once maintenance
  * on top of at-least-once scheduling) and the next refresh knows where
  * to cut. A source COMPACTION between refreshes replaces directories
  * without changing rows — an incremental read across it would
  * double-count — so refresh detects the dropped-directory signature and
  * falls back to one full rebuild published as a view compaction (same
  * stamp mechanics, documented cost O(table) for that refresh only).
  */
object RollupView {

  /** A maintained rollup GRAIN: the bucket width in epoch seconds and
    * the bucket column's stored name. Day and Hour are the served
    * grains; each grain is its own maintained view over the same source
    * (hour partials do NOT derive day partials or vice versa — a day is
    * 24 mergeable hour groups only for count/sum, min/max merge too, but
    * the rewrite's exactness contract wants the stored column, not a
    * derived regroup, so each grain maintains independently at the same
    * O(delta) refresh cost). */
  final case class Grain(seconds: Long, col: String)
  val Day: Grain = Grain(86400L, "day")
  val Hour: Grain = Grain(3600L, "hour")

  private def grainPath(viewRoot: String): java.nio.file.Path =
    java.nio.file.Paths.get(viewRoot, "_grain")

  /** The grain STAMPED into the view store (first stamped refresh writes
    * it), None for pre-stamp legacy views (all Day by construction). The
    * stamp exists so the grain is state of the STORE, not a default
    * parameter the caller must remember: `refresh(spark, src, hourView)`
    * with the grain argument forgotten would otherwise append day-keyed
    * partials into an hour-keyed store — mixed-schema versions that read
    * would union wrongly or not at all. */
  def storedGrain(viewRoot: String): Option[Grain] = {
    val p = grainPath(viewRoot)
    if (!java.nio.file.Files.exists(p)) None
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim match {
      case Day.col  => Some(Day)
      case Hour.col => Some(Hour)
      case other    => sys.error(s"unknown grain '$other' stamped at $viewRoot")
    }
  }

  /** Loud mismatch guard. The stamp check is one file read; the
    * `inferFromSchema` fallback additionally inspects an UNSTAMPED
    * store's manifest-recorded schema (a directory listing + manifest
    * read), so it runs only on the MUTATING surface (refresh — the one
    * place a forgotten grain argument would corrupt and then mis-stamp
    * a pre-stamp store). read/compact skip the inference: a mismatched
    * unstamped read already fails loudly on the missing bucket column,
    * and [[graft.plans.RollupRewriteRule]] calls read during analysis
    * of every Aggregate — per-Aggregate directory listings are exactly
    * what its probe cache exists to avoid. */
  private[sources] def requireGrain(viewRoot: String, g: Grain, op: String,
                           inferFromSchema: Boolean = false): Unit =
    storedGrain(viewRoot) match {
      case Some(stored) =>
        require(stored == g,
          s"$op at $viewRoot asked for grain '${g.col}' but the view is " +
            s"maintained at '${stored.col}' — pass the view's own grain " +
            "(a mismatched refresh would corrupt the store)")
      case None if inferFromSchema =>
        val cur = SnapshotStore.currentVersion(viewRoot)
        if (cur > 0) {
          val cols = SnapshotStore.manifestCols(viewRoot, cur)
            .getOrElse(Seq.empty).map(_.toLowerCase(java.util.Locale.ROOT))
          Seq(Day, Hour).filter(_ != g)
            .find(o => cols.contains(o.col) && !cols.contains(g.col))
            .foreach { o =>
              throw new IllegalArgumentException(
                s"$op at $viewRoot asked for grain '${g.col}' but the " +
                  s"unstamped store's schema carries '${o.col}' — pass " +
                  "the view's own grain")
            }
        }
      case None => ()
    }

  /** Stamp after a publish so the guard bites from the second call on. */
  private def stampGrain(viewRoot: String, g: Grain): Unit =
    if (storedGrain(viewRoot).isEmpty &&
        SnapshotStore.currentVersion(viewRoot) > 0)
      java.nio.file.Files.write(grainPath(viewRoot), g.col.getBytes("UTF-8"))

  /** Physical plan of the last retraction recompute (see the capture
    * site in [[refreshRetracting]] for why a hook and not a registered
    * query plan). */
  @volatile private[graft] var lastRecomputePlan: String = ""

  /** Fixed partial-sum type: wide enough that re-merging compacted
    * partials stays exact (values fit well inside 28 integer digits), and
    * FIXED so every version's parquet schema is identical — Spark's sum
    * widens decimal precision per aggregation level, and a store whose
    * versions disagree on the sum type would not union. */
  private val SumType = "decimal(30,2)"

  /** The mergeable-aggregate CONTENT of a maintained view, factored out
    * of the maintenance skeleton: [[refresh]]'s epoch stamping,
    * compaction/vacuum detection, retraction diffing, dirty-group
    * recompute, and tombstoning are identical for ANY commutative-monoid
    * partial (the IVM engine); what varies is which source columns feed
    * the fold, the fold itself, and the tombstone row shape. The classic
    * count/sum/min/max rollup ([[ClassicSpec]]) and the HLL NDV sketch
    * view ([[NdvView]]) are two instances of the one engine. Every spec's
    * fold MUST be a commutative monoid over row multisets (so partials
    * merge in any order) and MUST key on (metric, grain-bucket) — the
    * skeleton's dirty-key joins and keyed upsert assume it. */
  private[sources] trait PartialSpec {
    /** Project source (or change-feed) rows to (metric, bucket, value
      * columns). The bucket is exact integer division of epoch seconds
      * (portable: DuckDB `//`, Spark `div`). */
    def bucketed(rows: DataFrame, g: Grain): DataFrame
    /** Fold bucketed rows to ONE partial row per (metric, bucket). */
    def fold(rows: DataFrame, g: Grain): DataFrame
    /** Tombstone partials (logically-absent markers, `cnt = 0`) for dirty
      * keys whose source rows all vanished; `recomputed` is in scope so
      * null value columns can copy its exact types. */
    def tombstones(keys: DataFrame, recomputed: DataFrame, g: Grain): DataFrame
    /** Does a standing store with these partial columns predate this
      * spec's CURRENT format? True forces one full-rebuild refresh (the
      * compaction branch) that republishes every partial in the current
      * shape — the store migration path when a spec grows a column. */
    def legacyFormat(cols: Seq[String]): Boolean = false
  }

  /** The classic rollup content: count/sum/nn/min/max per (metric,
    * bucket). `nn` is the NON-NULL value count — Average's divisor, the
    * partial that lets [[graft.plans.RollupRewriteRule]] serve
    * `avg(value)` exactly (vsum ÷ cnt would silently mis-average any
    * group holding a NULL value; cnt counts rows, Average counts
    * non-null inputs). */
  private[sources] object ClassicSpec extends PartialSpec {
    def bucketed(rows: DataFrame, g: Grain): DataFrame =
      rows.select(col("metric"), expr(s"e div ${g.seconds}").as(g.col), col("value"))
    def fold(rows: DataFrame, g: Grain): DataFrame =
      rows
        .groupBy(col("metric"), col(g.col))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(SumType)).cast(SumType).as("vsum"),
          count(col("value")).as("nn"),
          min(col("value")).as("vmin"),
          max(col("value")).as("vmax"))
    def tombstones(keys: DataFrame, recomputed: DataFrame, g: Grain): DataFrame = {
      val vT = recomputed.schema("vmin").dataType
      // vsum NULL, not 0: the classic spec has no signed partials (churn
      // recomputes dirty groups whole), so a tombstone is the ONLY
      // possible zero-ish residue — and a group revived by rows whose
      // values are all NULL must merge to sum NULL exactly like the
      // base plan (sum skips the NULL tombstone either way, but a 0
      // would survive the merge and serve 0.00 where the base says NULL)
      keys.select(col("metric"), col(g.col),
        lit(0L).as("cnt"), lit(null).cast(SumType).as("vsum"),
        lit(0L).as("nn"),
        lit(null).cast(vT).as("vmin"), lit(null).cast(vT).as("vmax"))
    }
    // pre-nn stores: one full rebuild migrates them to the nn-carrying
    // shape (an append of new-format partials would otherwise refuse on
    // the store's schema contract, wedging the view)
    override def legacyFormat(cols: Seq[String]): Boolean =
      !cols.exists(_.equalsIgnoreCase("nn"))
  }


  /** Bring the view up to the source's current version. Returns the view
    * version published (or current, when already up to date). */
  def refresh(spark: SparkSession, srcRoot: String, viewRoot: String,
              grain: Grain = Day): Int =
    refreshWith(spark, srcRoot, viewRoot, grain, ClassicSpec)

  /** The maintenance engine behind [[refresh]], parameterized by the
    * view's [[PartialSpec]] content (see the trait doc). A store is
    * permanently owned by ONE spec: the first refresh fixes the partial
    * schema, and a later refresh under a different spec fails loudly on
    * the store's schema contract ([[SnapshotStore.commitAppend]]'s
    * column check) before any mixed-content version could publish. */
  private[sources] def refreshWith(spark: SparkSession, srcRoot: String,
                                   viewRoot: String, grain: Grain,
                                   spec: PartialSpec): Int = {
    requireGrain(viewRoot, grain, "refresh", inferFromSchema = true)
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    require(srcCur > 0, s"no published source version at $srcRoot")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(0)
    if (srcCur <= from) return SnapshotStore.currentVersion(viewRoot)
    // a standing store in the spec's PRE-CURRENT partial shape (e.g. a
    // pre-nn classic view) migrates through one full rebuild — appending
    // new-format partials would refuse on the store's schema contract
    val legacy = from > 0 && {
      val viewCur = SnapshotStore.currentVersion(viewRoot)
      viewCur > 0 && spec.legacyFormat(
        SnapshotStore.manifestCols(viewRoot, viewCur).getOrElse(Seq.empty))
    }
    // rebuild once, publish as the view's own compaction (sole content),
    // stamp the new position
    def rebuild(): Int = {
      val full = spec.fold(
        spec.bucketed(SnapshotStore.read(spark, srcRoot, srcCur), grain), grain)
      if (SnapshotStore.currentVersion(viewRoot) == 0)
        SnapshotStore.appendEpoch(full, viewRoot, srcCur)
      else
        SnapshotStore.compactWith(full, viewRoot,
          epochOverride = Some(srcCur.toLong))
    }
    val v = if (legacy) rebuild()
    else SnapshotStore.gap(spark, srcRoot, from, srcCur) match {
      case a: Gap.Appended =>
        SnapshotStore.appendEpoch(
          spec.fold(spec.bucketed(a.rows(), grain), grain), viewRoot, srcCur)
      // native source churn, or the COMPOSITION path: an upstream
      // maintained view's churn publish (a full-content swap) that
      // recorded its feed — the retraction machinery absorbs either as O(Δ)
      case f: Gap.Fed =>
        refreshRetracting(spark, srcRoot, viewRoot, from, srcCur, grain, spec,
          f.changes)
      // a compaction, a vacuumed baseline or unknown-kind legacy history:
      // the counted directories are gone and no diff follows them
      case _ => rebuild()
    }
    stampGrain(viewRoot, grain)
    // the refreshed cursor pins the source's vacuum (see the viewrefs
    // guard): recorded AFTER the publish, so a crash leaves no false pin
    SnapshotStore.recordViewBaseline(srcRoot, viewRoot, srcCur)
    v
  }

  /** The RETRACTION refresh: the source lost rows since `from`
    * ([[SnapshotStore.deleteWhere]]/[[SnapshotStore.upsert]] rewrote
    * directories), and count/sum could absorb a negative partial but
    * min/max cannot — a deleted extremum un-derives nothing. The standard
    * IVM answer, applied here: re-aggregate ONLY the DIRTY groups (the
    * (metric, day) keys that lost at least one row) from the current
    * source and REPLACE their partials in the view (the view store's own
    * keyed [[SnapshotStore.upsert]]); groups that only gained rows append
    * delta partials exactly like the fast path. A dirty group whose rows
    * all vanished publishes a TOMBSTONE partial (cnt=0, null extents) —
    * replace-by-key can't remove, but [[read]] filters zero-count groups
    * and [[compact]] folds tombstones away physically.
    *
    * Cost: O(churn) for the change diff (two EXCEPT ALL over the
    * rewritten directories), one source scan semi-joined to the dirty
    * keys for the re-aggregate (broadcastable — dirty keys are
    * group-keys-sized), O(view ∩ dirty) for the keyed replace. Nothing
    * is O(standing table) except the dirty-scan's read itself, which
    * partition/file pruning bounds when the store is day-keyed.
    *
    * ATOMIC and crash-safe: the dirty groups' keyed replace AND the
    * insert-only groups' delta-partial append publish under ONE
    * epoch-stamped manifest swap ([[SnapshotStore.upsertAndAppendEpoch]])
    * — no reader ever observes recomputed groups next to a stale cursor
    * (the window the pre-atomic two-publish sequence documented is
    * gone), and a re-run after a crash replays as an epoch no-op. */
  private def refreshRetracting(spark: SparkSession, srcRoot: String,
                                viewRoot: String, from: Int,
                                srcCur: Int, g: Grain,
                                spec: PartialSpec,
                                feed: DataFrame): Int = {
    import org.apache.spark.storage.StorageLevel
    val ch = feed.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE probe over the delete rows answers every branch question:
      // any null key, how many deletes, and the dirty bucket band.
      val deletes = ch.where(col("_change_type") === "delete")
      val bucket = expr(s"e div ${g.seconds}")
      val probe = deletes.agg(
        count(when(col("metric").isNull || col("e").isNull, 1)).as("nulls"),
        count(lit(1)).as("n"), min(bucket).as("lo"), max(bucket).as("hi")).head()
      // NULL-keyed groups (null metric or null e — outside the series
      // contract, but a delete can still target them) would slip every
      // null-unsafe equi-join below: the dirty semi-join, the tombstone
      // anti-join, AND the view store's keyed upsert all treat null !=
      // null, so the old partial would silently survive next to a
      // tombstone and the merged view would diverge from a from-scratch
      // rollup forever. One full rebuild handles them exactly.
      if (probe.getAs[Long]("nulls") > 0) {
        // the enclosing finally unpersists ch
        return SnapshotStore.compactWith(
          spec.fold(
            spec.bucketed(SnapshotStore.read(spark, srcRoot, srcCur), g), g),
          viewRoot, epochOverride = Some(srcCur.toLong))
      }
      val inserts = spec.bucketed(ch.where(col("_change_type") === "insert"), g)
      // nothing dirty: the delta partials alone own the stamp
      if (probe.getAs[Long]("n") == 0)
        return SnapshotStore.appendEpoch(spec.fold(inserts, g), viewRoot, srcCur)
      val dirty = deletes.select(col("metric"), bucket.as(g.col))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // insert-only groups' delta partials (dirty groups re-aggregate
        // whole in the replace below). Computed up front: both legs
        // publish in ONE atomic commit.
        val ins = spec.fold(
          inserts.join(dirty, Seq("metric", g.col), "left_anti"), g)
        // Conservative day-range pre-filter: the semi-join alone gives
        // the parquet scan nothing to push down, so the re-aggregate
        // would read the whole standing table. A plain range predicate
        // on e (spanning the dirty days) reaches the scan as a
        // PushedFilter — a day-keyed or z-ordered source prunes
        // files/row-groups before the semi-join refines to the exact
        // dirty keys. Sound for the non-negative epochs the day
        // contract (e div 86400 == e // 86400) already assumes; a
        // negative bound skips the pre-filter rather than guess at
        // truncation-vs-floor semantics.
        val srcRows = SnapshotStore.read(spark, srcRoot, srcCur)
        // Spark's `div` TRUNCATES toward zero, so bucket 0 spans
        // e ∈ [-(sec-1), sec-1] — the bucket-0 lower bound must include
        // the negative tail or a surviving negative-e row would be
        // dropped from the recompute and its group falsely tombstoned.
        // Negative dirty buckets skip the pre-filter (their truncation
        // bands are not worth encoding for out-of-contract data);
        // null-key groups never reach here (rebuild branch above).
        val (dlo, dhi) = (probe.getAs[Long]("lo"), probe.getAs[Long]("hi"))
        val pre =
          if (dlo >= 0) {
            val lo = if (dlo == 0) -(g.seconds - 1) else dlo * g.seconds
            srcRows.where(col("e") >= lo &&
              col("e") <= dhi * g.seconds + (g.seconds - 1))
          } else srcRows
        val recomputedLazy = spec.fold(
          spec.bucketed(pre, g)
            .join(dirty, Seq("metric", g.col), "left_semi"), g)
        // Plan-audit hook: the registered queries return checkpointed
        // frames (their stores are temp-rooted), so the recompute's
        // scan-prune/broadcast posture is only visible here — captured
        // BEFORE the checkpoint below hides the scan. One extra
        // planning pass, model-free and ms-scale next to the refresh.
        lastRecomputePlan = recomputedLazy.queryExecution.executedPlan.toString
        // checkpointed: group-sized, referenced twice (replace +
        // tombstones' anti-join) — one execution, not two
        val recomputed = recomputedLazy.localCheckpoint(true)
        val tombstones = spec.tombstones(
          dirty.join(recomputed.select("metric", g.col),
            Seq("metric", g.col), "left_anti"),
          recomputed, g)
        // ONE atomic epoch-stamped publish: dirty groups replace, the
        // insert-only delta partials append, the cursor advances —
        // all in a single manifest swap (the store keeps an empty
        // append side schema-bearing)
        SnapshotStore.upsertAndAppendEpoch(spark,
          recomputed.unionByName(tombstones), ins,
          viewRoot, Seq("metric", g.col), srcCur)
      } finally dirty.unpersist()
    } finally ch.unpersist()
  }

  /** The materialized rollup: merge all stored partials. Output carries
    * both the exact decimal sum (`vsum`) and the compare-friendly double
    * projections the registry's portable-rounding rule wants. */
  def read(spark: SparkSession, viewRoot: String,
           grain: Grain = Day): DataFrame = {
    requireGrain(viewRoot, grain, "read")
    merged(SnapshotStore.read(spark, viewRoot), grain)
  }

  /** One partial-merge definition for the stored read and the
    * delta-compensated read. `nn` (the non-null value count — Average's
    * exact divisor, what the avg rewrite divides by) merges through when
    * the partials carry it; a pre-nn legacy store merges without it and
    * the avg rewrite declines until a refresh migrates the store. */
  private def merged(partials: DataFrame, grain: Grain): DataFrame = {
    val hasNn = partials.columns.exists(_.equalsIgnoreCase("nn"))
    val aggs =
      Seq(sum(col("cnt")).as("cnt"), sum(col("vsum")).cast(SumType).as("vsum")) ++
        (if (hasNn) Seq(sum(col("nn")).as("nn")) else Nil) ++
        Seq(min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
    partials
      .groupBy("metric", grain.col)
      .agg(aggs.head, aggs.tail: _*)
      // zero-count groups are retraction TOMBSTONES (every source row of
      // the group was deleted) — logically absent; compact() folds them
      // away physically
      .where(col("cnt") > 0)
  }

  /** DELTA-COMPENSATED content of a STALE classic view — the
    * lambda-architecture read path: when the view's stamp lags the
    * source's current version over an appended gap (no directory of the
    * stamped version went missing), the current rollup is exactly the
    * stored partials merged with the GAP's delta partials
    * (count/sum/min/max are all insert-monotone monoids — only
    * retraction needs the refresh machinery), so a reader serves fresh
    * answers at O(partials + Δ) without waiting for the refresh. None
    * when compensation is unsound: the gap churned or compacted rows,
    * the baseline manifest was vacuumed, or the view has no stamp yet;
    * an already-fresh view returns the plain read. */
  def compensatedRead(spark: SparkSession, srcRoot: String,
                      viewRoot: String, grain: Grain = Day): Option[DataFrame] =
    compensatedWith(spark, srcRoot, viewRoot, grain)(read(spark, viewRoot, grain)) {
      delta =>
        val stored = SnapshotStore.read(spark, viewRoot)
        val deltaPartials = ClassicSpec.fold(ClassicSpec.bucketed(delta, grain), grain)
        // a pre-nn legacy store compensates in ITS shape (avg declines
        // there until a refresh migrates; every other monoid merges unchanged)
        merged(
          stored.unionByName(
            if (stored.columns.exists(_.equalsIgnoreCase("nn"))) deltaPartials
            else deltaPartials.drop("nn")),
          grain)
    }

  /** The compensated read of a view this engine maintains: None without
    * a stamp or unless the source gap since it is appended, `fresh` when
    * the view is current, else `stale` over the gap's appended rows. */
  private[sources] def compensatedWith(spark: SparkSession, srcRoot: String,
                                       viewRoot: String, grain: Grain)(
      fresh: => DataFrame)(stale: DataFrame => DataFrame): Option[DataFrame] = {
    requireGrain(viewRoot, grain, "compensatedRead")
    val from = SnapshotStore.lastEpoch(viewRoot).map(_.toInt).getOrElse(return None)
    val srcCur = SnapshotStore.currentVersion(srcRoot)
    if (srcCur < from) return None
    SnapshotStore.gap(spark, srcRoot, from, srcCur) match {
      case Gap.Unmoved     => Some(fresh)
      case a: Gap.Appended => Some(stale(a.rows()))
      case _               => None
    }
  }

  /** Fold the accumulated partial rows down to one row per (metric,
    * bucket), published as a view compaction — bounds the merge cost of
    * [[read]] after many refreshes. Logical content (and the resume
    * stamp) are unchanged. */
  def compact(spark: SparkSession, viewRoot: String,
              grain: Grain = Day): Int = {
    requireGrain(viewRoot, grain, "compact")
    SnapshotStore.compactWith(read(spark, viewRoot, grain), viewRoot)
  }
}
