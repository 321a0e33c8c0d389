package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TrendParams

/** One retained sample of the canonical timeseries relation (used by the
  * faithful gap-decimation operator, which needs a typed sequential scan). */
final case class Sample(metric: String, e: Long, value: Double, event_id: Long)

/** One EWMA output point (see [[TrendOps.ewma]]). */
final case class EwmaPoint(metric: String, e: Long, value: Double, ewma: Double)

/** One Holt (double-exponential) smoothing point ([[TrendOps.holt]]):
  * smoothed level, trend estimate, and the one-step-ahead forecast
  * `level + trend` the next sample will be judged against. */
final case class HoltPoint(metric: String, e: Long, value: Double,
                           level: Double, trend: Double, forecast: Double)

/** Per-(metric, time-chunk) affine summary of the EWMA recurrence (see
  * [[TrendOps.ewmaChunked]]): running the chunk's rows from incoming state
  * `s` ends at `a·s + b`; `bseed` is the end state when the chunk's first
  * row SEEDS the recurrence (the metric's first chunk). */
final case class EwmaChunkSummary(
    metric: String, c: Long, a: Double, b: Double, bseed: Double)

/** Carry-in state for one (metric, chunk): `hasCarry = false` marks the
  * metric's first chunk (seed mode — no predecessor state). */
final case class EwmaCarry(metric: String, c: Long, carry: Double, hasCarry: Boolean)

/** A series row tagged with its time chunk (internal to [[TrendOps.ewmaChunked]]). */
final case class ChunkedSample(
    metric: String, c: Long, e: Long, value: Double, event_id: Long)

/** [[ChunkedSample]] joined with its chunk's carry-in. */
final case class CarriedSample(
    metric: String, c: Long, e: Long, value: Double, event_id: Long,
    carry: Double, hasCarry: Boolean)

/** Batch trend operators — the analytic core of the reference re-expressed
  * as declarative Spark plans over the canonical series relation
  * `(event_id, user_id, metric, e, value, props)` (epoch-second `e`).
  *
  * Scale posture (100 TB):
  *  - Per-metric anchors (`max(e)`) are computed with a map-side-combined
  *    `groupBy(metric)` whose result is tiny (one row per metric) and is
  *    **broadcast** back — the big fact table is never shuffled to learn its
  *    own max. No driver `.collect()` anywhere on the data path.
  *  - All aggregates are hash aggregates over (metric[, band/bucket]) with
  *    partial aggregation; arg-extremes use lexicographic `min/max(struct)`
  *    (codegen'd, one pass) instead of per-group sorts.
  *  - The only sort-based ops are the ones whose semantics *are* sequential
  *    (rolling last-N, sessionization, faithful decimation); those partition
  *    by their natural key (metric / user) before sorting.
  */
object TrendOps {

  /** Per-metric anchor = ts of the newest sample — the reference anchors its
    * day bins at the data max, NOT the wall clock (trend-o-meter:18). */
  def anchors(series: DataFrame): DataFrame =
    series.groupBy("metric").agg(max("e").as("anchor_e"))

  /** Attach the per-metric anchor via broadcast join (tiny dimension). */
  def withAnchor(series: DataFrame): DataFrame =
    series.join(broadcast(anchors(series)), "metric")

  /** Band assignment: the *smallest* configured day bin whose trailing window
    * contains the sample → bands are disjoint contiguous slices, matching the
    * reference's single-pass slicing (trend-o-meter:22-33, despite the
    * "minMaxSince" name — see SURVEY §2.3 A2). NULL beyond the largest bin.
    *
    * Boundary semantics: strict `e > anchor − bin·86400`, so a sample lying
    * EXACTLY on a band boundary belongs to the larger (older) bin; the
    * reference's `ts < threshold` slicing keeps it in the smaller bin. The
    * oracle SQL uses the same strict `>`, so the gate pins OUR semantics —
    * an intentional divergence recorded in SURVEY §7 hard-parts. */
  def bandExpr(e: Column, anchor: Column, dayBins: Seq[Int]): Column =
    dayBins.sorted.reverse.foldLeft(lit(null).cast("int")) { (older, b) =>
      when(e > anchor - lit(b.toLong * 86400L), lit(b)).otherwise(older)
    }

  /** A3: the completeness gate shared by every extents variant —
    * `ceil(span_hours) > minDataHoursToRenderBin` (trend-o-meter:59). One
    * definition so the three flagship variants cannot silently diverge. */
  private def isComplete(firstE: Column, lastE: Column, p: TrendParams): Column =
    (ceil((lastE - firstE) / lit(3600.0)) > lit(p.minDataHoursToRenderBin)).as("is_complete")

  /** A1: argmin/argmax over a series, whole-tuple result (trend-o-meter:11-12).
    * Sentinel-free: lexicographic `min/max(struct(value, e))` keeps the
    * extreme value and, among ties, a deterministic ts (min ts for min,
    * max ts for max) — the reference's "first-seen wins" is order-dependent
    * and not reproducible in a parallel engine, so our semantics pin the tie
    * on ts instead (documented divergence, SURVEY §7). */
  def argMinMax(series: DataFrame): DataFrame =
    series
      .groupBy("metric")
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("value"), col("e"))).as("mn"),
        max(struct(col("value"), col("e"))).as("mx"))
      .select(
        col("metric"), col("n"),
        col("mn.value").as("min_val"), col("mn.e").as("min_ts"),
        col("mx.value").as("max_val"), col("mx.e").as("max_ts"))

  /** A2 + A3 — the flagship: banded day-bin extents with completeness.
    *
    * Two-phase plan (trend-o-meter:17-64): (1) per-metric anchor broadcast;
    * (2) disjoint-band assignment + single hash aggregate per (metric, band)
    * producing argmin/argmax tuples, slice length, span, and the A3
    * completeness gate (`ceil(span_hours) > minDataHoursToRenderBin`,
    * trend-o-meter:59). The reference's leftover-band `+1` skip (:36-38) is a
    * bug we do NOT replicate (SURVEY §7). */
  def bandedExtents(series: DataFrame, p: TrendParams = TrendParams.default): DataFrame =
    withAnchor(series)
      .withColumn("day_bin", bandExpr(col("e"), col("anchor_e"), p.dayBins))
      .where(col("day_bin").isNotNull)
      .groupBy("metric", "day_bin")
      .agg(
        count(lit(1)).as("slice_len"),
        min(struct(col("value"), col("e"))).as("mn"),
        max(struct(col("value"), col("e"))).as("mx"),
        min("e").as("first_e"),
        max("e").as("last_e"))
      .select(
        col("metric"), col("day_bin"), col("slice_len"),
        col("mn.value").as("min_val"), col("mn.e").as("min_ts"),
        col("mx.value").as("max_val"), col("mx.e").as("max_ts"),
        col("first_e"), col("last_e"),
        isComplete(col("first_e"), col("last_e"), p))

  /** A2 cumulative variant: the semantics the reference's *name*
    * (`minMaxSince`, trend-o-meter:154) promises but its code doesn't do —
    * each day-bin covers the FULL trailing window (bin 3d includes bin 1d's
    * samples), so a sample contributes to every bin whose window contains it
    * (SURVEY §7 hard-parts: expose both). Explode-over-bins + the same hash
    * aggregate; input grows only ×|bins|. */
  def bandedExtentsCumulative(series: DataFrame, p: TrendParams = TrendParams.default): DataFrame = {
    val bins = lit(p.dayBins.toArray)
    withAnchor(series)
      .withColumn("day_bin",
        explode(filter(bins, b => col("e") > col("anchor_e") - b.cast("long") * 86400L)))
      .groupBy("metric", "day_bin")
      .agg(
        count(lit(1)).as("slice_len"),
        min(struct(col("value"), col("e"))).as("mn"),
        max(struct(col("value"), col("e"))).as("mx"),
        min("e").as("first_e"),
        max("e").as("last_e"))
      .select(
        col("metric"), col("day_bin"), col("slice_len"),
        col("mn.value").as("min_val"), col("mn.e").as("min_ts"),
        col("mx.value").as("max_val"), col("mx.e").as("max_ts"),
        col("first_e"), col("last_e"),
        isComplete(col("first_e"), col("last_e"), p))
  }

  /** A2 via the fused single-pass [[ExtentAggregator]] — identical output
    * contract to [[bandedExtents]] (shares its oracle), but one aggregate
    * buffer per (metric, band) instead of five expressions: the UDAF
    * extension point exercised on the flagship. */
  def bandedExtentsFused(series: DataFrame, p: TrendParams = TrendParams.default): DataFrame = {
    val extent = udaf(ExtentAggregator,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    withAnchor(series)
      .withColumn("day_bin", bandExpr(col("e"), col("anchor_e"), p.dayBins))
      .where(col("day_bin").isNotNull)
      .groupBy("metric", "day_bin")
      .agg(extent(col("value"), col("e")).as("x"))
      .select(
        col("metric"), col("day_bin"),
        col("x.slice_len").as("slice_len"),
        col("x.min_val").as("min_val"), col("x.min_ts").as("min_ts"),
        col("x.max_val").as("max_val"), col("x.max_ts").as("max_ts"),
        col("x.first_e").as("first_e"), col("x.last_e").as("last_e"),
        isComplete(col("x.first_e"), col("x.last_e"), p))
  }

  /** A5: "current value" = mean of the newest N samples per metric
    * (trend-o-meter:369-371; the reference's `length−1` quirk is a documented
    * bug we don't replicate). Exact-decimal sum keeps the mean deterministic
    * under parallel reduction. */
  def rollingMean(series: DataFrame, n: Int): DataFrame = {
    val newestFirst =
      Window.partitionBy("metric").orderBy(col("e").desc, col("event_id").desc)
    series
      .withColumn("rn", row_number().over(newestFirst))
      .where(col("rn") <= n)
      .groupBy("metric")
      .agg(
        count(lit(1)).as("n_samples"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      .withColumn("mean_val", col("sum_val") / col("n_samples"))
  }

  /** F1 (bucketized): keep the newest sample per (metric, fixed time bucket)
    * — the oracle-checkable approximation of the reference's anchored-gap
    * decimation (trend-o-meter:296-310); see [[decimateFaithful]] for the
    * exact stateful-scan semantics. Pure hash aggregate: scales. */
  def decimateBucketized(series: DataFrame, gapSeconds: Long): DataFrame =
    series
      .withColumn("bucket", floor(col("e") / lit(gapSeconds.toDouble)).cast("long"))
      .groupBy("metric", "bucket")
      .agg(max(struct(col("e"), col("event_id"), col("value"))).as("kept"))
      .select(
        col("metric"),
        (col("bucket") * gapSeconds).as("bucket_start"),
        col("kept.e").as("e"),
        col("kept.event_id").as("event_id"),
        col("kept.value").as("value"))

  /** F1 (faithful): the reference's anchored-gap decimation — scan
    * newest→oldest per metric, keep a sample iff it is strictly more than
    * `gapSeconds` (`>`, matching `Math.abs(...) > timeBetweenSamples`) from
    * the last *kept* sample (trend-o-meter:296-310). Inherently sequential
    * per metric, so: shuffle by metric, **external sort within partitions**
    * (no in-memory group materialization), then a linear scan carrying one
    * `timeMark` per metric run.
    *
    * SKEW CONTRACT: because the anchored-gap recurrence cannot split a
    * metric's timeline (each kept/dropped decision depends on the
    * previous KEPT sample), max parallelism equals metric cardinality —
    * one dominant metric at 100 TB means one long task (timed by the
    * `decimate_faithful` leg of ScaleGate's `hot_metric` row, which
    * collapses the input to a single metric). That is intrinsic to the semantics, not the plan.
    * The scale paths when exact anchored-gap is not required: the
    * bucketized [[decimateBucketized]] (embarrassingly parallel, the
    * oracle form) or the incremental [[graft.streaming.StreamOps
    * .decimateStream]] (state is one timeMark per metric; arrival-ordered,
    * so a backfilled metric processes as it streams). */
  def decimateFaithful(series: DataFrame, gapSeconds: Double): Dataset[Sample] = {
    val spark = series.sparkSession
    import spark.implicits._
    series
      .select(col("metric"), col("e"), col("value"), col("event_id"))
      .as[Sample]
      .repartition(col("metric"))
      .sortWithinPartitions(col("metric"), col("e").desc, col("event_id").desc)
      .mapPartitions { it =>
        var curMetric: String = null
        var seeded = false
        var timeMark = 0d
        it.flatMap { s =>
          if (s.metric != curMetric) { curMetric = s.metric; seeded = false }
          if (!seeded || math.abs(s.e - timeMark) > gapSeconds) {
            seeded = true
            timeMark = s.e.toDouble
            Some(s)
          } else None
        }
      }
  }

  /** M3: retention cull — drop samples older than the horizon behind the
    * per-metric anchor (trend-o-meter:421-435, expressed as the *intended*
    * filter semantics rather than the 1-per-message eviction loop). */
  def retentionCull(series: DataFrame, retentionSeconds: Long): DataFrame =
    withAnchor(series)
      .where(col("e") > col("anchor_e") - lit(retentionSeconds))
      .drop("anchor_e")

  /** A6 (batch analogue): per-metric fixed-window message/byte rates
    * (trend-o-meter:459-519). Bytes = payload length, matching the
    * reference's byte counters; rate denominators are the window width.
    *
    * @param minFillRatio the reference's half-full render gate
    *   (trend-o-meter:463: render only when the window has data in more
    *   than `ratio × windowSeconds` distinct seconds). 0 = no gate.
    */
  def rateMetrics(series: DataFrame, windowSeconds: Long,
                  minFillRatio: Double = 0.0): DataFrame = {
    val rates = series
      .withColumn("w_start",
        (floor(col("e") / lit(windowSeconds.toDouble)).cast("long") * windowSeconds))
      .groupBy("metric", "w_start")
      .agg(
        count(lit(1)).as("msgs"),
        // octet_length, not length: the contract counts BYTES on the wire
        // and the two diverge on any non-ASCII payload.
        sum(octet_length(col("props"))).as("bytes"),
        countDistinct(col("e")).as("filled_secs"))
      .withColumn("msgs_per_sec", col("msgs") / lit(windowSeconds.toDouble))
      .withColumn("bytes_per_sec", col("bytes") / lit(windowSeconds.toDouble))
    (if (minFillRatio > 0.0)
       rates.where(col("filled_secs") > lit(windowSeconds * minFillRatio))
     else rates).drop("filled_secs")
  }

  /** A4 (batch analogue): micro-batch mean — tumbling-window per-metric mean
    * (trend-o-meter:391,400-406: "average everything buffered since the last
    * processed sample"; our batch = fixed window). Decimal-exact mean. */
  def microBatchMean(series: DataFrame, widthSeconds: Long): DataFrame =
    series
      .withColumn("w_start",
        (floor(col("e") / lit(widthSeconds.toDouble)).cast("long") * widthSeconds))
      .groupBy("metric", "w_start")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_val"))
      .withColumn("mean_val", col("sum_val") / col("n"))

  /** Sketch aggregates — the 100 TB path for cardinality/quantile questions:
    * HLL++ distinct counts and GK approximate percentiles are bounded-memory
    * and mergeable (exact counterparts computed alongside for validation;
    * at real scale only the sketches run).
    *
    * The sketch and exact halves run as SEPARATE aggregates joined on the
    * tiny per-metric result: mixing `countDistinct` (Expand-based) with
    * object aggregates (percentile buffers) in one Aggregate degenerates to
    * a sort-based plan — measured 5× slower than the split form. */
  def sketchStats(series: DataFrame, rsd: Double = 0.05): DataFrame = {
    val sketches = series
      .groupBy("metric")
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_approx"))
    val exact = series
      .groupBy("metric")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        expr("percentile(value, 0.5)").as("p50_exact"))
    sketches.join(exact, "metric")
      .select("metric", "approx_users", "exact_users", "p50_approx", "p50_exact")
  }

  /** Exponentially-weighted moving average per metric: the sequential
    * recurrence `ewma = α·x + (1−α)·prev` scanned oldest→newest. Like
    * [[decimateFaithful]] this is inherently sequential per metric —
    * shuffle by metric, external in-partition sort, one linear scan. The
    * floating-point recurrence is still oracle-checked: a DuckDB recursive
    * CTE replays it one series position per iteration, and both sides
    * evaluate the identical double expression in the identical order, so
    * the match is bit-exact.
    *
    * SKEW CONTRACT: same as [[decimateFaithful]] — the recurrence cannot
    * split a metric's timeline, so max parallelism equals metric
    * cardinality and one hot metric means one long task (the `ewma` leg of
    * ScaleGate's `hot_metric` row). The 100 TB paths for a hot metric are
    * the batch [[ewmaChunked]] (parallel-in-time carry composition, the
    * `ewma_chunked` leg, hard-oracled by `a14_ewma_chunked`) and the
    * incremental [[graft.streaming.StreamOps.ewmaStream]] twin: O(1)
    * state per metric, cost amortized over arrival instead of one
    * monolithic sort+scan (hard-oracled by `stream_ewma_parity`). */
  def ewma(series: DataFrame, alpha: Double): Dataset[EwmaPoint] = {
    val spark = series.sparkSession
    import spark.implicits._
    series
      .select(col("metric"), col("e"), col("value"), col("event_id"))
      .as[Sample]
      .repartition(col("metric"))
      .sortWithinPartitions(col("metric"), col("e"), col("event_id"))
      .mapPartitions { it =>
        var curMetric: String = null
        var prev = 0d
        var seeded = false
        it.map { s =>
          if (s.metric != curMetric) { curMetric = s.metric; seeded = false }
          val v = if (seeded) alpha * s.value + (1 - alpha) * prev else s.value
          prev = v
          seeded = true
          EwmaPoint(s.metric, s.e, s.value, v)
        }
      }
  }

  /** Holt double-exponential smoothing (level + linear trend) — the
    * forecasting step up from [[ewma]] when a series drifts: EWMA lags a
    * trending signal by design; Holt carries an explicit trend state so
    * the one-step forecast `level + trend` tracks drift.
    *
    *   level₁ = x₁, trend₁ = 0
    *   levelₜ = α·xₜ + (1−α)·(levelₜ₋₁ + trendₜ₋₁)
    *   trendₜ = β·(levelₜ − levelₜ₋₁) + (1−β)·trendₜ₋₁
    *
    * Same execution contract as [[ewma]]: one pinned-order pass per
    * metric (parallelism = metric cardinality), doubles combined in a
    * fixed order so the recursive-CTE oracle replaying the identical
    * expression tree is bit-exact. Hot-metric scale path: the recurrence
    * is linear in (level, trend), so the [[ewmaChunked]] parallel-scan
    * decomposition lifts to a 2×2 affine fold — at the price of
    * re-associated matrix products (1e-9-parity, not bit-parity), which
    * is why the chunked-Holt twin is a deliberate non-goal while the
    * scalar chunked family already demonstrates the technique. */
  def holt(series: DataFrame, alpha: Double, beta: Double): Dataset[HoltPoint] = {
    val spark = series.sparkSession
    import spark.implicits._
    series
      .select(col("metric"), col("e"), col("value"), col("event_id"))
      .as[Sample]
      .repartition(col("metric"))
      .sortWithinPartitions(col("metric"), col("e"), col("event_id"))
      .mapPartitions { it =>
        var curMetric: String = null
        var prevL = 0d
        var prevB = 0d
        var seeded = false
        it.map { s =>
          if (s.metric != curMetric) { curMetric = s.metric; seeded = false }
          val (l, b) =
            if (!seeded) (s.value, 0d)
            else {
              val l2 = alpha * s.value + (1 - alpha) * (prevL + prevB)
              (l2, beta * (l2 - prevL) + (1 - beta) * prevB)
            }
          prevL = l; prevB = b; seeded = true
          HoltPoint(s.metric, s.e, s.value, l, b, l + b)
        }
      }
  }

  /** Time-chunked EWMA — the batch 100 TB path for a HOT metric, lifting
    * [[ewma]]'s skew contract (max parallelism = metric cardinality) to
    * parallelism = metric × time-chunk cardinality via a classic
    * parallel-scan decomposition of the linear recurrence:
    *
    *  1. '''Summaries''' (parallel over (metric, chunk), chunk =
    *     ⌊e/chunkSpanSeconds⌋): one pinned-order pass per chunk folds the
    *     affine transform of the recurrence — running the chunk from
    *     incoming state `s` ends at `a·s + b` with
    *     `a = Π(1−α)` and `b = fold(α·x + (1−α)·b, b₀=0)`, plus `bseed`,
    *     the end state when the chunk's first row seeds (s₁ = x₁).
    *  2. '''Carry combine''' (per metric, over CHUNK SUMMARIES only —
    *     thousands of rows where the data has billions): ordered fold
    *     `state ← a·state + b` (first chunk: `bseed`) emits each chunk's
    *     carry-in.
    *  3. '''Finalize''' (parallel over (metric, chunk)): re-fold each
    *     chunk's rows from its carry-in (`α·x + (1−α)·carry` on the first
    *     row; seed mode for the metric's first chunk) — bit-identical to
    *     plain [[ewma]] for single-chunk metrics.
    *
    * Every double expression has a pinned evaluation order, so the oracle
    * (a DuckDB recursive-CTE replay of the SAME three passes in the SAME
    * order) matches bit-exactly. The chunk boundary changes association
    * (`a·s + b` vs the row-by-row fold), so results differ from [[ewma]]
    * by last-ulp rounding only — asserted ≤1e-9 relative in the spec; the
    * semantics are the chunked order itself, exactly replayed by the
    * oracle. The carry relation is summary-sized, so pass 3's join
    * broadcasts and the pass costs one fact shuffle on (metric, c). */
  def ewmaChunked(series: DataFrame, alpha: Double,
                  chunkSpanSeconds: Long = 86400L): Dataset[EwmaPoint] = {
    val spark = series.sparkSession
    import spark.implicits._
    val rows = series
      .select(col("metric"),
        floor(col("e") / chunkSpanSeconds).cast("long").as("c"),
        col("e"), col("value"), col("event_id"))
      .as[ChunkedSample]

    // Pass 1: per-(metric, chunk) affine summaries, pinned (e, event_id) order.
    val summaries = rows
      .repartition(col("metric"), col("c"))
      .sortWithinPartitions(col("metric"), col("c"), col("e"), col("event_id"))
      .mapPartitions { it =>
        new Iterator[EwmaChunkSummary] {
          private val in = it.buffered
          override def hasNext: Boolean = in.hasNext
          override def next(): EwmaChunkSummary = {
            val head = in.next()
            var a = 1.0 * (1 - alpha)
            var b = alpha * head.value + (1 - alpha) * 0.0
            var bseed = head.value
            while (in.hasNext && in.head.metric == head.metric && in.head.c == head.c) {
              val s = in.next()
              a = a * (1 - alpha)
              b = alpha * s.value + (1 - alpha) * b
              bseed = alpha * s.value + (1 - alpha) * bseed
            }
            EwmaChunkSummary(head.metric, head.c, a, b, bseed)
          }
        }
      }

    // Pass 2: per-metric ordered fold over the tiny summary relation.
    val carries = summaries
      .repartition(col("metric"))
      .sortWithinPartitions(col("metric"), col("c"))
      .mapPartitions { it =>
        var curMetric: String = null
        var state = 0d
        var seeded = false
        it.map { s =>
          if (s.metric != curMetric) { curMetric = s.metric; seeded = false }
          val out = EwmaCarry(s.metric, s.c, state, seeded)
          state = if (seeded) s.a * state + s.b else s.bseed
          seeded = true
          out
        }
      }

    // Pass 3: re-fold each chunk from its carry-in. The tiny carry relation
    // broadcasts (Catalyst picks BHJ from its stats), so the join moves no
    // fact rows; the explicit repartition below is the ONE fact shuffle of
    // this pass and guarantees chunk-contiguous partitions regardless of
    // which join strategy was chosen.
    rows.toDF()
      .join(carries.toDF(), Seq("metric", "c"))
      .as[CarriedSample]
      .repartition(col("metric"), col("c"))
      .sortWithinPartitions(col("metric"), col("c"), col("e"), col("event_id"))
      .mapPartitions { it =>
        var curMetric: String = null
        var curChunk = Long.MinValue
        var prev = 0d
        var inChunk = false
        it.map { s =>
          if (s.metric != curMetric || s.c != curChunk) {
            curMetric = s.metric; curChunk = s.c; inChunk = false
          }
          val v =
            if (inChunk) alpha * s.value + (1 - alpha) * prev
            else if (s.hasCarry) alpha * s.value + (1 - alpha) * s.carry
            else s.value
          prev = v
          inChunk = true
          EwmaPoint(s.metric, s.e, s.value, v)
        }
      }
  }

  /** Pairwise Pearson correlation matrix across metrics, aligned on
    * `bucketSeconds` bucket sums. Determinism: ALL aggregates are exact
    * decimal sums; doubles appear once, at the final combine. Pairs sharing
    * <2 buckets or with zero variance have no defined correlation and are
    * filtered BEFORE any division (ANSI 0/0 guard).
    *
    * This operator is O(m²) in the distinct-metric count by construction —
    * every metric pair sharing a bucket becomes a row — so the width is an
    * ENFORCED API contract, not a doc note: more than `maxMetrics` distinct
    * metrics throws before any pair work starts. The default (64 metrics =
    * 2016 pairs) is display-scale; a wider screen wants a pre-filtered
    * metric set, chosen deliberately via the parameter. The guard costs one
    * tiny count-distinct job, negligible next to the pair join it protects;
    * `maxMetrics <= 0` opts out of BOTH the cap and that eager job — for
    * callers that already bounded the metric set themselves (round-6
    * ADVICE).
    */
  def corrMatrix(series: DataFrame, bucketSeconds: Long = 60L,
                 maxMetrics: Int = 64): DataFrame = {
    if (maxMetrics > 0) {
      val m = series.select(countDistinct(col("metric"))).head().getLong(0)
      require(m <= maxMetrics,
        s"corrMatrix is O(m^2) in distinct metrics: got $m > maxMetrics=$maxMetrics. " +
          "Pre-filter the metric set, raise maxMetrics deliberately, or pass " +
          "maxMetrics <= 0 to opt out for an already-bounded metric set.")
    }
    val b = series
      .withColumn("bucket",
        floor(col("e") / lit(bucketSeconds.toDouble)).cast("long") * bucketSeconds)
      .groupBy("metric", "bucket")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("x"))
    val l = b.select(col("metric").as("ma"), col("bucket"), col("x").as("xa"))
    val r = b.select(col("metric").as("mb"), col("bucket"), col("x").as("xb"))
    l.join(r, Seq("bucket")).where(col("ma") < col("mb"))
      .groupBy("ma", "mb")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("xa").cast("double").as("sx"),
        sum("xb").cast("double").as("sy"),
        sum(col("xa") * col("xb")).cast("double").as("sxy"),
        sum(col("xa") * col("xa")).cast("double").as("sxx"),
        sum(col("xb") * col("xb")).cast("double").as("syy"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("vy", col("syy") - col("sy") * col("sy") / col("n"))
      .where(col("n") >= 2 && col("vx") > 0 && col("vy") > 0)
      .select(col("ma"), col("mb"), col("n").cast("long").as("n_buckets"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt(col("vx") * col("vy"))).as("corr"))
  }

  /** Lag-k autocorrelation screen per metric, k = 1..maxLag — the
    * periodicity/persistence companion to [[corrMatrix]] (same exact-decimal
    * sums → one final double combine, token-identical on both compare
    * sides). Pairs are (x(t−k), x(t)) over the (e, event_id) total order;
    * each lag's Pearson r is computed from six exact DECIMAL aggregates
    * (n, Σxp, Σx, Σxp·x, Σxp², Σx²) cast to double only for the final
    * combine, with the a25 ANSI guards (n ≥ 2, positive variances) filtered
    * BEFORE any division. maxLag branches share one window; each branch is
    * a per-metric hash aggregate after the lag window — the same skew
    * contract as the other per-metric windows (a22/a27). */
  def autocorr(series: DataFrame, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    val vd = col("value").cast("decimal(18,2)")
    // All lags ride ONE window pass (one shuffle + one in-partition sort);
    // stack() unpivots to (lag, xp) rows, and the (metric, lag) aggregate
    // reuses the metric hash partitioning — no further exchange. Exact
    // decimal sums make the stacked accumulation order irrelevant.
    val withLags = series
      .withColumn("x", vd)
      .select(col("metric") +: col("x") +:
        (1 to maxLag).map(k => lag(col("x"), k).over(w).as(s"xp$k")): _*)
    withLags
      .select(col("metric"), col("x"),
        expr(s"stack($maxLag, ${(1 to maxLag).map(k => s"$k, xp$k").mkString(", ")})")
          .as(Seq("lag", "xp")))
      .where(col("xp").isNotNull)
      .groupBy("metric", "lag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("xp").cast("double").as("sx"),
        sum("x").cast("double").as("sy"),
        sum(col("xp") * col("x")).cast("double").as("sxy"),
        sum(col("xp") * col("xp")).cast("double").as("sxx"),
        sum(col("x") * col("x")).cast("double").as("syy"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("vy", col("syy") - col("sy") * col("sy") / col("n"))
      .where(col("n") >= 2 && col("vx") > 0 && col("vy") > 0)
      .select(col("metric"), col("lag"), col("n").cast("long").as("n_pairs"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt(col("vx") * col("vy"))).as("acf"))
  }

  /** Top movers: the K largest day-over-day changes in daily mean across
    * all metrics — the headline "what moved" panel of a trend dashboard.
    * Daily means come from exact decimal sums (one double division each,
    * the a4/a24 contract); deltas compare only ADJACENT days (a gap day
    * yields no pair rather than a spurious multi-day "move"). Global
    * top-K orders by |delta| with a (metric, day) tie-break, so WHICH
    * rows survive the limit is engine-independent; the plan is a
    * TakeOrdered over day-grain aggregates — no global sort of facts. */
  def topMovers(series: DataFrame, topK: Int = 10): DataFrame = {
    val daily = series
      .withColumn("day", floor(col("e") / lit(86400.0)).cast("long") * 86400)
      .groupBy("metric", "day")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .withColumn("mean_val", col("sv").cast("double") / col("n").cast("double"))
    val w = Window.partitionBy("metric").orderBy("day")
    daily
      .withColumn("prev_mean", lag(col("mean_val"), 1).over(w))
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .where(col("prev_day") === col("day") - 86400)
      .withColumn("delta", col("mean_val") - col("prev_mean"))
      .select(col("metric"), col("day"), col("mean_val"),
        col("prev_mean"), col("delta"))
      .orderBy(abs(col("delta")).desc, col("metric"), col("day"))
      .limit(topK)
  }

  /** The folded k·1.4826 threshold constant — computed ONCE in Scala double
    * arithmetic and shared verbatim (via its round-trip decimal string) with
    * the DuckDB oracle, so oracle parity is structural for ANY k, not a
    * per-constant coincidence of the two engines' folding orders. */
  def madThreshold(k: Double): Double = k * 1.4826

  /** Robust (median/MAD) outlier screen — the heavy-tail-safe twin of the
    * 3σ z-score (a16): a single wild point inflates mean and σ enough to
    * mask itself, but barely moves the median or the median absolute
    * deviation. Flags rows with |x − med| > k·1.4826·mad (1.4826 = the
    * Gaussian MAD→σ consistency constant).
    *
    * Determinism: med and mad are PICKED order statistics — the lower
    * median, rank ⌈n/2⌉ in (value, event_id) order — not interpolated
    * quantiles, so both are exact decimal data values and every compared
    * quantity is exact until the one final double comparison (identical
    * expression both engines). Two per-metric ranking windows (same skew
    * class as the other per-metric windows); medians join back broadcast.
    * Groups with mad = 0 (over half the samples identical) have no robust
    * scale and are excluded before the comparison, like a25's guards. */
  def madOutliers(series: DataFrame, k: Double = 3.0): DataFrame = {
    val vd = col("value").cast("decimal(18,2)")
    val byM = Window.partitionBy("metric")
    val q = series.select(col("metric"), col("event_id"), col("e"),
      col("value"), vd.as("__vd"))
    val wv = Window.partitionBy("metric").orderBy(col("__vd"), col("event_id"))
    val med = q
      .withColumn("__rn", row_number().over(wv))
      .withColumn("__n", count(lit(1)).over(byM))
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col("metric"), col("__vd").as("__med"))
    val dev = q.join(broadcast(med), Seq("metric"))
      .withColumn("__dev", abs(col("__vd") - col("__med")))
    val wd = Window.partitionBy("metric").orderBy(col("__dev"), col("event_id"))
    val mad = dev
      .withColumn("__rn", row_number().over(wd))
      .withColumn("__n", count(lit(1)).over(byM))
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col("metric"), col("__dev").as("__mad"))
    dev.join(broadcast(mad), Seq("metric"))
      .where(col("__mad") > 0 &&
        col("__dev").cast("double") >
          lit(madThreshold(k)) * col("__mad").cast("double"))
      .select(col("metric"), col("event_id"), col("e"), col("value"),
        col("__med").cast("double").as("med"),
        col("__mad").cast("double").as("mad"))
  }

  /** Time-weighted mean per metric: each sample weighted by its holding
    * interval (time until the next sample) — the correct average for
    * irregularly-sampled series, where the plain mean over-weights bursts.
    * The last sample of each series has no interval and is excluded.
    * Exact decimal weighted sums keep the result merge-order independent. */
  def timeWeightedMean(series: DataFrame): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    series
      .withColumn("next_e", lead("e", 1).over(w))
      .where(col("next_e").isNotNull)
      .withColumn("dt", (col("next_e") - col("e")).cast("decimal(18,0)"))
      .groupBy("metric")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt")).cast("double").as("total_secs"),
        sum(col("value").cast("decimal(18,2)") * col("dt")).cast("double").as("weighted_sum"))
      .withColumn("twa", col("weighted_sum") / col("total_secs"))
  }

  /** Resample to a regular `stepSeconds` grid with forward fill: newest
    * sample per (metric, bucket) lands on its grid point; empty grid points
    * carry the last observation forward (null until the first sample).
    * Grid generation is per-metric `sequence` + explode — no driver loop;
    * the fill is one window scan per metric partition. */
  def resampleFfill(series: DataFrame, stepSeconds: Long): DataFrame = {
    // Span-explode instead of grid-join-then-window: each decimated
    // observation OWNS the grid points up to its successor (that is what
    // forward fill means), so the fill is decided on the COMPACT
    // observation stream (one lead() per obs) and the grid materializes
    // map-side from a sequence(). The grid never shuffles, never joins,
    // and the per-metric window sorts |observations| rows, not
    // |grid| (~20× more at the gate SF). Grid bounds are inherent: the
    // first/last grid points are the first/last observations' buckets.
    val buck = decimateBucketized(series, stepSeconds)
      .select(col("metric"), col("bucket_start").as("t"), col("value"))
    val w = Window.partitionBy("metric").orderBy("t")
    // Two-level explode bounds per-row array size: one sequence() per span
    // would materialize (gap/step) elements in a SINGLE row — a metric
    // dormant for years at a fine step is a multi-million-element unsafe
    // array (OOM / max-sequence-length failure). Chunk starts first
    // (≤ span/chunkSteps rows), then ≤ chunkSteps grid points per chunk.
    val chunkSpan = stepSeconds * RESAMPLE_CHUNK_STEPS
    buck
      .withColumn("next_t", lead("t", 1).over(w))
      .withColumn("end", coalesce(col("next_t") - stepSeconds, col("t")))
      .select(col("metric"), col("t").as("obs_t"), col("value").as("obs_v"), col("end"),
        explode(sequence(col("t"), col("end"), lit(chunkSpan))).as("c"))
      .select(col("metric"), col("obs_t"), col("obs_v"),
        explode(sequence(col("c"),
          least(col("c") + (chunkSpan - stepSeconds), col("end")),
          lit(stepSeconds))).as("t"))
      .select(col("metric"), col("t"),
        when(col("t") === col("obs_t"), col("obs_v")).as("value"),
        col("obs_v").as("filled"))
  }

  /** Per-row grid bound for the span-explode resamplers (see
    * [[resampleFfill]]): chunks of this many steps keep any one row's
    * generated array small regardless of how long a gap is. */
  private val RESAMPLE_CHUNK_STEPS = 4096L

  /** Resample to a regular grid with LINEAR interpolation: empty grid
    * points take `prev + (next − prev) · (t − t_prev)/(t_next − t_prev)`
    * between their neighboring observations (edges fall back to the nearest
    * observation). Same grid construction as [[resampleFfill]]; neighbors
    * come from two window scans (trailing last / leading first, nulls
    * skipped) — still one shuffle per metric. */
  def resampleLinear(series: DataFrame, stepSeconds: Long): DataFrame = {
    // Same span-explode shape as [[resampleFfill]]: a grid point between
    // observations i and i+1 interpolates between exactly those two, so
    // one lead() pair on the compact observation stream replaces the
    // grid-join plus the two grid-length window scans. The interp
    // expression tree is byte-identical to the previous formulation (and
    // the oracle SQL): pv + (nv − pv) · ((t − pt) / (nt − pt)) with a
    // long/long→double division — IEEE parity holds only for the exact
    // same tree. Edge fallbacks (before-first / after-last grid points)
    // are vacuous by construction: the grid spans observation buckets.
    val buck = decimateBucketized(series, stepSeconds)
      .select(col("metric"), col("bucket_start").as("t"), col("value"))
    val w = Window.partitionBy("metric").orderBy("t")
    // Same two-level chunked explode as [[resampleFfill]] (bounded per-row
    // arrays on arbitrarily long gaps).
    val chunkSpan = stepSeconds * RESAMPLE_CHUNK_STEPS
    buck
      .withColumn("nt", lead("t", 1).over(w))
      .withColumn("nv", lead("value", 1).over(w))
      .withColumn("end", coalesce(col("nt") - stepSeconds, col("t")))
      .select(col("metric"), col("t").as("pt"), col("value").as("pv"),
        col("nt"), col("nv"), col("end"),
        explode(sequence(col("t"), col("end"), lit(chunkSpan))).as("c"))
      .select(col("metric"), col("pt"), col("pv"), col("nt"), col("nv"),
        explode(sequence(col("c"),
          least(col("c") + (chunkSpan - stepSeconds), col("end")),
          lit(stepSeconds))).as("t"))
      .select(col("metric"), col("t"),
        when(col("t") === col("pt"), col("pv")).as("value"),
        when(col("t") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("t") - col("pt")) / (col("nt") - col("pt")))).as("interp"))
  }

  /** A7 (batch analogue): gap-based sessionization per user — the batch shape
    * of the reference's active-channel tracking with inactivity timeout
    * (trend-o-meter:521-525). Single shuffle+sort by user. */
  def sessionize(series: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("e"), col("event_id"))
    series
      .withColumn("prev_e", lag("e", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_e").isNull || (col("e") - col("prev_e")) > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        min("e").as("session_start"),
        max("e").as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** OHLC candlestick bars per (metric, time bucket) — the downsampled
    * rendering every trend display draws from. Open/close are the values at
    * the bucket's first/last timestamp, picked via lexicographic
    * `min/max(struct(e, value))` so timestamp ties resolve deterministically
    * (min value for open, max for close — the same agg+join-back-replicable
    * contract as A1). One hash-aggregate shuffle on (metric, bucket). */
  def ohlcBars(series: DataFrame, bucketSeconds: Long = 86400L): DataFrame =
    series
      // floor-division bucketing (not e - e % w, whose remainder follows
      // the dividend's sign): pre-epoch timestamps land in the same bucket
      // every other operator in this file assigns them to.
      .withColumn("bucket_start",
        floor(col("e") / lit(bucketSeconds.toDouble)).cast("long") * bucketSeconds)
      .groupBy("metric", "bucket_start")
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("e"), col("value"))).getField("value").as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max(struct(col("e"), col("value"))).getField("value").as("close"))

  /** Data-quality gap report: sampling intervals longer than
    * `minGapSeconds` between consecutive samples of a metric — the "where
    * did my data go" screen. One window pass per metric partition. */
  def gapReport(series: DataFrame, minGapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    series
      .withColumn("prev_e", lag("e", 1).over(w))
      .where(col("prev_e").isNotNull && col("e") - col("prev_e") > minGapSeconds)
      .select(col("metric"), col("prev_e").as("gap_start"), col("e").as("gap_end"),
        (col("e") - col("prev_e")).as("gap_secs"))
  }

  /** Flatline (stuck-sensor) runs: maximal runs of at least `minRun`
    * consecutive identical values per metric. Callers detecting "stuck
    * within sensor precision" quantize the value column first (e.g.
    * `round(value, 0)`) — the operator itself is exact equality. Run ids
    * are a change-flag cumsum: one window pass, one aggregate. */
  def flatlineRuns(series: DataFrame, minRun: Long): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    val prev = lag("value", 1).over(w)
    series
      .withColumn("chg",
        when(prev.isNull || col("value") =!= prev, 1L).otherwise(0L))
      .withColumn("run_id",
        sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("metric", "run_id")
      .agg(count(lit(1)).as("n"),
        min("e").as("run_start"), max("e").as("run_end"),
        min("value").as("value")) // all equal within a run
      .where(col("n") >= minRun)
      .drop("run_id")
  }

  /** Largest-Triangle-One-Bucket display downsampling (Steinarsson's LTOB,
    * public): per (metric, bucket) keep the point whose triangle with its
    * immediate neighbors has the largest area — the shape-preserving
    * decimation a chart renderer wants, unlike newest-wins
    * [[decimateBucketized]]. LTOB's fixed neighbors keep it one window
    * pass + one rank (LTTB anchors on the previously SELECTED point — a
    * sequential dependency that does not parallelize). Global endpoints
    * get infinite area so they always survive their bucket. */
  def ltobDownsample(series: DataFrame, bucketSeconds: Long): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    val rank = Window.partitionBy("metric", "bucket_start")
      .orderBy(col("area").desc, col("e"), col("event_id"))
    series
      .withColumn("prev_e", lag("e", 1).over(w))
      .withColumn("prev_v", lag("value", 1).over(w))
      .withColumn("next_e", lead("e", 1).over(w))
      .withColumn("next_v", lead("value", 1).over(w))
      .withColumn("area",
        when(col("prev_e").isNull || col("next_e").isNull,
          lit(Double.PositiveInfinity))
          .otherwise(abs(
            (col("prev_e") - col("next_e")) * (col("value") - col("prev_v")) -
              (col("prev_e") - col("e")) * (col("next_v") - col("prev_v")))))
      // same floor-division bucketing as [[ohlcBars]] (sign-safe)
      .withColumn("bucket_start",
        floor(col("e") / lit(bucketSeconds.toDouble)).cast("long") * bucketSeconds)
      .withColumn("rk", row_number().over(rank))
      .where(col("rk") === 1)
      .select("metric", "bucket_start", "e", "value")
  }

  /** Per-metric discrete derivative: Δvalue/Δt between consecutive samples
    * in (e, event_id) order — the rate-of-change signal behind slope
    * alerts and trend arrows. Δvalue computes in exact decimals and the
    * single division by the integer Δt happens once at the end, so the
    * double slope is bit-deterministic at any partition count. Same-second
    * successors carry no defined slope and are excluded. ONE metric-keyed
    * window pass, no joins. */
  def derivative(series: DataFrame): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    series
      .withColumn("__pv", lag(col("value").cast("decimal(18,2)"), 1).over(w))
      .withColumn("__pe", lag(col("e"), 1).over(w))
      .where(col("__pe").isNotNull && col("e") =!= col("__pe"))
      .select(col("metric"), col("event_id"), col("e"),
        ((col("value").cast("decimal(18,2)") - col("__pv")).cast("double") /
          (col("e") - col("__pe")).cast("double")).as("slope"))
  }

  /** Time-chunked CUSUM — the hot-metric scale twin of [[cusum]]. Unlike
    * [[ewmaChunked]] no replayed-order contract is needed: every quantity
    * here is EXACT decimal/integer arithmetic, which is associative, so
    * splitting the running sum at chunk boundaries changes nothing —
    * the output is bit-identical to [[cusum]] and shares its oracle
    * verbatim. Decomposition: the in-chunk running sum/rank come from a
    * (metric, chunk)-partitioned window; each chunk's carry (prior-chunk
    * row count and decimal sum) is a window over the SUMMARY relation
    * (metric-count × chunk-count rows); per-metric n/total reduce from the
    * same summaries. Carries and totals join back un-hinted (broadcast
    * while small, partitioning-compatible SMJ beyond the broadcast budget)
    * — the fact table shuffles once, on (metric, chunk). */
  def cusumChunked(series: DataFrame, threshold: Double = 50.0,
                   chunkSpanSeconds: Long = 86400L): DataFrame = {
    val thr = lit(BigDecimal(threshold).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    val rows = series
      .withColumn("__vd", col("value").cast("decimal(18,2)"))
      .withColumn("__c", floor(col("e") / chunkSpanSeconds).cast("long"))
    val sums = rows.groupBy("metric", "__c")
      .agg(count(lit(1)).as("cn"), sum("__vd").as("cs"))
    val totals = sums.groupBy("metric")
      .agg(sum("cn").as("__n"), sum("cs").as("__total"))
    val wPrior = Window.partitionBy("metric").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = sums.select(col("metric"), col("__c"),
      coalesce(sum("cn").over(wPrior), lit(0L)).as("__kOff"),
      coalesce(sum("cs").over(wPrior), lit(0).cast("decimal(18,2)")).as("__cumOff"))
    // No broadcast() hint: Catalyst broadcasts the summaries while they are
    // small (stats-driven); at a scale where metric × chunk summaries
    // outgrow the broadcast budget, the fallback SMJ on (metric, __c)
    // produces exactly the partitioning the window below needs — no extra
    // exchange in either regime, and no forced-broadcast OOM.
    val wChunk = Window.partitionBy("metric", "__c").orderBy(col("e"), col("event_id"))
    rows
      .join(carries, Seq("metric", "__c"))
      .join(totals, Seq("metric"))
      .withColumn("__k", row_number().over(wChunk).cast("long") + col("__kOff"))
      .withColumn("__cum", sum("__vd").over(wChunk) + col("__cumOff"))
      .withColumn("__scaled", col("__n") * col("__cum") - col("__k") * col("__total"))
      .select(
        col("metric"), col("event_id"), col("e"),
        (col("__scaled").cast("double") / col("__n").cast("double")).as("cusum"),
        (abs(col("__scaled")) > col("__n") * thr).as("breach"))
  }

  /** Time-chunked derivative — the hot-metric scale twin of [[derivative]];
    * exact decimal/integer slope math makes it bit-identical to the
    * sequential form (shared oracle), like [[cusumChunked]]. The only
    * cross-chunk dependency is each chunk's first row needing its
    * predecessor: the per-chunk LAST rows (a summary-sized relation,
    * lagged over PRESENT chunk ids so cross-gap pairs survive skipped
    * chunk indexes) join back as each chunk's boundary values; the
    * in-chunk lags come from a (metric, chunk) window. One fact shuffle,
    * parallelism = metric × chunk. */
  def derivativeChunked(series: DataFrame,
                        chunkSpanSeconds: Long = 86400L): DataFrame = {
    val rows = series
      .withColumn("__vd", col("value").cast("decimal(18,2)"))
      .withColumn("__c", floor(col("e") / chunkSpanSeconds).cast("long"))
      .select("metric", "event_id", "e", "__vd", "__c")
    // Per-chunk last row via lexicographic max(struct) — a map-side-combined
    // hash aggregate (only partials shuffle), not a full-fact window sort.
    // The boundary each chunk needs is the previous PRESENT chunk's last
    // row — a lag over the summary relation ordered by actual chunk ids,
    // NOT a join on __c - 1: a metric that skips a chunk index (a gap
    // longer than chunkSpanSeconds) would otherwise lose its cross-gap
    // slope and break the bit-identity contract with [[derivative]].
    val lastPerChunk = rows
      .groupBy(col("metric"), col("__c"))
      .agg(max(struct(col("e"), col("event_id"), col("__vd"))).as("__last"))
    val wChunks = Window.partitionBy("metric").orderBy("__c")
    val lasts = lastPerChunk
      .withColumn("__prev", lag(col("__last"), 1).over(wChunks))
      .where(col("__prev").isNotNull)
      .select(col("metric"), col("__c"),
        col("__prev").getField("__vd").as("__bv"),
        col("__prev").getField("e").as("__be"))
    // Un-hinted join for the same reason as [[cusumChunked]]: broadcast
    // while small, partitioning-compatible SMJ when the boundary relation
    // outgrows the broadcast budget.
    val wChunk = Window.partitionBy("metric", "__c").orderBy(col("e"), col("event_id"))
    rows
      .join(lasts, Seq("metric", "__c"), "left")
      .withColumn("__pv", coalesce(lag(col("__vd"), 1).over(wChunk), col("__bv")))
      .withColumn("__pe", coalesce(lag(col("e"), 1).over(wChunk), col("__be")))
      .where(col("__pe").isNotNull && col("e") =!= col("__pe"))
      .select(col("metric"), col("event_id"), col("e"),
        ((col("__vd") - col("__pv")).cast("double") /
          (col("e") - col("__pe")).cast("double")).as("slope"))
  }

  /** CUSUM drift detection: per-metric cumulative sum of deviations from
    * the metric's own mean, flagging points where |cusum| exceeds
    * `threshold` (in value units) — the classic changepoint screen over a
    * trend series.
    *
    * Determinism contract: the mean is never materialized as a rounded
    * division. With n = per-metric count and T = exact decimal total,
    * n·cusum_k = n·Σ_{i≤k} v_i − k·T — all integer/decimal arithmetic, so
    * the breach flag (|n·cusum_k| > n·threshold) is EXACT, and the reported
    * `cusum` double is one deterministic division at the end. Both windows
    * partition by metric — no global sort anywhere. */
  def cusum(series: DataFrame, threshold: Double = 50.0): DataFrame = {
    val byMetric = Window.partitionBy("metric")
    val wOrd = Window.partitionBy("metric").orderBy(col("e"), col("event_id"))
    val thr = lit(BigDecimal(threshold).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    series
      .withColumn("__vd", col("value").cast("decimal(18,2)"))
      .withColumn("__n", count(lit(1)).over(byMetric))
      .withColumn("__total", sum("__vd").over(byMetric))
      .withColumn("__k", row_number().over(wOrd).cast("long"))
      .withColumn("__cum", sum("__vd").over(wOrd))
      .withColumn("__scaled", col("__n") * col("__cum") - col("__k") * col("__total"))
      .select(
        col("metric"), col("event_id"), col("e"),
        (col("__scaled").cast("double") / col("__n").cast("double")).as("cusum"),
        (abs(col("__scaled")) > col("__n") * thr).as("breach"))
  }

  /** Cohort-retention matrix: users are cohorted by the day of their
    * FIRST event; for each (cohort day, day offset ≤ `maxOffsetDays`)
    * cell, count the cohort's users active that day, the cohort's size,
    * and the retention rate — the companion view to [[windowFunnel]]
    * (funnel: did they convert; retention: did they come back).
    *
    * Scale shape: one groupBy(user) with a map-side-combined day SET
    * (bounded by the horizon's day count, NOT by event count — a user's
    * million events collapse to ≤ days entries before the shuffle), the
    * cohort day read off as the set's min, offsets exploded from the
    * set, then one (cohort, offset) count. Two shuffles total, no
    * user-level join, nothing O(events) past the first map stage. */
  def cohortRetention(series: DataFrame, maxOffsetDays: Int = 30): DataFrame = {
    val perUser = series
      .select(col("user_id"), expr("e div 86400").as("day"))
      .groupBy("user_id")
      .agg(collect_set(col("day")).as("days"))
      .select(array_min(col("days")).as("cohort_day"), col("days"))
    val cells = perUser
      .select(col("cohort_day"),
        explode(col("days")).as("day"))
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .where(col("day_offset") <= maxOffsetDays)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_users"))
    val sizes = perUser.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_users"))
    cells.join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_users"),
        (col("active_users").cast("double") / col("cohort_users"))
          .as("retention"))
  }

  /** Windowed funnel: for an ordered sequence of K DISTINCT step metrics,
    * count how many users have events e₁ … e_k with non-decreasing times,
    * matching types, and t_k − t₁ ≤ `windowSeconds` — for every prefix
    * depth k (the product-analytics "reached step k" curve).
    *
    * Per-user scan is the anchor-propagation dynamic program (the
    * windowed-funnel algorithm popularized by OLAP engines): one pass
    * over the user's step events in (ts, step) order, carrying only the
    * best (latest) step-1 anchor that has reached each level — a bigger
    * anchor strictly dominates under a completion-window constraint, so
    * O(K) state finds the optimal chain without enumerating any. Ties
    * (equal-second events) chain via the (e, step_idx) sort: lower steps
    * at the same second update their level before higher steps read it,
    * and distinct step types mean one event can never serve two steps.
    *
    * Scale shape: filter to the K step types (pushed to the scan), ONE
    * shuffle on user_id, per-user state O(events-of-those-types) for the
    * sorted array and O(K) for the fold — no self-join, no K-pass
    * iteration. The K-row result aggregates with a map-side-combined
    * conditional count. (The EXISTS-of-a-chain semantics replays in SQL
    * as a K-way self-join — the oracle — whose cost is the all-chains
    * enumeration this operator exists to avoid.)
    */
  def windowFunnel(series: DataFrame, steps: Seq[String],
                   windowSeconds: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least 2 steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val spark = series.sparkSession
    import spark.implicits._
    val k = steps.size
    val stepIdx = steps.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("metric") === s, lit(i + 1)).otherwise(acc) }
    val ev = series
      .where(col("metric").isin(steps: _*))
      .select(col("user_id"), col("e"), stepIdx.as("step_idx"))
    // fold state: anchors[i] = latest step-1 time whose chain has reached
    // level i+1, or -1; updated only forward, so set levels are a prefix
    val fold =
      s"""aggregate(
         |  evs,
         |  array_repeat(-1L, $k),
         |  (acc, x) -> transform(acc, (a, i) ->
         |    CASE
         |      WHEN x.step_idx = i + 1 AND i = 0 THEN greatest(a, x.e)
         |      WHEN x.step_idx = i + 1 AND element_at(acc, i) >= 0L
         |           AND x.e - element_at(acc, i) <= ${windowSeconds}L
         |        THEN greatest(a, element_at(acc, i))
         |      ELSE a
         |    END))""".stripMargin
    val levels = ev
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("e"), col("step_idx")))).as("evs"))
      .select(col("user_id"),
        expr(s"size(filter($fold, a -> a >= 0L))").as("level"))
    funnelCounts(levels, steps)
  }

  /** Compose a per-user `(user_id, level)` relation into the funnel's
    * reporting shape `(step_idx, step, users)` — shared by the batch DP
    * above and the streaming twin's replay (whose emissions reduce to
    * the same per-user level surface). */
  def funnelCounts(levels: DataFrame, steps: Seq[String]): DataFrame = {
    val spark = levels.sparkSession
    import spark.implicits._
    val k = steps.size
    val stepRows = steps.zipWithIndex.map { case (s, i) =>
      (i + 1, s) }.toDF("step_idx", "step")
    levels
      .select((for (i <- 1 to k) yield
        sum(when(col("level") >= i, 1L).otherwise(0L)).as(s"u$i")): _*)
      .select((for (i <- 1 to k) yield coalesce(col(s"u$i"), lit(0L)).as(s"u$i")): _*)
      .crossJoin(stepRows)
      .select(col("step_idx"), col("step"),
        (for (i <- 1 to k) yield when(col("step_idx") === i, col(s"u$i")))
          .reduce(coalesce(_, _)).as("users"))
  }

  /** Audience-overlap matrix via HLL sketch SET OPERATIONS — for every
    * metric pair: estimated distinct users of each side, of the union
    * (register-wise `hll_union`), and of the intersection by
    * inclusion–exclusion (|A∩B| ≈ |A| + |B| − |A∪B|), plus the derived
    * Jaccard. This is the sketch answer to "how much do these two event
    * audiences overlap" — the question a 100 TB events table cannot
    * answer exactly without an all-pairs user-set join.
    *
    * Scale shape: ONE pass over the facts builds one mergeable HLL per
    * metric (map-side combined, O(2^lgK) per task per metric); everything
    * after operates on the m-row sketch relation — the m² pair expansion
    * is a broadcast self-join of model-sized rows, never touching the
    * facts again. Same O(m²) width contract as [[corrMatrix]], enforced
    * by the same `maxMetrics` guard. Intersection inherits the summed
    * error of inclusion–exclusion (worst for small overlaps — the
    * documented sketch trade); the exact twin [[audienceOverlapExact]]
    * is the verify surface that prices that error.
    */
  def audienceOverlapSketch(series: DataFrame, lgK: Int = 12,
                            maxMetrics: Int = 64): DataFrame = {
    if (maxMetrics > 0) {
      val m = series.select(countDistinct(col("metric"))).head().getLong(0)
      require(m <= maxMetrics,
        s"audienceOverlapSketch is O(m^2) in distinct metrics: got $m > " +
          s"maxMetrics=$maxMetrics. Pre-filter the metric set, raise " +
          "maxMetrics deliberately, or pass maxMetrics <= 0 to opt out.")
    }
    val sk = series.groupBy("metric")
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sk"))
      .withColumn("est", expr("hll_sketch_estimate(sk)").cast("double"))
    val a = sk.select(col("metric").as("metric_a"), col("sk").as("sk_a"),
      col("est").as("est_a"))
    val b = sk.select(col("metric").as("metric_b"), col("sk").as("sk_b"),
      col("est").as("est_b"))
    a.join(broadcast(b), col("metric_a") < col("metric_b"))
      .withColumn("est_union",
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").cast("double"))
      .withColumn("est_intersection",
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
      .select(col("metric_a"), col("metric_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_intersection"),
        // Degenerate pair (both audiences estimate 0): report 0 like the
        // exact twin's explicit zero counts, not NaN from 0/0.
        when(col("est_union") > 0.0,
          col("est_intersection") / col("est_union"))
          .otherwise(lit(0.0)).as("jaccard_est"))
  }

  /** [[audienceOverlapSketch]]'s exact twin: the same overlap matrix by
    * actual distinct-user sets — one dedup of (metric, user) then a
    * user-keyed equi-join for the intersections (shuffle O(distinct
    * pairs), the honest exact cost the sketch path avoids). Every pair
    * appears, zero-overlap pairs included (the m² pair frame is a
    * broadcast cross of the m-row count relation). */
  def audienceOverlapExact(series: DataFrame): DataFrame = {
    val mu = series.select(col("metric"), col("user_id")).distinct()
    val counts = mu.groupBy("metric").agg(count(lit(1)).as("users"))
    val inter = mu.as("a")
      .join(mu.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.metric") < col("b.metric"))
      .groupBy(col("a.metric").as("metric_a"), col("b.metric").as("metric_b"))
      .agg(count(lit(1)).as("iu"))
    val ca = counts.select(col("metric").as("metric_a"), col("users").as("users_a"))
    val cb = counts.select(col("metric").as("metric_b"), col("users").as("users_b"))
    ca.join(broadcast(cb), col("metric_a") < col("metric_b"))
      .join(inter, Seq("metric_a", "metric_b"), "left")
      .withColumn("inter_users", coalesce(col("iu"), lit(0L)))
      .select(col("metric_a"), col("metric_b"), col("users_a"), col("users_b"),
        col("inter_users"),
        (col("users_a") + col("users_b") - col("inter_users")).as("union_users"))
  }

  /** Diurnal profile: per-metric value statistics by hour of day — the
    * seasonality view over the full horizon. Exact-decimal mean keeps the
    * output bit-deterministic (same contract as A4). */
  def diurnalProfile(series: DataFrame): DataFrame =
    series
      .withColumn("hour_of_day", (pmod(col("e"), lit(86400L)) / lit(3600L)).cast("int"))
      .groupBy("metric", "hour_of_day")
      .agg(
        count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("mean_val"),
        min("value").as("min_val"),
        max("value").as("max_val"))
}
