package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-parity replay harness: runs a *real* Structured Streaming query —
  * file source, micro-batch triggers, watermark, update-mode state store,
  * checkpointed progress — over a bounded fixture and hands back the final
  * sink contents as a batch DataFrame, so the streaming subsystem's output
  * can face the same DuckDB oracle as the batch operators
  * (the reference's pub/sub path and its recompute loop must agree on the
  * same retained history — trend-o-meter:316-333,418).
  *
  * Replay mechanics, and why each choice is what it is:
  *
  *  - The fixture is cut into `slices` time-ordered single-file chunks,
  *    written to the source directory oldest-first, and consumed with
  *    `maxFilesPerTrigger=1` — so the query genuinely runs `slices`
  *    micro-batches that must merge partial aggregation state across
  *    triggers (one batch would prove nothing about incremental merge).
  *  - The watermark horizon must cover the fixture's whole event-time span:
  *    a replay compresses months of event time into seconds of processing
  *    time, so any narrower horizon would drop rows that a live stream
  *    would have accepted on time, and the batch oracle (which has no
  *    lateness concept) could never match. Lateness/drop semantics are
  *    exercised separately in StreamingSpec with the production default.
  *  - The sink appends every update-mode emission tagged with its batch id;
  *    the final table keeps the LAST emission per key — exactly the keyed
  *    upsert contract of [[Sinks.lastValueSink]], but distributed (no
  *    driver-side state), so the harness itself stays 100 TB-shaped.
  */
object StreamReplay {

  private val SAMPLE_SCHEMA = "ts TIMESTAMP, source STRING, metric STRING, value DOUBLE"

  /** Default slice count for every registered parity replay. The replay's
    * cost is almost pure fixed overhead — measured at sf0.001 vs sf0.1 the
    * warm times are identical: ~1.3 s per query (start/stop, checkpoint
    * init, final read-back) plus ~0.8 s per micro-batch (incremental
    * re-planning, state commits, per-batch sink job) regardless of data
    * volume. Verify and the specs keep 3 slices; Bench dials this to 2
    * (round-9 VERDICT item 5) — any value ≥ 2 still forces aggregation /
    * flatMapGroupsWithState state to survive at least one micro-batch
    * boundary, which is the property the parities exist to prove. */
  @volatile var defaultSlices: Int = 3

  /** Replay scratch space: a tmpfs when the host offers one (/dev/shm) —
    * every micro-batch pays checkpoint-log and state-store fsyncs, and the
    * fixtures are bounded verification inputs, so memory-backed durability
    * is exactly right; falls back to the system temp dir when /dev/shm is
    * absent. */
  private lazy val tmpBase: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
  }

  private def newReplayRoot(): java.nio.file.Path = tmpBase match {
    case Some(base) => Files.createTempDirectory(base, "graft_replay_")
    case None       => Files.createTempDirectory("graft_replay_")
  }

  /** Shared replay plumbing: cut `src` (any relation with a `ts`
    * timestamp column) into `slices` time-ordered single-file chunks,
    * run `build(stream)` over them as a checkpointed `maxFilesPerTrigger=1`
    * file stream, and return every sink emission tagged with its
    * `batch_id`, eagerly localCheckpointed so the temp root can be
    * deleted before returning. `None` on an empty fixture.
    *
    * Slice boundaries come from the fixture's own span: equal event-time
    * ranges, written oldest-first so the replay presents data the way a
    * live transport would. Boundaries land on whole seconds, so rows
    * sharing an epoch second can never straddle two slices. Empty slices
    * (skewed fixtures) simply contribute no file and one fewer
    * micro-batch.
    *
    * `flush`: optional watermark-pusher for APPEND-mode windowed
    * aggregations — given the fixture's max epoch second, returns a
    * one-row frame (same schema) whose event time sits far enough past
    * the span that, once it is consumed as the final micro-batch, the
    * advancing watermark closes every real window. The engine then runs
    * one more no-data micro-batch (`noDataMicroBatches`, on by default)
    * that emits and EVICTS them — append emissions are final, so the
    * caller needs no keyed-upsert dedup, and state drains instead of
    * accumulating. The sentinel's own window never closes; callers
    * filter its key out. */
  private def sliceAndReplay(src: DataFrame, schema: String, slices: Int,
                             outputMode: String,
                             build: DataFrame => DataFrame,
                             flush: Option[Long => DataFrame] = None): Option[DataFrame] = {
    val spark = src.sparkSession
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val ckDir = root.resolve("ck").toString
    try {
      if (!writeSliceFiles(src, slices, root, inDir, flush)) return None

      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)

      // The replay's state is fixture-sized, but every stateful stage
      // opens, updates, and commits ONE state store per shuffle partition
      // per micro-batch — at the session's production setting (32) that is
      // ~32 × slices × stages near-empty store commits of pure fixed
      // overhead. The partition count is a physical knob (keyed semantics
      // and per-key ordering are partition-count-independent), so the
      // harness pins a small one for the stream's lifetime; a fresh
      // checkpoint per replay means no stored-partitioning conflict.
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // the sink schema is in-hand at the first emission — capturing it
      // saves the read-back's footer-sample schema-inference job (one
      // whole Spark job per replay, guide §1.2: fewer passes)
      @volatile var sinkSchema: org.apache.spark.sql.types.StructType = null
      try {
        val query = build(stream)
          .writeStream
          .outputMode(outputMode)
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val tagged = batch.withColumn("batch_id", lit(id))
            if (sinkSchema == null) sinkSchema = tagged.schema
            tagged.write.mode("append").parquet(outDir)
          }
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

      // Eager localCheckpoint detaches the result from the temp parquet
      // files so the whole replay root can be deleted in the finally —
      // block-manager durability is plenty for a bounded replay harness.
      val reader =
        if (sinkSchema != null) spark.read.schema(sinkSchema)
        else spark.read
      Some(reader.parquet(outDir).localCheckpoint(true))
    } finally deleteRecursively(root.toFile)
  }

  /** The slice-staging half of [[sliceAndReplay]], reusable by replays
    * whose SINK is the surface under test (so foreachBatch capture doesn't
    * apply): cut `src` (any relation with a `ts` timestamp column) into
    * `slices` time-ordered single-file chunks under `inDir`, modification-
    * time-stamped so FileStreamSource replays them in slice order. Returns
    * false when the fixture is empty (nothing staged). */
  private def writeSliceFiles(src: DataFrame, slices: Int,
                              root: java.nio.file.Path, inDir: String,
                              flush: Option[Long => DataFrame]): Boolean = {
    // The source pipeline can itself be expensive (the tie-free slice
    // is a full window over the series) and is needed by BOTH the
    // bounds probe and the slice write — pin it once instead of
    // recomputing it per job. Fixture-sized; blocks are released by the
    // context cleaner once the replay returns.
    val pinned = src.localCheckpoint(true)
    val bounds = pinned.agg(min(col("ts").cast("long")).as("lo"),
      max(col("ts").cast("long")).as("hi")).head()
    // Empty fixture: nothing to replay — the caller builds its empty
    // result with the exact output schema instead of NPE-ing on the
    // null bounds.
    if (bounds.isNullAt(0)) return false
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    // ONE partitioned write job cuts all slices (vs the original one
    // scan+write per slice — at 3 slices that tripled the fixture
    // scans): repartition by the slice id puts each slice in a single
    // task, partitionBy writes it as a single file under __slice=k/.
    val stageDir = root.resolve("stage").toString
    val sliceExpr = least(lit(slices - 1),
      floor((col("ts").cast("long") - lit(lo)) * lit(slices.toLong) / lit(span)))
      .cast("int")
    pinned.withColumn("__slice", sliceExpr)
      .repartition(slices, col("__slice"))
      .write.partitionBy("__slice").parquet(stageDir)
    // FileStreamSource consumes files in MODIFICATION-TIME order with an
    // arbitrary tie-break — an out-of-order replay would silently break
    // every order-dependent stateful twin (derivative/cusum/ewma/
    // decimate fold later-slice events first). Move each slice's file
    // into the flat source dir with a strictly increasing modTime so
    // the replay order is the slice order by construction, not by
    // write-latency luck.
    val stampBase = System.currentTimeMillis()
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    (0 until slices).foreach { k =>
      val sliceDir = new java.io.File(s"$stageDir/__slice=$k")
      Option(sliceDir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
          case (f, i) =>
            val dest = new java.io.File(inDir, s"slice-$k-$i.parquet")
            Files.move(f.toPath, dest.toPath)
            // A failed stamp silently re-introduces write-latency-ordered
            // pickup — the exact nondeterminism the stamping kills. Fail
            // loudly instead of letting an out-of-order replay corrupt an
            // order-dependent stateful parity row downstream.
            if (!dest.setLastModified(stampBase + k * 1000L))
              throw new IllegalStateException(
                s"setLastModified failed for ${dest.getPath}; replay order " +
                  "would fall back to nondeterministic write-latency order")
        }
    }
    flush.foreach { mk =>
      val flushStage = root.resolve("flush").toString
      mk(hi).coalesce(1).write.parquet(flushStage)
      val f = Option(new java.io.File(flushStage).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(inDir, s"slice-$slices-flush.parquet")
      Files.move(f.toPath, dest.toPath)
      if (!dest.setLastModified(stampBase + slices * 1000L))
        throw new IllegalStateException(
          s"setLastModified failed for ${dest.getPath}; the flush sentinel " +
            "must be the LAST file or append-mode windows close early")
    }
    true
  }

  /** PUBLISH-side replay: drive `msgs` (`ts TIMESTAMP, channel STRING,
    * value STRING`) through a real checkpointed micro-batched streaming
    * WRITE into the `topiclog` sink at `logRoot` — the dual of
    * [[pubsubReplay]], where the DSv2 SINK (staged segments, ordered
    * driver splice, epoch markers) is the surface under test rather than
    * the offset/admission read path. The caller reads `logRoot` back with
    * the batch `topiclog` source to face its oracle. */
  def topicPublishReplay(msgs: DataFrame, logRoot: String,
                         slices: Int = defaultSlices): Unit = {
    val spark = msgs.sparkSession
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val ckDir = root.resolve("ck").toString
    try {
      if (!writeSliceFiles(msgs, slices, root, inDir, None)) return
      // Same physical-knob pinning rationale as sliceAndReplay: fewer
      // shuffle partitions = fewer near-empty staged segments per epoch.
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val query = spark.readStream
          .schema("ts TIMESTAMP, channel STRING, value STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir)
          .select("channel", "value")
          .writeStream.format("topiclog")
          .option("path", logRoot)
          .option("checkpointLocation", ckDir)
          .outputMode("append")
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    } finally deleteRecursively(root.toFile)
  }

  /** STREAMING-IVM replay: drive the series `(metric, e, value)` through
    * a checkpointed micro-batched ingest loop — each trigger appends the
    * raw batch to the SOURCE snapshot store with its epoch id
    * (exactly-once on at-least-once delivery) and immediately refreshes
    * the rollup view against the new source version (O(batch) partials,
    * [[graft.sources.RollupView.refresh]]). The maintained view must
    * then equal a from-scratch day rollup of the WHOLE series — the
    * streaming-materialized-view contract, oracle-shared with the batch
    * lifecycle query. Restart safety is compositional: a replayed epoch
    * is a store no-op, and refresh against an unchanged source version
    * is a view no-op. */
  def snapshotIngestReplay(series: DataFrame, srcRoot: String,
                           viewRoot: String,
                           slices: Int = defaultSlices): Unit = {
    val spark = series.sparkSession
    val src = series.select(timestamp_seconds(col("e")).as("ts"),
      col("metric"), col("e"), col("value"))
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val ckDir = root.resolve("ck").toString
    try {
      if (!writeSliceFiles(src, slices, root, inDir, None)) return
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val query = spark.readStream
          .schema("ts TIMESTAMP, metric STRING, e BIGINT, value DOUBLE")
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir)
          .select("metric", "e", "value")
          .writeStream
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            // no-data triggers publish nothing (an empty version would be
            // harmless but noisy); a skipped epoch id is fine — ids need
            // only be replay-stable, not dense
            if (!batch.isEmpty) {
              graft.sources.SnapshotStore.appendEpoch(batch, srcRoot, id)
              graft.sources.RollupView.refresh(spark, srcRoot, viewRoot)
            }
            ()
          }
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    } finally deleteRecursively(root.toFile)
  }

  /** Streaming maintenance of the inverted SEARCH index: documents
    * arrive through a real checkpointed file stream and every micro-batch
    * lands via [[graft.sources.SearchIndex.indexEpoch]] — epoch-stamped
    * postings + the guarded additive stats row, so a replayed trigger is
    * a true no-op and the index a crash-restarted stream rebuilds equals
    * the one-shot build. The caller serves queries from `idxRoot` after
    * the drain; parity against the full-scan oracle is the registry's. */
  def searchIndexIngestReplay(docs: DataFrame, idxRoot: String,
                              slices: Int = defaultSlices): Unit = {
    val spark = docs.sparkSession
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("text"))
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val ckDir = root.resolve("ck").toString
    try {
      if (!writeSliceFiles(src, slices, root, inDir, None)) return
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val query = spark.readStream
          .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir)
          .select("doc_id", "text")
          .writeStream
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!batch.isEmpty) {
              graft.sources.SearchIndex.indexEpoch(spark, batch, idxRoot, id)
            }
            ()
          }
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    } finally deleteRecursively(root.toFile)
  }

  /** Streaming maintenance of a JOIN view: the right side arrives
    * through a real checkpointed file stream (the left stands — the
    * fact-drip-into-dimension shape) and every micro-batch lands as an
    * epoch-stamped append on the right store with the join view
    * refreshed inside the same trigger. Both layers are idempotent
    * under trigger replay (the store by epoch, the view by its packed
    * cursor), so a crash-restarted stream converges to the same view.
    * `how = "left_outer"` drips are additionally the MATCH-ARRIVAL
    * torture: every trigger's right batch can convert standing
    * null-extended view rows, so the per-trigger refresh alternates
    * between the pure O(Δ) append and the conversion rewrite — both
    * idempotent under trigger replay exactly like the inner path. */
  def joinViewIngestReplay(rightRows: DataFrame, orderCol: String,
                           leftRoot: String, rightRoot: String,
                           viewRoot: String, leftKey: String,
                           rightKey: String,
                           slices: Int = defaultSlices,
                           how: String = "inner"): Unit =
    viewIngestReplay(rightRows, orderCol, rightRoot,
      spark => graft.sources.JoinView.refresh(spark, leftRoot, rightRoot,
        viewRoot, leftKey, rightKey, how),
      slices)

  /** The drip skeleton behind [[joinViewIngestReplay]], with the
    * per-trigger view refresh abstracted: any maintained view whose
    * refresh is idempotent under its own cursor (JoinView's packed
    * cursor, the agg-join views' packed cursor vector) composes with the
    * epoch-idempotent store append to give crash-convergent streaming
    * maintenance. */
  def viewIngestReplay(rightRows: DataFrame, orderCol: String,
                       rightRoot: String,
                       refreshView: org.apache.spark.sql.SparkSession => Unit,
                       slices: Int = defaultSlices): Unit = {
    val spark = rightRows.sparkSession
    val cols = rightRows.columns
    val src = rightRows.withColumn("ts", timestamp_seconds(col(orderCol)))
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val ckDir = root.resolve("ck").toString
    try {
      if (!writeSliceFiles(src, slices, root, inDir, None)) return
      // the staged slice files carry exactly src's columns (written from
      // src minus the __slice partition key): no inference job needed
      val schema = src.schema
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val query = spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir)
          .select(cols.head, cols.tail: _*)
          .writeStream
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!batch.isEmpty) {
              graft.sources.SnapshotStore.appendEpoch(batch, rightRoot, id)
              refreshView(spark)
            }
            ()
          }
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    } finally deleteRecursively(root.toFile)
  }

  /** CDC-APPLY replay: drive `batches` — a relation carrying an explicit
    * `__batch` column that partitions it into change batches (inserts AND
    * keyed updates; batch order is semantic, later batches win) — through
    * a real checkpointed file stream, each micro-batch landing in the
    * snapshot store as an epoch-idempotent keyed UPSERT
    * ([[graft.sources.SnapshotStore.upsertEpoch]]; the first batch
    * bootstraps the table) with the maintained rollup refreshed inside
    * the same trigger ([[graft.sources.RollupView.refresh]] — an update
    * batch rewrites directories, so the refresh exercises the RETRACTION
    * path under streaming, not just the append path). Unlike the
    * time-sliced replays, the batch composition is the caller's: a CDC
    * fixture needs batches that re-emit earlier keys, which no time cut
    * produces. */
  def cdcUpsertReplay(rawBatches: DataFrame, keyCols: Seq[String],
                      srcRoot: String, viewRoot: String,
                      refreshView: (org.apache.spark.sql.SparkSession, String, String) => Int =
                        graft.sources.RollupView.refresh(_, _, _)): Unit = {
    val batches = rawBatches.withColumn("__batch", col("__batch").cast("int"))
    val spark = batches.sparkSession
    val root = newReplayRoot()
    val inDir = root.resolve("in").toString
    val ckDir = root.resolve("ck").toString
    try {
      val nBatches = batches.agg(max(col("__batch"))).head() match {
        case r if r.isNullAt(0) => return // empty fixture: nothing to apply
        case r                  => r.getInt(0) + 1
      }
      // one partitioned write cuts every batch into a single file; files
      // move into the flat source dir with strictly increasing modTimes
      // so the pickup order IS the batch order (same mechanics as
      // writeSliceFiles, same loud failure if stamping breaks)
      val stageDir = root.resolve("stage").toString
      val dataSchema = batches.drop("__batch").schema
      batches.repartition(nBatches, col("__batch"))
        .write.partitionBy("__batch").parquet(stageDir)
      val stampBase = System.currentTimeMillis()
      Files.createDirectories(java.nio.file.Paths.get(inDir))
      (0 until nBatches).foreach { k =>
        val sliceDir = new java.io.File(s"$stageDir/__batch=$k")
        Option(sliceDir.listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
            case (f, i) =>
              val dest = new java.io.File(inDir, s"batch-$k-$i.parquet")
              Files.move(f.toPath, dest.toPath)
              if (!dest.setLastModified(stampBase + k * 1000L))
                throw new IllegalStateException(
                  s"setLastModified failed for ${dest.getPath}; replay " +
                    "order would fall back to nondeterministic " +
                    "write-latency order and updates could apply before " +
                    "their inserts")
          }
      }
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val query = spark.readStream
          .schema(dataSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir)
          .writeStream
          .option("checkpointLocation", ckDir)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!batch.isEmpty) {
              graft.sources.SnapshotStore.upsertEpoch(
                batch.sparkSession, batch, srcRoot, keyCols, id)
              refreshView(spark, srcRoot, viewRoot)
            }
            ()
          }
          .start()
        try query.processAllAvailable()
        finally query.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    } finally deleteRecursively(root.toFile)
  }

  /** series `(metric, e, value)` → the `(ts, source, metric, value)`
    * [[StreamSample]] relation the typed stateful twins consume. */
  private def asSamples(series: DataFrame): DataFrame =
    series.select(timestamp_seconds(col("e")).as("ts"),
      lit("replay").as("source"), col("metric"), col("value"))

  /** Replays the canonical series relation `(metric, e, value)` through
    * [[StreamOps.minuteTierStream]] and returns the final 1-minute tier
    * `(metric, minute_start, n, sv, mn, mx)` — the table a batch
    * re-aggregation composes into coarser tiers (the a24 contract). */
  def minuteTierReplay(series: DataFrame, slices: Int = defaultSlices,
                       watermark: String = "3650 days"): DataFrame = {
    val src = series.select(col("metric"),
      timestamp_seconds(col("e")).as("ts"), col("value"))
    // The watermark horizon must cover the fixture's whole event-time span
    // (see the object doc); lateness semantics are exercised separately.
    sliceAndReplay(src, "metric STRING, ts TIMESTAMP, value DOUBLE", slices,
        "update", StreamOps.minuteTierStream(_, watermark)) match {
      case None => StreamOps.minuteTierStream(src.limit(0), watermark)
      case Some(appended) =>
        // Keyed upsert: the tier row for a (metric, minute) is its last
        // emission. Within one batch the aggregation emits at most one row
        // per key, so batch_id alone is a total order per key.
        val w = Window.partitionBy("metric", "minute_start")
          .orderBy(col("batch_id").desc)
        appended
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .drop("rn", "batch_id")
    }
  }

  /** Typed view used by the stateful-twin replay wrappers below. */
  private def asStreamSamples(df: DataFrame) =
    df.as(org.apache.spark.sql.Encoders.product[StreamSample])

  /** Replays the series through [[StreamOps.derivativeStream]] —
    * append-mode emissions are final, so the sink rows ARE the result.
    * The caller supplies a tie-free series (at most one row per
    * (metric, second)): that is the documented exact-parity contract of
    * the typed stateful twins, whose [[StreamSample]] carries no event_id
    * to break same-second ties the way the batch window does. */
  def derivativeReplay(series: DataFrame, slices: Int = defaultSlices): DataFrame =
    samplesReplay(series, slices)(df =>
      StreamOps.derivativeStream(asStreamSamples(df)).toDF())

  /** Replays the series through [[StreamOps.cusumStream]] (same tie-free
    * input contract as [[derivativeReplay]]). */
  def cusumReplay(series: DataFrame, target: Double, threshold: Double,
                  slices: Int = defaultSlices): DataFrame =
    samplesReplay(series, slices)(df =>
      StreamOps.cusumStream(asStreamSamples(df), target, threshold).toDF())

  /** Replays the series through [[StreamOps.ohlcStream]] — update-mode
    * windowed aggregation, so like [[minuteTierReplay]] the final bar for
    * a (metric, bar_start) is its last emission. Tie-free input contract
    * as [[derivativeReplay]]: open/close pick by min/max(struct(ts, _)),
    * which has no event_id tie-break. */
  def ohlcReplay(series: DataFrame, slices: Int = defaultSlices, width: String = "1 day",
                 watermark: String = "3650 days"): DataFrame = {
    val src = series.select(col("metric"),
      timestamp_seconds(col("e")).as("ts"), col("value"))
    sliceAndReplay(src, "metric STRING, ts TIMESTAMP, value DOUBLE", slices,
        "update", StreamOps.ohlcStream(_, width, watermark)) match {
      case None => StreamOps.ohlcStream(src.limit(0), width, watermark)
      case Some(appended) =>
        val w = Window.partitionBy("metric", "bar_start")
          .orderBy(col("batch_id").desc)
        appended
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .drop("rn", "batch_id")
    }
  }

  /** Replays a documents relation `(doc_id, text)` through
    * [[StreamOps.nearDupCandidatesStream]] and returns the DISTINCT
    * candidate pair set — the dedup-at-ingest gate driven by a real
    * checkpointed stream. Event time is synthesized from doc_id (the
    * slicer needs a time axis to cut real micro-batches; cross-slice
    * pairs then genuinely traverse the TTL bucket state), and ttl /
    * watermark are sized to retain the whole corpus — candidate-set
    * parity with batch [[graft.operators.DedupOps.minHashCandidates]] is
    * only defined when nothing evicts (the TTL-eviction behavior is
    * pinned separately in StreamingSpec). */
  def nearDupCandidatesReplay(docs: DataFrame, k: Int = 64, bands: Int = 16,
                              slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("text"))
    val build = (df: DataFrame) =>
      StreamOps.nearDupCandidatesStream(df, k, bands,
        ttl = "36500 days", watermark = "0 seconds").toDF()
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT, text STRING", slices,
        "append", build)
      .map(_.select("doc_a", "doc_b").distinct())
      .getOrElse(build(src.limit(0)).select("doc_a", "doc_b"))
  }

  /** Replays a new-batch documents relation `(doc_id, text)` through
    * [[StreamOps.incrementalDedupStream]] against a static corpus and
    * returns the kept rows' NORMALIZED-TEXT KEYS. The key set is the
    * deterministic parity surface: exactly one survivor per in-stream key,
    * none of them in the corpus, at any scale — whereas WHICH doc wins a
    * key whose duplicates co-arrive in one micro-batch is an arbitrary
    * in-batch pick (found at sf1: whitespace-only docs collide across
    * ScaleUp replicas — no tokens to suffix — and their slice-local
    * winners flip). Winner-by-first-arrival == min-id is still pinned,
    * by StreamingSpec under controlled cross-batch arrival. */
  def incrementalDedupReplay(batchDocs: DataFrame, corpus: DataFrame,
                             slices: Int = defaultSlices): DataFrame = {
    val src = batchDocs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("text"))
    val build = (df: DataFrame) =>
      StreamOps.incrementalDedupStream(df, corpus, watermark = "36500 days")
    val key = md5(graft.operators.TextOps.normalized(col("text")))
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT, text STRING", slices,
        "append", build)
      .map(_.select(key.as("dup_key")))
      .getOrElse(build(src.limit(0)).select(key.as("dup_key")))
  }

  /** Replays the events relation `(metric, e, user_id)` through
    * [[StreamOps.funnelStream]] and returns the final per-user funnel
    * level `(user_id, level)`. Update-mode emissions are level
    * INCREASES, and levels are monotone, so max per user is the final
    * standing — no batch-id dedup needed. Users that never reach step 1
    * emit nothing and are correctly absent. */
  def funnelReplay(series: DataFrame, steps: Seq[String], windowSeconds: Long,
                   slices: Int = defaultSlices): DataFrame = {
    val src = series.select(timestamp_seconds(col("e")).as("ts"),
      col("user_id"), col("metric"))
    val build = (df: DataFrame) =>
      StreamOps.funnelStream(df, steps, windowSeconds,
        ttl = "36500 days", watermark = "0 seconds").toDF()
    sliceAndReplay(src, "ts TIMESTAMP, user_id BIGINT, metric STRING", slices,
        "update", build) match {
      case None => build(src.limit(0))
      case Some(appended) =>
        appended.groupBy("user_id").agg(max(col("level")).as("level"))
    }
  }

  /** Replays a documents relation through the streaming quality gate —
    * [[graft.operators.QualityModel.score]] over a checkpointed stream
    * with a FIXED trained weight model (the stateless scoring map is the
    * identical expression batch runs, so the appended emissions must
    * equal the batch scoring row-for-row; the live-refresh path for the
    * weights is C2's managed-restart loop). Stateless append: no
    * watermark, no state store — the twin proves the ingest-side
    * plumbing, and its parity row faces the SAME oracle as the batch
    * scorer. */
  def qualityScoreReplay(docs: DataFrame, weights: Array[Double],
                         slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("text"))
    val build = (df: DataFrame) =>
      graft.operators.QualityModel.score(df.select("doc_id", "text"), weights)
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT, text STRING", slices,
        "append", build)
      .map(_.drop("batch_id"))
      .getOrElse(build(src.limit(0)))
  }

  /** Replays the documents relation through the streaming audio feature
    * gate — [[graft.operators.AudioOps.windowEnergy]] over a checkpointed
    * stream (render → REAL WAV decode → hop-window fold, all map-only
    * stateless append like [[qualityScoreReplay]]): the emissions must
    * equal the batch features row-for-row, and the parity row faces the
    * SAME oracle as the batch leg. Proves the ingest-side plumbing for a
    * media stream whose feature extraction runs at the edge of arrival. */
  def audioFeaturesReplay(docs: DataFrame, slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"))
    val build = (df: DataFrame) =>
      graft.operators.AudioOps.windowEnergy(
        graft.operators.AudioOps.withAudioPayload(df.select("doc_id"))).toDF()
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT", slices,
        "append", build)
      .map(_.drop("batch_id"))
      .getOrElse(build(src.limit(0)))
  }

  /** [[audioFeaturesReplay]]'s video sibling: render → real AVI container
    * walk → stride-sampled frame features per micro-batch (stateless
    * append, the quality-gate posture); faces video_frame_sample's
    * oracle verbatim. */
  def videoFeaturesReplay(docs: DataFrame, stride: Int = 2,
                          slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"))
    val build = (df: DataFrame) =>
      graft.operators.VideoOps.frameSample(
        graft.operators.VideoOps.withVideoPayload(df.select("doc_id")),
        stride).toDF()
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT", slices,
        "append", build)
      .map(_.drop("batch_id"))
      .getOrElse(build(src.limit(0)))
  }

  /** [[nearDupCandidatesReplay]]'s SimHash sibling: replays
    * [[StreamOps.simHashPairsStream]] and returns the DISTINCT matched
    * pair set (same synthetic-time / retain-everything posture). */
  def simHashPairsReplay(docs: DataFrame, maxHamming: Int = 3,
                         slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("text"))
    val build = (df: DataFrame) =>
      StreamOps.simHashPairsStream(df, maxHamming,
        ttl = "36500 days", watermark = "0 seconds").toDF()
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT, text STRING", slices,
        "append", build)
      .map(_.select("doc_a", "doc_b").distinct())
      .getOrElse(build(src.limit(0)).select("doc_a", "doc_b"))
  }

  /** [[nearDupCandidatesReplay]]'s embedding sibling: replays
    * [[StreamOps.embeddingNearDupStream]] over a `(vec_id, embedding)`
    * relation and returns the DISTINCT candidate pair set (synthetic time
    * from vec_id, retain-everything TTL). */
  def embeddingNearDupReplay(vectors: DataFrame, slices: Int = defaultSlices): DataFrame = {
    val src = vectors.select(timestamp_seconds(col("vec_id")).as("ts"),
      col("vec_id"), col("embedding"))
    val build = (df: DataFrame) =>
      StreamOps.embeddingNearDupStream(df,
        ttl = "36500 days", watermark = "0 seconds").toDF()
    sliceAndReplay(src, "ts TIMESTAMP, vec_id BIGINT, embedding ARRAY<FLOAT>",
        slices, "append", build)
      .map(_.select("vec_a", "vec_b").distinct())
      .getOrElse(build(src.limit(0)).select("vec_a", "vec_b"))
  }

  /** Replays the canonical series relation `(metric, e, value)` through
    * [[StreamOps.quantileTierStream]] and returns the final per-minute GK
    * sketch tier `(metric, minute_start, sk)`.
    *
    * Unlike [[minuteTierReplay]]'s keyed-upsert posture, this replay runs
    * APPEND mode with a watermark-flush sentinel (round-10 verdict item 1):
    * the exactness-regime GK payload is the heaviest state of any parity
    * (one sketch per (metric, minute) — ~80k keys holding every sample at
    * sf0.1), so update-mode's re-emission of each touched key per batch
    * plus a row_number upsert over the appended sketch payloads priced the
    * replay at ~half the whole stream budget in the driver bench. Append
    * emits each minute exactly once when the watermark closes it — final
    * rows, no dedup pass — and EVICTS closed windows from the state store
    * as the replay advances instead of retaining the whole tier to the
    * end. The cross-batch property the parity proves is unchanged: minutes
    * straddling a slice boundary still merge sketch state across
    * triggers, and the oracle would catch a dropped or double-counted
    * sample either way. */
  def quantileTierReplay(series: DataFrame, eps: Double,
                         slices: Int = defaultSlices): DataFrame = {
    val spark = series.sparkSession
    val src = series.select(col("metric"),
      timestamp_seconds(col("e")).as("ts"), col("value"))
    // Delay covers slice-boundary stragglers (boundaries land on whole
    // seconds; 2 minutes is the production default and orders of
    // magnitude more than a boundary can misorder). The sentinel sits
    // 10 minutes past the span: beyond hi + delay + window, so the final
    // watermark closes every real minute; its own window never closes
    // and its key is filtered below.
    val wmDelay = "2 minutes"
    val sentinel = "__wm_flush__"
    val mkFlush = (hi: Long) => spark.range(1).select(
      lit(sentinel).as("metric"),
      timestamp_seconds(lit(hi + 600L)).as("ts"),
      lit(0.0).as("value"))
    sliceAndReplay(src, "metric STRING, ts TIMESTAMP, value DOUBLE", slices,
        "append", StreamOps.quantileTierStream(_, eps, wmDelay),
        flush = Some(mkFlush)) match {
      case None => StreamOps.quantileTierStream(src.limit(0), eps, wmDelay)
      case Some(appended) =>
        appended.where(col("metric") =!= sentinel).drop("batch_id")
    }
  }

  /** Replays the series relation `(metric, e, user_id)` through
    * [[StreamOps.hllTierStream]] and returns the final per-minute HLL
    * sketch tier `(metric, minute_start, sk)` — same keyed-upsert contract
    * as [[minuteTierReplay]]. */
  def hllTierReplay(series: DataFrame, slices: Int = defaultSlices,
                    watermark: String = "3650 days"): DataFrame = {
    val src = series.select(col("metric"),
      timestamp_seconds(col("e")).as("ts"), col("user_id"))
    sliceAndReplay(src, "metric STRING, ts TIMESTAMP, user_id BIGINT", slices,
        "update", StreamOps.hllTierStream(_, watermark)) match {
      case None => StreamOps.hllTierStream(src.limit(0), watermark)
      case Some(appended) =>
        val w = Window.partitionBy("metric", "minute_start")
          .orderBy(col("batch_id").desc)
        appended
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .drop("rn", "batch_id")
    }
  }

  /** Replays a documents relation `(doc_id, lang, text)` through
    * [[StreamOps.topTermsStream]] and returns the FINAL per-lang MG
    * summary table `(lang, sk)` — update-mode emissions upserted by last
    * batch, the same keyed-upsert contract as [[minuteTierReplay]].
    * Synthetic event time from doc_id (as the other document replays), so
    * summaries genuinely accumulate across micro-batch boundaries. */
  def topTermsReplay(docs: DataFrame, cap: Int = 256,
                     slices: Int = defaultSlices): DataFrame = {
    val src = docs.select(timestamp_seconds(col("doc_id")).as("ts"),
      col("doc_id"), col("lang"), col("text"))
    val build = (df: DataFrame) => StreamOps.topTermsStream(df, cap)
    sliceAndReplay(src, "ts TIMESTAMP, doc_id BIGINT, lang STRING, text STRING",
        slices, "update", build) match {
      case None => build(src.limit(0))
      case Some(appended) =>
        val w = Window.partitionBy("lang").orderBy(col("batch_id").desc)
        appended
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .drop("rn", "batch_id")
    }
  }

  /** Replays the series through [[StreamOps.decimateStream]] (tie-free
    * input contract as [[derivativeReplay]]; the stream's oldest→newest
    * anchored-gap scan faces its own ascending recursive-CTE oracle —
    * the batch faithful op scans newest→oldest, so the two are parity
    * twins of DIFFERENT directions by design). */
  def decimateReplay(series: DataFrame, gapSeconds: Double,
                     slices: Int = defaultSlices): DataFrame =
    samplesReplay(series, slices)(df =>
      StreamOps.decimateStream(asStreamSamples(df), gapSeconds).toDF())

  /** Generic append-mode replay over the samples-shaped relation: callers
    * hand the stream transformation as a closure (typed ops can
    * `.as[StreamSample]` inside it). Emissions are final (append mode),
    * so the sink rows minus the batch tag ARE the result.
    * `rocksDb = true` pins the RocksDB state store provider for the
    * replay (required by `transformWithState` processors) and restores
    * the previous session setting afterwards. */
  def samplesReplay(series: DataFrame, slices: Int = defaultSlices,
                    rocksDb: Boolean = false)
                   (build: DataFrame => DataFrame): DataFrame = {
    val src = asSamples(series)
    val conf = series.sparkSession.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = conf.getOption(key)
    if (rocksDb) conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try
      sliceAndReplay(src, SAMPLE_SCHEMA, slices, "append", build)
        .map(_.drop("batch_id"))
        .getOrElse(build(src.limit(0)))
    finally if (rocksDb) prev match {
      case Some(v) => conf.set(key, v)
      case None    => conf.unset(key)
    }
  }

  /** Replays the series through [[StreamOps.gapTriggeredMean]] (tie-free
    * input contract as [[derivativeReplay]]; the raw-double sum replays
    * in the same order on both sides — the ewma contract). */
  def gapTriggeredMeanReplay(series: DataFrame, gapSeconds: Double,
                             slices: Int = defaultSlices): DataFrame =
    samplesReplay(series, slices)(df =>
      StreamOps.gapTriggeredMean(asStreamSamples(df), gapSeconds).toDF())

  /** Replays the events relation `(metric, e, value, user_id)` through
    * the stream-stream [[StreamOps.intervalJoin]]: the per-user transport
    * channel is the join key (`source` = user_id), the left stream is the
    * `leftMetric` events and the right the trailing `rightMetric` events.
    * Join output is order-independent (no state recurrence), so the full
    * series replays — no tie-free filter needed — and faces a plain SQL
    * range-join oracle. */
  def intervalJoinReplay(events: DataFrame, leftMetric: String,
                         rightMetric: String, windowSeconds: Long,
                         slices: Int = defaultSlices): DataFrame = {
    val src = events.select(timestamp_seconds(col("e")).as("ts"),
      col("user_id").cast("string").as("source"), col("metric"), col("value"))
    val build = (df: DataFrame) =>
      StreamOps.intervalJoin(
        df.where(col("metric") === leftMetric),
        df.where(col("metric") === rightMetric),
        windowSeconds, watermark = "3650 days")
    sliceAndReplay(src, SAMPLE_SCHEMA, slices, "append", build)
      .map(_.drop("batch_id"))
      .getOrElse(build(src.limit(0)))
  }

  /** S3 pub/sub STREAMING parity: consume an already-materialized channel
    * log through the DSv2 `topiclog` source as a genuine micro-batched
    * stream — byte-capped triggers (so the offset/admission path really
    * splits the log into multiple batches), checkpointed progress, append
    * mode — and decode the wire JSON with the exact expressions the batch
    * roundtrip uses ([[graft.sources.TopicLogFixture.decodeEvents]]).
    * Stateless passthrough, so the final table is the union of emissions
    * and the oracle is identical to `s3_pubsub_roundtrip`'s. */
  def pubsubReplay(spark: org.apache.spark.sql.SparkSession, logRoot: String,
                   triggers: Int = defaultSlices): DataFrame = {
    val root = newReplayRoot()
    val outDir = root.resolve("out").toString
    val ckDir = root.resolve("ck").toString
    try {
      val totalBytes =
        graft.sources.TopicLog.channelSizes(logRoot, "*").values.sum
      if (totalBytes == 0L)
        return graft.sources.TopicLogFixture.decodeEvents(
          spark.read.format("topiclog").option("path", logRoot).load())
      val cap = math.max(1L, totalBytes / triggers)
      @volatile var sinkSchema: org.apache.spark.sql.types.StructType = null
      val query = graft.sources.TopicLogFixture.decodeEvents(
          spark.readStream.format("topiclog")
            .option("path", logRoot)
            .option("maxBytesPerTrigger", cap.toString)
            .load())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val tagged = batch.withColumn("batch_id", lit(id))
          if (sinkSchema == null) sinkSchema = tagged.schema
          tagged.write.mode("append").parquet(outDir)
        }
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val reader =
        if (sinkSchema != null) spark.read.schema(sinkSchema)
        else spark.read
      reader.parquet(outDir).localCheckpoint(true).drop("batch_id")
    } finally deleteRecursively(root.toFile)
  }

  /** Replays the series through [[StreamOps.ewmaStream]] (same tie-free
    * input contract as [[derivativeReplay]]). */
  def ewmaReplay(series: DataFrame, alpha: Double, slices: Int = defaultSlices): DataFrame =
    samplesReplay(series, slices)(df =>
      StreamOps.ewmaStream(asStreamSamples(df), alpha).toDF())

  /** The replay's in/out/checkpoint dirs are per-invocation temp state —
    * leaking them grew unboundedly across runs (round-6 ADVICE). */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
