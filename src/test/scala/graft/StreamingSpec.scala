package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TrendOps
import graft.streaming.{Sinks, StreamOps, StreamSample}

class StreamingSpec extends SparkSpec {

  private def startMemQuery(df: org.apache.spark.sql.DataFrame, name: String,
                            mode: String = "update") =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  test("S3+F3: malformed messages are dropped, valid ones parsed with typed schema") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[String]
    val q = startMemQuery(StreamOps.parseMessages(in.toDF()), "t_parse", "append")
    in.addData(
      """{"ts": 100.5, "source": "s1", "value": {"temperature": 21.5, "humidity": 40.0}}""",
      """not json at all""",
      """{"source": "s2", "value": {"x": 1.0}}""") // no ts -> dropped
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_parse").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("source") == "s1")
    assert(rows.head.getAs[Map[String, Double]]("metrics")("temperature") == 21.5)
  }

  test("F5+F2: metric explode lifts single-metric restriction; primary filter applies") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[String]
    val exploded = StreamOps.primarySourceOnly(
      StreamOps.explodeMetrics(StreamOps.parseMessages(in.toDF())), "s1")
    val q = startMemQuery(exploded, "t_explode", "append")
    in.addData(
      """{"ts": 10, "source": "s1", "value": {"a": 1.0, "b": 2.0}}""",
      """{"ts": 11, "source": "other", "value": {"a": 9.0}}""")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_explode").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("metric")).toSet == Set("a", "b"))
  }

  test("A4: windowed micro-batch mean per metric") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[String]
    val mean = StreamOps.microBatchMean(
      StreamOps.explodeMetrics(StreamOps.parseMessages(in.toDF())), "5 minutes", "1 minute")
    val q = startMemQuery(mean, "t_mean")
    in.addData(
      """{"ts": 0, "source": "s", "value": {"m": 10.0}}""",
      """{"ts": 60, "source": "s", "value": {"m": 20.0}}""",
      """{"ts": 301, "source": "s", "value": {"m": 99.0}}""")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_mean").collect()
    val w0 = rows.filter(r => r.getAs[Timestamp]("w_start").getTime == 0L)
    assert(w0.exists(r => r.getAs[Long]("n") == 2L && r.getAs[Double]("mean_val") == 15.0))
  }

  test("streaming OHLC bars match the batch operator and merge across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(
      StreamOps.ohlcStream(in.toDF(), width = "1 minute", watermark = "0 seconds"),
      "t_ohlc", "update")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(5, 2.0), sample(5, 1.0), sample(20, 9.0))
    q.processAllAvailable()
    in.addData(sample(50, 3.0), sample(50, 4.0)) // same bar, later batch
    q.processAllAvailable(); q.stop()
    val bars = spark.table("t_ohlc").collect()
      .filter(_.getAs[Timestamp]("bar_start").getTime == 0L)
      .map(r => (r.getAs[Long]("n"), r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close")))
    // update mode: latest emission for the bar carries the merged state
    assert(bars.contains((5L, 1.0, 9.0, 1.0, 4.0)))
    // batch parity: same data through TrendOps.ohlcBars
    val batch = TrendOps.ohlcBars(
      seriesDF(("m", 5L, 2.0), ("m", 5L, 1.0), ("m", 20L, 9.0),
        ("m", 50L, 3.0), ("m", 50L, 4.0)), 60L).collect().head
    assert((batch.getAs[Long]("n"), batch.getAs[Double]("open"),
      batch.getAs[Double]("high"), batch.getAs[Double]("low"),
      batch.getAs[Double]("close")) == ((5L, 1.0, 9.0, 1.0, 4.0)))
  }

  test("F1 streaming decimation: timeMark state persists across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val dec = StreamOps.decimateStream(in.toDS(), 60.0)
    val q = startMemQuery(dec.toDF(), "t_dec", "append")
    def sample(sec: Long, v: Double) =
      StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(0, 1.0), sample(30, 2.0), sample(90, 3.0))
    q.processAllAvailable()
    in.addData(sample(120, 4.0), sample(151, 5.0)) // mark=90: 120 skipped, 151 kept
    q.processAllAvailable(); q.stop()
    val kept = spark.table("t_dec").collect().map(_.getAs[Long]("e")).toSet
    assert(kept == Set(0L, 90L, 151L))
  }

  test("A4 exact parity: gap-triggered mean buffers between triggers across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.gapTriggeredMean(in.toDS(), 60.0).toDF(), "t_gapmean", "append")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(0, 10.0), sample(30, 20.0), sample(90, 30.0))
    q.processAllAvailable()
    in.addData(sample(120, 40.0), sample(151, 50.0), sample(152, 60.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_gapmean").collect()
      .map(r => r.getAs[Long]("e") -> (r.getAs[Double]("mean_val"), r.getAs[Long]("n"))).toMap
    // trigger at 0: mean of [10]; trigger at 90: mean of [20,30];
    // trigger at 151: mean of [40,50]; 152 stays buffered.
    assert(rows == Map(0L -> (10.0, 1L), 90L -> (25.0, 2L), 151L -> (45.0, 2L)))
  }

  test("A7 active channels: event-time timeout evicts idle channels") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.activeChannels(in.toDS(), 60L).toDF(), "t_chan")
    def at(src: String, sec: Long) = StreamSample(new Timestamp(sec * 1000), src, "m", 1.0)
    in.addData(at("s1", 1000), at("s2", 1000))
    q.processAllAvailable()
    in.addData(at("s1", 10000)) // watermark sweeps past s2's timeout
    q.processAllAvailable()
    in.addData(at("s1", 20000)) // one more batch so the timeout fires post-watermark
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_chan").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Boolean]("active")))
    assert(rows.contains(("s1", true)))
    assert(rows.contains(("s2", false)), s"expected s2 eviction, got ${rows.toSeq}")
  }

  test("A6 streaming sliding rates: per-second panes count messages and bytes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[String]
    val rates = StreamOps.rateMetrics(StreamOps.parseMessages(in.toDF()),
      windowSeconds = 10, watermark = "1 minute")
    val q = startMemQuery(rates, "t_rates")
    in.addData(
      """{"ts": 100, "source": "s1", "value": {"m": 1.0}}""",
      """{"ts": 102, "source": "s1", "value": {"m": 2.0}}""")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_rates").collect()
    // the pane covering both events (starting at t=93..100) sees msgs=2
    assert(rows.exists(r => r.getAs[Long]("msgs") == 2L &&
      r.getAs[Double]("msgs_per_sec") == 0.2))
    assert(rows.forall(_.getAs[Long]("bytes") > 0))
  }

  test("A7 session_window sessions per channel") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(
      StreamOps.sessionWindows(in.toDS().toDF(), "10 minutes", "1 minute"), "t_sess",
      mode = "complete")
    def at(sec: Long) = StreamSample(new Timestamp(sec * 1000), "s1", "m", 1.0)
    in.addData(at(0), at(300), at(5000))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_sess").collect()
    assert(rows.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming EWMA matches the batch recurrence across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.ewmaStream(in.toDS(), alpha = 0.5).toDF(), "t_ewma", "append")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(0, 10.0), sample(60, 20.0))
    q.processAllAvailable()
    in.addData(sample(120, 30.0)) // state carries prev=15.0 across the batch boundary
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_ewma").collect()
      .map(r => r.getAs[Long]("e") -> r.getAs[Double]("ewma")).toMap
    assert(got == Map(0L -> 10.0, 60L -> 15.0, 120L -> 22.5))
    // identical to the batch operator on the same series
    val batch = graft.operators.TrendOps.ewma(
      seriesDF(("m", 0L, 10.0), ("m", 60L, 20.0), ("m", 120L, 30.0)), alpha = 0.5)
      .collect().map(p => p.e -> p.ewma).toMap
    assert(got == batch)
  }

  test("streaming derivative matches the batch window across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.derivativeStream(in.toDS()).toDF(), "t_slope", "append")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(0, 10.0), sample(30, 25.0), sample(30, 26.0))
    q.processAllAvailable()
    in.addData(sample(90, 14.0)) // prev=(26.0 @ 30) carried across the boundary
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_slope").collect()
      .map(r => r.getAs[Long]("e") -> r.getAs[Double]("slope")).toMap
    // 30s: (25-10)/30 = 0.5; the same-second 26.0 emits nothing but
    // becomes the predecessor; 90s: (14-26)/60 = -0.2
    assert(got == Map(30L -> 0.5, 90L -> -0.2))
    // identical to the batch operator on the same series (distinct-e rows;
    // the batch keeps the same-second pair out via its e != prev_e guard
    // and advances lag through it the same way)
    val batch = graft.operators.TrendOps.derivative(
      seriesDF(("m", 0L, 10.0), ("m", 30L, 25.0), ("m", 30L, 26.0), ("m", 90L, 14.0)))
      .collect().map(r => r.getAs[Long]("e") -> r.getAs[Double]("slope")).toMap
    assert(got == batch)
  }

  test("streaming funnel: anchors carry across micro-batches, levels monotone") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = startMemQuery(
      StreamOps.funnelStream(
        in.toDF().toDF("ts", "user_id", "metric"),
        Seq("a", "b", "c"), windowSeconds = 100L).toDF(),
      "t_funnel", "update")
    // ts starts at 1, not 0: the event-time-timeout stateful operator
    // drops rows with ts <= watermark, and the INITIAL watermark is 0 —
    // a 0-second event would be "late" before any data arrived (real
    // replays carry epoch-second timestamps, far from this edge)
    def ev(sec: Long, u: Long, m: String) = (new Timestamp(sec * 1000), u, m)
    in.addData(ev(1, 1L, "a"), ev(10, 1L, "b"), ev(1, 2L, "a"))
    q.processAllAvailable()
    // u1's anchor (1) must survive the boundary: c at 90 is in-window;
    // u2's b at 150 is OUT of its anchor's window — stays level 1
    in.addData(ev(90, 1L, "c"), ev(150, 2L, "b"))
    q.processAllAvailable(); q.stop()
    val byUser = spark.table("t_funnel").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("level")))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(byUser == Map(1L -> 3, 2L -> 1))
    // levels only ever grew (each emission strictly above the previous)
    val u1Levels = spark.table("t_funnel").collect()
      .filter(_.getAs[Long]("user_id") == 1L).map(_.getAs[Int]("level")).sorted
    assert(u1Levels.toSeq == u1Levels.distinct.toSeq)
  }

  test("streaming funnel: TTL evicts an idle user's anchors (event-time timeout)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    // ttl >= window is ENFORCED (an eviction inside the window would lose
    // chains batch finds), so eviction is purely a state-size mechanism:
    // an evicted anchor was already outside its own completion window
    val q = startMemQuery(
      StreamOps.funnelStream(
        in.toDF().toDF("ts", "user_id", "metric"),
        Seq("a", "b"), windowSeconds = 10L,
        ttl = "10 seconds", watermark = "0 seconds").toDF(),
      "t_funnel_ttl", "update")
    def ev(sec: Long, u: Long, m: String) = (new Timestamp(sec * 1000), u, m)
    in.addData(ev(1, 1L, "a")) // ts >= 1: see the initial-watermark note above
    q.processAllAvailable()
    // another user's much-later event advances the watermark past u1's
    // ttl horizon -> u1's state evicts on the timer (timeout branch runs)
    in.addData(ev(100, 2L, "a"))
    q.processAllAvailable()
    // u1's b at 120 chains with nothing: anchor evicted AND (consistently,
    // by the ttl >= window invariant) outside the completion window
    in.addData(ev(120, 1L, "b"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_funnel_ttl").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("level"))).toSet
    assert(got == Set((1L, 1), (2L, 1)), s"got $got")
    // and an under-window ttl is refused outright
    intercept[IllegalArgumentException] {
      StreamOps.funnelStream(in.toDF().toDF("ts", "user_id", "metric"),
        Seq("a", "b"), windowSeconds = 1000000L, ttl = "10 seconds")
    }
  }

  test("stream-stream interval join: purchases pick up trailing clicks per channel") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val purchases = MemoryStream[StreamSample]
    val clicks = MemoryStream[StreamSample]
    val joined = StreamOps.intervalJoin(
      purchases.toDS().toDF(), clicks.toDS().toDF(), windowSeconds = 300)
    val q = startMemQuery(joined, "t_ssjoin", "append")
    def at(ms: MemoryStream[StreamSample], src: String, sec: Long, v: Double) =
      ms.addData(StreamSample(new Timestamp(sec * 1000), src, "m", v))
    at(clicks, "u1", 100, 1.0)   // within 300s of the purchase
    at(clicks, "u1", 900, 2.0)   // after the purchase: excluded
    at(clicks, "u2", 390, 3.0)   // other channel
    at(purchases, "u1", 400, 9.9)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_ssjoin").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("source") == "u1")
    assert(rows.head.getAs[Double]("r_value") == 1.0)
  }

  test("stream-static enrichment joins dimension rows, keeps unmatched samples") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val dim = Seq(("s1", "celsius"), ("s2", "hpa")).toDF("source", "unit")
    val enriched = StreamOps.enrichStream(in.toDS().toDF(), dim, "source")
    val q = startMemQuery(enriched, "t_enrich", "append")
    in.addData(
      StreamSample(new Timestamp(1000), "s1", "m", 1.0),
      StreamSample(new Timestamp(2000), "s3", "m", 2.0)) // no dim row
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_enrich").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[String]("unit")).toMap
    assert(rows == Map("s1" -> "celsius", "s3" -> null))
  }

  test("watermarked stream dedup drops re-delivered samples, keeps distinct ones") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.dedupStream(in.toDS().toDF()), "t_dedup", "append")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(10, 1.0), sample(10, 1.0)) // duplicate delivery in-batch
    q.processAllAvailable()
    in.addData(sample(10, 1.0), sample(20, 2.0)) // re-delivery across batches
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_dedup").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.map(_.getAs[Timestamp]("ts").getTime / 1000).toSet == Set(10L, 20L))
  }

  test("streaming incremental dedup gate: corpus dups die, in-stream first arrival wins") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = startMemQuery(
      StreamOps.incrementalDedupStream(
        in.toDS().toDF("ts", "doc_id", "text"), corpus, watermark = "3650 days"),
      "t_incrdedup", "append")
    def doc(id: Long, text: String) = (new Timestamp(id * 1000), id, text)
    in.addData(doc(10, "ALPHA   text"), doc(11, "gamma text")) // 10 = corpus dup
    q.processAllAvailable()
    in.addData(doc(12, "gamma  TEXT"), doc(13, "delta text")) // 12 loses to 11
    q.processAllAvailable(); q.stop()
    val kept = spark.table("t_incrdedup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(11L, 13L))
    // Matches the batch operator on the same fixture.
    val batch = Seq((10L, "ALPHA   text"), (11L, "gamma text"),
      (12L, "gamma  TEXT"), (13L, "delta text")).toDF("doc_id", "text")
    val batchKept = graft.operators.DedupOps.incrementalDedup(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batchKept == kept)
  }

  test("streaming incremental dedup gate holds with auto-broadcast disabled (un-broadcastable corpus posture)") {
    // The 100 TB regime: a corpus whose key set exceeds every broadcast
    // threshold. The gate must not depend on a broadcast plan — the bloom
    // pre-gate plus an un-hinted anti-join must produce the identical key
    // set when the planner is forced onto the shuffle path.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
      val in = MemoryStream[(Timestamp, Long, String)]
      val q = startMemQuery(
        StreamOps.incrementalDedupStream(
          in.toDS().toDF("ts", "doc_id", "text"), corpus, watermark = "3650 days"),
        "t_incrdedup_nb", "append")
      def doc(id: Long, text: String) = (new Timestamp(id * 1000), id, text)
      in.addData(doc(10, "ALPHA   text"), doc(11, "gamma text"))
      q.processAllAvailable()
      in.addData(doc(12, "gamma  TEXT"), doc(13, "delta text"))
      q.processAllAvailable(); q.stop()
      val kept = spark.table("t_incrdedup_nb").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(11L, 13L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("C2 live control: mid-stream `set dayBins` changes subsequent micro-batch output") {
    // The reference's mutate-and-re-render against a RUNNING stream
    // (trend-o-meter:214-220): a successful `set` restarts the plan on the
    // same checkpoint, so later micro-batches compute with the new
    // literals while source progress carries over.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val ck = java.nio.file.Files.createTempDirectory("graft_live_ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val ctl = C2.attachLive(
      build = p => in.toDS().toDF()
        .select(col("ts"), col("metric"),
          lit(p.retentionSeconds / 86400L).cast("int").as("retention_days")),
      sink = (batch, id) => batch.collect().foreach(r =>
        seen.add(r.getAs[Timestamp]("ts").getTime / 1000 -> r.getAs[Int]("retention_days"))),
      checkpointDir = ck,
      outputMode = "append")
    try {
      def sample(sec: Long) = StreamSample(new Timestamp(sec * 1000), "s", "m", 1.0)
      in.addData(sample(10))
      ctl.processAllAvailable()
      assert(seen.asScala.toMap.apply(10L) == 7) // default dayBins max = 7
      val r = ctl.execute("set dayBins 1,2")
      assert(r.ok && r.params.dayBins == Seq(1, 2))
      in.addData(sample(20))
      ctl.processAllAvailable()
      val byTs = seen.asScala.toMap
      assert(byTs(20L) == 2, s"post-set batch must use the new dayBins: $byTs")
      assert(byTs(10L) == 7) // pre-set emission is history, not recomputed
      // get stats composes the controller's LIVE counters: the managed
      // restart is visible as a second query start (the reconnect log).
      val stats = ctl.execute("get stats")
      assert(stats.ok && stats.message.contains("\"starts\": 2"), stats.message)
    } finally ctl.close()
  }

  test("streaming CUSUM accumulates across micro-batches and flags the breach") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(
      StreamOps.cusumStream(in.toDS(), target = 10.0, threshold = 5.0).toDF(),
      "t_cusum", "append")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(1, 12.0), sample(2, 11.0)) // cusum 2, 3
    q.processAllAvailable()
    in.addData(sample(3, 14.0), sample(4, 9.0))  // cusum 7 (breach), 6 (breach)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t_cusum").collect()
      .map(r => r.getAs[Long]("e") -> (r.getAs[Double]("cusum"), r.getAs[Boolean]("breach")))
      .toMap
    assert(rows == Map(1L -> (2.0, false), 2L -> (3.0, false),
      3L -> (7.0, true), 4L -> (6.0, true)))
  }

  test("streaming 1m tier equals the batch 1m tier over the same samples (a24 contract)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[StreamSample]
    val q = startMemQuery(StreamOps.minuteTierStream(in.toDF()), "t_tier", "update")
    def sample(sec: Long, v: Double) = StreamSample(new Timestamp(sec * 1000), "s", "m", v)
    in.addData(sample(10, 1.5), sample(20, 2.5))
    q.processAllAvailable()
    in.addData(sample(40, 0.5), sample(70, 9.0)) // batch 2 updates minute 0, opens minute 1
    q.processAllAvailable(); q.stop()
    // update mode: keep the LAST emission per (metric, minute) — the upsert
    // contract of Sinks.lastValueSink.
    val tier = spark.table("t_tier").collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Timestamp]("minute_start").getTime / 1000) ->
        (r.getAs[Long]("n"), r.getAs[java.math.BigDecimal]("sv").doubleValue,
          r.getAs[Double]("mn"), r.getAs[Double]("mx")))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val batch = seriesDF(("m", 10L, 1.5), ("m", 20L, 2.5), ("m", 40L, 0.5), ("m", 70L, 9.0))
      .groupBy(col("metric"), (col("e") - col("e") % 60).as("minute"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("value").cast("decimal(18,2)")).as("sv"),
        org.apache.spark.sql.functions.min("value").as("mn"),
        org.apache.spark.sql.functions.max("value").as("mx"))
      .collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Long]("minute")) ->
        (r.getAs[Long]("n"), r.getAs[java.math.BigDecimal]("sv").doubleValue,
          r.getAs[Double]("mn"), r.getAs[Double]("mx"))).toMap
    assert(tier == batch, s"stream tier $tier != batch tier $batch")
  }

  test("streaming gap alert: timer opens the gap, returning data closes it with the full extent") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StreamSample]
      val q = startMemQuery(StreamOps.gapAlertStream(in.toDS(), 60L).toDF(), "t_gap")
      def at(metric: String, sec: Long) = StreamSample(new Timestamp(sec * 1000), "s", metric, 1.0)
      // m3's hole lives entirely inside this first micro-batch (later
      // batches would land behind the advancing watermark and be dropped
      // before the stateful operator).
      in.addData(at("m1", 1000), at("m2", 1000), at("m3", 100), at("m3", 400))
      q.processAllAvailable()
      in.addData(at("m2", 10000)) // watermark sweeps past m1's timer -> open alert
      q.processAllAvailable()
      // m1 resumes with TWO samples: the closing row must end at the FIRST
      // post-gap sample (batch gapReport parity), and the 20000->20030
      // spacing is fine so no second row.
      in.addData(at("m1", 20000), at("m1", 20030))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("t_gap").collect()
        .map(r => (r.getAs[String]("metric"), r.getAs[Long]("gap_start"),
          r.getAs[Long]("gap_end"), r.getAs[Boolean]("open")))
      assert(rows.contains(("m1", 1000L, -1L, true)), s"expected open alert, got ${rows.toSeq}")
      assert(rows.contains(("m1", 1000L, 20000L, false)), s"expected closing row, got ${rows.toSeq}")
      assert(!rows.exists(r => r._1 == "m1" && r._2 == 1000L && r._3 == 20030L),
        s"closing row must end at the FIRST post-gap sample, got ${rows.toSeq}")
      assert(rows.contains(("m3", 100L, 400L, false)),
        s"expected intra-batch hole row, got ${rows.toSeq}")
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A7 via transformWithState: timer-driven eviction matches flatMapGroupsWithState contract") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StreamSample]
      val q = startMemQuery(StreamOps.activeChannelsTWS(in.toDS(), 60L).toDF(), "t_tws")
      def at(src: String, sec: Long) = StreamSample(new Timestamp(sec * 1000), src, "m", 1.0)
      in.addData(at("s1", 1000), at("s2", 1000))
      q.processAllAvailable()
      in.addData(at("s1", 10000)) // watermark sweeps past s2's timer
      q.processAllAvailable()
      in.addData(at("s1", 20000))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("t_tws").collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Boolean]("active")))
      assert(rows.contains(("s1", true)))
      assert(rows.contains(("s2", false)), s"expected s2 eviction, got ${rows.toSeq}")
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("M5: checkpointed file-stream restart resumes exactly-once (no reprocessing)") {
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val srcDir = s"$base/in"; val outDir = s"$base/out"; val ck = s"$base/checkpoint"
    new java.io.File(srcDir).mkdirs()
    def writeFile(n: Int, lines: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/f$n.jsonl"),
        lines.mkString("\n"))
    def startQuery() =
      StreamOps.explodeMetrics(StreamOps.parseMessages(spark.readStream.text(srcDir)))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ck).outputMode("append").start()

    writeFile(1, """{"ts": 10, "source": "s", "value": {"m": 1.0}}""")
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).count() == 1)

    writeFile(2, """{"ts": 20, "source": "s", "value": {"m": 2.0}}""")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir).collect()
    // restart processed ONLY the new file: 2 rows total, no duplicates
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.map(_.getAs[Double]("value")).toSet == Set(1.0, 2.0))
  }

  test("stateful restart: decimation timeMark state survives a checkpointed restart") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("ckpt-state").toString
    val srcDir = s"$base/in"; val outDir = s"$base/out"; val ck = s"$base/checkpoint"
    new java.io.File(srcDir).mkdirs()
    def writeFile(n: Int, lines: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/f$n.jsonl"),
        lines.mkString("\n"))
    def msg(sec: Long, v: Double) =
      s"""{"ts": $sec, "source": "s", "value": {"m": $v}}"""
    def startQuery() = {
      val samples = StreamOps.explodeMetrics(
        StreamOps.parseMessages(spark.readStream.text(srcDir))).as[StreamSample]
      StreamOps.decimateStream(samples, 60.0).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ck).outputMode("append").start()
    }
    writeFile(1, msg(0, 1.0), msg(30, 2.0), msg(90, 3.0)) // keeps 0, 90
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // restart: mark=90 must come back from the state store — 120 skipped, 151 kept
    writeFile(2, msg(120, 4.0), msg(151, 5.0))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val kept = spark.read.parquet(outDir).collect().map(_.getAs[Long]("e")).toSet
    assert(kept == Set(0L, 90L, 151L), s"got $kept")
  }

  test("M1-M3 recompute loop matches the batch flagship on the same data") {
    val loop = new StreamOps.RecomputeLoop()
    val anchor = 100L * 86400L
    val batch1 = seriesDF(("m", anchor - 2 * 86400, 5.0), ("m", anchor - 3600, 1.0))
    val batch2 = seriesDF(("m", anchor, 2.0), ("m", anchor - 4 * 86400, 9.0))
    loop.onBatch(batch1)
    loop.onBatch(batch2)
    val streamed = loop.extents.get.collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Int]("day_bin"),
        r.getAs[Long]("slice_len"), r.getAs[Double]("min_val"))).toSet
    val direct = TrendOps.bandedExtents(batch1.unionByName(batch2)).collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Int]("day_bin"),
        r.getAs[Long]("slice_len"), r.getAs[Double]("min_val"))).toSet
    assert(streamed == direct)
  }

  test("S6 grid: writeAt/clear clip correctly; extents layout fills metric rows x bin cols") {
    val g = new graft.streaming.DisplayGrid(cols = 40, rows = 3)
    g.writeAt(38, 0, "abcd") // clipped at edge
    assert(g.render.head.endsWith("ab"))
    g.writeAt(0, 5, "ignored") // out-of-range row: no crash
    g.clear()
    assert(g.render.forall(_.trim.isEmpty))

    val anchor = 100L * 86400L
    val extents = graft.operators.TrendOps.bandedExtents(seriesDF(
      ("temperature", anchor, 21.4), ("temperature", anchor - 80000, 18.6),
      ("pressure", anchor, 1013.2), ("pressure", anchor - 80000, 1009.8)))
    graft.streaming.DisplayGrid.layoutExtents(extents, g)
    val frame = g.render
    assert(frame.exists(_.startsWith("prssr")))     // deVoweled label, metric row
    assert(frame.exists(_.contains("10/13")))       // pressure rendered last-2
    assert(frame.exists(l => l.startsWith("tmprtr") && l.contains("19/21")))
  }

  test("S6/S7/S8 sinks: display formatting, last-value upsert, append audit") {
    val extents = TrendOps.bandedExtents(
      seriesDF(("temperature", 100L * 86400, 21.4), ("temperature", 100L * 86400 - 86000, 18.6)))
    var frame: Seq[String] = Nil
    Sinks.displaySink(lines => frame = lines)(extents, 0L)
    assert(frame.head.startsWith("~ frame 0")) // X10 tick, even batch
    assert(frame.exists(_.contains("tmprtr")))
    Sinks.displaySink(lines => frame = lines)(extents, 1L)
    assert(frame.head.startsWith("* frame 1")) // alternation on odd batch

    val store = scala.collection.concurrent.TrieMap[String, String]()
    val s = spark
    import s.implicits._
    Sinks.lastValueSink(store, "k", "v", "ord")(
      Seq(("a", "old", 1L), ("a", "new", 2L), ("b", "only", 1L)).toDF("k", "v", "ord"), 0L)
    assert(store("a").contains("new") && !store("a").contains("old")) // event-order last wins
    assert(store("b").contains("only"))

    // Cardinality contract is enforced, not assumed: a batch with more
    // distinct keys than maxKeys fails loudly instead of growing the store.
    val oversized = intercept[IllegalStateException] {
      Sinks.lastValueSink(store, "k", "v", "ord", maxKeys = 2)(
        Seq(("x", "1", 1L), ("y", "2", 1L), ("z", "3", 1L)).toDF("k", "v", "ord"), 1L)
    }
    assert(oversized.getMessage.contains("distinct"))

    val dir = java.nio.file.Files.createTempDirectory("audit").toString
    Sinks.auditSink(dir)(Seq(("cmd", true)).toDF("message", "valid"), 7L)
    // replaying the same batch must NOT duplicate the audit record
    Sinks.auditSink(dir)(Seq(("cmd", true)).toDF("message", "valid"), 7L)
    val audit = spark.read.option("recursiveFileLookup", "true").json(dir).collect()
    assert(audit.length == 1 && audit.head.getAs[Long]("batch_id") == 7L)
  }

  test("replay harness: empty input yields an empty tier (no NPE) and temp dirs are cleaned") {
    import graft.streaming.StreamReplay
    val before = tmpReplayDirs()
    val empty = StreamReplay.minuteTierReplay(seriesDF().where(lit(false)))
    assert(empty.columns.toSeq ==
      Seq("metric", "minute_start", "n", "sv", "mn", "mx"))
    assert(empty.count() == 0)

    // Non-empty replay: the result must survive its own temp-root deletion
    // (localCheckpoint detach) — collect AFTER the call proves it reads no
    // replay files — and no graft_replay_ dir may be left behind.
    val tier = StreamReplay.minuteTierReplay(
      seriesDF(("m", 0L, 1.0), ("m", 61L, 3.0), ("m", 125L, 5.0)), slices = 2)
    val rows = tier.collect()
    assert(rows.length == 3) // three distinct minutes
    assert(tmpReplayDirs() == before)
  }

  private def tmpReplayDirs(): Set[String] = {
    val tmp = graft.streaming.StreamReplay.replayBase.toFile
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .collect { case f if f.getName.startsWith("graft_replay_") => f.getName }
      .toSet
  }

  test("streaming near-dup gate: candidate pairs match batch minHashCandidates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // Fixture docs + planted variants (last-3-tokens-dropped), the same
    // construction the batch dedup queries use — the base corpus is
    // distinct, so candidates are overwhelmingly the planted pairs.
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") < 100).select("doc_id", "text")
    val variants = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(graft.operators.TextOps.tokens(col("text")), lit(1),
          greatest(size(graft.operators.TextOps.tokens(col("text"))) - 3, lit(1)))).as("text"))
    val corpus = base.unionByName(variants).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamOps.nearDupCandidatesStream(
      in.toDS().toDF("ts", "doc_id", "text"),
      k = 64, bands = 16, ttl = "1 hour", watermark = "0 seconds")
    val q = startMemQuery(stream.toDF(), "t_neardup", "append")
    // two micro-batches, split mid-corpus: cross-batch pairs exercise the
    // bucket state, within-batch pairs the in-batch loop
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    in.addData(b1.map { case (id, t) => (new Timestamp(1000L), id, t) }.toSeq)
    q.processAllAvailable()
    in.addData(b2.map { case (id, t) => (new Timestamp(2000L), id, t) }.toSeq)
    q.processAllAvailable(); q.stop()

    val streamPairs = spark.table("t_neardup")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = graft.operators.DedupOps.minHashCandidates(
        spark.createDataFrame(corpus.toSeq).toDF("doc_id", "text"), 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.nonEmpty) // the planted variants must surface
    // planted variants agree on most signature components
    val ests = spark.table("t_neardup")
      .where(col("doc_b") === col("doc_a") + 1000000)
      .select("est_jaccard").collect().map(_.getDouble(0))
    assert(ests.nonEmpty && ests.forall(_ > 0.3))
  }

  test("stateful restart: near-dup bucket state survives a checkpointed restart") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("ckpt-neardup").toString
    val srcDir = s"$base/in"; val outDir = s"$base/out"; val ck = s"$base/checkpoint"
    new java.io.File(srcDir).mkdirs()
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def writeFile(n: Int, lines: String*): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/f$n.jsonl"),
        lines.mkString("\n"))
    def doc(sec: Long, id: Long, t: String) =
      s"""{"sec": $sec, "doc_id": $id, "text": "$t"}"""
    def startQuery() = {
      val schema = "sec LONG, doc_id LONG, text STRING"
      val docs = spark.readStream.schema(schema).json(srcDir)
        .select(timestamp_seconds(col("sec")).as("ts"), col("doc_id"), col("text"))
      StreamOps.nearDupCandidatesStream(docs,
          k = 64, bands = 16, ttl = "1 hour", watermark = "0 seconds").toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ck).outputMode("append").start()
    }
    writeFile(1, doc(1000, 1, textA))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // restart: doc 1's signatures must come back from the state store —
    // its twin arriving in a NEW query incarnation still pairs with it
    writeFile(2, doc(1001, 2, textA))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val pairs = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("streaming near-dup gate: maxPerBucket caps state but keeps flagging") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamOps.nearDupCandidatesStream(
      in.toDS().toDF("ts", "doc_id", "text"),
      k = 64, bands = 16, ttl = "1 hour", watermark = "0 seconds",
      maxPerBucket = 2)
    val q = startMemQuery(stream.toDF(), "t_neardup_cap", "append")
    val text = "identical boilerplate page text repeated across the corpus"
    def at(sec: Long, id: Long) = (new Timestamp(sec * 1000), id, text)
    // four identical docs arrive in order: 1 and 2 are retained (cap=2);
    // 3 and 4 still flag against the retained representatives but are NOT
    // retained, so (3,4) never pairs — state stays O(cap)
    in.addData(at(1000, 1), at(1001, 2), at(1002, 3))
    q.processAllAvailable()
    in.addData(at(1003, 4))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("t_neardup_cap")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)),
      s"got $pairs")
  }

  test("streaming SimHash gate: verified pairs match batch simHashPairs") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // near-identical texts (one token changed) plus distinct filler — the
    // same planted-variant construction the batch simhash queries use
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") < 80).select("doc_id", "text")
    val variants = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(graft.operators.TextOps.tokens(col("text")), lit(1),
          greatest(size(graft.operators.TextOps.tokens(col("text"))) - 1, lit(1)))).as("text"))
    val corpus = base.unionByName(variants).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamOps.simHashPairsStream(
      in.toDS().toDF("ts", "doc_id", "text"),
      maxHamming = 3, ttl = "1 hour", watermark = "0 seconds")
    val q = startMemQuery(stream.toDF(), "t_simhash", "append")
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    in.addData(b1.map { case (id, t) => (new Timestamp(1000L), id, t) }.toSeq)
    q.processAllAvailable()
    in.addData(b2.map { case (id, t) => (new Timestamp(2000L), id, t) }.toSeq)
    q.processAllAvailable(); q.stop()

    // the stream emits VERIFIED pairs with exact hamming — compare the
    // full (pair, distance) relation, not just the pair set
    val streamPairs = spark.table("t_simhash")
      .select("doc_a", "doc_b", "hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    val batchPairs = graft.operators.DedupOps.simHashPairs(
        spark.createDataFrame(corpus.toSeq).toDF("doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.nonEmpty) // the planted variants must surface
  }

  test("streaming SimHash gate: TTL evicts block state past the watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamOps.simHashPairsStream(
      in.toDS().toDF("ts", "doc_id", "text"),
      maxHamming = 3, ttl = "60 seconds", watermark = "0 seconds")
    val q = startMemQuery(stream.toDF(), "t_simhash_ttl", "append")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def at(sec: Long, id: Long, t: String) = (new Timestamp(sec * 1000), id, t)
    in.addData(at(1000, 1, textA))
    q.processAllAvailable()
    in.addData(at(2000, 99, "unrelated filler text payload"))
    q.processAllAvailable() // watermark -> 2000: doc 1's blocks (timeout 1060) evict
    in.addData(at(2001, 11, textA))
    q.processAllAvailable(); q.stop()
    // the identical twin arrives AFTER eviction: no pair may surface
    assert(spark.table("t_simhash_ttl").count() == 0)
  }

  test("streaming near-dup gate: TTL evicts bucket state past the watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val stream = StreamOps.nearDupCandidatesStream(
      in.toDS().toDF("ts", "doc_id", "text"),
      k = 64, bands = 16, ttl = "60 seconds", watermark = "0 seconds")
    val q = startMemQuery(stream.toDF(), "t_neardup_ttl", "append")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    def at(sec: Long, id: Long, t: String) = (new Timestamp(sec * 1000), id, t)
    // A enters at t=1000; B at t=1990 (inside TTL when the dups arrive)
    in.addData(at(1000, 1, textA))
    q.processAllAvailable()
    in.addData(at(1990, 2, textB), at(2000, 99, "unrelated filler text payload"))
    q.processAllAvailable() // watermark -> 2000: A's buckets (timeout 1060) evict
    in.addData(at(2001, 11, textA), at(2001, 12, textB))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("t_neardup_ttl")
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // B's twin pairs (state retained: 1990 + 60 > 2000); A's twin does NOT
    // (1000 + 60 < 2000 — bucket evicted before the twin arrived)
    assert(pairs == Set((2L, 12L)), s"got $pairs")
    // identical text -> identical signature -> estimate exactly 1.0
    val est = spark.table("t_neardup_ttl")
      .where(col("doc_a") === 2).select("est_jaccard").collect().map(_.getDouble(0))
    assert(est.nonEmpty && est.forall(_ == 1.0))
  }

  test("streaming embedding gate: candidate pairs match batch embeddingCandidatePairs") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") < 40).select("vec_id", "embedding")
    val twins = base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = base.unionByName(twins).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    val in = MemoryStream[(Timestamp, Long, Seq[Float])]
    val stream = StreamOps.embeddingNearDupStream(
      in.toDS().toDF("ts", "vec_id", "embedding"),
      ttl = "1 hour", watermark = "0 seconds")
    val q = startMemQuery(stream.toDF(), "t_embgate", "append")
    // two micro-batches, split mid-corpus: cross-batch pairs exercise the
    // bucket state, within-batch pairs the in-batch loop
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    in.addData(b1.map { case (id, v) => (new Timestamp(1000L), id, v) }.toSeq)
    q.processAllAvailable()
    in.addData(b2.map { case (id, v) => (new Timestamp(2000L), id, v) }.toSeq)
    q.processAllAvailable(); q.stop()

    val streamPairs = spark.table("t_embgate")
      .select("vec_a", "vec_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = graft.operators.SimilarityOps.embeddingCandidatePairs(
        spark.createDataFrame(corpus.toSeq).toDF("vec_id", "embedding"))
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.nonEmpty) // the planted twins must surface
  }

  test("live socket source drives parse→explode→minute tier (source-agnostic in fact)") {
    import graft.streaming.StreamLive
    // A real TCP server on an ephemeral port: the socket source connects as
    // a CLIENT at query start, so the listener must exist first and the
    // writer side only appears once the connection is accepted.
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var out: java.io.PrintWriter = null
    val acceptor = new Thread(() => {
      val sock = server.accept()
      out = new java.io.PrintWriter(sock.getOutputStream, true)
    })
    acceptor.setDaemon(true)
    acceptor.start()

    val q = StreamLive.pipeline(
        StreamLive.socketMessages(spark, "127.0.0.1", server.getLocalPort))
      .writeStream.format("memory").queryName("t_live_tier")
      .outputMode("update").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (out == null && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(out != null, "socket source never connected")
      // three samples inside one minute window + one malformed line the
      // parse stage must drop, exactly as on the bounded paths
      out.println("""{"ts": 60, "source": "dev1", "value": {"temperature": 10.0}}""")
      out.println("""garbage {{{""")
      out.println("""{"ts": 70, "source": "dev1", "value": {"temperature": 30.0}}""")
      out.println("""{"ts": 80, "source": "dev2", "value": {"temperature": 20.0}}""")
      // The socket receiver has no "all data consumed" barrier to the
      // query, so poll until the tier row reflects all three samples.
      def tierRow() = spark.table("t_live_tier")
        .where(col("metric") === "temperature" && col("n") === 3)
        .collect()
      while (tierRow().isEmpty && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val r = tierRow()
      assert(r.nonEmpty, "minute-tier row with n=3 never arrived from the socket")
      assert(r.head.getAs[java.math.BigDecimal]("sv").doubleValue() == 60.0)
      assert(r.head.getAs[Double]("mn") == 10.0)
      assert(r.head.getAs[Double]("mx") == 30.0)
      // and the tier row maps onto the display-grid shape displaySink renders
      val disp = StreamLive.tierToDisplay(
        spark.table("t_live_tier").where(col("n") === 3)).collect()
      assert(disp.head.getAs[Long]("day_bin") == 1L) // epoch minute of ts=60..80
    } finally {
      q.stop()
      server.close()
    }
  }

  test("stream ingestion into SnapshotStore: epoch-idempotent appends, replay is a no-op") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("snapstream").toString
    val ck = java.nio.file.Files.createTempDirectory("snapck").toString
    try {
      val in = MemoryStream[(Long, String)]
      def start() = in.toDF().toDF("id", "payload")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
          SnapshotStore.appendEpoch(batch, root, epochId): Unit
        }
        .start()
      val q1 = start()
      in.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
      in.addData((3L, "c"))
      q1.processAllAvailable()
      q1.stop()
      val v = SnapshotStore.currentVersion(root)
      assert(SnapshotStore.read(spark, root).count() == 3)
      // a MANUAL replay of an already-committed epoch must be a no-op
      val replay = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      assert(SnapshotStore.appendEpoch(replay, root, epochId = 0L) == v)
      assert(SnapshotStore.read(spark, root).count() == 3)
      // restart from the same checkpoint: no duplicate ingestion either
      val q2 = start()
      in.addData((4L, "d"))
      q2.processAllAvailable()
      q2.stop()
      val ids = SnapshotStore.read(spark, root).collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L), ids.mkString(","))
      // and the incremental read after the pre-restart version is just the tail
      assert(SnapshotStore.incremental(spark, root, v).collect()
        .map(_.getLong(0)).toSeq == Seq(4L))
    } finally {
      SnapshotStore.deleteTree(root)
      SnapshotStore.deleteTree(ck)
    }
  }

  test("replay run step: an overlapping replay leaves the caller's settings as they were, and the caller's listeners see the replay") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import graft.sources.SnapshotStore
    import graft.streaming.StreamReplay
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val root = java.nio.file.Files.createTempDirectory("replaypin").toString
    val starts = new AtomicInteger
    val progressed = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = starts.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progressed.countDown()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val rows = seriesDF(("m", 0L, 1.0), ("m", 60L, 2.0)).select("metric", "e", "value")
    val bRunning = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    @volatile var b: Thread = null
    @volatile var bFailure: Throwable = null
    spark.streams.addListener(listener)
    spark.conf.set(key, "13")
    try {
      // replay A's per-trigger closure starts replay B on another thread;
      // B's own closure holds it open until A has returned, so B ends last
      StreamReplay.viewIngestReplay(rows, "e", s"$root/a", _ => if (b == null) {
        b = new Thread(() =>
          try StreamReplay.viewIngestReplay(rows, "e", s"$root/b", _ => {
            bRunning.countDown()
            aDone.await(60, TimeUnit.SECONDS): Unit
          }, slices = 1)
          catch { case t: Throwable => bFailure = t })
        b.start()
        bRunning.await(3, TimeUnit.SECONDS): Unit
      }, slices = 1)
      aDone.countDown()
      b.join(120000)
      assert(!b.isAlive && bFailure == null, s"replay B failed: $bFailure")
      assert(spark.conf.get(key) == "13")
      assert(starts.get() >= 2)
      assert(progressed.await(30, TimeUnit.SECONDS), "no progress event reached the caller")
      assert(spark.streams.active.isEmpty)
    } finally {
      aDone.countDown()
      spark.streams.removeListener(listener)
      spark.conf.set(key, before)
      SnapshotStore.deleteTree(root)
    }
  }

  test("snapshot ingest drip: k non-empty slices publish exactly k source versions; the view equals a from-scratch rollup") {
    import graft.sources.{RollupView, SnapshotStore}
    import graft.streaming.StreamReplay
    val root = java.nio.file.Files.createTempDirectory("dripk").toString
    try {
      // three equal event-time thirds of [10, 200000], none empty
      val rows = seriesDF(("m", 10L, 1.0), ("m", 20L, 2.0), ("n", 100000L, 3.0),
        ("m", 100010L, 4.0), ("n", 200000L, 5.0))
      StreamReplay.snapshotIngestReplay(rows, s"$root/src", s"$root/view", slices = 3)
      assert(SnapshotStore.currentVersion(s"$root/src") == 3)
      SnapshotStore.append(rows.select("metric", "e", "value"), s"$root/once")
      RollupView.refresh(spark, s"$root/once", s"$root/onceview")
      def rollup(view: String) = RollupView.read(spark, s"$root/$view").collect().toSet
      assert(rollup("view") == rollup("onceview"))
    } finally SnapshotStore.deleteTree(root)
  }
}
