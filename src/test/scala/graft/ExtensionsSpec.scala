package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.VecExpressions
import graft.operators.TrendOps
import graft.streaming.{CounterListener, StreamOps, StreamSample}

/** Extension points: native Expression, UDAF Aggregator, C2 params, A8
  * counters. */
class ExtensionsSpec extends SparkSpec {

  test("SQL function registry: vec_dot/simhash64/minhash_sig/word_shingles callable from SQL") {
    val s = spark
    import s.implicits._
    Seq((1L, "the quick brown fox jumps")).toDF("id", "text")
      .createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       simhash64(split(text, ' ')) AS sh,
        |       size(minhash_sig(split(text, ' '), 16)) AS mk,
        |       word_shingles(split(text, ' '), 3) AS ws
        |FROM ext_docs""".stripMargin).collect().head
    assert(row.getAs[Double]("d") == 11.0)
    // SQL and Column-API paths share the expression, so values agree.
    val api = Seq(("the quick brown fox jumps")).toDF("text").select(
      graft.functions.HashExpressions.simHash64(split(col("text"), " ")).as("sh"))
      .collect().head.getLong(0)
    assert(row.getAs[Long]("sh") == api)
    assert(row.getAs[Int]("mk") == 16)
    assert(row.getSeq[String](row.fieldIndex("ws")) ==
      Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("word_shingles matches concat_ws byte-for-byte, including null tokens") {
    val s = spark
    import s.implicits._
    // concat_ws skips nulls (no separator emitted); word_shingles must too.
    val df = Seq(1).toDF("id").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("toks"))
    val got = df.select(
      graft.functions.TextExpressions.wordShingles(col("toks"), 3).as("ws"),
      concat_ws(" ", col("toks")(0), col("toks")(1), col("toks")(2)).as("cw0"),
      concat_ws(" ", col("toks")(1), col("toks")(2), col("toks")(3)).as("cw1"))
      .collect().head
    assert(got.getSeq[String](0) == Seq(got.getString(1), got.getString(2)))
    assert(got.getSeq[String](0) == Seq("a b", "b c"))
  }

  test("ngram_repetition: hand-computed stats, ties break lexicographically") {
    val s = spark
    import s.implicits._
    // "a b a b a": 2-grams = [a b, b a, a b, b a] → f(a b)=2, f(b a)=2;
    // tie → lexicographically smallest "a b"; top_chars = 2*3;
    // dup_chars = 2*3 + 2*3; n_grams = 4.
    val row = spark.sql(
      "SELECT ngram_repetition(split('a b a b a', ' '), 2) AS r").select(
      col("r.top_gram"), col("r.top_freq"), col("r.top_chars"),
      col("r.dup_chars"), col("r.n_grams")).collect().head
    assert(row.getString(0) == "a b" && row.getInt(1) == 2)
    assert(row.getLong(2) == 6L && row.getLong(3) == 12L && row.getInt(4) == 4)
    // doc shorter than n: zero grams, empty top gram, all counters zero
    val short = spark.sql(
      "SELECT ngram_repetition(split('solo', ' '), 2) AS r").select(
      col("r.top_gram"), col("r.top_freq"), col("r.n_grams")).collect().head
    assert(short.getString(0) == "" && short.getInt(1) == 0 && short.getInt(2) == 0)
  }

  test("text layer registered in SQL composes the same expressions as the Scala API") {
    val s = spark
    import s.implicits._
    Seq((1L, "the cat of the hat and a mat, truly."))
      .toDF("doc_id", "text").createOrReplaceTempView("ext_text")
    val row = spark.sql(
      """SELECT quality_score(text) AS q, lang_guess(text) AS lg,
        |       token_count(text) AS n, bpeish_token_count(text) AS bn,
        |       doc_split(text) AS sp,
        |       redact_pii(text || ' mail me: a@b.co') AS red
        |FROM ext_text""".stripMargin).collect().head
    val api = Seq(("the cat of the hat and a mat, truly.")).toDF("text").select(
      graft.operators.TextOps.qualityScore(col("text")).as("q"),
      graft.operators.TextOps.langGuess(col("text")).as("lg"),
      graft.operators.TextOps.tokenCount(col("text")).as("n")).collect().head
    assert(row.getAs[Double]("q") == api.getAs[Double]("q"))
    assert(row.getAs[String]("lg") == "en" && api.getAs[String]("lg") == "en")
    assert(row.getAs[Int]("n") == api.getAs[Int]("n"))
    assert(row.getAs[Int]("bn") > row.getAs[Int]("n")) // punctuation splits
    assert(Set("train", "eval").contains(row.getAs[String]("sp")))
    assert(row.getAs[String]("red").contains("<EMAIL>"))
    val cos = spark.sql(
      "SELECT vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").collect().head
    assert(cos.getAs[Double]("c") == 1.0)
  }

  test("VecDotProduct: correct, null-array-safe, codegen'd, matches HOF math") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (null.asInstanceOf[Array[Double]], Array(1.0))).toDF("a", "b")
    val out = df.select(VecExpressions.vecDot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) == 32.0)
    assert(out(1).isNullAt(0))
    // HOF parity (same accumulation order)
    val hof = df.where(col("a").isNotNull).select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
      .collect().head.getDouble(0)
    assert(hof == 32.0)
    // codegen path active: over a real scan (a local Seq constant-folds to
    // LocalTableScan), the projection must sit inside WholeStageCodegen.
    val streamed = spark.range(100).select(
      array(lit(1.0), col("id").cast("double")).as("a"),
      array(lit(2.0), lit(3.0)).as("b"))
    // (`*(n)` is executedPlan.toString's WholeStageCodegen marker)
    val plan = streamed.select(VecExpressions.vecDot(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
  }

  test("vec_dot is registered in SQL via GraftExtensions") {
    val r = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
  }

  test("fused ExtentAggregator matches the built-ins flagship exactly") {
    val anchor = 100L * 86400L
    val df = seriesDF(
      ("m", anchor, 5.0), ("m", anchor - 3600, 1.0), ("m", anchor - 7200, 1.0),
      ("m", anchor - 2 * 86400, 9.0), ("n", anchor - 90000, 2.0))
    def key(r: org.apache.spark.sql.Row) = r.getValuesMap[Any](r.schema.fieldNames)
    val a = TrendOps.bandedExtents(df).collect().map(key).toSet
    val b = TrendOps.bandedExtentsFused(df).collect().map(key).toSet
    assert(a == b)
  }

  test("C2: get config renders params; set mutates and re-triggers; unknown is safe") {
    val p = TrendParams.default
    val get = C2.execute("get config", p)
    assert(get.ok && get.message.contains("\"minDataHoursToRenderBin\": 18"))

    val anchor = 100L * 86400L
    val df = seriesDF(("m", anchor, 1.0), ("m", anchor - 20 * 3600, 2.0)) // 20h span
    val (resp, rerun) = C2.executeAndRerun("set minDataHoursToRenderBin 21", p, df)
    assert(resp.ok && resp.params.minDataHoursToRenderBin == 21)
    // 20h span: complete at the default 18, incomplete at 21
    assert(TrendOps.bandedExtents(df, p).collect().head.getAs[Boolean]("is_complete"))
    assert(!rerun.get.collect().head.getAs[Boolean]("is_complete"))
    // reads and rejected commands must NOT trigger the full recompute
    assert(C2.executeAndRerun("get config", p, df)._2.isEmpty)
    assert(C2.executeAndRerun("frobnicate", p, df)._2.isEmpty)

    // every parameter renderConfig advertises is settable
    assert(C2.execute("set sessionGapSeconds 900", p).params.sessionGapSeconds == 900L)
    assert(C2.execute("set maxListQueryLength 777", p).params.maxListQueryLength == 777)
    assert(C2.execute("set dayBins 2,4,6", p).params.dayBins == Seq(2, 4, 6))
    // overflow-proof truthiness (matches Scalars.toBool, not a long cast)
    assert(C2.execute("set debug 99999999999999999999", p).ok)

    val bad = C2.execute("frobnicate all the things", p)
    assert(!bad.ok && bad.params == p)
    assert(!C2.execute("set minDataHoursToRenderBin nope", p).ok)
  }

  test("S5 command stream folds in arrival order; bad commands don't break the fold") {
    val (p2, resps) = C2.foldCommands(Seq(
      "set minDataHoursToRenderBin 10",
      "garbage",
      "set currentValueSamples 7",
      "get config"), TrendParams.default)
    assert(p2.minDataHoursToRenderBin == 10 && p2.currentValueSamples == 7)
    assert(resps.map(_.ok) == Seq(true, false, true, true))
    assert(resps.last.message.contains("\"currentValueSamples\": 7"))
  }

  test("§2.6 `get stats` composes the LIVE counter values (trend-o-meter:177-194)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val counters = new CounterListener
    spark.streams.addListener(counters)
    try {
      val in = MemoryStream[StreamSample]
      val q = in.toDS().toDF().writeStream.format("memory")
        .queryName("t_stats_rt").outputMode("append").start()
      in.addData(StreamSample(new Timestamp(1000), "s", "m", 1.0),
        StreamSample(new Timestamp(2000), "s", "m", 2.0),
        StreamSample(new Timestamp(3000), "s", "m", 3.0))
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      var waited = 0
      while (counters.totalRowsReceived < 3 && waited < 50) { Thread.sleep(100); waited += 1 }
      val r = C2.execute("get stats", TrendParams.default, Some(counters))
      assert(r.ok && r.verb == "get")
      // Real numbers, not the stub note: rx matches what the stream saw,
      // the start is logged, and uptime is a live nonzero reading.
      assert(r.message.contains(s""""rx_rows": ${counters.totalRowsReceived}"""))
      assert(counters.totalRowsReceived >= 3)
      assert(r.message.contains(""""starts": 1"""))
      assert(!r.message.contains("note"))
      val up = """"uptime_ms": (\d+)""".r.findFirstMatchIn(r.message).map(_.group(1).toLong)
      assert(up.exists(_ > 0))
      // Without a listener the command still answers (stub pointer).
      assert(C2.execute("get stats", TrendParams.default).message.contains("note"))
    } finally spark.streams.removeListener(counters)
  }

  test("A8 CounterListener tracks rx rows, batches, and query starts") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val counters = new CounterListener
    spark.streams.addListener(counters)
    try {
      val in = MemoryStream[StreamSample]
      val q = StreamOps.explodeMetrics(
        in.toDS().toDF()
          .select(col("ts"), col("source"), map(col("metric"), col("value")).as("metrics")))
        .writeStream.format("memory").queryName("t_counters").outputMode("append").start()
      in.addData(StreamSample(new Timestamp(1000), "s", "m", 1.0),
        StreamSample(new Timestamp(2000), "s", "m", 2.0))
      q.processAllAvailable(); q.stop(); q.awaitTermination()
      // listener delivery is async; give the bus a moment
      var waited = 0
      while (counters.totalRowsReceived < 2 && waited < 50) { Thread.sleep(100); waited += 1 }
      assert(counters.totalRowsReceived >= 2)
      assert(counters.totalBatches >= 1)
      assert(counters.starts.nonEmpty)
      assert(counters.statsJson().contains("\"rx_rows\""))
    } finally spark.streams.removeListener(counters)
  }

  test("rollup rewrite answers canonical day aggregates from the fresh view only") {
    import org.apache.spark.sql.functions._
    import graft.plans.MaterializedRollups
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvrw").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.5), ("m", 86410L, 2.0),
        ("n", 20L, -1.0)).toDF("metric", "e", "value"), src)
      SnapshotStore.append(Seq(("m", 30L, 4.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      def canonical() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).as("vsum"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
         r.getDecimal(3).doubleValue, r.getDouble(4), r.getDouble(5))).toSet
      val direct = rows(canonical()) // registry empty: the base plan
      MaterializedRollups.enable(src, view)
      val rewritten = canonical()
      val plan = rewritten.queryExecution.executedPlan.toString
      // answered from the view's parquet, not the source's
      assert(plan.contains("/view"), s"no rewrite in:\n$plan")
      assert(!plan.contains("/src"), s"source still scanned in:\n$plan")
      assert(rows(rewritten) == direct)
      // STALE view: a new source version declines the rewrite
      SnapshotStore.append(Seq(("n", 40L, 7.0)).toDF("metric", "e", "value"), src)
      val stale = canonical()
      assert(stale.queryExecution.executedPlan.toString.contains("/src"))
      assert(rows(stale) ==
        direct - (("n", 0L, 1L, -1.0, -1.0, -1.0)) + (("n", 0L, 2L, 6.0, -1.0, 7.0)))
      RollupView.refresh(spark, src, view)
      assert(canonical().queryExecution.executedPlan.toString.contains("/view"))
      // non-canonical shapes decline: raw IEEE double sum, a row-column
      // filter, a time-travel read
      val dbl = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(sum(col("value")).as("s"))
      assert(dbl.queryExecution.executedPlan.toString.contains("/src"))
      // a GROUPING-column filter commutes and still rewrites...
      val byMetric = SnapshotStore.read(spark, src).where(col("metric") === "m")
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      assert(byMetric.queryExecution.executedPlan.toString.contains("/view"))
      assert(byMetric.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("m", 0L, 2L), ("m", 1L, 1L)))
      // ...a row-column (value/e) filter declines
      val byValue = SnapshotStore.read(spark, src).where(col("value") > 0)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      assert(byValue.queryExecution.executedPlan.toString.contains("/src"))
      val tt = SnapshotStore.read(spark, src, version = 1)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      assert(tt.queryExecution.executedPlan.toString.contains("/src"))
      // a pruning select between read and aggregate still rewrites
      val pruned = SnapshotStore.read(spark, src).select("metric", "e", "value")
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      assert(pruned.queryExecution.executedPlan.toString.contains("/view"))
    } finally {
      MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("rollup rewrite serves avg(decimal) bit-equal via stored sum ÷ nn, NULL values included") {
    import org.apache.spark.sql.functions._
    import graft.plans.MaterializedRollups
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvavg").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      // a 3-row group: 1.00 ÷ 3 exercises the repeating-decimal rounding.
      // NULL values pin Average's divisor: ("m", 50) makes the (m, day 0)
      // group 4 rows with 3 non-null — a sum ÷ cnt serve would answer
      // 0.25 for the true 0.33; ("z", 60) is an all-NULL group that must
      // serve avg NULL (sum NULL ÷ nn 0), not crash or serve 0
      SnapshotStore.append(Seq(("m", 10L, 0.1: java.lang.Double),
        ("m", 20L, 0.7: java.lang.Double), ("m", 30L, 0.2: java.lang.Double),
        ("m", 50L, null: java.lang.Double),
        ("n", 40L, 5.0: java.lang.Double), ("n", 86410L, 7.77: java.lang.Double),
        ("z", 60L, null: java.lang.Double))
        .toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      def q() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(avg(col("value").cast("decimal(18,2)")).as("a"),
          count(lit(1)).as("cnt"))
      // BigDecimal equality checks value AND scale — any divergence from
      // Average's own decimal arithmetic fails here
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2), r.getLong(3))).toSet
      val direct = rows(q())
      MaterializedRollups.enable(src, view)
      val served = q()
      assert(served.queryExecution.executedPlan.toString.contains("/view"),
        "avg(decimal) shape did not serve")
      assert(rows(served) == direct)
      // a raw double avg declines
      val dbl = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(avg(col("value")).as("a"))
      assert(dbl.queryExecution.executedPlan.toString.contains("/src"))
    } finally {
      MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("rollup rewrite serves hour and day grains from their own views") {
    import org.apache.spark.sql.functions._
    import graft.plans.MaterializedRollups
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvrwh").toString
    val src = s"$root/src"
    val dayView = s"$root/dayview"; val hourView = s"$root/hourview"
    try {
      // rows straddling hour AND day boundaries so the two grains have
      // genuinely different groups
      SnapshotStore.append(Seq(
        ("m", 10L, 1.5), ("m", 3700L, 2.0), ("m", 86410L, 4.0),
        ("n", 20L, -1.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, dayView)
      RollupView.refresh(spark, src, hourView, RollupView.Hour)
      def byGrain(div: String, name: String) = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr(s"e div $div").as(name))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).as("vsum"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
         r.getDecimal(3).doubleValue, r.getDouble(4), r.getDouble(5))).toSet
      val hourDirect = rows(byGrain("3600", "hour"))
      val dayDirect = rows(byGrain("86400", "day"))
      // only the day grain registered: hour queries keep scanning source
      MaterializedRollups.enable(src, dayView)
      assert(byGrain("3600", "hour").queryExecution.executedPlan.toString
        .contains("/src"))
      // both registered: each grain is served by ITS view
      MaterializedRollups.enable(src, hourView, RollupView.Hour)
      val hourPlan = byGrain("3600", "hour").queryExecution.executedPlan.toString
      assert(hourPlan.contains("/hourview") && !hourPlan.contains("/src"),
        s"hour grain not served from hour view:\n$hourPlan")
      val dayPlan = byGrain("86400", "day").queryExecution.executedPlan.toString
      assert(dayPlan.contains("/dayview") && !dayPlan.contains("/hourview"),
        s"day grain not served from day view:\n$dayPlan")
      assert(rows(byGrain("3600", "hour")) == hourDirect)
      assert(rows(byGrain("86400", "day")) == dayDirect)
      // hour view going stale declines the hour grain but not the day one
      SnapshotStore.append(Seq(("n", 7300L, 9.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, dayView)
      assert(byGrain("3600", "hour").queryExecution.executedPlan.toString
        .contains("/src"))
      assert(byGrain("86400", "day").queryExecution.executedPlan.toString
        .contains("/dayview"))
      RollupView.refresh(spark, src, hourView, RollupView.Hour)
      assert(rows(byGrain("3600", "hour")) ==
        hourDirect + (("n", 2L, 1L, 9.0, 9.0, 9.0)))
      // the grain is STORE state, not caller memory: a forgotten grain
      // argument (defaulting to Day) on the hour view fails loudly
      // instead of appending day-keyed partials into an hour-keyed store
      val e = intercept[IllegalArgumentException] {
        RollupView.refresh(spark, src, hourView)
      }
      assert(e.getMessage.contains("maintained at 'hour'"))
      intercept[IllegalArgumentException] {
        RollupView.read(spark, dayView, RollupView.Hour)
      }
      intercept[IllegalArgumentException] {
        RollupView.compact(spark, hourView)
      }
      // even with the stamp gone (a store created before stamping
      // existed), the manifest-recorded schema carries the bucket column
      // and a mismatched-grain refresh is still refused — the pre-stamp
      // stores are exactly the ones the stamp can't protect
      java.nio.file.Files.delete(java.nio.file.Paths.get(hourView, "_grain"))
      val e2 = intercept[IllegalArgumentException] {
        RollupView.refresh(spark, src, hourView)
      }
      assert(e2.getMessage.contains("unstamped"))
    } finally {
      MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("ndv rewrite serves the exact sketch shape from the ndv view, next to classic") {
    import org.apache.spark.sql.functions._
    import graft.plans.MaterializedRollups
    import graft.sources.{NdvView, RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ndvrw").toString
    val src = s"$root/src"; val view = s"$root/view"; val nview = s"$root/nview"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.5, "u1"), ("m", 20L, 2.0, "u2"),
        ("m", 86410L, 3.0, "u1"), ("n", 30L, -1.0, "u3"))
        .toDF("metric", "e", "value", "user_id"), src)
      SnapshotStore.append(Seq(("m", 40L, 4.0, "u4"))
        .toDF("metric", "e", "value", "user_id"), src)
      RollupView.refresh(spark, src, view)
      NdvView.refresh(spark, src, nview)
      MaterializedRollups.enable(src, view)
      MaterializedRollups.enableNdv(src, nview)
      def ndvShape() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))")
          .as("approx_users"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // the sketch shape is served from the NDV view — and the answer is
      // bit-equal to the direct single-pass aggregate
      val served = ndvShape()
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("/nview"), s"no ndv rewrite in:\n$plan")
      assert(!plan.contains("/src"), s"source still scanned in:\n$plan")
      assert(rows(served) == Set(("m", 0L, 3L), ("m", 1L, 1L), ("n", 0L, 1L)))
      // classic shapes keep going to the classic view, not the ndv one
      val classic = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val cplan = classic.queryExecution.executedPlan.toString
      assert(cplan.contains("/view") && !cplan.contains("/nview"), cplan)
      // a DIFFERENT estimator (approx_count_distinct = HLL++) must NOT be
      // served from datasketches sketches — the answer would change
      val hllpp = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(approx_count_distinct(col("user_id")).as("a"))
      assert(hllpp.queryExecution.executedPlan.toString.contains("/src"))
      // a different lgK changes the estimate → declines
      val otherLgk = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("a"))
      assert(otherLgk.queryExecution.executedPlan.toString.contains("/src"))
      // mixed kinds (classic cnt + sketch estimate) decline both views
      val mixed = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"),
          expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))")
            .as("approx_users"))
      assert(mixed.queryExecution.executedPlan.toString.contains("/src"))
      // a metric filter commutes and still serves
      val filtered = SnapshotStore.read(spark, src).where(col("metric") === "m")
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))")
          .as("approx_users"))
      assert(filtered.queryExecution.executedPlan.toString.contains("/nview"))
      assert(rows(filtered) == Set(("m", 0L, 3L), ("m", 1L, 1L)))
      // STALE ndv view declines; refresh re-serves
      SnapshotStore.append(Seq(("n", 50L, 5.0, "u5"))
        .toDF("metric", "e", "value", "user_id"), src)
      assert(ndvShape().queryExecution.executedPlan.toString.contains("/src"))
      NdvView.refresh(spark, src, nview)
      assert(ndvShape().queryExecution.executedPlan.toString.contains("/nview"))
      assert(rows(ndvShape()) ==
        Set(("m", 0L, 3L), ("m", 1L, 1L), ("n", 0L, 2L)))
      // HOUR-grain ndv view: maintained by the same engine, served for
      // the hour-shaped aggregate from ITS view; the day shape keeps its
      // own (and an hour registration alone never answers day)
      val hview = s"$root/hview"
      NdvView.refresh(spark, src, hview, RollupView.Hour)
      MaterializedRollups.enableNdv(src, hview, RollupView.Hour)
      val hourShape = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 3600").as("hour"))
        .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))")
          .as("approx_users"))
      val hplan = hourShape.queryExecution.executedPlan.toString
      assert(hplan.contains("/hview") && !hplan.contains("/src"), hplan)
      assert(rows(hourShape) == Set(("m", 0L, 3L), ("m", 24L, 1L), ("n", 0L, 2L)))
      assert(ndvShape().queryExecution.executedPlan.toString.contains("/nview"))
    } finally {
      MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("get stats round-trips the display device's uptime, degrading to -1") {
    import graft.streaming.{BufferDisplay, CounterListener, DisplayDevice}
    val counters = new CounterListener
    // healthy device: whole seconds since construction (>= 0)
    val dev = new BufferDisplay
    val r = C2.execute("get stats", TrendParams.default, Some(counters), Some(dev))
    assert(r.ok && r.message.contains("\"display_uptime\""))
    val up = "\"display_uptime\":\\s*(-?\\d+)".r
      .findFirstMatchIn(r.message).get.group(1).toLong
    assert(up >= 0)
    // throwing device: logged-not-fatal, the reference's -1 degrade
    val broken = new DisplayDevice {
      def issueCustomCommand(cmd: String): String = sys.error("device gone")
    }
    val r2 = C2.execute("get stats", TrendParams.default, Some(counters), Some(broken))
    assert(r2.ok && r2.message.contains("\"display_uptime\": -1"))
    // no device attached: same degrade value
    val r3 = C2.execute("get stats", TrendParams.default, Some(counters), None)
    assert(r3.ok && r3.message.contains("\"display_uptime\": -1"))
  }

  test("SQL DDL: CREATE/REFRESH/DROP MATERIALIZED VIEW register, materialize, and serve purely through spark.sql") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvddl").toString
    val src = s"$root/src"; val view = s"$root/view"
    val l = s"$root/L"; val r = s"$root/R"; val ajv = s"$root/ajview"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 86410L, 2.0),
        ("n", 20L, 5.0)).toDF("metric", "e", "value"), src)
      // CREATE registers AND materializes — returns (view, version 1)
      val created = spark.sql(
        s"CREATE MATERIALIZED VIEW '$view' AS ROLLUP(SRC => '$src')").collect()
      assert(created.head.getString(0) == view && created.head.getInt(1) == 1)
      assert(SnapshotStore.currentVersion(view) == 1)
      def q() = {
        SnapshotStore.read(spark, src).createOrReplaceTempView("mvddl_t")
        spark.sql(
          """SELECT metric, e div 86400 AS day, count(1) AS cnt
            |FROM mvddl_t GROUP BY metric, e div 86400""".stripMargin)
      }
      assert(q().queryExecution.executedPlan.toString.contains("/view"),
        "a SQL-created rollup view must serve SQL aggregates")
      // stale after a source append; REFRESH (SQL) restores serving
      SnapshotStore.append(Seq(("m", 30L, 3.0)).toDF("metric", "e", "value"), src)
      assert(q().queryExecution.executedPlan.toString.contains("/src"))
      assert(spark.sql(s"REFRESH MATERIALIZED VIEW '$view'")
        .collect().head.getInt(1) == 2)
      val served = q()
      assert(served.queryExecution.executedPlan.toString.contains("/view"))
      assert(served.collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSet ==
        Set(("m", 0L, 2L), ("m", 1L, 1L), ("n", 0L, 1L)))
      // DROP unregisters: the same query declines back to the base scan
      spark.sql(s"DROP MATERIALIZED VIEW '$view'")
      assert(q().queryExecution.executedPlan.toString.contains("/src"))
      intercept[Exception] { spark.sql(s"REFRESH MATERIALIZED VIEW '$view'") }

      // an AGG_JOIN kind end-to-end through SQL (list-valued args)
      SnapshotStore.append(spark.range(0, 200)
        .selectExpr("id AS c_id", "concat('seg', id % 3) AS seg"), l)
      SnapshotStore.append(spark.range(0, 600)
        .selectExpr("id % 200 AS o_id", "CAST(id AS DOUBLE) AS total"), r)
      spark.sql(s"""CREATE MATERIALIZED VIEW '$ajv' AS AGG_JOIN(
        LEFT => '$l', RIGHT => '$r', LEFT_KEYS => 'c_id',
        RIGHT_KEYS => 'o_id', GROUPS => 'seg', MEASURES => 'total')""")
      val lf = SnapshotStore.read(spark, l)
      val rf = SnapshotStore.read(spark, r)
      lf.createOrReplaceTempView("mvddl_l")
      rf.createOrReplaceTempView("mvddl_r")
      val aq = spark.sql(
        """SELECT seg, count(1) AS n, sum(CAST(total AS DECIMAL(18,2))) AS t
          |FROM mvddl_l JOIN mvddl_r ON c_id = o_id GROUP BY seg""".stripMargin)
      assert(aq.queryExecution.executedPlan.toString.contains("/ajview"),
        "a SQL-created agg-join view must serve the SQL join aggregate")
      assert(aq.collect().length == 3)
      // SHOW lists the catalog (the rollup was dropped above)
      val shown = spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
      assert(shown == Set((ajv, "AGG_JOIN")), s"got $shown")
      spark.sql(s"DROP MATERIALIZED VIEW '$ajv'")
      assert(spark.sql("SHOW MATERIALIZED VIEWS").collect().isEmpty)

      // a non-DDL statement still parses through Spark's own parser
      assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) == 2)
      // a bad kind fails loudly at execution
      intercept[Exception] {
        spark.sql(s"CREATE MATERIALIZED VIEW '$view' AS BOGUS(SRC => '$src')")
          .collect()
      }
    } finally {
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
      graft.plans.MaterializedAggJoins.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: the persisted catalog survives a restart — serve, REFRESH, SHOW with no Scala calls") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvddlp").toString
    val src = s"$root/src"; val view = s"$root/view"
    val l = s"$root/L"; val r = s"$root/R"; val ajv = s"$root/ajview"
    spark.conf.set("spark.graft.catalog", s"$root/catalog")
    // a clean registry slate stands in for a fresh JVM (the registries
    // and the DDL catalog are the only session-global state)
    def restart(): Unit = {
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
      graft.plans.MaterializedAggJoins.clear()
      graft.plans.MaterializedJoins.clear()
      graft.plans.MaterializedMultiJoins.clear()
    }
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 86410L, 2.0),
        ("n", 20L, 5.0)).toDF("metric", "e", "value"), src)
      SnapshotStore.append(spark.range(0, 200)
        .selectExpr("id AS c_id", "concat('seg', id % 3) AS seg"), l)
      SnapshotStore.append(spark.range(0, 600)
        .selectExpr("id % 200 AS o_id", "CAST(id AS DOUBLE) AS total"), r)
      spark.sql(s"CREATE MATERIALIZED VIEW '$view' AS ROLLUP(SRC => '$src')")
      spark.sql(s"""CREATE MATERIALIZED VIEW '$ajv' AS AGG_JOIN(
        LEFT => '$l', RIGHT => '$r', LEFT_KEYS => 'c_id',
        RIGHT_KEYS => 'o_id', GROUPS => 'seg', MEASURES => 'total')""")
      val qjv = s"$root/qjview"
      spark.sql(s"""CREATE MATERIALIZED VIEW '$qjv' AS QUANTILE_JOIN(
        LEFT => '$l', RIGHT => '$r', LEFT_KEYS => 'c_id',
        RIGHT_KEYS => 'o_id', GROUPS => 'seg', VALUE_COL => 'total')""")

      restart()
      // SHOW rehydrates all three entries from the persisted catalog
      val shown = spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
      assert(shown == Set((view, "ROLLUP"), (ajv, "AGG_JOIN"),
        (qjv, "QUANTILE_JOIN")), s"got $shown")
      // the rehydrated quantile-join view refreshes and serves estimates
      // through its own API (no Catalyst rewrite for quantiles)
      assert(graft.sources.MultiQuantileJoinView.quantiles(spark, qjv, Seq(0.5))
        .collect().length == 3)
      spark.sql(s"DROP MATERIALIZED VIEW '$qjv'")
      // SERVING works in the fresh session — no re-CREATE, no bootstrap
      SnapshotStore.read(spark, l).createOrReplaceTempView("mvddlp_l")
      SnapshotStore.read(spark, r).createOrReplaceTempView("mvddlp_r")
      def aq() = spark.sql(
        """SELECT seg, count(1) AS n, sum(CAST(total AS DECIMAL(18,2))) AS t
          |FROM mvddlp_l JOIN mvddlp_r ON c_id = o_id GROUP BY seg""".stripMargin)
      assert(aq().queryExecution.executedPlan.toString.contains("/ajview"),
        "a rehydrated agg-join registration must serve")
      // REFRESH resolves against the rehydrated catalog and advances
      SnapshotStore.append(Seq(("m", 30L, 3.0)).toDF("metric", "e", "value"),
        src)
      restart()
      assert(spark.sql(s"REFRESH MATERIALIZED VIEW '$view'")
        .collect().head.getInt(1) == 2)

      // DROP removes the persisted entry: a later restart must NOT
      // resurrect the dropped view, and must keep the sibling
      spark.sql(s"DROP MATERIALIZED VIEW '$view'")
      restart()
      val after = spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(_.getString(0)).toSet
      assert(after == Set(ajv), s"got $after")
      assert(aq().queryExecution.executedPlan.toString.contains("/ajview"))
      spark.sql(s"DROP MATERIALIZED VIEW '$ajv'")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
      graft.plans.MaterializedAggJoins.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: MULTI_AGG_JOIN and MULTI_NDV_JOIN create, serve, rehydrate, and drop through spark.sql") {
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("mvddlm").toString
    val fv = s"$root/F"; val cv = s"$root/C"; val nv = s"$root/N"
    val aggV = s"$root/maggview"; val ndvV = s"$root/mndvview"
    spark.conf.set("spark.graft.catalog", s"$root/catalog")
    try {
      SnapshotStore.append(spark.range(0, 2000)
        .selectExpr("id % 300 AS f_ck", "concat('st', id % 2) AS f_st",
          "CAST(id % 97 AS DOUBLE) AS amt", "concat('u', id % 50) AS user_id"),
        fv)
      SnapshotStore.append(spark.range(0, 300)
        .selectExpr("id AS c_ck", "id % 5 AS c_nk"), cv)
      SnapshotStore.append(spark.range(0, 5)
        .selectExpr("id AS n_nk", "concat('n', id) AS n_name"), nv)
      val edgesArg = "0:f_ck:c_ck;1:c_nk:n_nk"
      spark.sql(s"""CREATE MATERIALIZED VIEW '$aggV' AS MULTI_AGG_JOIN(
        ROOTS => '$fv;$cv;$nv', EDGES => '$edgesArg',
        GROUPS => 'n_name,f_st', MEASURES => 'amt')""")
      spark.sql(s"""CREATE MATERIALIZED VIEW '$ndvV' AS MULTI_NDV_JOIN(
        ROOTS => '$fv;$cv;$nv', EDGES => '$edgesArg',
        GROUPS => 'n_name,f_st', DISTINCT_COL => 'user_id')""")
      val Seq(f, c, n) = Seq(fv, cv, nv).map(SnapshotStore.read(spark, _))
      f.createOrReplaceTempView("mvddlm_f")
      c.createOrReplaceTempView("mvddlm_c")
      n.createOrReplaceTempView("mvddlm_n")
      def aggQ() = spark.sql(
        """SELECT n_name, f_st, count(1) AS cnt,
          |       sum(CAST(amt AS DECIMAL(18,2))) AS t
          |FROM mvddlm_f JOIN mvddlm_c ON f_ck = c_ck
          |      JOIN mvddlm_n ON c_nk = n_nk
          |GROUP BY n_name, f_st""".stripMargin)
      def ndvQ() = spark.sql(
        s"""SELECT n_name, f_st,
           |  hll_sketch_estimate(hll_sketch_agg(user_id,
           |    ${graft.sources.NdvView.LgK})) AS au
           |FROM mvddlm_f JOIN mvddlm_c ON f_ck = c_ck
           |      JOIN mvddlm_n ON c_nk = n_nk
           |GROUP BY n_name, f_st""".stripMargin)
      assert(aggQ().queryExecution.executedPlan.toString.contains("/maggview"),
        "the SQL-created multi-way agg view must serve")
      assert(ndvQ().queryExecution.executedPlan.toString.contains("/mndvview"),
        "the SQL-created multi-way ndv view must serve")
      // restart: both rehydrate and keep serving; DROP one, sibling stays
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedMultiJoins.clear()
      assert(ndvQ().queryExecution.executedPlan.toString.contains("/mndvview"),
        "a rehydrated multi-way ndv registration must serve")
      spark.sql(s"DROP MATERIALIZED VIEW '$ndvV'")
      assert(!ndvQ().queryExecution.executedPlan.toString.contains("/mndvview"))
      assert(aggQ().queryExecution.executedPlan.toString.contains("/maggview"),
        "dropping the ndv twin must not unplug the agg sibling")
      spark.sql(s"DROP MATERIALIZED VIEW '$aggV'")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedMultiJoins.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: MULTI_QUANTILE_JOIN with SERVE opts the tree shape into the O(bins) serve; rehydrates; DROP unplugs") {
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("mvddlmq").toString
    val fv = s"$root/F"; val cv = s"$root/C"; val nv = s"$root/N"
    val qV = s"$root/mqview"
    spark.conf.set("spark.graft.catalog", s"$root/catalog")
    try {
      SnapshotStore.append(spark.range(0, 2000)
        .selectExpr("id % 300 AS f_ck",
          "CAST((id * 37) % 997 AS DOUBLE) AS amt"), fv)
      SnapshotStore.append(spark.range(0, 300)
        .selectExpr("id AS c_ck", "id % 5 AS c_nk"), cv)
      SnapshotStore.append(spark.range(0, 5)
        .selectExpr("id AS n_nk", "concat('n', id) AS n_name"), nv)
      spark.sql(s"""CREATE MATERIALIZED VIEW '$qV' AS MULTI_QUANTILE_JOIN(
        ROOTS => '$fv;$cv;$nv', EDGES => '0:f_ck:c_ck;1:c_nk:n_nk',
        GROUPS => 'n_name', VALUE_COL => 'amt', SERVE => 'true')""")
      Seq(fv -> "mvddlmq_f", cv -> "mvddlmq_c", nv -> "mvddlmq_n").foreach {
        case (p, t) => SnapshotStore.read(spark, p).createOrReplaceTempView(t)
      }
      def q() = spark.sql(
        """SELECT n_name, percentile_approx(amt, 0.5, 1000) AS p50
          |FROM mvddlmq_f JOIN mvddlmq_c ON f_ck = c_ck
          |      JOIN mvddlmq_n ON c_nk = n_nk
          |GROUP BY n_name""".stripMargin)
      assert(q().queryExecution.executedPlan.toString.contains("/mqview"),
        "the SQL-created multi-way quantile view must serve")
      // the served estimates ARE the view's fixed-bin interpolation
      val got = q().collect().map(x =>
        (x.getString(0), x.getDouble(1))).toSet
      val want = graft.sources.MultiQuantileJoinView
        .quantiles(spark, qV, Seq(0.5)).collect().map(x =>
          (x.getAs[String]("n_name"), x.getAs[Double]("est"))).toSet
      assert(got == want && got.nonEmpty)
      // a fact append goes stale; REFRESH through the DDL brings the
      // view current (the telescoped binned append) and serving resumes
      SnapshotStore.append(spark.range(2000, 2400)
        .selectExpr("id % 300 AS f_ck",
          "CAST((id * 37) % 997 AS DOUBLE) AS amt"), fv)
      // the user's scan must see the CURRENT snapshot (the serve
      // contract matches current-version dirs)
      SnapshotStore.read(spark, fv).createOrReplaceTempView("mvddlmq_f")
      assert(!q().queryExecution.executedPlan.toString.contains("/mqview"),
        "a stale un-opted view must not serve")
      spark.sql(s"REFRESH MATERIALIZED VIEW '$qV'")
      assert(q().queryExecution.executedPlan.toString.contains("/mqview"),
        "REFRESH must bring the MULTI_QUANTILE_JOIN view back to serving")
      // restart: the registration rehydrates from the persisted catalog
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedMultiJoins.clear()
      assert(q().queryExecution.executedPlan.toString.contains("/mqview"),
        "a rehydrated MULTI_QUANTILE_JOIN registration must serve")
      spark.sql(s"DROP MATERIALIZED VIEW '$qV'")
      assert(!q().queryExecution.executedPlan.toString.contains("/mqview"),
        "DROP must unplug the serve")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedMultiJoins.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: DROP unregisters by VIEW — sibling views over the same source keep serving") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvddls").toString
    val src = s"$root/src"
    val dayV = s"$root/dayview"; val hourV = s"$root/hourview"
    spark.conf.set("spark.graft.catalog", s"$root/catalog")
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 7200L, 2.0),
        ("n", 20L, 5.0)).toDF("metric", "e", "value"), src)
      spark.sql(s"CREATE MATERIALIZED VIEW '$dayV' AS ROLLUP(SRC => '$src')")
      spark.sql(s"CREATE MATERIALIZED VIEW '$hourV' AS ROLLUP(SRC => '$src', " +
        "GRAIN => 'hour')")
      SnapshotStore.read(spark, src).createOrReplaceTempView("mvddls_t")
      def hq() = spark.sql(
        """SELECT metric, e div 3600 AS hour, count(1) AS cnt
          |FROM mvddls_t GROUP BY metric, e div 3600""".stripMargin)
      assert(hq().queryExecution.executedPlan.toString.contains("/hourview"))
      // the regression: dropping the DAY view used to disable BY SOURCE,
      // silently unplugging the hour sibling while SHOW still listed it
      spark.sql(s"DROP MATERIALIZED VIEW '$dayV'")
      assert(hq().queryExecution.executedPlan.toString.contains("/hourview"),
        "dropping one grain must not unplug the sibling grain's serving")
      val shown = spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(_.getString(0)).toSet
      assert(shown == Set(hourV))
      spark.sql(s"DROP MATERIALIZED VIEW '$hourV'")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: cross-session catalog races — same-tick CREATE, DROP racing rehydrate, out-of-band deleted view root") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvddlc").toString
    val catDir = s"$root/catalog"
    val src = s"$root/src"; val v1 = s"$root/v1"; val v2 = s"$root/v2"
    spark.conf.set("spark.graft.catalog", catDir)
    def restart(): Unit = {
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
    }
    // ANOTHER PROCESS's persist, byte-compatible with GraftDdl's entry
    // format (sha1-of-canon-path name, URL-encoded lines) — the test
    // cannot run two JVMs, so it forges the foreign write directly
    def foreignPersist(view: String, kind: String,
                       args: Map[String, String]): Unit = {
      def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
      val canon = java.nio.file.Paths.get(view).normalize()
        .toAbsolutePath.toString
      val h = java.security.MessageDigest.getInstance("SHA-1")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val body = (Seq(enc(view), kind) ++
        args.toSeq.sortBy(_._1).map { case (k, x) => s"${enc(k)}=${enc(x)}" })
        .mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(catDir, s"$h.mv"), body.getBytes("UTF-8"))
    }
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 86410L, 2.0),
        ("n", 20L, 5.0)).toDF("metric", "e", "value"), src)
      spark.sql(s"CREATE MATERIALIZED VIEW '$v1' AS ROLLUP(SRC => '$src')")
      // warm this session's rehydrate cache at the dir's current mtime
      spark.sql("SHOW MATERIALIZED VIEWS").collect()

      // RACE 1 — same-tick CREATE: another session lands an entry and
      // the directory mtime aliases back to the cached value (coarse
      // filesystem clocks); the mtime cache alone would hide it forever.
      // REFRESH must re-scan on the catalog miss and find the view.
      val before = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(catDir))
      foreignPersist(v2, "ROLLUP", Map("SRC" -> src))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(catDir), before)
      assert(spark.sql(s"REFRESH MATERIALIZED VIEW '$v2'")
        .collect().head.getInt(1) >= 1,
        "a same-tick foreign CREATE must resolve via the miss re-scan")

      // RACE 2 — DROP racing rehydrate: a fresh session drops v2 (the
      // drop itself resolves through rehydrate), and later sessions must
      // neither resurrect it nor lose the sibling
      restart()
      spark.sql(s"DROP MATERIALIZED VIEW '$v2'")
      restart()
      val ex = intercept[RuntimeException] {
        spark.sql(s"REFRESH MATERIALIZED VIEW '$v2'").collect()
      }
      assert(ex.getMessage.contains("no materialized view"),
        s"dropped view must not resurrect: ${ex.getMessage}")
      val shown = spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(_.getString(0)).toSet
      assert(shown == Set(v1), s"got $shown")

      // RACE 3 — the view ROOT deleted out-of-band while the catalog
      // entry survives: rehydrate must not wedge statement parsing, SHOW
      // still lists the registration, and REFRESH re-materializes the
      // store from the source
      SnapshotStore.deleteTree(v1)
      restart()
      assert(spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .map(_.getString(0)).toSet == Set(v1))
      assert(spark.sql(s"REFRESH MATERIALIZED VIEW '$v1'")
        .collect().head.getInt(1) == 1,
        "an out-of-band-deleted view root must re-materialize on REFRESH")
      assert(graft.sources.RollupView.read(spark, v1).collect().length == 3)
      spark.sql(s"DROP MATERIALIZED VIEW '$v1'")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("SQL DDL: QUANTILE SERVE flag opts percentile_approx into the O(bins) serve; no flag, no rewrite; DROP unplugs") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("mvddlq").toString
    val src = s"$root/src"; val qv = s"$root/qview"; val qv2 = s"$root/qview2"
    spark.conf.set("spark.graft.catalog", s"$root/catalog")
    def restart(): Unit = {
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedQuantiles.clear()
    }
    try {
      SnapshotStore.append((1 to 300).map(i =>
        (s"m${i % 2}", i.toLong * 3600, (i % 50) * 1.0))
        .toDF("metric", "e", "value"), src)
      def q() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(percentile_approx(col("value"), lit(0.9), lit(1000)).as("p90"))
      // no SERVE flag: the view maintains but NEVER rewrites (the
      // explicit-approximation contract)
      spark.sql(s"CREATE MATERIALIZED VIEW '$qv2' AS QUANTILE(SRC => '$src')")
      assert(!graft.plans.PlanProbe.scansAny(q(), "/qview"),
        "a QUANTILE view without SERVE must not rewrite")
      spark.sql(s"DROP MATERIALIZED VIEW '$qv2'")
      // SERVE => 'true': the opt-in — percentile_approx serves O(bins)
      spark.sql(
        s"CREATE MATERIALIZED VIEW '$qv' AS QUANTILE(SRC => '$src', SERVE => 'true')")
      assert(graft.plans.PlanProbe.scansOnly(q(), "/qview"),
        "SERVE => 'true' must opt the shape into the view serve")
      // the opt-in survives a session restart via the persisted catalog
      restart()
      spark.sql("SHOW MATERIALIZED VIEWS").collect() // rehydrates
      assert(graft.plans.PlanProbe.scansOnly(q(), "/qview"),
        "the SERVE opt-in must rehydrate with the entry")
      spark.sql(s"DROP MATERIALIZED VIEW '$qv'")
      assert(!graft.plans.PlanProbe.scansAny(q(), "/qview"),
        "DROP must unplug the quantile serve")
    } finally {
      spark.conf.unset("spark.graft.catalog")
      graft.plans.GraftDdl.clear()
      graft.plans.MaterializedQuantiles.clear()
      SnapshotStore.deleteTree(root)
    }
  }
}
