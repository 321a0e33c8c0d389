package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Alternate source formats (S2/F3 batch-side) + partitioned layout. */
class SourcesSpec extends SparkSpec {

  test("JSONL source: declared schema, malformed lines dropped not failed") {
    val dir = Files.createTempDirectory("jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      """{"event_id": 1, "user_id": 10, "metric": "m", "e": 100, "value": 1.5, "props": "{}"}
        |this is not json
        |{"event_id": 2, "user_id": 11, "metric": "m", "e": 200, "value": 2.5, "props": "{}"}
        |{"event_id": 3, "user_id": 12, "value": 9.9}
        |""".stripMargin)
    val df = Tables.seriesFromJsonl(spark, dir)
    val rows = df.collect()
    assert(rows.length == 2) // corrupt line and metric-less record dropped
    assert(rows.map(_.getAs[Long]("e")).toSet == Set(100L, 200L))
    assert(df.schema == Tables.seriesSchema)
  }

  test("CSV source: header + typed schema, malformed dropped") {
    val dir = Files.createTempDirectory("csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part.csv"),
      """event_id,user_id,metric,e,value,props
        |1,10,m,100,1.5,{}
        |garbage,row,with,bad,types,entirely-wrong
        |2,11,n,200,2.5,{}
        |""".stripMargin)
    val rows = Tables.seriesFromCsv(spark, dir).collect()
    assert(rows.map(r => (r.getAs[String]("metric"), r.getAs[Double]("value"))).toSet ==
      Set(("m", 1.5), ("n", 2.5)))
  }

  test("ORC source: canonical schema round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("orc").toString + "/t"
    val s = spark
    import s.implicits._
    Seq((1L, 10L, "m", 100L, 1.5, "{}"), (2L, 11L, "n", 200L, 2.5, "{}"))
      .toDF("event_id", "user_id", "metric", "e", "value", "props")
      .write.orc(dir)
    val rows = Tables.seriesFromOrc(spark, dir).collect()
    assert(rows.length == 2)
    assert(Tables.seriesFromOrc(spark, dir).schema == Tables.seriesSchema)
    assert(rows.map(_.getAs[String]("metric")).toSet == Set("m", "n"))
  }

  test("bucketed-by-key tables join with zero shuffle exchanges") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice")
    Tables.writeBucketed(li, "li_bucketed", 8, "l_orderkey")
    Tables.writeBucketed(ord, "o_bucketed", 8, "o_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 0, s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == li.count()) // every lineitem matches its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("metric-bucketed layout runs time-weighted mean with ZERO shuffles") {
    // The a12 headroom noted in BENCH_LOCAL: timeWeightedMean pays one
    // metric-partition exchange on a plain layout (window + final agg both
    // cluster on metric). Bucketing the event store by metric satisfies
    // both distributions from the scan — the plan keeps its sorts but has
    // no exchange at all, which at 100 TB removes the operator's only
    // data-sized shuffle.
    val series = Tables.metricSeries(spark, "/root/testdata/sf0.001")
    Tables.writeBucketed(series, "series_bucketed", 8, "metric")
    val twa = graft.operators.TrendOps.timeWeightedMean(spark.table("series_bucketed"))
    val plan = twa.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 0, s"bucketed TWA should not shuffle:\n$plan")
    // and the result is bit-identical to the plain-layout computation
    // (decimal sums make the reduction merge-order independent)
    val expected = graft.operators.TrendOps.timeWeightedMean(series)
      .collect().map(_.toString).sorted.toSeq
    val got = twa.collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("metric-partitioned layout prunes partitions for per-metric queries") {
    val dir = Files.createTempDirectory("plainparquet").toString + "/series"
    val series = Tables.metricSeries(spark, "/root/testdata/sf0.001")
    Tables.writeSeriesPartitioned(series, dir)
    val clicks = spark.read.parquet(dir).where(col("metric") === "click")
    // partition pruning visible at planning time
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("metric"), plan)
    // and the data round-trips exactly
    val expected = series.where(col("metric") === "click").count()
    assert(clicks.count() == expected && expected > 0)
  }

  test("snapshot store: versions, time travel, incremental, atomic manifests") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snap").toString
    try {
      assert(SnapshotStore.currentVersion(root) == 0)
      val a = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
      val b = (101L to 150L).map(i => (i, s"row$i")).toDF("id", "payload")
      assert(SnapshotStore.append(a, root) == 1)
      assert(SnapshotStore.append(b, root) == 2)
      // latest = union; time travel sees only v1
      assert(SnapshotStore.read(spark, root).count() == 150)
      assert(SnapshotStore.read(spark, root, 1).count() == 100)
      // incremental (1, 2] is exactly the appended batch
      val inc = SnapshotStore.incremental(spark, root, 1).collect()
        .map(_.getLong(0)).sorted
      assert(inc.toSeq == (101L to 150L))
      // empty incremental range planless
      assert(SnapshotStore.incremental(spark, root, 2).count() == 0)
    } finally SnapshotStore.deleteTree(root)
  }

  test("snapshot store: concurrent appenders serialize, no version or file lost") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapconc").toString
    try {
      val perWriter = 8
      val writers = 2
      // two uncoordinated writers race every commit; the create-if-absent
      // manifest publish must serialize them into sequential versions
      // with every batch surviving exactly once
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          for (i <- 0 until perWriter) {
            val lo = (w * perWriter + i) * 100L
            SnapshotStore.append(
              (lo until lo + 100L).map(id => (id, s"w$w-b$i")).toDF("id", "payload"),
              root)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(SnapshotStore.currentVersion(root) == writers * perWriter)
      val ids = SnapshotStore.read(spark, root).collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L until writers * perWriter * 100L)) // all, once
      // lineage is a chain: every version adds exactly one directory on
      // top of its parent's set (no version skips or forks)
      for (v <- 2 to writers * perWriter) {
        val prev = SnapshotStore.manifestDirs(root, v - 1).toSet
        val cur = SnapshotStore.manifestDirs(root, v).toSet
        assert(prev.subsetOf(cur) && cur.size == prev.size + 1, s"v$v lineage")
      }
    } finally SnapshotStore.deleteTree(root)
  }

  test("snapshot store: a stale compaction loses its race loudly, winner intact") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapstale").toString
    try {
      SnapshotStore.append(Seq((1L, "a")).toDF("id", "payload"), root)
      // the compaction reads parent = 1 ... meanwhile a writer commits v2
      val parentSeen = SnapshotStore.currentVersion(root)
      SnapshotStore.append(Seq((2L, "b")).toDF("id", "payload"), root)
      // stale rewrite tries to publish as parentSeen + 1 = the taken v2
      val rewriteDir = Files.createTempDirectory("rw").toString + "/d"
      Seq((1L, "a")).toDF("id", "payload").write.parquet(rewriteDir)
      val e = intercept[RuntimeException] {
        SnapshotStore.commitCompaction(root, parentSeen, rewriteDir, None)
      }
      assert(e.getMessage.contains("concurrent commit"))
      // the winner's lineage is untouched; both rows still read
      assert(SnapshotStore.currentVersion(root) == 2)
      assert(SnapshotStore.read(spark, root).count() == 2)
    } finally SnapshotStore.deleteTree(root)
  }

  test("row-level delete: only owning dirs rewritten, null-cond rows survive, no-op skips versioning") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapdel").toString
    try {
      // three appends; only the middle one holds matching rows
      SnapshotStore.append((1L to 10L).map(i => (i, s"keep$i"))
        .toDF("id", "payload"), root)
      SnapshotStore.append(
        Seq((11L, "drop"), (12L, "keep"), (13L, null: String))
          .toDF("id", "payload"), root)
      SnapshotStore.append((14L to 20L).map(i => (i, s"keep$i"))
        .toDF("id", "payload"), root)
      val dirsBefore = SnapshotStore.manifestDirs(root, 3)
      val v = SnapshotStore.deleteWhere(spark, root, col("payload") === "drop")
      assert(v == 4)
      val after = SnapshotStore.read(spark, root).collect()
        .map(_.getLong(0)).sorted.toSeq
      // 11 deleted; 13 (NULL cond) SURVIVES — SQL DELETE semantics
      assert(after == ((1L to 10L) ++ Seq(12L, 13L) ++ (14L to 20L)))
      // untouched dirs carried over by reference, exactly one rewrite dir
      val dirsAfter = SnapshotStore.manifestDirs(root, 4)
      assert(dirsAfter.count(dirsBefore.contains) == 2)
      assert(dirsAfter.count(!dirsBefore.contains(_)) == 1)
      // time travel still reads the pre-delete content
      assert(SnapshotStore.read(spark, root, 3).count() == 20)
      // zero matches: a true no-op, no version published
      assert(SnapshotStore.deleteWhere(spark, root, col("id") > 999L) == 4)
      assert(SnapshotStore.currentVersion(root) == 4)
    } finally SnapshotStore.deleteTree(root)
  }

  test("delete/upsert hardening: evolved-column cond, dup keys, empty batch, stats inherited") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapcow2").toString
    try {
      // dir1 lacks the evolved column; dir2 carries it — with stats
      SnapshotStore.appendWithStats(
        (1L to 10L).map(i => (i, s"p$i")).toDF("id", "payload"), root, Seq("id"))
      SnapshotStore.appendWithStats(
        (11L to 20L).map(i => (i, s"p$i", i * 1.0)).toDF("id", "payload", "score"),
        root, Seq("id"))
      // cond references the evolved column: dir1's rows see it as null
      // and must survive (null-cond semantics), dir2's matches go
      val v = SnapshotStore.deleteWhere(spark, root,
        col("score") > 15.0 || col("id") === 1L)
      assert(v == 3)
      val ids = SnapshotStore.read(spark, root, mergeSchema = true)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ((2L to 15L): Seq[Long]))
      // the rewrite inherited id-stats: a narrow readWhere still prunes
      val (sel, total) = SnapshotStore.planFiles(spark, root, -1, "id", 2L, 2L)
      assert(sel.size < total, s"no pruning after CoW: $sel of $total")
      assert(SnapshotStore.readWhere(spark, root, "id", 2L, 2L).count() == 1)
      // duplicate batch keys: rejected loudly, nothing published
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.upsert(spark,
          Seq((5L, "x"), (5L, "y")).toDF("id", "payload"), root, Seq("id"))
      }
      assert(e.getMessage.contains("duplicate key"))
      // empty batch: true no-op, like a zero-match delete
      assert(SnapshotStore.upsert(spark,
        Seq.empty[(Long, String)].toDF("id", "payload"), root, Seq("id")) == 3)
      assert(SnapshotStore.currentVersion(root) == 3)
    } finally SnapshotStore.deleteTree(root)
  }

  test("upsert replaces same-key rows, inserts new keys, leaves other dirs by reference") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapups").toString
    try {
      SnapshotStore.append((1L to 5L).map(i => (i, s"old$i", 1.0))
        .toDF("id", "payload", "score"), root)
      SnapshotStore.append((6L to 10L).map(i => (i, s"old$i", 1.0))
        .toDF("id", "payload", "score"), root)
      val dirsBefore = SnapshotStore.manifestDirs(root, 2)
      // update key 7, insert key 11
      val v = SnapshotStore.upsert(spark,
        Seq((7L, "new7", 2.0), (11L, "new11", 2.0))
          .toDF("id", "payload", "score"), root, Seq("id"))
      assert(v == 3)
      val rows = SnapshotStore.read(spark, root, mergeSchema = true).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 11 && rows(7L) == "new7" && rows(11L) == "new11"
        && rows(6L) == "old6" && rows(1L) == "old1")
      // dir 1 (keys 1-5) untouched by reference; dir 2 rewritten; batch added
      val dirsAfter = SnapshotStore.manifestDirs(root, 3)
      assert(dirsAfter.count(dirsBefore.contains) == 1)
      assert(dirsAfter.size == 3)
      // rename-shaped upsert batch is rejected like an append
      val e = intercept[RuntimeException] {
        SnapshotStore.upsert(spark,
          Seq((1L, "x", 1.0)).toDF("id", "body", "score"), root, Seq("id"))
      }
      assert(e.getMessage.contains("RENAME"))
    } finally SnapshotStore.deleteTree(root)
  }

  test("a contended retry never re-commits an epoch the race winner already stamped") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapepoch").toString
    try {
      SnapshotStore.appendEpoch(Seq((1L, "a")).toDF("id", "payload"), root, 7L)
      // simulate the loser's retry attempt AFTER the winner published
      // epoch 7: commitAppend must detect the stamp and become a no-op
      // instead of re-stacking a duplicate of the micro-batch
      val dupDir = Files.createTempDirectory("dup").toString + "/d"
      Seq((1L, "a")).toDF("id", "payload").write.parquet(dupDir)
      val v = SnapshotStore.commitAppend(root, dupDir, Some(7L), Seq("id", "payload"))
      assert(v == 1) // returned the current version, published nothing
      assert(SnapshotStore.currentVersion(root) == 1)
      assert(SnapshotStore.read(spark, root).count() == 1) // rows once, not twice
    } finally SnapshotStore.deleteTree(root)
  }

  test("an empty frame publishes a schema-bearing version through appendEpoch and upsertAndAppendEpoch") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapempty").toString
    try {
      // an aggregate over zero rows: no emptiness probe guards the write
      val agg = Seq((1L, "a", 2.0)).toDF("id", "g", "x").where(col("id") < 0)
        .groupBy("g").agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"))
      assert(SnapshotStore.appendEpoch(agg, root, 3L) == 1)
      assert(SnapshotStore.read(spark, root).columns.toSeq == Seq("g", "cnt", "sx"))
      assert(SnapshotStore.read(spark, root).count() == 0)

      val rows = Seq(("a", 1L, 2.0)).toDF("g", "cnt", "sx")
      SnapshotStore.appendEpoch(rows, root, 4L)
      // a keyed replace beside an EMPTY append side: one version, and it
      // reads back with the frame's columns
      assert(SnapshotStore.upsertAndAppendEpoch(spark,
        Seq(("a", 5L, 7.0)).toDF("g", "cnt", "sx"), agg, root, Seq("g"), 5L) == 3)
      val back = SnapshotStore.read(spark, root)
      assert(back.columns.toSeq == Seq("g", "cnt", "sx"))
      assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 5L)))
    } finally SnapshotStore.deleteTree(root)
  }

  test("vacuum keeps a re-stacked version's live stats (ownership from manifests, not names)") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snaprestk").toString
    try {
      SnapshotStore.appendWithStats(
        Seq((1L, "a")).toDF("id", "payload"), root, Seq("id"))
      // simulate a lost-race re-stack: a dir NAMED like v1's guess but
      // PUBLISHED as version 2 (name-pattern ownership guessing would
      // misattribute it)
      val dir = s"$root/data/v1-deadbeef"
      Seq((2L, "b")).toDF("id", "payload").write.parquet(dir)
      val v = SnapshotStore.commitAppend(root, dir, None, Seq("id", "payload"))
      assert(v == 2)
      // give the re-stacked version stats under its PUBLISHED version id
      val stats = Seq((s"file:$dir/part-0.parquet", "id", 2L, 2L))
        .toDF("path", "col", "lo", "hi")
      stats.coalesce(1).write.mode("overwrite")
        .parquet(s"$root/_stats/v2.parquet")
      SnapshotStore.append(Seq((3L, "c")).toDF("id", "payload"), root)
      // keepFrom=3: v2's manifest goes, but its data dir is retained by
      // v3's manifest — the v2 stats sidecar must survive
      SnapshotStore.vacuum(root, keepFrom = 3)
      assert(Files.exists(java.nio.file.Paths.get(s"$root/_stats/v2.parquet")))
      assert(SnapshotStore.read(spark, root).count() == 3)
    } finally SnapshotStore.deleteTree(root)
  }

  test("snapshot store refuses roots the manifest format cannot represent") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    // a comma in the path would fragment every dir on the manifest's
    // split(',') re-parse and poison vacuum's retained-set computation —
    // must fail loudly at publish time, before any manifest is written
    val base = Files.createTempDirectory("snapbad")
    val root = base.resolve("a,b").toString
    val e = intercept[RuntimeException] {
      SnapshotStore.append(Seq((1L, "x")).toDF("id", "payload"), root)
    }
    assert(e.getMessage.contains("unsupported in the manifest"))
    assert(SnapshotStore.currentVersion(root) == 0) // nothing published
    SnapshotStore.deleteTree(base.toString)
  }

  test("snapshot compaction: fewer files, identical content, old versions intact") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snap").toString
    try {
      for (k <- 0 until 5)
        SnapshotStore.append(
          (1L to 20L).map(i => (k * 100L + i, s"p$k-$i")).toDF("id", "payload")
            .repartition(8), root)
      def filesOf(v: Int): Int =
        SnapshotStore.manifestDirs(root, v).map(d =>
          Option(new java.io.File(d).listFiles()).get
            .count(_.getName.endsWith(".parquet"))).sum
      val preFiles = filesOf(5)
      val before = SnapshotStore.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val cv = SnapshotStore.compact(spark, root, targetFiles = 2)
      assert(cv == 6)
      assert(filesOf(6) <= 2 && filesOf(6) < preFiles)
      val after = SnapshotStore.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(after == before)
      // versions below the compaction still read their original content
      assert(SnapshotStore.read(spark, root, 2).count() == 40)
      // appends continue on top of the compacted lineage
      SnapshotStore.append(Seq((9999L, "tail")).toDF("id", "payload"), root)
      assert(SnapshotStore.read(spark, root).count() == before.size + 1)
      assert(SnapshotStore.incremental(spark, root, 6).collect()
        .map(_.getLong(0)).toSeq == Seq(9999L))
      // vacuum below the compaction: old manifests + unreferenced data go,
      // retained versions (6, 7) keep reading — the compact dir is shared
      // by both and must survive
      SnapshotStore.vacuum(root, keepFrom = 6)
      assert(SnapshotStore.read(spark, root).count() == before.size + 1)
      assert(SnapshotStore.read(spark, root, 6).count() == before.size)
      assert(intercept[Exception] {
        SnapshotStore.read(spark, root, 2).count()
      } != null)
      // v1's (writer-unique-suffixed) data dir is unreferenced → deleted
      assert(!new java.io.File(s"$root/data").listFiles()
        .exists(_.getName.startsWith("v1-")))
      // appends still work after retention
      SnapshotStore.append(Seq((10000L, "post")).toDF("id", "payload"), root)
      assert(SnapshotStore.read(spark, root).count() == before.size + 2)
    } finally SnapshotStore.deleteTree(root)
  }

  test("snapshot min/max skipping: narrow range reads few files, exact rows") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("skip").toString
    try {
      // three appends, each range-partitioned into 4 files with tight,
      // disjoint id ranges — the layout stats skipping rewards
      for (k <- 0 until 3) {
        val df = ((k * 1000L) until (k * 1000L + 1000L))
          .map(i => (i, s"p$i")).toDF("id", "payload")
          .repartitionByRange(4, col("id"))
        SnapshotStore.appendWithStats(df, root, Seq("id"))
      }
      // a range inside one append's span: at most its 4 files survive
      val (sel, total) = SnapshotStore.planFiles(spark, root, -1, "id", 1100L, 1200L)
      assert(total == 12 && sel.size <= 2, s"selected ${sel.size} of $total")
      val got = SnapshotStore.readWhere(spark, root, "id", 1100L, 1200L)
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (1100L to 1200L))
      // no-overlap range: zero files, empty result with the right schema
      val (sel0, _) = SnapshotStore.planFiles(spark, root, -1, "id", 99999L, 99999L)
      assert(sel0.isEmpty)
      assert(SnapshotStore.readWhere(spark, root, "id", 99999L, 99999L).count() == 0)
      // a stats-less append (plain append) stays readable: conservative keep
      SnapshotStore.append(Seq((50000L, "x")).toDF("id", "payload"), root)
      val (sel1, total1) = SnapshotStore.planFiles(spark, root, -1, "id", 50000L, 50000L)
      assert(total1 > 12 && sel1.nonEmpty)
      assert(SnapshotStore.readWhere(spark, root, "id", 50000L, 50000L).count() == 1)
    } finally SnapshotStore.deleteTree(root)
  }

  test("compaction preserves evolved columns; vacuum keeps a live compaction's stats") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("evocomp").toString
    try {
      SnapshotStore.appendWithStats(
        Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), root, Seq("id"))
      SnapshotStore.appendWithStats(
        Seq((3L, "c", 0.9)).toDF("id", "payload", "score"), root, Seq("id"))
      // a compaction must not drop the evolved column (one-footer trap)
      SnapshotStore.compactZordered(spark, root, "id", "id",
        targetFiles = 2, statsCols = Seq("id"))
      val merged = SnapshotStore.read(spark, root, mergeSchema = true)
      assert(merged.columns.toSet == Set("id", "payload", "score"))
      assert(merged.where(col("score").isNotNull).count() == 1)
      // vacuum to just the compaction: its stats sidecar (v3) must
      // survive because its data directory is retained
      SnapshotStore.append(Seq((4L, "d")).toDF("id", "payload"), root)
      SnapshotStore.vacuum(root, keepFrom = 3)
      val (sel, total) = SnapshotStore.planFiles(spark, root, -1, "id", 1L, 1L)
      assert(sel.size < total, s"stats gone: $sel of $total") // skipping still prunes
      assert(SnapshotStore.readWhere(spark, root, "id", 1L, 1L).count() == 1)
    } finally SnapshotStore.deleteTree(root)
  }

  test("schema evolution: a later append's new column reads as null on old rows") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("evo").toString
    try {
      SnapshotStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), root)
      SnapshotStore.append(
        Seq((3L, "c", 0.9)).toDF("id", "payload", "score"), root)
      val merged = SnapshotStore.read(spark, root, mergeSchema = true)
      assert(merged.columns.toSet == Set("id", "payload", "score"))
      val byId = merged.collect()
        .map(r => r.getLong(0) -> Option(r.getAs[Any]("score"))).toMap
      assert(byId(1L).isEmpty && byId(2L).isEmpty && byId(3L).contains(0.9))
      // the default read stays cheap and still sees every row
      assert(SnapshotStore.read(spark, root).count() == 3)
    } finally SnapshotStore.deleteTree(root)
  }

  test("schema evolution: rename and drop are rejected deterministically; compactWith migrates") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("evo2").toString
    try {
      SnapshotStore.append(Seq((1L, "a")).toDF("id", "payload"), root)
      // RENAME signature (omit a recorded column + introduce a new one):
      // rejected — published as-is both names would read half-null forever
      val eRen = intercept[RuntimeException] {
        SnapshotStore.append(Seq((2L, "b")).toDF("id", "body"), root)
      }
      assert(eRen.getMessage.contains("RENAME") &&
        eRen.getMessage.contains("payload") && eRen.getMessage.contains("body"))
      assert(SnapshotStore.currentVersion(root) == 1) // nothing published
      // DROP via append is impossible by design: a subset append is
      // accepted (older-shaped data, nulls on its rows) but the schema
      // record KEEPS the column — deterministic, never a silent drop
      SnapshotStore.append(Seq(Tuple1(2L)).toDF("id"), root)
      assert(SnapshotStore.manifestCols(root, 2).get == Seq("id", "payload"))
      // additive still works, and the schema record grows
      SnapshotStore.append(Seq((3L, "c", 0.5)).toDF("id", "payload", "score"), root)
      assert(SnapshotStore.manifestCols(root, 3).get ==
        Seq("id", "payload", "score"))
      // the sanctioned migration: compactWith rewrites under the new names
      val migrated = SnapshotStore.read(spark, root, mergeSchema = true)
        .withColumnRenamed("payload", "body")
      SnapshotStore.compactWith(migrated, root)
      assert(SnapshotStore.manifestCols(root, 4).get.contains("body") &&
        !SnapshotStore.manifestCols(root, 4).get.contains("payload"))
      // post-migration: old-name appends are now the rename signature
      intercept[RuntimeException] {
        SnapshotStore.append(Seq((4L, "d")).toDF("id", "payload"), root)
      }
      SnapshotStore.append(
        Seq((4L, "d", 0.7)).toDF("id", "body", "score"), root)
      assert(SnapshotStore.read(spark, root, mergeSchema = true).count() == 4)
    } finally SnapshotStore.deleteTree(root)
  }

  test("z-ordered compaction restores skipping on arrival-ordered appends") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("zcomp").toString
    try {
      // arrival order = x-major: every append's files span the FULL y
      // domain, so a y-range read can prune nothing
      for (k <- 0 until 2) {
        val rows = for (x <- (k * 50) until ((k + 1) * 50); y <- 0 until 40)
          yield (x.toLong, y.toLong, s"$x/$y")
        SnapshotStore.appendWithStats(
          rows.toDF("x", "y", "payload").repartitionByRange(4, col("x")),
          root, Seq("x", "y"))
      }
      val (selBefore, totalBefore) =
        SnapshotStore.planFiles(spark, root, -1, "y", 0L, 4L)
      assert(selBefore.size == totalBefore, "arrival order prunes nothing on y")
      val expected = SnapshotStore.read(spark, root)
        .where(col("y") <= 4).collect().map(_.getString(2)).sorted
      // z-compaction re-clusters; y-range reads prune again
      SnapshotStore.compactZordered(spark, root, "x", "y",
        targetFiles = 8, statsCols = Seq("x", "y"))
      val (selAfter, totalAfter) =
        SnapshotStore.planFiles(spark, root, -1, "y", 0L, 4L)
      assert(totalAfter == 8 && selAfter.size < totalAfter,
        s"z-compacted: ${selAfter.size} of $totalAfter")
      val got = SnapshotStore.readWhere(spark, root, "y", 0L, 4L)
        .collect().map(_.getString(2)).sorted
      assert(got.toSeq == expected.toSeq)
    } finally SnapshotStore.deleteTree(root)
  }

  test("rollup view: delta-only refresh, idempotence, compaction rebuild") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivm").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      // same (metric, day) keys arrive across THREE source versions —
      // the partial-merge path is exercised, not just per-version aggs
      def mk(rows: Seq[(String, Long, Double)]) =
        rows.toDF("metric", "e", "value")
      def fullRollup() = {
        val r = SnapshotStore.read(spark, src)
          .groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(30,2)")).as("vsum"),
            count(col("value")).as("nn"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        r.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
          x.getDecimal(3).doubleValue, x.getLong(4), x.getDouble(5),
          x.getDouble(6))).toSet
      }
      def viewRows() =
        RollupView.read(spark, view).collect().map(x =>
          (x.getString(0), x.getLong(1), x.getLong(2),
           x.getDecimal(3).doubleValue, x.getLong(4), x.getDouble(5),
           x.getDouble(6))).toSet
      SnapshotStore.append(mk(Seq(("m", 10L, 1.5), ("m", 86410L, 2.0),
        ("n", 20L, -1.0))), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      // idempotent: same source position -> no new view version
      val v0 = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.currentVersion(view) == v0)
      // second append touches EXISTING keys; refresh reads only the delta
      SnapshotStore.append(mk(Seq(("m", 30L, 4.0), ("n", 86500L, 7.25))), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      // view compaction folds partials without changing content or stamp
      val stamp = SnapshotStore.lastEpoch(view)
      RollupView.compact(spark, view)
      assert(viewRows() == fullRollup())
      assert(SnapshotStore.lastEpoch(view) == stamp)
      // SOURCE compaction replaces counted directories: refresh must
      // detect it and rebuild (an incremental read would double-count)
      SnapshotStore.compact(spark, src)
      SnapshotStore.append(mk(Seq(("m", 50L, -2.5))), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      // and the rebuild advanced the resume stamp: next refresh is a no-op
      val v1 = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.currentVersion(view) == v1)
    } finally SnapshotStore.deleteTree(root)
  }

  test("rollup view vs schema evolution: widened source exact, missing value column refuses pre-publish") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivm_sev").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def fullRollup() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(30,2)")).as("vsum"),
          count(col("value")).as("nn"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .collect().map(_.toString).toSet
      def viewRows() =
        RollupView.read(spark, view).collect().map(_.toString).toSet
      SnapshotStore.append(
        Seq(("m", 10L, 1.5), ("n", 86410L, 2.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      // WIDENED source: the view's spec projects its own columns, so the
      // new column rides through and the view still equals the recompute
      SnapshotStore.append(
        Seq(("m", 30L, 4.0, "tagged")).toDF("metric", "e", "value", "tag"), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup(),
        "widened source broke the rollup's delta refresh")
      // a batch MISSING the value column (legal additive-subset append at
      // the store level) must refuse the REFRESH loudly before anything
      // publishes — never aggregate a silently-null value column
      val vStable = SnapshotStore.currentVersion(view)
      SnapshotStore.append(Seq(("m", 200L)).toDF("metric", "e"), src)
      intercept[Exception](RollupView.refresh(spark, src, view))
      assert(SnapshotStore.currentVersion(view) == vStable,
        "refused refresh must not publish a view version")
    } finally SnapshotStore.deleteTree(root)
  }

  test("quantile view: delta/churn partials == rebuild, accuracy bound, refreeze on escape") {
    import graft.sources.{QuantileView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("qview").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: Seq[(String, Long, Double)]) = rows.toDF("metric", "e", "value")
      // deterministic spread: values 0..99 across two days, two metrics
      val base = (0 until 100).map(i =>
        (if (i % 2 == 0) "m" else "n", (i % 2) * 86400L + i, i.toDouble))
      SnapshotStore.append(mk(base.filter(_._3 < 50)), src)
      QuantileView.refresh(spark, src, view) // bootstrap freezes on 0..49
      val v0 = SnapshotStore.currentVersion(view)
      QuantileView.refresh(spark, src, view) // same position: no-op
      assert(SnapshotStore.currentVersion(view) == v0)
      // values 50..99 ESCAPE the frozen envelope (margin is 25% of span):
      // the refresh must refreeze via one rebuild, not clamp-and-drift
      SnapshotStore.append(mk(base.filter(_._3 >= 50)), src)
      QuantileView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("compact"),
        "envelope escape must refreeze via rebuild")
      // an IN-envelope delta stays a pure O(Δ) append of positive partials
      SnapshotStore.append(mk(Seq(("m", 10L, 42.0), ("n", 86420L, 77.0))), src)
      QuantileView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("append"))
      // churn: delete a slice — NEGATIVE partials append, no rewrite
      SnapshotStore.deleteWhere(spark, src, col("value") >= 90.0)
      QuantileView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("append"),
        "count retraction must be arithmetic, not a view rewrite")
      // estimates agree with the exact quantile within the 2·w bound
      val ed = QuantileView.edgesFor(spark, view).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      val exact = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(expr("percentile(value, 0.5)").as("x50"),
          expr("percentile(value, 0.9)").as("x90"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      QuantileView.quantiles(spark, view, Seq(0.5, 0.9)).collect().foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        val w = ed(r.getString(0))
        val x = if (r.getDouble(2) == 0.5) exact(key)._1 else exact(key)._2
        assert(math.abs(r.getDouble(3) - x) <= 2 * w + 1e-9,
          s"estimate outside its 2w bound at $key phi=${r.getDouble(2)}: " +
            s"est=${r.getDouble(3)} exact=$x w=$w")
      }
      // view compaction folds partials without changing answers or stamp
      val before = QuantileView.quantiles(spark, view, Seq(0.5, 0.9))
        .collect().map(_.toString).sorted.toSeq
      val stamp = SnapshotStore.lastEpoch(view)
      QuantileView.compact(spark, view)
      assert(QuantileView.quantiles(spark, view, Seq(0.5, 0.9))
        .collect().map(_.toString).sorted.toSeq == before)
      assert(SnapshotStore.lastEpoch(view) == stamp)
      // net-zero bins physically fold away; no negative net survives
      val nets = QuantileView.read(spark, view)
        .select("cnt").collect().map(_.getLong(0))
      assert(nets.forall(_ > 0), s"negative net bin count: ${nets.toSeq}")
    } finally SnapshotStore.deleteTree(root)
  }

  test("quantile view: phi 0 and 1 both serve; monotone drift amortizes to O(log) rebuilds") {
    import graft.sources.{QuantileView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("qview_drift").toString
    try {
      // ---- phi extremes: 0.0 must serve the minimum-edge estimate (the
      // strict lower bound used to make it row-LESS), 1.0 the maximum
      val src = s"$root/src"; val view = s"$root/view"
      SnapshotStore.append((10 to 90).map(i => ("m", i.toLong, i.toDouble))
        .toDF("metric", "e", "value"), src)
      QuantileView.refresh(spark, src, view, grainSec = 1000000L)
      val ext = QuantileView.quantiles(spark, view, Seq(0.0, 0.5, 1.0))
        .collect().map(r => r.getDouble(2) -> r.getDouble(3)).toMap
      assert(ext.size == 3, s"phi in {0, 0.5, 1} must serve exactly one row each: $ext")
      val w = QuantileView.edgesFor(spark, view)
        .select("w").head().getDouble(0)
      assert(math.abs(ext(0.0) - 10.0) <= 2 * w + 1e-9,
        s"phi=0 estimate ${ext(0.0)} outside 2w of the minimum (w=$w)")
      assert(math.abs(ext(1.0) - 90.0) <= 2 * w + 1e-9,
        s"phi=1 estimate ${ext(1.0)} outside 2w of the maximum (w=$w)")
      assert(ext(0.0) <= ext(0.5) && ext(0.5) <= ext(1.0))
      // and phi=0 rides a delta refresh unchanged (selection, not freeze)
      SnapshotStore.append(Seq(("m", 95L, 50.0)).toDF("metric", "e", "value"), src)
      QuantileView.refresh(spark, src, view, grainSec = 1000000L)
      assert(QuantileView.quantiles(spark, view, Seq(0.0)).count() == 1)

      // ---- monotone drift: TWO phase-offset drifters step +100 on
      // alternating refreshes (the common multi-counter shape). Every
      // escape refreezes with the ESCAPER's margin doubled while the
      // other drifter CARRIES its growth forward — resetting it would
      // make the two undo each other and pay one rebuild per refresh —
      // so the total rebuild count must grow like log(drift)
      val src2 = s"$root/src2"; val view2 = s"$root/view2"
      // a STABLE neighbor metric rides along: the drifting counters'
      // refreezes must not coarsen its bins (margins are per-metric)
      SnapshotStore.append(
        ((0 to 99).map(i => ("d", i.toLong, i.toDouble)) ++
          (0 to 99).map(i => ("d2", i.toLong, i.toDouble)) ++
          (0 to 99).map(i => ("s", i.toLong, i.toDouble)))
          .toDF("metric", "e", "value"), src2)
      QuantileView.refresh(spark, src2, view2, grainSec = 1000000000L)
      (1 to 30).foreach { step =>
        val m = if (step % 2 == 0) "d" else "d2"
        SnapshotStore.append(
          Seq((m, 100L + step, 100.0 + step * 100.0))
            .toDF("metric", "e", "value"), src2)
        QuantileView.refresh(spark, src2, view2, grainSec = 1000000000L)
      }
      val rebuilds = (1 to SnapshotStore.currentVersion(view2)).count(v =>
        SnapshotStore.manifestOp(view2, v).contains("compact"))
      assert(rebuilds <= 10,
        s"two alternating drifters to 31x the initial range took $rebuilds " +
          "rebuilds — escape-refreeze margins are not compounding per metric")
      assert(rebuilds >= 1, "drift never escaped — the torture is vacuous")
      // margins are PER-METRIC: the drifter compounded, the stable
      // neighbor refroze at the default every time
      val margins = QuantileView.edgesFor(spark, view2)
        .select("metric", "margin").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(margins("d") > QuantileView.DefaultMargin,
        s"drifting metric's margin never grew: $margins")
      assert(margins("s") == QuantileView.DefaultMargin,
        s"stable metric's bins coarsened by a NEIGHBOR's drift: $margins")
      // the answers stay within the CURRENT freeze's per-metric 2w bound
      val w2 = QuantileView.edgesFor(spark, view2)
        .where(col("metric") === "d").select("w").head().getDouble(0)
      val exact = SnapshotStore.read(spark, src2)
        .where(col("metric") === "d")
        .agg(expr("percentile(value, 0.5)")).head().getDouble(0)
      val est = QuantileView.quantiles(spark, view2, Seq(0.5))
        .where(col("metric") === "d").head().getDouble(3)
      assert(math.abs(est - exact) <= 2 * w2 + 1e-9,
        s"post-drift estimate $est outside 2w of exact $exact (w=$w2)")
    } finally SnapshotStore.deleteTree(root)
  }

  test("quantile view: retighten() refreezes at the default margin, restoring 2w accuracy") {
    import graft.sources.{QuantileView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("qview_rt").toString
    try {
      val src = s"$root/src"; val view = s"$root/view"
      SnapshotStore.append((0 to 99).map(i => ("m", i.toLong, i.toDouble))
        .toDF("metric", "e", "value"), src)
      QuantileView.refresh(spark, src, view, grainSec = 1000000000L)
      // monotone drift: escape-doubled margins coarsen m's bins
      (1 to 6).foreach { step =>
        SnapshotStore.append(
          Seq(("m", 100L + step, 100.0 + step * 200.0))
            .toDF("metric", "e", "value"), src)
        QuantileView.refresh(spark, src, view, grainSec = 1000000000L)
      }
      def edge(col0: String): Double = QuantileView.edgesFor(spark, view)
        .select(col0).head().getDouble(0)
      val (mCoarse, wCoarse) = (edge("margin"), edge("w"))
      assert(mCoarse > QuantileView.DefaultMargin,
        s"drift never grew the margin ($mCoarse) — the fixture is vacuous")
      // drift stabilized: the operator reclaims accuracy explicitly
      QuantileView.retighten(spark, src, view, grainSec = 1000000000L)
      val (mTight, wTight) = (edge("margin"), edge("w"))
      assert(mTight == QuantileView.DefaultMargin,
        s"retighten must refreeze at the default margin, got $mTight")
      assert(wTight < wCoarse,
        s"retighten must TIGHTEN the bins: w $wCoarse -> $wTight")
      // answers now land inside the TIGHTENED 2w of the exact quantile
      val exact = SnapshotStore.read(spark, src)
        .agg(expr("percentile(value, 0.9)")).head().getDouble(0)
      val est = QuantileView.quantiles(spark, view, Seq(0.9))
        .head().getDouble(3)
      assert(math.abs(est - exact) <= 2 * wTight + 1e-9,
        s"post-retighten estimate $est outside tightened 2w of $exact (w=$wTight)")
      // stamp preserved: a replayed refresh is a no-op, and an
      // in-envelope delta stays on the O(Δ) append path
      val vAfter = SnapshotStore.currentVersion(view)
      QuantileView.refresh(spark, src, view, grainSec = 1000000000L)
      assert(SnapshotStore.currentVersion(view) == vAfter)
      SnapshotStore.append(Seq(("m", 200L, 500.0)).toDF("metric", "e", "value"), src)
      QuantileView.refresh(spark, src, view, grainSec = 1000000000L)
      assert(SnapshotStore.manifestOp(view, SnapshotStore.currentVersion(view))
        .contains("append"),
        "in-envelope delta after retighten must stay an O(Δ) append")
      // retighten also brings a LAGGING view current (rebuild at srcCur)
      SnapshotStore.append(Seq(("m", 201L, 9999.0)).toDF("metric", "e", "value"), src)
      QuantileView.retighten(spark, src, view, grainSec = 1000000000L)
      assert(SnapshotStore.lastEpoch(view)
        .contains(SnapshotStore.currentVersion(src).toLong))
    } finally SnapshotStore.deleteTree(root)
  }

  test("quantile view torture: net counts == direct binning after every commit") {
    import graft.sources.{QuantileView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("qv_tort").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      val rnd = new scala.util.Random(7)
      def batch(n: Int): org.apache.spark.sql.DataFrame =
        (0 until n).map { _ =>
          (if (rnd.nextBoolean()) "m" else "n",
            rnd.nextInt(3) * 86400L + rnd.nextInt(1000),
            rnd.nextInt(1000) / 10.0) // values in [0, 100): inside any freeze
        }.toDF("metric", "e", "value")
      def directCounts(): Set[String] = {
        val ed = QuantileView.edgesFor(spark, view)
        SnapshotStore.read(spark, src).join(broadcast(ed), "metric")
          .select(col("metric"), expr("e div 86400").as("bucket"),
            least(col("bins") - lit(1), greatest(lit(0),
              floor((col("value") - col("lo")) / col("w")).cast("int")))
              .as("bin"))
          .groupBy("metric", "bucket", "bin").agg(count(lit(1)).as("cnt"))
          .collect().map(_.toString).toSet
      }
      def viewCounts(): Set[String] =
        QuantileView.read(spark, view).collect().map(_.toString).toSet
      // bootstrap over the full value range so later batches stay inside
      SnapshotStore.append(batch(300)
        .unionByName(Seq(("m", 0L, 0.0), ("m", 0L, 99.9),
          ("n", 0L, 0.0), ("n", 0L, 99.9)).toDF("metric", "e", "value")), src)
      QuantileView.refresh(spark, src, view)
      assert(viewCounts() == directCounts(), "diverged at bootstrap")
      (1 to 10).foreach { step =>
        rnd.nextInt(3) match {
          case 0 => SnapshotStore.append(batch(50), src)
          case 1 => SnapshotStore.deleteWhere(spark, src,
            col("value") >= (step * 7.0) && col("value") < (step * 7.0 + 3.0))
          case 2 => SnapshotStore.compact(spark, src) // forces a rebuild
        }
        QuantileView.refresh(spark, src, view)
        assert(viewCounts() == directCounts(), s"diverged after step $step")
        // every live net count is positive — retraction never overshoots
        assert(QuantileView.read(spark, view).where(col("cnt") <= 0).isEmpty)
      }
    } finally SnapshotStore.deleteTree(root)
  }

  test("change feed: net insert/delete rows across appends, deletes, upserts") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapcdf").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      SnapshotStore.append((1L to 5L).map(i => (i, s"p$i")).toDF("id", "payload"), root)
      SnapshotStore.append((6L to 8L).map(i => (i, s"p$i")).toDF("id", "payload"), root)
      // manifest op kinds are recorded
      assert(SnapshotStore.manifestOp(root, 1).contains("append"))
      assert(SnapshotStore.manifestOp(root, 2).contains("append"))
      // append-only range: pure inserts; from=0 seeds with full content
      assert(rows(SnapshotStore.changes(spark, root, 1, 2)) ==
        (6L to 8L).map(i => (i, s"p$i", "insert")).toSet)
      assert(SnapshotStore.changes(spark, root, 0, 2).count() == 8)
      assert(SnapshotStore.changes(spark, root, 0, 2)
        .where(col("_change_type") === "delete").count() == 0)
      // empty range: no changes, schema intact
      val empty = SnapshotStore.changes(spark, root, 2, 2)
      assert(empty.count() == 0 &&
        empty.columns.toSeq == Seq("id", "payload", "_change_type"))
      // a delete reports exactly the removed rows, carried rows cancel
      SnapshotStore.deleteWhere(spark, root, col("id") === 7L)
      assert(SnapshotStore.manifestOp(root, 3).contains("delete"))
      assert(rows(SnapshotStore.changes(spark, root, 2, 3)) ==
        Set((7L, "p7", "delete")))
      // an upsert's update = delete(old) + insert(new); pure insert = insert
      SnapshotStore.upsert(spark,
        Seq((6L, "patched"), (99L, "new")).toDF("id", "payload"), root, Seq("id"))
      assert(SnapshotStore.manifestOp(root, 4).contains("upsert"))
      assert(rows(SnapshotStore.changes(spark, root, 3, 4)) ==
        Set((6L, "p6", "delete"), (6L, "patched", "insert"), (99L, "new", "insert")))
      // spanning the whole churn: NET diff (insert-then-delete of 7 cancels
      // only if inside the range — here 7 existed at v2, so it reports)
      assert(rows(SnapshotStore.changes(spark, root, 2, 4)) ==
        Set((7L, "p7", "delete"), (6L, "p6", "delete"),
          (6L, "patched", "insert"), (99L, "new", "insert")))
      // across a compaction: content preserved -> empty feed (cost caveat
      // documented; correctness holds regardless of commit kinds)
      SnapshotStore.compact(spark, root)
      assert(SnapshotStore.manifestOp(root, 5).contains("compact"))
      assert(SnapshotStore.changes(spark, root, 4, 5).count() == 0)
      // vacuumed baseline fails loudly, like incremental(); a vacuumed
      // ENDPOINT gets the same curated error, not a raw NoSuchFile
      SnapshotStore.vacuum(root, keepFrom = 5)
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.changes(spark, root, 2)
      }
      assert(e.getMessage.contains("vacuumed"))
      val e2 = intercept[IllegalArgumentException] {
        SnapshotStore.changes(spark, root, 0, to = 3)
      }
      assert(e2.getMessage.contains("endpoint v3 was vacuumed"))
    } finally SnapshotStore.deleteTree(root)
  }

  test("change feed compares schema-evolved rows under one unified schema") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapcdfev").toString
    try {
      SnapshotStore.append((1L to 3L).map(i => (i, s"p$i")).toDF("id", "payload"), root)
      SnapshotStore.append(Seq((4L, "p4", 0.5)).toDF("id", "payload", "score"), root)
      // delete hits a PRE-evolution row: its diff rows read score as null
      // on both sides and must cancel/report consistently
      SnapshotStore.deleteWhere(spark, root, col("id") === 2L)
      val ch = SnapshotStore.changes(spark, root, 2, 3).collect()
      assert(ch.length == 1)
      val r = ch(0)
      assert(r.getLong(0) == 2L && r.getString(1) == "p2"
        && r.isNullAt(2) && r.getString(3) == "delete")
    } finally SnapshotStore.deleteTree(root)
  }

  test("version gaps: one store's commit ranges classify without a Spark job") {
    import graft.sources.SnapshotStore
    import graft.sources.SnapshotStore.Gap
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapgap").toString
    def ids(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"p$i")).toDF("id", "payload")
    def kind(g: Gap): String = g match {
      case Gap.Unmoved     => "unmoved"
      case _: Gap.Appended => "appended"
      case _: Gap.Churned  => "churned"
      case _: Gap.Recorded => "recorded"
      case Gap.Opaque      => "opaque"
    }
    // Spark jobs launched inside `body` (the bus drained on both sides)
    def jobsIn[T](body: => T): (T, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      val sc = spark.sparkContext
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val out = body
        org.apache.spark.ListenerBusDrain(sc)
        (out, n.get)
      } finally sc.removeSparkListener(listener)
    }
    try {
      SnapshotStore.append(ids(1, 4), root)                             // v1
      SnapshotStore.append(ids(5, 6), root)                             // v2
      SnapshotStore.deleteWhere(spark, root, col("id") === 1L)          // v3
      SnapshotStore.upsert(spark, ids(20, 20), root, Seq("id"))         // v4
      SnapshotStore.upsert(spark,
        Seq((2L, "patched")).toDF("id", "payload"), root, Seq("id"))    // v5
      SnapshotStore.compact(spark, root)                                // v6
      SnapshotStore.append(ids(30, 30), root)                           // v7
      SnapshotStore.compactSmall(spark, root)                           // v8
      SnapshotStore.deleteWhere(spark, root, col("id") === 30L)         // v9
      // a content swap that records its feed under its own epoch (v10),
      // then one whose feed's epoch does not match the manifest (v11)
      def swap(dropId: Long, feedEpoch: Long, epoch: Long): Int = {
        val cur = SnapshotStore.read(spark, root).localCheckpoint(true)
        SnapshotStore.recordChangeFeed(cur.where(col("id") === dropId)
          .withColumn("_change_type", lit("delete")), root, feedEpoch)
        SnapshotStore.compactWith(cur.where(col("id") =!= dropId), root,
          epochOverride = Some(epoch))
      }
      swap(3L, 500L, 500L)                                              // v10
      swap(4L, 600L, 601L)                                              // v11
      SnapshotStore.createBranch(root, "b")
      SnapshotStore.append(ids(40, 41), SnapshotStore.branchRoot(root, "b"))
      SnapshotStore.mergeBranch(spark, root, "b")                       // v12
      assert(SnapshotStore.currentVersion(root) == 12)
      assert(SnapshotStore.manifestOp(root, 4).contains("upsert"))
      assert(SnapshotStore.manifestOp(root, 8).contains("compact"))
      assert(SnapshotStore.manifestOp(root, 12).contains("merge"))

      val expected = Seq(
        (1, 2) -> "appended",   // append only
        (0, 2) -> "appended",   // from nothing: every directory
        (2, 3) -> "churned",    // delete
        (1, 3) -> "churned",    // append then delete
        (3, 4) -> "appended",   // upsert of new keys only
        (4, 5) -> "churned",    // upsert of an existing key
        (5, 6) -> "opaque",     // compact
        (4, 6) -> "opaque",
        (7, 8) -> "opaque",     // compactSmall
        (9, 10) -> "recorded",  // recorded feed, epoch matches
        (8, 10) -> "recorded",  // a delete run, then the recorded swap
        (10, 11) -> "opaque",   // orphan feed: epoch does not match
        (11, 12) -> "appended", // branch merge that only added directories
        (12, 12) -> "unmoved")
      val (kinds, jobs) = jobsIn(expected.map { case ((f, t), _) =>
        (f, t) -> SnapshotStore.gap(spark, root, f, t) })
      assert(kinds.map { case (r, g) => r -> kind(g) } == expected)
      assert(jobs == 0, s"classification launched $jobs Spark job(s)")

      // each case's rows, built on first use
      val g = kinds.toMap
      assert(g((3, 4)).asInstanceOf[Gap.Appended].rows()
        .as[(Long, String)].collect().toSet == Set((20L, "p20")))
      assert(g((4, 5)).asInstanceOf[Gap.Churned].changes
        .select("id", "payload", "_change_type").as[(Long, String, String)]
        .collect().toSet == Set((2L, "p2", "delete"), (2L, "patched", "insert")))
      assert(g((8, 10)).asInstanceOf[Gap.Recorded].changes
        .select("id", "_change_type").as[(Long, String)]
        .collect().toSet == Set((30L, "delete"), (3L, "delete")))

      // a vacuumed baseline
      SnapshotStore.vacuum(root, keepFrom = 12)
      assert(!SnapshotStore.hasManifest(root, 11))
      val (vac, vacJobs) = jobsIn(SnapshotStore.gap(spark, root, 11, 12))
      assert(kind(vac) == "opaque" && vacJobs == 0)
    } finally SnapshotStore.deleteTree(root)
  }

  test("rollup view absorbs source deletes incrementally (dirty-group recompute + tombstones)") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmdel").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: Seq[(String, Long, Double)]) =
        rows.toDF("metric", "e", "value")
      def fullRollup() = {
        val r = SnapshotStore.read(spark, src)
          .groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(30,2)")).as("vsum"),
            count(col("value")).as("nn"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        r.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
          x.getDecimal(3).doubleValue, x.getLong(4), x.getDouble(5),
          x.getDouble(6))).toSet
      }
      def viewRows() =
        RollupView.read(spark, view).collect().map(x =>
          (x.getString(0), x.getLong(1), x.getLong(2),
           x.getDecimal(3).doubleValue, x.getLong(4), x.getDouble(5),
           x.getDouble(6))).toSet
      // two appends: metric m spans two days, metric n one day
      SnapshotStore.append(mk(Seq(("m", 10L, 5.0), ("m", 20L, 1.0),
        ("m", 86410L, 2.0), ("n", 30L, -1.0))), src)
      RollupView.refresh(spark, src, view)
      SnapshotStore.append(mk(Seq(("m", 40L, 9.0), ("n", 50L, -3.0))), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      // delete the day-0 m MAXIMUM (min/max must re-derive, not absorb)
      // and ALL of n (its group vanishes -> tombstone)
      SnapshotStore.deleteWhere(spark, src,
        (col("metric") === "m" && col("value") === 9.0) || col("metric") === "n")
      val vBefore = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      // the n group is GONE from the read (tombstoned), not zero-row garbage
      assert(!viewRows().exists(_._1 == "n"))
      // and the refresh took the RETRACTION path, not a rebuild: ONE
      // atomic keyed-replace-plus-append commit — never a compaction,
      // never a reader-visible replace/append pair
      val kinds = ((vBefore + 1) to SnapshotStore.currentVersion(view))
        .flatMap(v => SnapshotStore.manifestOp(view, v))
      assert(kinds == Seq("upsert"), s"got $kinds")
      // untouched day-1 m partials were carried by reference, not rewritten
      assert(viewRows().contains(("m", 1L, 1L, 2.0, 1L, 2.0, 2.0)))
      // a second consecutive retraction composes (delete day-0 m minimum)
      SnapshotStore.deleteWhere(spark, src,
        col("metric") === "m" && col("value") === 1.0)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      assert(viewRows().contains(("m", 0L, 1L, 5.0, 1L, 5.0, 5.0)))
      // re-inserting after a tombstone revives the group through the
      // ordinary append path (merged cnt > 0 again)
      SnapshotStore.append(mk(Seq(("n", 60L, 4.5))), src)
      RollupView.refresh(spark, src, view)
      assert(viewRows() == fullRollup())
      assert(viewRows().contains(("n", 0L, 1L, 4.5, 1L, 4.5, 4.5)))
      // compaction folds the tombstones physically; content unchanged
      RollupView.compact(spark, view)
      assert(viewRows() == fullRollup())
      assert(SnapshotStore.read(spark, view)
        .where(col("cnt") === 0L).count() == 0)
      // idempotent at position: no new version on a same-position refresh
      val vStable = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.currentVersion(view) == vStable)
    } finally SnapshotStore.deleteTree(root)
  }

  test("rollup tombstone revived by all-NULL values serves sum NULL, not a 0 residue") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmnull").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("n", 30L, 2.0), ("m", 10L, 1.0))
        .toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      // kill the n group (tombstone), then revive it with ONLY NULL
      // values — the base plan's sum over an all-NULL group is NULL, and
      // the merged view must agree (a 0-sum tombstone would serve 0.00)
      SnapshotStore.deleteWhere(spark, src, col("metric") === "n")
      RollupView.refresh(spark, src, view)
      SnapshotStore.append(
        Seq(("n", 70L, Option.empty[Double]), ("n", 80L, Option.empty[Double]))
          .toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      val got = RollupView.read(spark, view)
        .where(col("metric") === "n").collect()
      assert(got.length == 1 && got.head.getAs[Long]("cnt") == 2L &&
        got.head.getAs[Any]("vsum") == null &&
        got.head.getAs[Any]("vmin") == null,
        s"all-NULL revival must serve NULL aggregates: ${got.mkString}")
    } finally SnapshotStore.deleteTree(root)
  }

  test("incremental bin-packing: small dirs merge, big dirs ride by reference") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snappack").toString
    try {
      // one big directory, three small stats-carrying drips
      SnapshotStore.appendWithStats(
        (1L to 20000L).map(i => (i, s"payload-$i")).toDF("id", "p")
          .repartition(2), root, Seq("id"))
      (0 until 3).foreach { k =>
        SnapshotStore.appendWithStats(
          (100000L + k * 10 to 100009L + k * 10).map(i => (i, s"drip-$i"))
            .toDF("id", "p"), root, Seq("id"))
      }
      val dirsBefore = SnapshotStore.manifestDirs(root, 4)
      val v = SnapshotStore.compactSmall(spark, root, smallBytes = 64 * 1024)
      assert(v == 5 && SnapshotStore.manifestOp(root, 5).contains("compact"))
      val dirsAfter = SnapshotStore.manifestDirs(root, 5)
      // the big dir rode by reference; the three drips became one dir
      assert(dirsAfter.count(dirsBefore.contains) == 1)
      assert(dirsAfter.size == 2)
      // content identical, time travel intact
      assert(SnapshotStore.read(spark, root).count() == 20030)
      assert(SnapshotStore.read(spark, root, 4).count() == 20030)
      // the packed dir re-derived id stats: a drip-range read still prunes
      val (sel, total) = SnapshotStore.planFiles(spark, root, -1, "id",
        100000L, 100005L)
      assert(sel.size < total, s"no pruning after packing: $sel of $total")
      assert(SnapshotStore.readWhere(spark, root, "id", 100000L, 100005L)
        .count() == 6)
      // one surviving small dir: nothing to pack, a true no-op
      assert(SnapshotStore.compactSmall(spark, root, smallBytes = 64 * 1024) == 5)
    } finally SnapshotStore.deleteTree(root)
  }

  test("bloom point-lookup prunes hash-scattered files min/max never could") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapbloom").toString
    try {
      // hash-partitioned appends: every file spans the whole id domain,
      // so range stats are useless — the bloom is the only pruner
      SnapshotStore.appendWithBloom(
        (1L to 4000L).map(i => (i, s"p$i")).toDF("id", "p")
          .repartition(4, col("id")), root, "id")
      SnapshotStore.appendWithBloom(
        (4001L to 8000L).map(i => (i, s"p$i")).toDF("id", "p")
          .repartition(4, col("id")), root, "id")
      val (sel, total) = SnapshotStore.planFilesEq(spark, root, -1, "id", 42L)
      assert(total == 8 && sel.size < total, s"no bloom pruning: $sel of $total")
      assert(SnapshotStore.readEq(spark, root, "id", 42L).count() == 1)
      // absent key: zero rows regardless of what the bloom admits
      assert(SnapshotStore.readEq(spark, root, "id", 999999L).count() == 0)
      // an Int-typed probe against the bigint column still finds the row
      // (the type-cast guard — a raw Int hash would be a false negative)
      assert(SnapshotStore.readEq(spark, root, "id", 42).count() == 1)
      // a column with no bloom rows: conservative keep-everything
      val (selP, totP) = SnapshotStore.planFilesEq(spark, root, -1, "p", "x")
      assert(selP.size == totP)
    } finally SnapshotStore.deleteTree(root)
  }

  test("table constraints: SQL CHECK semantics enforced on every new batch, never a version") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapchk").toString
    try {
      SnapshotStore.append(Seq((1L, 5.0), (2L, 7.5)).toDF("id", "score"), root)
      SnapshotStore.addConstraint(spark, root, "score_range",
        "score >= 0 AND score <= 10")
      SnapshotStore.addConstraint(spark, root, "id_not_null", "id IS NOT NULL")
      // adding a constraint the STANDING data violates is rejected
      val e0 = intercept[IllegalArgumentException] {
        SnapshotStore.addConstraint(spark, root, "impossible", "score > 6")
      }
      assert(e0.getMessage.contains("existing rows"))
      assert(SnapshotStore.constraints(root).keySet ==
        Set("score_range", "id_not_null"))
      // a violating append fails loudly and publishes NOTHING
      val e1 = intercept[IllegalArgumentException] {
        SnapshotStore.append(Seq((3L, 11.0)).toDF("id", "score"), root)
      }
      assert(e1.getMessage.contains("score_range"))
      assert(SnapshotStore.currentVersion(root) == 1)
      // NULL passes a CHECK (SQL semantics) but fails IS NOT NULL
      val e2 = intercept[IllegalArgumentException] {
        SnapshotStore.append(
          Seq((null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(1.0)))
            .toDF("id", "score"), root)
      }
      assert(e2.getMessage.contains("id_not_null"))
      SnapshotStore.append(
        Seq((java.lang.Long.valueOf(4L), null.asInstanceOf[java.lang.Double]))
          .toDF("id", "score"), root) // null score: CHECK passes
      assert(SnapshotStore.currentVersion(root) == 2)
      // upsert and epoch-append batches face the same gate
      val e3 = intercept[IllegalArgumentException] {
        SnapshotStore.upsert(spark, Seq((1L, -3.0)).toDF("id", "score"),
          root, Seq("id"))
      }
      assert(e3.getMessage.contains("score_range"))
      val e4 = intercept[IllegalArgumentException] {
        SnapshotStore.appendEpoch(Seq((9L, 99.0)).toDF("id", "score"), root, 5L)
      }
      assert(e4.getMessage.contains("score_range"))
      assert(SnapshotStore.lastEpoch(root).isEmpty) // the epoch never stamped
      // dropping the constraint re-opens the gate
      SnapshotStore.dropConstraint(root, "score_range")
      SnapshotStore.upsert(spark, Seq((1L, -3.0)).toDF("id", "score"),
        root, Seq("id"))
      assert(SnapshotStore.read(spark, root).where(col("score") === -3.0).count() == 1)
    } finally SnapshotStore.deleteTree(root)
  }

  test("timestamp time travel + history: AS OF picks by stamp, version chain orders") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapasof").toString
    try {
      SnapshotStore.append(Seq((1L, "a")).toDF("id", "p"), root)
      Thread.sleep(10) // force distinct millisecond stamps between commits
      SnapshotStore.appendEpoch(Seq((2L, "b")).toDF("id", "p"), root, 42L)
      Thread.sleep(10)
      SnapshotStore.deleteWhere(spark, root, col("id") === 1L)
      val ts = (1 to 3).map(v => SnapshotStore.manifestTs(root, v).get)
      assert(ts == ts.sorted)
      // AS OF each stamp reads that version's content exactly
      assert(SnapshotStore.versionAsOf(root, ts(1)) == 2)
      assert(SnapshotStore.readAsOf(spark, root, ts(1))
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      assert(SnapshotStore.readAsOf(spark, root, System.currentTimeMillis())
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      // asking for a state before the table existed fails loudly
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.versionAsOf(root, ts(0) - 1)
      }
      assert(e.getMessage.contains("predates"))
      // history: one row per version, op kinds + epoch + current flag
      val h = SnapshotStore.history(spark, root)
        .orderBy("version").collect()
      assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
      assert(h.map(_.getString(1)).toSeq == Seq("append", "append", "delete"))
      assert(h(1).getLong(3) == 42L && h(0).isNullAt(3))
      assert(h.map(_.getBoolean(5)).toSeq == Seq(false, false, true))
      // time-based retention: a horizon predating the table is a no-op,
      // a real horizon vacuums below its AS-OF version
      SnapshotStore.vacuumOlderThan(root, ts(0) - 1)
      assert(SnapshotStore.history(spark, root).count() == 3)
      SnapshotStore.vacuumOlderThan(root, ts(1))
      assert(SnapshotStore.hasManifest(root, 2)
        && !SnapshotStore.hasManifest(root, 1))
      // readAsOf at the horizon still serves
      assert(SnapshotStore.readAsOf(spark, root, ts(1)).count() == 2)
      // a vacuumed version disappears from history; AS OF below the
      // horizon fails the same loud way
      SnapshotStore.vacuum(root, keepFrom = 3)
      assert(SnapshotStore.history(spark, root).count() == 1)
      val e2 = intercept[IllegalArgumentException] {
        SnapshotStore.versionAsOf(root, ts(1))
      }
      assert(e2.getMessage.contains("predates"))
    } finally SnapshotStore.deleteTree(root)
  }

  test("vacuumOlderThan: stamp-less legacy manifests never qualify as old") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapvaclegacy").toString
    try {
      SnapshotStore.append(Seq((1L, "a")).toDF("id", "p"), root)
      Thread.sleep(5)
      SnapshotStore.append(Seq((2L, "b")).toDF("id", "p"), root)
      // strip the ts stamps, simulating a store upgraded from the
      // pre-stamp manifest format
      (1 to 2).foreach { v =>
        val p = java.nio.file.Paths.get(root, "_manifests", s"v$v.json")
        val text = new String(Files.readAllBytes(p), "UTF-8")
        Files.write(p, text.replaceAll(""""ts"\s*:\s*\d+\s*,?""", "")
          .getBytes("UTF-8"))
      }
      assert(SnapshotStore.manifestTs(root, 1).isEmpty)
      // a keep-30-days call must NOT treat unknown age as arbitrarily
      // old: both legacy versions survive
      SnapshotStore.vacuumOlderThan(root, System.currentTimeMillis())
      assert(SnapshotStore.hasManifest(root, 1) && SnapshotStore.hasManifest(root, 2))
      // a later stamped commit re-enables time-based retention, and the
      // legacy versions below it (older by the version chain) go with it
      Thread.sleep(5)
      SnapshotStore.append(Seq((3L, "c")).toDF("id", "p"), root)
      SnapshotStore.vacuumOlderThan(root, System.currentTimeMillis())
      assert(!SnapshotStore.hasManifest(root, 1) && !SnapshotStore.hasManifest(root, 2)
        && SnapshotStore.hasManifest(root, 3))
      assert(SnapshotStore.read(spark, root).count() == 3)
    } finally SnapshotStore.deleteTree(root)
  }

  test("epoch-idempotent upsert: bootstrap, replay no-op, exactly-once content") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapupsep").toString
    try {
      def b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      // first batch bootstraps the table (CDC streams start with inserts)
      assert(SnapshotStore.upsertEpoch(spark, b0, root, Seq("id"), 0L) == 1)
      // a replayed epoch is a true no-op: no version, no rewrite
      assert(SnapshotStore.upsertEpoch(spark, b0, root, Seq("id"), 0L) == 1)
      assert(SnapshotStore.currentVersion(root) == 1)
      def b1 = Seq((2L, "B"), (3L, "c")).toDF("id", "p")
      assert(SnapshotStore.upsertEpoch(spark, b1, root, Seq("id"), 1L) == 2)
      assert(SnapshotStore.upsertEpoch(spark, b1, root, Seq("id"), 1L) == 2)
      val got = SnapshotStore.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
      // the stamp lineage is the resume position, like appendEpoch's
      assert(SnapshotStore.lastEpoch(root).contains(1L))
      assert(SnapshotStore.manifestOp(root, 2).contains("upsert"))
    } finally SnapshotStore.deleteTree(root)
  }

  test("cdc upsert replay: last-writer-wins through a checkpointed stream, view follows") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("cdcrep").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      // batch 0 inserts four keys; batch 1 patches key 2 (same metric/e,
      // new value — the day-0 m maximum moves) and inserts key 5
      val batches = Seq(
        (1L, "m", 10L, 1.0, 0), (2L, "m", 20L, 9.0, 0),
        (3L, "m", 86410L, 2.0, 0), (4L, "n", 30L, -1.0, 0),
        (2L, "m", 20L, 3.0, 1), (5L, "n", 40L, -2.0, 1))
        .toDF("event_id", "metric", "e", "value", "__batch")
      graft.streaming.StreamReplay.cdcUpsertReplay(
        batches, Seq("event_id"), src, view)
      val content = SnapshotStore.read(spark, src)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
      assert(content == Map(1L -> 1.0, 2L -> 3.0, 3L -> 2.0,
        4L -> -1.0, 5L -> -2.0))
      // the maintained view equals a from-scratch rollup of that content
      val got = RollupView.read(spark, view).collect().map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2),
         x.getDecimal(3).doubleValue, x.getLong(4), x.getDouble(5),
         x.getDouble(6))).toSet
      assert(got == Set(
        ("m", 0L, 2L, 4.0, 2L, 1.0, 3.0), // key-2 max re-derived 9.0 -> 3.0
        ("m", 1L, 1L, 2.0, 1L, 2.0, 2.0),
        ("n", 0L, 2L, -3.0, 2L, -2.0, -1.0)))
    } finally SnapshotStore.deleteTree(root)
  }

  test("retraction refresh: null-key deletes rebuild, negative-e day-0 rows survive") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmedge").toString
    try {
      // --- null-e delete: every equi-join in the incremental path is
      // null-unsafe, so the refresh must take the REBUILD branch
      val src1 = s"$root/src1"; val view1 = s"$root/view1"
      SnapshotStore.append(Seq(
        ("m", null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(5.0)),
        ("m", java.lang.Long.valueOf(10L), java.lang.Double.valueOf(1.0)))
        .toDF("metric", "e", "value"), src1)
      RollupView.refresh(spark, src1, view1)
      assert(RollupView.read(spark, view1).count() == 2) // (m,null) + (m,0)
      SnapshotStore.deleteWhere(spark, src1, col("e").isNull)
      RollupView.refresh(spark, src1, view1)
      val rows1 = RollupView.read(spark, view1).collect()
      assert(rows1.length == 1 && rows1(0).getAs[Long]("cnt") == 1L
        && rows1(0).getAs[Double]("vmin") == 1.0,
        "null-key group survived the delete")
      // the null-key path took the rebuild branch (a view compaction)
      assert(SnapshotStore.manifestOp(view1,
        SnapshotStore.currentVersion(view1)).contains("compact"))
      // --- negative e: Spark div truncates toward zero, so day 0 spans
      // [-86399, 86399]; the pre-filter must keep the negative survivor
      val src2 = s"$root/src2"; val view2 = s"$root/view2"
      SnapshotStore.append(Seq(("m", -1L, 5.0), ("m", 10L, 1.0))
        .toDF("metric", "e", "value"), src2)
      RollupView.refresh(spark, src2, view2)
      SnapshotStore.deleteWhere(spark, src2, col("e") === 10L)
      RollupView.refresh(spark, src2, view2)
      val rows2 = RollupView.read(spark, view2).collect()
      assert(rows2.length == 1 && rows2(0).getAs[Long]("day") == 0L
        && rows2(0).getAs[Long]("cnt") == 1L
        && rows2(0).getAs[Double]("vmin") == 5.0,
        s"negative-e day-0 survivor lost: ${rows2.mkString(",")}")
    } finally SnapshotStore.deleteTree(root)
  }

  test("rollup refresh: delete-everything retraction leaves a consistent empty view") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmdelall").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 86410L, 2.0))
        .toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      SnapshotStore.deleteWhere(spark, src, lit(true))
      RollupView.refresh(spark, src, view)
      assert(RollupView.read(spark, view).count() == 0)
      // the stamp advanced: refresh is a no-op at position, and a later
      // append resumes incrementally from the empty state
      val vStable = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.currentVersion(view) == vStable)
      SnapshotStore.append(Seq(("m", 20L, 7.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      val rows = RollupView.read(spark, view).collect()
      assert(rows.length == 1 && rows(0).getAs[Long]("cnt") == 1L
        && rows(0).getAs[Double]("vmin") == 7.0)
    } finally SnapshotStore.deleteTree(root)
  }

  test("vacuum + epoch ingest compose; non-canonical roots don't eat live data") {
    import graft.sources.SnapshotStore
    val s = spark
    import s.implicits._
    // trailing slash: manifest strings carry "//" while the directory
    // listing is normalized — vacuum must compare canonical forms
    val root = Files.createTempDirectory("vacnorm").toString + "/"
    try {
      SnapshotStore.appendEpoch(Seq((1L, "a")).toDF("id", "p"), root, 10L)
      SnapshotStore.appendEpoch(Seq((2L, "b")).toDF("id", "p"), root, 11L)
      SnapshotStore.appendEpoch(Seq((3L, "c")).toDF("id", "p"), root, 12L)
      SnapshotStore.vacuum(root, keepFrom = 2)
      // live data survived the non-canonical root
      assert(SnapshotStore.read(spark, root).count() == 3)
      // epoch scans skip the vacuumed manifest instead of crashing,
      // and idempotence still holds for a retained epoch
      assert(SnapshotStore.lastEpoch(root).contains(12L))
      val cur = SnapshotStore.currentVersion(root)
      assert(SnapshotStore.appendEpoch(
        Seq((9L, "dup")).toDF("id", "p"), root, 12L) == cur) // replay no-op
      SnapshotStore.appendEpoch(Seq((4L, "d")).toDF("id", "p"), root, 13L)
      assert(SnapshotStore.read(spark, root).count() == 4)
      // compact-then-vacuum must NOT strip the stamp lineage: the
      // compaction carries the newest epoch forward, so a replayed epoch
      // after the aggressive vacuum is still a no-op (not a duplicate)
      val cv = SnapshotStore.compact(spark, root)
      SnapshotStore.vacuum(root, keepFrom = cv)
      assert(SnapshotStore.lastEpoch(root).contains(13L))
      val atV = SnapshotStore.currentVersion(root)
      assert(SnapshotStore.appendEpoch(
        Seq((9L, "dup")).toDF("id", "p"), root, 13L) == atV)
      assert(SnapshotStore.read(spark, root).count() == 4)
    } finally SnapshotStore.deleteTree(root.stripSuffix("/"))
  }

  test("rollup refresh survives a vacuumed incremental baseline (rebuild path)") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmvac").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: (String, Long, Double)*) = rows.toSeq.toDF("metric", "e", "value")
      SnapshotStore.append(mk(("m", 10L, 1.0)), src)
      RollupView.refresh(spark, src, view) // baseline = src v1
      SnapshotStore.append(mk(("m", 20L, 2.0)), src)
      SnapshotStore.append(mk(("m", 30L, 3.0)), src)
      // the view's ref pins v1 — forcing past it exercises the fallback
      SnapshotStore.vacuum(src, keepFrom = 2, ignoreViewBaselines = true)
      // refresh detects the missing baseline and rebuilds instead of crashing
      RollupView.refresh(spark, src, view)
      val row = RollupView.read(spark, view).collect()
      assert(row.length == 1 && row(0).getLong(2) == 3L) // all 3 samples, once
      // and a plain incremental read against the vacuumed baseline fails LOUDLY
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.incremental(spark, src, fromExclusive = 1)
      }
      assert(e.getMessage.contains("vacuumed"))
    } finally SnapshotStore.deleteTree(root)
  }

  test("vacuum retains a registered view's refresh baseline; override and refresh release it") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmguard").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: (String, Long, Double)*) = rows.toSeq.toDF("metric", "e", "value")
      SnapshotStore.append(mk(("m", 10L, 1.0)), src)
      RollupView.refresh(spark, src, view) // ref pins src v1
      SnapshotStore.append(mk(("m", 20L, 2.0)), src)
      SnapshotStore.append(mk(("m", 30L, 3.0)), src)
      // vacuum past the pinned baseline RETAINS it (loud clamp): the
      // next refresh must still take the O(Δ) append path, not a rebuild
      SnapshotStore.vacuum(src, keepFrom = 3)
      assert(SnapshotStore.hasManifest(src, 1),
        "vacuum destroyed a registered view's refresh baseline")
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("append"),
        "guarded vacuum still demoted the refresh to a rebuild")
      // AFTER the refresh the pin moved to v3: the same vacuum proceeds
      SnapshotStore.vacuum(src, keepFrom = 3)
      assert(!SnapshotStore.hasManifest(src, 1) &&
        !SnapshotStore.hasManifest(src, 2),
        "vacuum did not reclaim below the advanced baseline")
      assert(RollupView.read(spark, view).collect()(0).getLong(2) == 3L)
      // a DELETED view releases its pin (the ref prunes on read)
      SnapshotStore.append(mk(("m", 40L, 4.0)), src)
      SnapshotStore.deleteTree(view)
      SnapshotStore.vacuum(src, keepFrom = SnapshotStore.currentVersion(src))
      assert(!SnapshotStore.hasManifest(src, 3),
        "a deleted view's stale ref still pins the source's vacuum")
    } finally SnapshotStore.deleteTree(root)
  }

  test("registry consistency: every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  // ---- NdvView: HLL-sketch maintained distinct-count rollup ----

  test("ndv view: incremental sketch merge == single-pass rebuild, idempotence, compaction") {
    import graft.sources.{NdvView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ndvivm").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: Seq[(String, Long, String)]) =
        rows.toDF("metric", "e", "user_id")
      // single-pass truth: one sketch over the FINAL rows per group
      def fullNdv() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))")
          .as("approx_users"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      def viewRows() = NdvView.read(spark, view).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      def exact() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      // overlapping users across versions and within groups
      SnapshotStore.append(mk(Seq(("m", 10L, "u1"), ("m", 20L, "u2"),
        ("m", 86410L, "u1"), ("n", 30L, "u3"))), src)
      NdvView.refresh(spark, src, view)
      assert(viewRows() == fullNdv())
      // same source position → no new view version
      val v0 = SnapshotStore.currentVersion(view)
      NdvView.refresh(spark, src, view)
      assert(SnapshotStore.currentVersion(view) == v0)
      // delta touches existing keys with BOTH repeat and new users: the
      // union of the old and new partial sketches must equal one sketch
      // over all rows (register-max is associative/commutative)
      SnapshotStore.append(mk(Seq(("m", 40L, "u1"), ("m", 50L, "u4"),
        ("n", 86500L, "u3"))), src)
      NdvView.refresh(spark, src, view)
      assert(viewRows() == fullNdv())
      // at this tiny cardinality HLL is exact — pins the semantics, not
      // just internal consistency
      assert(viewRows() == exact())
      // view compaction folds partial sketches, content + stamp unchanged
      val stamp = SnapshotStore.lastEpoch(view)
      NdvView.compact(spark, view)
      assert(viewRows() == fullNdv())
      assert(SnapshotStore.lastEpoch(view) == stamp)
      // source compaction → rebuild branch
      SnapshotStore.compact(spark, src)
      SnapshotStore.append(mk(Seq(("m", 60L, "u5"))), src)
      NdvView.refresh(spark, src, view)
      assert(viewRows() == fullNdv())
      assert(viewRows() == exact())
    } finally SnapshotStore.deleteTree(root)
  }

  test("ndv view retraction: dirty-group re-sketch, tombstone, and revival") {
    import graft.sources.{NdvView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ndvret").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      def mk(rows: Seq[(String, Long, String)]) =
        rows.toDF("metric", "e", "user_id")
      def viewRows() = NdvView.read(spark, view).collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
      SnapshotStore.append(mk(Seq(("m", 10L, "u1"), ("m", 20L, "u2"),
        ("m", 30L, "u2"), ("n", 40L, "u9"))), src)
      NdvView.refresh(spark, src, view)
      assert(viewRows() == Set(("m", 0L, 2L), ("n", 0L, 1L)))
      // a deleted user un-derives nothing from a monotone sketch: the
      // dirty group must RE-SKETCH from source, not union anything
      SnapshotStore.deleteWhere(spark, src, col("user_id") === "u2")
      NdvView.refresh(spark, src, view)
      assert(viewRows() == Set(("m", 0L, 1L), ("n", 0L, 1L)))
      // delete every row of group n → tombstoned (absent from read)
      SnapshotStore.deleteWhere(spark, src, col("metric") === "n")
      NdvView.refresh(spark, src, view)
      assert(viewRows() == Set(("m", 0L, 1L)))
      // revival: a later insert into the tombstoned key merges its fresh
      // sketch past the null-sketch tombstone (nulls skip the union)
      SnapshotStore.append(mk(Seq(("n", 50L, "u7"), ("n", 55L, "u8"))), src)
      NdvView.refresh(spark, src, view)
      assert(viewRows() == Set(("m", 0L, 1L), ("n", 0L, 2L)))
    } finally SnapshotStore.deleteTree(root)
  }

  test("ndv view: mixed-spec refresh against a classic-rollup store fails loudly") {
    import graft.sources.{NdvView, RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ndvmix").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(
        Seq(("m", 10L, 1.0, "u1")).toDF("metric", "e", "value", "user_id"), src)
      RollupView.refresh(spark, src, view) // classic partials own the store
      SnapshotStore.append(
        Seq(("m", 20L, 2.0, "u2")).toDF("metric", "e", "value", "user_id"), src)
      val ex = intercept[Exception] { NdvView.refresh(spark, src, view) }
      assert(ex.getMessage != null)
    } finally SnapshotStore.deleteTree(root)
  }

  test("retraction publishes atomically: every observable view version is an endpoint state, never a mix") {
    import graft.sources.{RollupView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmatomic").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 20L, 9.0),
        ("n", 30L, 2.0), ("k", 86410L, 5.0))
        .toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      // a version's merged content, read AT that version — what any
      // reader pinning that manifest observes
      def contentAt(v: Int): Set[String] =
        SnapshotStore.read(spark, view, v)
          .groupBy("metric", "day")
          .agg(sum("cnt").as("cnt"), sum("vsum").as("vsum"),
            sum("nn").as("nn"), min("vmin").as("vmin"), max("vmax").as("vmax"))
          .where(col("cnt") > 0)
          .collect().map(_.toString).toSet
      val before = contentAt(SnapshotStore.currentVersion(view))
      // the gap: churn (delete m's maximum — dirty-group recompute) AND
      // inserts into OTHER groups (the insert-only append leg), so the
      // retraction refresh has BOTH legs with real content
      SnapshotStore.deleteWhere(spark, src,
        col("metric") === "m" && col("value") === 9.0)
      SnapshotStore.append(Seq(("n", 40L, 3.0), ("z", 50L, 7.0))
        .toDF("metric", "e", "value"), src)
      val vBefore = SnapshotStore.currentVersion(view)
      RollupView.refresh(spark, src, view)
      val vAfter = SnapshotStore.currentVersion(view)
      // ONE commit — the replace and the append are not separate versions
      assert(vAfter == vBefore + 1,
        s"retraction must publish exactly one version: $vBefore -> $vAfter")
      assert(SnapshotStore.manifestOp(view, vAfter).contains("upsert"))
      val after = contentAt(vAfter)
      // the content moved (both legs are visible at the new version) …
      assert(after != before)
      assert(after.exists(_.contains("z")), "insert-only group missing")
      // … and EVERY observable version is one of the two endpoint
      // states — the pre-atomicity window (recomputed groups visible
      // without the insert-only partials / next to a stale cursor) is
      // structurally impossible, not just unlikely
      (1 to vAfter).foreach { v =>
        val c = contentAt(v)
        assert(c == before || c == after,
          s"version $v observes a MIXED retraction state: $c")
      }
    } finally SnapshotStore.deleteTree(root)
  }

  test("pre-nn legacy rollup store: reads serve, avg declines, refresh migrates via one rebuild") {
    import graft.sources.{RollupView, SnapshotStore}
    import graft.plans.MaterializedRollups
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("ivmlegacy").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 20L, 3.0),
        ("n", 86410L, 5.0)).toDF("metric", "e", "value"), src)
      // hand-publish the LEGACY (pre-nn) partial shape round-16 stores
      // persisted — count/sum/min/max only, stamped fresh at srcV 1
      val legacy = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(30,2)")).cast("decimal(30,2)").as("vsum"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      SnapshotStore.appendEpoch(legacy, view, 1L)
      // the legacy shape still reads (no nn column, no crash)
      assert(!RollupView.read(spark, view).columns.contains("nn"))
      MaterializedRollups.enable(src, view)
      def avgQ() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(avg(col("value").cast("decimal(18,2)")).as("a"))
      def cntQ() = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      // count serves from the legacy view; avg DECLINES — vsum ÷ cnt
      // would mis-average any NULL-holding group, and the legacy store
      // has no nn partial to divide by
      assert(cntQ().queryExecution.executedPlan.toString.contains("/view"))
      assert(avgQ().queryExecution.executedPlan.toString.contains("/src"),
        "avg over a pre-nn view must DECLINE, not divide by cnt")
      // the next content refresh migrates: ONE full rebuild republishes
      // every partial in the nn-carrying shape (manifest op: compact)
      SnapshotStore.append(Seq(("m", 30L, 2.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("compact"),
        "legacy-format migration must publish as one full rebuild")
      assert(RollupView.read(spark, view).columns.contains("nn"))
      val served = avgQ()
      assert(served.queryExecution.executedPlan.toString.contains("/view"),
        "avg must serve once the store carries nn")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
      val got = rows(served)
      MaterializedRollups.clear()
      assert(got == rows(avgQ()) && got.nonEmpty,
        "migrated avg serve must be bit-equal to the declined plan")
      // a plain-append refresh after migration stays on the O(delta) path
      SnapshotStore.append(Seq(("n", 86420L, 1.0)).toDF("metric", "e", "value"), src)
      RollupView.refresh(spark, src, view)
      assert(SnapshotStore.manifestOp(view,
        SnapshotStore.currentVersion(view)).contains("append"))
    } finally {
      MaterializedRollups.clear()
      SnapshotStore.deleteTree(root)
    }
  }

  test("quantile edges keying: marker-less high-keyed sidecar refuses loudly; retighten migrates; in-range store stamps") {
    import graft.sources.{QuantileView, SnapshotStore}
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("qkey").toString
    val src = s"$root/src"; val view = s"$root/view"
    try {
      SnapshotStore.append(Seq(("m", 10L, 1.0), ("m", 20L, 5.0),
        ("m", 86410L, 9.0)).toDF("metric", "e", "value"), src)
      QuantileView.refresh(spark, src, view) // _edges/v1 + keying marker
      val edges = java.nio.file.Paths.get(view, "_edges")
      assert(java.nio.file.Files.exists(edges.resolve("_keymode")))
      // simulate a legacy SOURCE-version-keyed store: no marker, sidecar
      // keyed above the view's version (the advice scenario — r15 stores
      // keyed edges at srcV, which can exceed viewV)
      java.nio.file.Files.delete(edges.resolve("_keymode"))
      java.nio.file.Files.move(edges.resolve("v1"), edges.resolve("v3"))
      SnapshotStore.append(Seq(("m", 30L, 2.0)).toDF("metric", "e", "value"), src)
      // refresh must REFUSE (deleting v3 as an orphan would destroy the
      // store's only freeze; resolving around it serves nothing) …
      val ex = intercept[RuntimeException] { QuantileView.refresh(spark, src, view) }
      assert(ex.getMessage.contains("keyed above"), ex.getMessage)
      // … and so must the read path
      intercept[RuntimeException] { QuantileView.quantiles(spark, view, Seq(0.5)) }
      // retighten IS the migration: full refreeze under view-version
      // keying (marker stamped, new sidecar at the published version)
      QuantileView.retighten(spark, src, view)
      assert(QuantileView.quantiles(spark, view, Seq(0.5)).collect().nonEmpty)
      // the legacy dir is obsolete after the refreeze — the next
      // maintenance touch prunes it as a true orphan
      QuantileView.compact(spark, view)
      assert(!java.nio.file.Files.exists(edges.resolve("v3")))
      assert(QuantileView.quantiles(spark, view, Seq(0.5)).collect().nonEmpty)
      // marker-less store whose keys are all ≤ the view version resolves
      // identically under either keying — silently stamped, keeps serving
      java.nio.file.Files.delete(edges.resolve("_keymode"))
      assert(QuantileView.quantiles(spark, view, Seq(0.5)).collect().nonEmpty)
      assert(java.nio.file.Files.exists(edges.resolve("_keymode")),
        "a provably-safe marker-less store must be stamped in place")
    } finally SnapshotStore.deleteTree(root)
  }
}
