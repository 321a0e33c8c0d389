package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.MaterializedMultiJoins
import graft.sources.{MultiAggJoinView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** N-way (snowflake) aggregate-over-join view contract: after ANY commit
  * sequence on ANY subset of the tree's tables, the merged partials
  * equal the from-scratch GROUP BY over the full N-way join; churn
  * maintains by the telescoped arithmetic (an APPEND, never a rewrite);
  * and the serving rewrite fires exactly on the registered tree. */
class MultiAggJoinViewSpec extends SparkSpec {

  // fixture: fact(f_ok, f_pk, f_sk, qty) × part(p_pk, p_brand)
  //          × supplier(s_sk, s_nk) × nation(n_nk, n_name)  [snowflake]
  private val edges = Seq(
    Edge(0, Seq("f_pk"), Seq("p_pk")),
    Edge(0, Seq("f_sk"), Seq("s_sk")),
    Edge(2, Seq("s_nk"), Seq("n_nk")))
  private val groups = Seq("p_brand", "n_name")
  private val measures = Seq("qty")

  private def factDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 7, i % 5, i * 1.0)).toDF("f_ok", "f_pk", "f_sk", "qty")
  }
  private def partDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"brand${i % 3}")).toDF("p_pk", "p_brand")
  }
  private def suppDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 3)).toDF("s_sk", "s_nk")
  }
  private def nationDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"nation$i")).toDF("n_nk", "n_name")
  }

  private def withRoots(f: (IndexedSeq[String], String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("majv_spec").toString
    val roots = IndexedSeq(s"$root/F", s"$root/P", s"$root/S", s"$root/N")
    try f(roots, s"$root/view")
    finally {
      MaterializedMultiJoins.disable(s"$root/view")
      SnapshotStore.deleteTree(root)
    }
  }

  private def refresh(roots: Seq[String], v: String): Int =
    MultiAggJoinView.refresh(spark, roots, v, edges, groups, measures)

  private def viewRows(v: String): Set[(String, String, Long, String)] =
    MultiAggJoinView.read(spark, v).collect()
      .map(x => (x.getAs[String]("p_brand"), x.getAs[String]("n_name"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_qty"))
          .map(_.stripTrailingZeros.toPlainString).orNull))
      .toSet

  private def truth(roots: Seq[String]): Set[(String, String, Long, String)] = {
    val Seq(f, p, s, n) = roots.map(SnapshotStore.read(spark, _))
    f.join(p, f("f_pk") === p("p_pk"))
      .join(s, f("f_sk") === s("s_sk"))
      .join(n, s("s_nk") === n("n_nk"))
      .groupBy("p_brand", "n_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty").cast("decimal(30,2)")).cast("decimal(30,2)").as("sum_qty"))
      .collect()
      .map(x => (x.getAs[String]("p_brand"), x.getAs[String]("n_name"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_qty"))
          .map(_.stripTrailingZeros.toPlainString).orNull))
      .toSet
  }

  /** The view's or a frame's (p_brand, n_name, cnt, sum_qty) rows. */
  private def aggRows(df: DataFrame): Set[(String, String, Long, String)] =
    df.collect()
      .map(x => (x.getAs[String]("p_brand"), x.getAs[String]("n_name"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_qty"))
          .map(_.stripTrailingZeros.toPlainString).orNull))
      .toSet

  /** Refresh `v` as the (p_brand, n_name) view of [[JoinTreeFixture]]. */
  private def refreshTree(roots: Seq[String], v: String): Int =
    MultiAggJoinView.refresh(spark, roots, v, JoinTreeFixture.edges, groups, measures)

  private def treeTruth(roots: IndexedSeq[String]): Set[(String, String, Long, String)] =
    aggRows(JoinTreeFixture.joined(spark, roots).groupBy("p_brand", "n_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty").cast("decimal(30,2)")).cast("decimal(30,2)").as("sum_qty")))

  test("cascade: broadcastable hops read whole, threshold -1 probes each; both == re-aggregation") {
    JoinTreeFixture.bothPaths(spark, "majv_paths")((roots, v) => refreshTree(roots, v)) {
      (roots, v) => assert(aggRows(MultiAggJoinView.read(spark, v)) == treeTruth(roots))
    }
  }

  test("cascade subtree rule: a nation churn probes supplier and the big fact; leaf dims read whole") {
    import JoinTreeFixture._
    withStores("majv_subtree") { (roots, dir) =>
      val v = s"$dir/view"
      load(spark, roots, factIds = 1L to 3000L)
      refreshTree(roots, v)
      val bytes = roots.map(r => SnapshotStore.versionBytes(r, SnapshotStore.currentVersion(r)))
      // the threshold: every dim (supplier included) fits, the fact does not
      val threshold = bytes.drop(1).max
      assert(bytes(2) <= threshold && threshold < bytes(0), s"store bytes $bytes")
      val s = spark
      import s.implicits._
      SnapshotStore.upsert(spark, Seq((1L, "renamed")).toDF("n_nk", "n_name"),
        roots(3), Seq("n_nk"))
      val p = withThreshold(spark, threshold.toString)(
        probes(spark)(refreshTree(roots, v)))
      assert(p.hops == Set((3, 2), (2, 0)), s"probed hops ${p.hops}")
      assert(aggRows(MultiAggJoinView.read(spark, v)) == treeTruth(roots))
    }
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  private def bootstrap(roots: IndexedSeq[String], v: String): Unit = {
    SnapshotStore.append(factDF(1L to 40L: _*), roots(0))
    SnapshotStore.append(partDF(0L to 6L: _*), roots(1))
    SnapshotStore.append(suppDF(0L to 4L: _*), roots(2))
    SnapshotStore.append(nationDF(0L, 1L), roots(3)) // nation 2 missing: s_nk 2 unmatched
    refresh(roots, v)
  }

  test("bootstrap + per-table deltas (fact, dim, snowflake leaf, several at once) == re-aggregation") {
    withRoots { (roots, v) =>
      bootstrap(roots, v)
      assert(viewRows(v) == truth(roots) && viewRows(v).nonEmpty)

      // fact delta
      SnapshotStore.append(factDF(41L to 55L: _*), roots(0))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // snowflake-leaf delta: nation 2 arrives — previously-unmatched
      // fact×supplier rows join in through the new leaf rows
      SnapshotStore.append(nationDF(2L), roots(3))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // mid-tree dim delta (supplier 5..6) + fact delta before ONE
      // refresh: the telescoping counts the cross term exactly once
      SnapshotStore.append(suppDF(5L, 6L), roots(2))
      SnapshotStore.append(factDF(56L to 70L: _*), roots(0))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // no-change refresh is a no-op
      val before = SnapshotStore.currentVersion(v)
      refresh(roots, v)
      assert(SnapshotStore.currentVersion(v) == before)
    }
  }

  test("churn telescoping: fact delete, dim upsert that MOVES groups, emptied group — all appends") {
    withRoots { (roots, v) =>
      bootstrap(roots, v)

      // fact churn: delete a slice
      SnapshotStore.deleteWhere(spark, roots(0), col("f_ok") % 4 === 0)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append",
        "fact churn must publish as a signed-partial APPEND")

      // GROUP-MOVING dim churn: renaming nation 1 migrates every joined
      // row from (brand, nation1) to (brand, renamed) — old rows fold
      // negative under the old name, new ones positive under the new
      val s = spark
      import s.implicits._
      SnapshotStore.upsert(spark, Seq((1L, "renamed"))
        .toDF("n_nk", "n_name"), roots(3), Seq("n_nk"))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")
      assert(viewRows(v).exists(_._2 == "renamed") &&
        !viewRows(v).exists(_._2 == "nation1"))

      // churn on TWO tables before one refresh (fact + supplier)
      SnapshotStore.deleteWhere(spark, roots(0), col("f_ok") % 5 === 1)
      SnapshotStore.upsert(spark, Seq((0L, 1L)).toDF("s_sk", "s_nk"),
        roots(2), Seq("s_sk"))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // empty a whole group: delete every fact row of brand0 parts
      SnapshotStore.deleteWhere(spark, roots(0), col("f_pk") % 3 === 0)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots))
      assert(!viewRows(v).exists(_._1 == "brand0"))

      // compact folds retraction residue; content unchanged
      val content = viewRows(v)
      MultiAggJoinView.compact(spark, v)
      assert(viewRows(v) == content)

      // a source compaction breaks the diff: the refresh REBUILDS
      SnapshotStore.append(factDF(100L to 105L: _*), roots(0))
      SnapshotStore.compact(spark, roots(0))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "compact")
    }
  }

  test("NULL keys never join; NULL measures keep sums NULL-exact through churn") {
    withRoots { (roots, v) =>
      val s = spark
      import s.implicits._
      SnapshotStore.append(factDF(1L to 20L: _*), roots(0))
      SnapshotStore.append(partDF(0L to 6L: _*), roots(1))
      SnapshotStore.append(suppDF(0L to 4L: _*), roots(2))
      SnapshotStore.append(nationDF(0L, 1L, 2L), roots(3))
      refresh(roots, v)

      // NULL fact keys + NULL measures: (f_pk NULL) joins nothing;
      // (qty NULL) counts into cnt but not nn
      SnapshotStore.append(
        Seq((200L, null: java.lang.Long, 1L: java.lang.Long, 5.0: java.lang.Double),
          (201L, 1L: java.lang.Long, 1L: java.lang.Long, null: java.lang.Double),
          (202L, 1L: java.lang.Long, 1L: java.lang.Long, null: java.lang.Double))
          .toDF("f_ok", "f_pk", "f_sk", "qty"), roots(0))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // delete every NON-NULL qty of the (brand1, nation1) group — parts
      // {1,4} × suppliers {1,4} — so its sum must serve NULL (the nn
      // bookkeeping), not a 0.00 retraction residue; the two null-qty
      // rows keep cnt = 2
      SnapshotStore.deleteWhere(spark, roots(0),
        col("f_pk").isin(1, 4) && col("f_sk").isin(1, 4) &&
          col("qty").isNotNull)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots))
      val nullGroup = viewRows(v).find(r =>
        r._1 == "brand1" && r._2 == "nation1")
      assert(nullGroup.exists(r => r._3 == 2L && r._4 == null),
        s"expected (brand1, nation1) all-NULL group serving sum NULL: ${viewRows(v)}")
    }
  }

  test("spec is recorded: a drifted refresh refuses; idempotent replay is a no-op") {
    withRoots { (roots, v) =>
      bootstrap(roots, v)
      // a fresh-cursor refresh is a no-op before any spec check — move a
      // source so the drifted spec actually reaches the guard
      SnapshotStore.append(factDF(500L), roots(0))
      val ex = intercept[IllegalArgumentException] {
        MultiAggJoinView.refresh(spark, roots, v, edges,
          Seq("p_brand"), measures) // dropped a group column
      }
      assert(ex.getMessage.contains("maintained with spec"))
      // cursor pack round-trips for several widths
      Seq(2, 3, 5, 8).foreach { k =>
        val vs = (1 to k).map(i => i * 3)
        assert(MultiAggJoinView.unpackAll(MultiAggJoinView.packAll(vs), k) == vs)
      }
    }
  }

  test("variable-width cursor: a source outliving the packed base migrates to the wide sidecar in place; refresh + serve stay green") {
    // the r18 ask-2 cliff: packAll allots 2^(62/n) versions per source
    // (64 for a 9-table tree) and then the view was permanently stale.
    // This drives a REAL 9-table view past the base: the over-base
    // refresh must switch the stamp to the WideBit sidecar form without
    // a rebuild (the in-place migration path), keep every maintenance
    // path and the serving rewrite green, and keep per-trigger cadence
    // (append → refresh each time) working in wide mode.
    val base = java.nio.file.Files.createTempDirectory("majv_wide").toString
    val fr = s"$base/F"
    val dimRoots = (1 to 8).map(j => s"$base/D$j")
    val roots = fr +: dimRoots
    val v = s"$base/view"
    val wEdges = (1 to 8).map(j =>
      Edge(0, Seq("k"), Seq(s"d${j}_k"))).toSeq
    val wGroups = Seq("g"); val wMeasures = Seq("m")
    assert(MultiAggJoinView.packBase(9) == 64L)
    try {
      val s = spark
      import s.implicits._
      def fact(ids: Long*): DataFrame =
        ids.map(i => (i % 4, s"g${i % 3}", i * 1.0)).toDF("k", "g", "m")
      SnapshotStore.append(fact(0L to 99L: _*), fr)
      (1 to 8).foreach(j => SnapshotStore.append(
        (0L to 3L).map(k => (k, s"a$k")).toDF(s"d${j}_k", s"attr$j"),
        dimRoots(j - 1)))
      def wRefresh(): Int = MultiAggJoinView.refresh(spark, roots, v,
        wEdges, wGroups, wMeasures)
      def truth9(): Set[(String, Long, Double)] = {
        val fs = SnapshotStore.read(spark, fr)
        (1 to 8).foldLeft(fs) { (acc, j) =>
          val d = SnapshotStore.read(spark, dimRoots(j - 1))
          acc.join(d, acc("k") === d(s"d${j}_k")).drop(s"d${j}_k")
        }.groupBy("g")
          .agg(count(lit(1)).as("cnt"),
            sum(col("m").cast("decimal(30,2)")).as("sm"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).doubleValue)).toSet
      }
      def got(): Set[(String, Long, Double)] =
        MultiAggJoinView.read(spark, v).collect().map(r =>
          (r.getAs[String]("g"), r.getAs[Long]("cnt"),
            r.getAs[java.math.BigDecimal]("sum_m").doubleValue)).toSet
      wRefresh()
      assert((SnapshotStore.lastEpoch(v).get & MultiAggJoinView.WideBit) == 0,
        "in-base versions must keep the packed stamp (zero extra I/O)")
      assert(got() == truth9() && got().nonEmpty)

      // burn D1 past the 9-way base with junk-key appends (join-inert:
      // the telescoped delta term folds zero rows, each refresh-free)
      (1 to 64).foreach { t =>
        SnapshotStore.append(
          Seq((1000L + t, s"junk$t")).toDF("d1_k", "attr1"), dimRoots(0))
      }
      val vv = wRefresh() // the over-base refresh: migrates IN PLACE
      val e1 = SnapshotStore.lastEpoch(v).get
      assert((e1 & MultiAggJoinView.WideBit) != 0,
        "an over-base refresh must switch to the wide sidecar stamp")
      assert(MultiAggJoinView.cursors(v, 9) == (1 +: 65 +: Seq.fill(7)(1)),
        "the wide cursor must decode the full version vector")
      assert(got() == truth9(), "content must survive the migration")
      assert(wRefresh() == vv, "replayed refresh on the wide cursor is a no-op")

      // the serving rewrite stays green in wide mode (fresh = vector match)
      MaterializedMultiJoins.enable(roots, v, wEdges, wGroups, wMeasures)
      def q(): DataFrame = {
        val fs = SnapshotStore.read(spark, fr)
        (1 to 8).foldLeft(fs) { (acc, j) =>
          val d = SnapshotStore.read(spark, dimRoots(j - 1))
          acc.join(d, acc("k") === d(s"d${j}_k"))
        }.groupBy("g")
          .agg(count(lit(1)).as("n"),
            sum(col("m").cast("decimal(18,2)")).as("sm"))
      }
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"),
        "the 9-way tree must serve from the wide-cursor view")

      // per-trigger cadence IN wide mode: every refresh gets the next
      // sequence id; maintenance paths keep answering exactly
      (1 to 3).foreach { t =>
        SnapshotStore.append(fact(100L + t), fr)
        wRefresh()
        assert(SnapshotStore.lastEpoch(v).get ==
          (e1 + t), s"wide stamps must increment per publish (trigger $t)")
        assert(got() == truth9(), s"wide-mode refresh $t must stay exact")
      }
      // churn in wide mode (the dirty-key signed path on the wide stamp)
      SnapshotStore.deleteWhere(spark, fr, col("m") === 5.0)
      wRefresh()
      assert(got() == truth9(), "wide-mode churn must stay exact")
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"))
    } finally {
      MaterializedMultiJoins.disable(v)
      SnapshotStore.deleteTree(base)
    }
  }

  test("rewrite: count/sum/avg serve from the view in ANY join order; the join tree leaves the plan") {
    withRoots { (roots, v) =>
      bootstrap(roots, v)
      MaterializedMultiJoins.enable(roots, v, edges, groups, measures)
      def frames() = roots.map(SnapshotStore.read(spark, _))
      def q(): DataFrame = {
        val Seq(f, p, s, n) = frames()
        f.join(p, f("f_pk") === p("p_pk"))
          .join(s, f("f_sk") === s("s_sk"))
          .join(n, s("s_nk") === n("n_nk"))
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("cnt2"),
            sum(col("qty").cast("decimal(18,2)")).as("sq"),
            avg(col("qty").cast("decimal(18,2)")).as("aq"))
      }
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "the flagship N-way shape did not serve")
      assert(!served.queryExecution.optimizedPlan.toString.contains("Join"),
        "serving must remove the whole join tree from the plan")
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getDecimal(3),
          x.getDecimal(4))).toSet
      val got = rows(served)

      // a DIFFERENT join order (dims first, snowflake leg early) is the
      // same flattened shape and serves identically
      val q2 = {
        val Seq(f, p, s, n) = frames()
        val sn = s.join(n, s("s_nk") === n("n_nk"))
        f.join(sn, f("f_sk") === sn("s_sk"))
          .join(p, f("f_pk") === p("p_pk"))
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("cnt2"),
            sum(col("qty").cast("decimal(18,2)")).as("sq"),
            avg(col("qty").cast("decimal(18,2)")).as("aq"))
      }
      assert(graft.plans.PlanProbe.scansOnly(q2, "/view"),
        "a re-ordered join tree must still serve")
      assert(rows(q2) == got)

      // declined twin is bit-equal (including avg's decimal arithmetic)
      MaterializedMultiJoins.disable(v)
      assert(rows(q()) == got && got.nonEmpty)

      MaterializedMultiJoins.enable(roots, v, edges, groups, measures)
      // a grouping-column filter re-applies to view groups
      val filtered = {
        val Seq(f, p, s, n) = frames()
        f.join(p, f("f_pk") === p("p_pk"))
          .join(s, f("f_sk") === s("s_sk"))
          .join(n, s("s_nk") === n("n_nk"))
          .where(col("p_brand") =!= "brand1")
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("cnt2"))
      }
      assert(graft.plans.PlanProbe.scansOnly(filtered, "/view"))
      assert(filtered.collect().map(_.getString(0)).toSet == Set("brand0", "brand2"))

      // declines: a measure filter, a min aggregate, a 2-table subset
      val Seq(f, p, s, n) = frames()
      val measureFilter = f.join(p, f("f_pk") === p("p_pk"))
        .join(s, f("f_sk") === s("s_sk"))
        .join(n, s("s_nk") === n("n_nk"))
        .where(col("qty") > 3)
        .groupBy("p_brand", "n_name").agg(count(lit(1)).as("c"))
      assert(!graft.plans.PlanProbe.scansAny(measureFilter, "/view"),
        "a measure filter must DECLINE")
      val minAgg = f.join(p, f("f_pk") === p("p_pk"))
        .join(s, f("f_sk") === s("s_sk"))
        .join(n, s("s_nk") === n("n_nk"))
        .groupBy("p_brand", "n_name").agg(min(col("qty")).as("m"))
      assert(!graft.plans.PlanProbe.scansAny(minAgg, "/view"),
        "min has no stored extent in the N-way view and must DECLINE")
      val twoTable = f.join(p, f("f_pk") === p("p_pk"))
        .groupBy("p_brand").agg(count(lit(1)).as("c"))
      assert(!graft.plans.PlanProbe.scansAny(twoTable, "/view"),
        "a subset join must DECLINE")

      // stale without opt-in declines; refresh restores serving
      SnapshotStore.append(factDF(300L to 310L: _*), roots(0))
      assert(!graft.plans.PlanProbe.scansAny(q(), "/view"),
        "a stale view without the opt-in must DECLINE")
      refresh(roots, v)
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"))
    }
  }

  test("extents: O(Δ) appends, dirty-group churn + atomic mixed publish, tombstones, min/max serve") {
    withRoots { (roots, v) =>
      def refreshX(): Int = MultiAggJoinView.refresh(spark, roots, v,
        edges, groups, measures, extents = true)
      def truthX(): Set[String] = {
        val Seq(f, p, s, n) = roots.map(SnapshotStore.read(spark, _))
        f.join(p, f("f_pk") === p("p_pk"))
          .join(s, f("f_sk") === s("s_sk"))
          .join(n, s("s_nk") === n("n_nk"))
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("qty").cast("decimal(30,2)")).cast("decimal(30,2)").as("sum_qty"),
            min(col("qty")).as("min_qty"), max(col("qty")).as("max_qty"))
          .collect().map(_.toString).toSet
      }
      def viewX(): Set[String] = MultiAggJoinView.read(spark, v)
        .select(col("p_brand"), col("n_name"), col("cnt"), col("sum_qty"),
          col("min_qty"), col("max_qty"))
        .collect().map(_.toString).toSet
      SnapshotStore.append(factDF(1L to 40L: _*), roots(0))
      SnapshotStore.append(partDF(0L to 6L: _*), roots(1))
      SnapshotStore.append(suppDF(0L to 4L: _*), roots(2))
      SnapshotStore.append(nationDF(0L, 1L, 2L), roots(3))
      refreshX()
      assert(viewX() == truthX() && viewX().nonEmpty)

      // append-only gap (fact + a new nation) stays the O(Δ) fold
      SnapshotStore.append(factDF(41L to 55L: _*), roots(0))
      refreshX()
      assert(viewX() == truthX() && lastOp(v) == "append")

      // EXTREMUM churn: delete the global maxima — arithmetic cannot
      // un-derive them; dirty groups recompute + replace atomically
      SnapshotStore.deleteWhere(spark, roots(0), col("qty") > 50.0)
      refreshX()
      assert(viewX() == truthX() && lastOp(v) == "upsert",
        "extents churn must publish as the atomic keyed replace")

      // MIXED gap: a fact churn AND a nation append before ONE refresh —
      // dirty groups replace, the append-moved table's delta term lands
      // as the append side of the SAME single publish
      SnapshotStore.deleteWhere(spark, roots(0), col("f_ok") % 5 === 0)
      SnapshotStore.upsert(spark, {
        val s2 = spark; import s2.implicits._
        Seq((0L, 1L)).toDF("s_sk", "s_nk") // supplier re-points: group moves
      }, roots(2), Seq("s_sk"))
      val vBefore = SnapshotStore.currentVersion(v)
      refreshX()
      assert(viewX() == truthX())
      assert(SnapshotStore.currentVersion(v) == vBefore + 1 &&
        lastOp(v) == "upsert",
        "a mixed churn gap must publish ONE atomic version")

      // empty a whole group (tombstone leg), then revive via append
      SnapshotStore.deleteWhere(spark, roots(0), col("f_pk") % 3 === 0)
      refreshX()
      assert(viewX() == truthX())
      assert(!viewX().exists(_.contains("brand0")))
      SnapshotStore.append(factDF(300L, 303L), roots(0)) // f_pk 6/2 — brand0 back
      refreshX()
      assert(viewX() == truthX())

      // compact folds; content unchanged
      val want = viewX()
      MultiAggJoinView.compact(spark, v)
      assert(viewX() == want)

      // the rewrite serves min/max from the extents view, join-free
      MaterializedMultiJoins.enable(roots, v, edges, groups, measures)
      val Seq(f, p, su, n) = roots.map(SnapshotStore.read(spark, _))
      val q = f.join(p, f("f_pk") === p("p_pk"))
        .join(su, f("f_sk") === su("s_sk"))
        .join(n, su("s_nk") === n("n_nk"))
        .groupBy("p_brand", "n_name")
        .agg(count(lit(1)).as("c"), min(col("qty")).as("mn"),
          max(col("qty")).as("mx"))
      assert(graft.plans.PlanProbe.scansOnly(q, "/view"),
        "min/max over an extents multiway view must serve")
      assert(!q.queryExecution.optimizedPlan.toString.contains("Join"))
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3),
          x.getDouble(4))).toSet
      val got = rows(q)
      MaterializedMultiJoins.disable(v)
      assert(got == rows(q) && got.nonEmpty)
    }
  }

  test("extents: a mixed gap with ZERO dirty groups still lands the append terms") {
    // a churned supplier key that joins no fact row at either version
    // leaves no dirty group; the fact's concurrent append must still
    // publish (unrestricted), in one version
    withRoots { (roots, v) =>
      def refreshX(): Int = MultiAggJoinView.refresh(spark, roots, v,
        edges, groups, measures, extents = true)
      def rows(df: DataFrame): Set[String] = df
        .select(col("p_brand"), col("n_name"), col("cnt"), col("sum_qty"),
          col("min_qty"), col("max_qty"))
        .collect().map(_.toString).toSet
      def truthX(): Set[String] = {
        val Seq(f, p, s, n) = roots.map(SnapshotStore.read(spark, _))
        rows(f.join(p, f("f_pk") === p("p_pk"))
          .join(s, f("f_sk") === s("s_sk"))
          .join(n, s("s_nk") === n("n_nk"))
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("qty").cast("decimal(30,2)")).cast("decimal(30,2)").as("sum_qty"),
            min(col("qty")).as("min_qty"), max(col("qty")).as("max_qty")))
      }
      SnapshotStore.append(factDF(1L to 40L: _*), roots(0))
      SnapshotStore.append(partDF(0L to 6L: _*), roots(1))
      // s_sk 9 is an ORPHAN (factDF keys are i % 5), stored now so the
      // upsert below rewrites its directory: a churned gap, not appended
      SnapshotStore.append(suppDF((0L to 4L) :+ 9L: _*), roots(2))
      SnapshotStore.append(nationDF(0L, 1L, 2L), roots(3))
      refreshX()
      assert(rows(MultiAggJoinView.read(spark, v)) == truthX())

      // churn the orphan supplier while the fact APPENDS matching rows
      SnapshotStore.upsert(spark, suppDF(9L), roots(2), Seq("s_sk"))
      SnapshotStore.append(factDF(41L to 60L: _*), roots(0))
      val before = SnapshotStore.currentVersion(v)
      refreshX()
      assert(SnapshotStore.currentVersion(v) == before + 1)
      assert(lastOp(v) == "append",
        "zero dirty groups + an append gap must publish the append terms")
      assert(rows(MultiAggJoinView.read(spark, v)) == truthX(),
        "the append-moved table's delta partials must not be dropped")
    }
  }

  test("extents churn: a group column sharing a name with another table's CHILD KEY restricts the owner") {
    // t1's child key is literally named like t2's group column — the
    // recompute's band+semi must restrict the OWNING table (t2), never
    // the key column (pre-fix, t1 was banded by group VALUES, dropping
    // every recompute row and silently tombstoning live groups)
    val root = java.nio.file.Files.createTempDirectory("majv_ck").toString
    val roots = IndexedSeq(s"$root/F", s"$root/T1", s"$root/T2")
    val v = s"$root/view"
    val ckEdges = Seq(
      Edge(0, Seq("k1"), Seq("gname")), // t1's child key named gname
      Edge(0, Seq("k2"), Seq("d2k")))
    try {
      val s2 = spark
      import s2.implicits._
      SnapshotStore.append(
        (1L to 30L).map(i => (i, s"x${i % 4}", i % 3, i * 1.0))
          .toDF("f_ok", "k1", "k2", "qty"), roots(0))
      SnapshotStore.append(
        (0 until 4).map(i => (s"x$i", i)).toDF("gname", "t1v"), roots(1))
      SnapshotStore.append(
        (0L to 2L).map(i => (i, s"g$i")).toDF("d2k", "gname"), roots(2))
      def refreshX(): Unit = MultiAggJoinView.refresh(spark, roots, v,
        ckEdges, Seq("gname"), Seq("qty"), extents = true)
      def truthX(): Set[String] = {
        val Seq(f, t1, t2) = roots.map(SnapshotStore.read(spark, _))
        f.join(t1, f("k1") === t1("gname"))
          .join(t2, f("k2") === t2("d2k"))
          .groupBy(t2("gname"))
          .agg(count(lit(1)).as("cnt"), min(col("qty")).as("mn"),
            max(col("qty")).as("mx"))
          .collect().map(_.toString).toSet
      }
      def viewX(): Set[String] = MultiAggJoinView.read(spark, v)
        .select(col("gname"), col("cnt"), col("min_qty"), col("max_qty"))
        .collect().map(_.toString).toSet
      refreshX()
      assert(viewX() == truthX() && viewX().nonEmpty)
      // extremum churn forces the dirty-group recompute
      SnapshotStore.deleteWhere(spark, roots(0), col("qty") > 20.0)
      refreshX()
      assert(viewX() == truthX() && viewX().nonEmpty,
        "the recompute must restrict t2 (the owner), not t1's child key")
    } finally SnapshotStore.deleteTree(root)
  }

  test("stale serving: append-only gaps fold telescoped Δ terms on the fly; churn declines") {
    withRoots { (roots, v) =>
      bootstrap(roots, v)
      MaterializedMultiJoins.enable(roots, v, edges, groups, measures,
        serveStale = true)
      def q(): DataFrame = {
        val Seq(f, p, s, n) = roots.map(SnapshotStore.read(spark, _))
        f.join(p, f("f_pk") === p("p_pk"))
          .join(s, f("f_sk") === s("s_sk"))
          .join(n, s("s_nk") === n("n_nk"))
          .groupBy("p_brand", "n_name")
          .agg(count(lit(1)).as("n2"),
            sum(col("qty").cast("decimal(18,2)")).as("sq"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getDecimal(3))).toSet

      // gap on TWO tables (fact append + new nation), no refresh
      SnapshotStore.append(factDF(400L to 420L: _*), roots(0))
      SnapshotStore.append(nationDF(2L), roots(3))
      val stale = q()
      assert(graft.plans.PlanProbe.scansAny(stale, "/view"),
        "append-only stale gap must serve compensated")
      val got = rows(stale)
      MaterializedMultiJoins.disable(v)
      assert(got == rows(q()) && got.nonEmpty,
        "compensated answer must equal the current N-way aggregate")

      // churned gap declines
      MaterializedMultiJoins.enable(roots, v, edges, groups, measures,
        serveStale = true)
      SnapshotStore.deleteWhere(spark, roots(0), col("f_ok") % 3 === 0)
      assert(!graft.plans.PlanProbe.scansAny(q(), "/view"),
        "churned gap must DECLINE the stale serve")
      refresh(roots, v)
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"))
    }
  }

  test("N = 2: a one-edge registration serves the two-table count/sum/avg shape") {
    withRoots { (roots, v) =>
      val two = roots.take(2)
      val edge = Seq(Edge(0, Seq("f_pk"), Seq("p_pk")))
      SnapshotStore.append(factDF(1L to 40L: _*), two(0))
      SnapshotStore.append(partDF(0L to 5L: _*), two(1)) // f_pk 6 unmatched
      MultiAggJoinView.refresh(spark, two, v, edge, Seq("p_brand"), measures)
      MaterializedMultiJoins.enable(two, v, edge, Seq("p_brand"), measures)
      def q(): DataFrame = {
        val f = SnapshotStore.read(spark, two(0))
        val p = SnapshotStore.read(spark, two(1))
        f.join(p, f("f_pk") === p("p_pk"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(col("qty").cast("decimal(18,2)")).as("t"),
            avg(col("qty").cast("decimal(18,2)")).as("a"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getLong(1), x.getDecimal(2), x.getDecimal(3))).toSet
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "the two-table shape did not serve from the one-edge view")
      val got = rows(served)
      MaterializedMultiJoins.disable(v)
      val base = q()
      assert(!graft.plans.PlanProbe.scansAny(base, "/view"))
      assert(got == rows(base) && got.size == 3,
        "served rows must equal the base plan's exactly")
    }
  }
}
