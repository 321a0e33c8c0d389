package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.MaterializedMultiJoins
import graft.sources.{MultiNdvJoinView, NdvView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** Distinct-count-over-a-join-TREE view contract: after ANY commit
  * sequence the merged-sketch estimate is BIT-EQUAL to a single-pass
  * `hll_sketch_estimate(hll_sketch_agg(x))` over the current N-way join
  * (register-max union over the telescoped delta terms), appends
  * maintain O(Δ) per table with the cascade restriction, churn takes the
  * dirty-group re-sketch beside any append terms in ONE atomic publish,
  * and the serving rewrite fires exactly on the datasketches shape. */
class MultiNdvJoinViewSpec extends SparkSpec {

  // fact → customer-dim → nation-leaf chain; user ids collide across
  // facts so distinct-per-group is a real dedup
  private def factDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i % 30, s"st${i % 2}", s"u${i % 23}"))
      .toDF("f_ck", "f_st", "user_id")
  }

  private def custDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 7)).toDF("c_ck", "c_nk")
  }

  private def nationDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"n$i")).toDF("n_nk", "n_name")
  }

  private val edges = Seq(Edge(0, Seq("f_ck"), Seq("c_ck")),
    Edge(1, Seq("c_nk"), Seq("n_nk")))
  private val groups = Seq("n_name", "f_st")

  private def withRoots(f: (Seq[String], String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("mndvj_spec").toString
    val v = s"$root/view"
    try f(Seq(s"$root/F", s"$root/C", s"$root/N"), v)
    finally { MaterializedMultiJoins.disable(v); SnapshotStore.deleteTree(root) }
  }

  private def refresh(roots: Seq[String], v: String): Int =
    MultiNdvJoinView.refresh(spark, roots, v, edges, groups, "user_id")

  private def viewRows(v: String): Set[(String, String, Long)] =
    MultiNdvJoinView.read(spark, v).collect()
      .map(x => (x.getAs[String]("n_name"), x.getAs[String]("f_st"),
        x.getAs[Long]("approx_user_id"))).toSet

  /** Single-pass estimate over the CURRENT tree — the bit-equality twin. */
  private def truth(roots: Seq[String]): Set[(String, String, Long)] = {
    val Seq(f, c, n) = roots.map(SnapshotStore.read(spark, _))
    f.join(c, f("f_ck") === c("c_ck"))
      .join(n, c("c_nk") === n("n_nk"))
      .groupBy("n_name", "f_st")
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
        s"${NdvView.LgK}))").as("approx_user_id"))
      .collect()
      .map(x => (x.getAs[String]("n_name"), x.getAs[String]("f_st"),
        x.getAs[Long]("approx_user_id"))).toSet
  }

  test("cascade: broadcastable hops read whole, threshold -1 probes each; both == single-pass estimate") {
    val treeGroups = Seq("n_name", "c_seg")
    def rows(df: DataFrame): Set[(String, String, Long)] = df.collect()
      .map(x => (x.getAs[String]("n_name"), x.getAs[String]("c_seg"),
        x.getAs[Long]("approx_user_id"))).toSet
    JoinTreeFixture.bothPaths(spark, "mndvj_paths") { (roots, v) =>
      MultiNdvJoinView.refresh(spark, roots, v, JoinTreeFixture.edges, treeGroups, "user_id")
    } { (roots, v) =>
      assert(rows(MultiNdvJoinView.read(spark, v)) == rows(
        JoinTreeFixture.joined(spark, roots).groupBy(treeGroups.map(col): _*)
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("approx_user_id"))))
    }
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  test("incremental sketch union == single-pass estimate through deltas, churn, mixed gap, compaction") {
    withRoots { (roots, v) =>
      val Seq(fr, cr, nr) = roots
      SnapshotStore.append(factDF(0L to 200L: _*), fr)
      SnapshotStore.append(custDF(0L to 29L: _*), cr)
      SnapshotStore.append(nationDF(0L to 4L: _*), nr) // nk 5,6 unmatched
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && viewRows(v).nonEmpty)

      // fact delta: the telescoped term's sketches append
      SnapshotStore.append(factDF(201L to 400L: _*), fr)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // snowflake-LEAF delta: unmatched customers join in via the cascade
      SnapshotStore.append(nationDF(5L, 6L), nr)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "append")

      // dim churn MOVING groups (customers change nation): registers
      // can't retract — dirty groups re-sketch whole, atomic replace
      SnapshotStore.upsert(spark,
        custDF(0L, 7L, 14L).withColumn("c_nk", lit(3L)), cr, Seq("c_ck"))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots) && lastOp(v) == "upsert",
        "sketch churn must publish as the atomic keyed replace")

      // the MIXED gap: a fact APPEND and a dim CHURN land in ONE refresh
      // — the dirty-group replace and the non-dirty append terms must
      // publish in one atomic version
      SnapshotStore.append(factDF(401L to 520L: _*), fr)
      SnapshotStore.upsert(spark,
        custDF(1L, 8L).withColumn("c_nk", lit(6L)), cr, Seq("c_ck"))
      val before = SnapshotStore.currentVersion(v)
      refresh(roots, v)
      assert(SnapshotStore.currentVersion(v) == before + 1,
        "the mixed gap must land in exactly ONE view version")
      assert(viewRows(v) == truth(roots) && lastOp(v) == "upsert")

      // empty one group entirely (tombstone leg): n3's facts vanish —
      // n3 holds the original nk=3 customers PLUS 0/7/14 moved in above
      SnapshotStore.deleteWhere(spark, fr,
        col("f_ck").isin((0L to 29L).filter(k => k % 7 == 3) ++
          Seq(0L, 7L, 14L): _*))
      refresh(roots, v)
      assert(viewRows(v) == truth(roots))
      assert(!viewRows(v).exists(_._1 == "n3"))

      // compact folds partials; content unchanged; idempotent replay
      val content = viewRows(v)
      MultiNdvJoinView.compact(spark, v)
      assert(viewRows(v) == content)
      val vv = SnapshotStore.currentVersion(v)
      refresh(roots, v)
      assert(SnapshotStore.currentVersion(v) == vv)

      // a source compaction breaks the diff: one full rebuild, content exact
      SnapshotStore.compact(spark, fr)
      SnapshotStore.append(factDF(521L to 540L: _*), fr)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots))
    }
  }

  test("mixed gap with ZERO dirty groups still lands the append terms") {
    // the r18 ADVICE high: a churned dim key that joins no fact rows at
    // EITHER version produces an empty dirty-group set — the old code
    // short-circuited to an EMPTY append, silently dropping a
    // concurrently-appended fact delta's sketch/cnt mass while the
    // cursor advanced (permanently wrong, no rebuild would notice)
    withRoots { (roots, v) =>
      val Seq(fr, cr, nr) = roots
      SnapshotStore.append(factDF(0L to 200L: _*), fr)
      // c_ck 40 is an ORPHAN (no fact carries f_ck = 40 — factDF keys are
      // i % 30), stored now so the upsert below rewrites its directory:
      // a churned gap, not appended
      SnapshotStore.append(custDF((0L to 29L) :+ 40L: _*), cr)
      SnapshotStore.append(nationDF(0L to 6L: _*), nr)
      refresh(roots, v)
      assert(viewRows(v) == truth(roots))

      // churn the orphan customer while the fact APPENDS matching rows
      SnapshotStore.upsert(spark, custDF(40L), cr, Seq("c_ck"))
      SnapshotStore.append(factDF(201L to 320L: _*), fr)
      val before = SnapshotStore.currentVersion(v)
      refresh(roots, v)
      assert(SnapshotStore.currentVersion(v) == before + 1)
      assert(lastOp(v) == "append",
        "zero dirty groups + an append gap must publish the append terms")
      assert(viewRows(v) == truth(roots),
        "the append-moved tables' delta sketches must not be dropped")
    }
  }

  test("rewrite: the datasketches shape serves tree-free from the n-way ndv view; sums and foreign lgK decline") {
    withRoots { (roots, v) =>
      val Seq(fr, cr, nr) = roots
      SnapshotStore.append(factDF(0L to 300L: _*), fr)
      SnapshotStore.append(custDF(0L to 29L: _*), cr)
      SnapshotStore.append(nationDF(0L to 6L: _*), nr)
      refresh(roots, v)
      MaterializedMultiJoins.enableNdv(roots, v, edges, groups, "user_id")
      def q(): DataFrame = {
        val Seq(f, c, n) = roots.map(SnapshotStore.read(spark, _))
        // leaf-first join order — the flattened-tree matcher is
        // order-blind
        val cn = c.join(n, c("c_nk") === n("n_nk"))
        f.join(cn, f("f_ck") === cn("c_ck"))
          .groupBy("n_name", "f_st")
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("au"),
            count(lit(1)).as("n"))
      }
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "the distinct-count-over-tree shape did not serve")
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet
      val got = rows(served)
      MaterializedMultiJoins.disable(v)
      assert(got == rows(q()) && got.nonEmpty,
        "served estimate must be bit-equal to the single-pass aggregate")

      MaterializedMultiJoins.enableNdv(roots, v, edges, groups, "user_id")
      // a decimal SUM over the tree must not serve from an ndv view
      val sumQ = {
        val Seq(f, c, n) = roots.map(SnapshotStore.read(spark, _))
        f.join(c, f("f_ck") === c("c_ck"))
          .join(n, c("c_nk") === n("n_nk"))
          .groupBy("n_name", "f_st")
          .agg(sum(col("f_ck").cast("decimal(18,2)")).as("t"))
      }
      assert(!graft.plans.PlanProbe.scansAny(sumQ, "/view"),
        "a decimal sum must DECLINE on an ndv-kind n-way view")
      val wrongK = {
        val Seq(f, c, n) = roots.map(SnapshotStore.read(spark, _))
        f.join(c, f("f_ck") === c("c_ck"))
          .join(n, c("c_nk") === n("n_nk"))
          .groupBy("n_name", "f_st")
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("au"))
      }
      assert(!graft.plans.PlanProbe.scansAny(wrongK, "/view"),
        "a foreign lgK must DECLINE")
    }
  }

  test("stale serving: append-only gaps union telescoped gap sketches BIT-EQUAL; churn declines") {
    withRoots { (roots, v) =>
      val Seq(fr, cr, nr) = roots
      SnapshotStore.append(factDF(0L to 200L: _*), fr)
      SnapshotStore.append(custDF(0L to 29L: _*), cr)
      SnapshotStore.append(nationDF(0L to 4L: _*), nr)
      refresh(roots, v)
      MaterializedMultiJoins.enableNdv(roots, v, edges, groups, "user_id",
        serveStale = true)
      def q(): DataFrame = {
        val Seq(f, c, n) = roots.map(SnapshotStore.read(spark, _))
        f.join(c, f("f_ck") === c("c_ck"))
          .join(n, c("c_nk") === n("n_nk"))
          .groupBy("n_name", "f_st")
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("au"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2))).toSet
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view")) // fresh

      // append-only gaps on the fact AND the leaf, NO refresh
      SnapshotStore.append(factDF(201L to 340L: _*), fr)
      SnapshotStore.append(nationDF(5L, 6L), nr)
      val stale = q()
      assert(graft.plans.PlanProbe.scansAny(stale, "/view"),
        "append-only stale n-way ndv gap must serve the sketch union")
      val got = rows(stale)
      MaterializedMultiJoins.disable(v)
      assert(got == rows(q()) && got.nonEmpty,
        "compensated sketch union must be bit-equal to the single pass")

      MaterializedMultiJoins.enableNdv(roots, v, edges, groups, "user_id",
        serveStale = true)
      SnapshotStore.deleteWhere(spark, fr, col("f_ck") === 5L)
      assert(!graft.plans.PlanProbe.scansAny(q(), "/view"),
        "a churned gap must DECLINE — registers cannot retract")
      refresh(roots, v)
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"))
    }
  }

  test("a measure spelled as another table's same-named child-key column declines (owner resolution)") {
    // the ADVICE hole: a registered AGG measure's NAME can legally
    // reappear on another table as an edge CHILD key — an aggregate over
    // THAT column carries the parent KEY's values (not the measure's)
    // and must not serve from the owner's stored partials
    val root = java.nio.file.Files.createTempDirectory("mndvj_owner").toString
    val v = s"$root/view"
    try {
      val s = spark
      import s.implicits._
      // fact carries measure `qty` AND joins the dim through `fk`; the
      // dim's child KEY is also named `qty` (legal: child keys are
      // excluded from ownership)
      val f = (0L to 99L).map(i => (i % 10, i % 4 + 100L))
        .toDF("fk", "qty")
      val c = (0L to 9L).map(i => (i, i % 3)).toDF("qty", "c_nk")
      val n = (0L to 2L).map(i => (i, s"g$i")).toDF("n_nk", "n_name")
      SnapshotStore.append(f, s"$root/F")
      SnapshotStore.append(c, s"$root/C")
      SnapshotStore.append(n, s"$root/N")
      val e3 = Seq(Edge(0, Seq("fk"), Seq("qty")),
        Edge(1, Seq("c_nk"), Seq("n_nk")))
      val roots3 = Seq(s"$root/F", s"$root/C", s"$root/N")
      graft.sources.MultiAggJoinView.refresh(spark, roots3, v, e3,
        Seq("n_name"), Seq("qty"))
      MaterializedMultiJoins.enable(roots3, v, e3, Seq("n_name"), Seq("qty"))
      val Seq(ff, cc, nn) = roots3.map(SnapshotStore.read(spark, _))
      def join3 = ff.join(cc, ff("fk") === cc("qty"))
        .join(nn, cc("c_nk") === nn("n_nk"))
      val okQ = join3.groupBy("n_name")
        .agg(sum(ff("qty").cast("decimal(18,2)")).as("t"))
      assert(graft.plans.PlanProbe.scansOnly(okQ, "/view"),
        "the owner-side measure must still serve")
      // the dim's `qty` is its JOIN KEY (= fk's values), a different
      // value stream from the fact's `qty` measure — must DECLINE
      val badQ = join3.groupBy("n_name")
        .agg(sum(cc("qty").cast("decimal(18,2)")).as("t"))
      assert(!graft.plans.PlanProbe.scansAny(badQ, "/view"),
        "a same-named child-key column must DECLINE, not serve the " +
          "owner's partials")
    } finally {
      MaterializedMultiJoins.disable(v)
      SnapshotStore.deleteTree(root)
    }
  }

  test("N = 2: a one-edge ndv registration serves the two-table distinct-count shape") {
    withRoots { (roots, v) =>
      val two = roots.take(2)
      val edge = Seq(Edge(0, Seq("f_ck"), Seq("c_ck")))
      SnapshotStore.append(factDF(0L to 300L: _*), two(0))
      SnapshotStore.append(custDF(0L to 24L: _*), two(1)) // f_ck 25..29 unmatched
      MultiNdvJoinView.refresh(spark, two, v, edge, Seq("c_nk", "f_st"),
        "user_id")
      MaterializedMultiJoins.enableNdv(two, v, edge, Seq("c_nk", "f_st"),
        "user_id")
      def q(): DataFrame = {
        val f = SnapshotStore.read(spark, two(0))
        val c = SnapshotStore.read(spark, two(1))
        f.join(c, f("f_ck") === c("c_ck"))
          .groupBy("c_nk", "f_st")
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("au"),
            count(lit(1)).as("n"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "the two-table distinct-count shape did not serve")
      val got = rows(served)
      MaterializedMultiJoins.disable(v)
      val base = q()
      assert(!graft.plans.PlanProbe.scansAny(base, "/view"))
      assert(got == rows(base) && got.size == 14,
        "served estimates must equal the single-pass aggregate exactly")
    }
  }
}
