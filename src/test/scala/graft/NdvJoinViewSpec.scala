package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{MaterializedAggJoins, MaterializedMultiJoins}
import graft.sources.{MultiNdvJoinView, NdvView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** Distinct-count-over-join view contract: after ANY commit sequence the
  * merged-sketch estimate is BIT-EQUAL to a single-pass
  * `hll_sketch_estimate(hll_sketch_agg(x))` over the current join
  * (register-max union), appends maintain O(Δ), churn takes the
  * dirty-group re-sketch + atomic keyed replace, and the serving rewrite
  * fires exactly on the datasketches shape. */
class NdvJoinViewSpec extends SparkSpec {

  private def custDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"seg${i % 3}")).toDF("c_id", "seg")
  }

  // several orders per customer, user ids colliding across customers so
  // distinct-per-group is a real dedup
  private def ordersDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 40, s"st${i % 2}", s"u${i % 23}"))
      .toDF("o_id", "o_cust", "status", "user_id")
  }

  private def withRoots(f: (String, String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("ndvj_spec").toString
    val l = s"$root/L"
    try f(l, s"$root/R", s"$root/view")
    finally { MaterializedAggJoins.disable(l); SnapshotStore.deleteTree(root) }
  }

  private def refresh(l: String, r: String, v: String): Int =
    MultiNdvJoinView.refresh(spark, Seq(l, r), v, Seq(Edge(0, Seq("c_id"), Seq("o_cust"))),
      Seq("seg", "status"), "user_id")

  private def viewRows(v: String): Set[(String, String, Long)] =
    MultiNdvJoinView.read(spark, v).collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("approx_user_id"))).toSet

  /** Single-pass estimate over the CURRENT join — the bit-equality twin. */
  private def truth(l: String, r: String): Set[(String, String, Long)] = {
    val lf = SnapshotStore.read(spark, l)
    val rf = SnapshotStore.read(spark, r)
    lf.join(rf, lf("c_id") === rf("o_cust"))
      .groupBy("seg", "status")
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
        s"${NdvView.LgK}))").as("approx_user_id"))
      .collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("approx_user_id"))).toSet
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  test("incremental sketch union == single-pass estimate through deltas, churn, tombstone, compaction") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 60L: _*), r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && viewRows(v).nonEmpty)

      // append-only deltas on both sides: union of per-delta sketches
      SnapshotStore.append(custDF(31L to 39L: _*), l)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")
      SnapshotStore.append(ordersDF(61L to 120L: _*), r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")

      // churn: registers can't retract — dirty groups re-sketch whole
      // and replace atomically (upsert carries the cursor stamp)
      SnapshotStore.deleteWhere(spark, r, col("o_id") % 4 === 0)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "upsert",
        "sketch churn must publish as the atomic keyed replace")

      // empty one group entirely (tombstone leg): seg2 customers gone
      SnapshotStore.deleteWhere(spark, l, col("seg") === "seg2")
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r))
      assert(!viewRows(v).exists(_._1 == "seg2"))

      // revival through the ordinary append path (ids with live orders:
      // o_cust spans 0..39)
      SnapshotStore.append(custDF(2L, 5L), l) // both %3 = 2 → seg2
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r))
      assert(viewRows(v).exists(_._1 == "seg2"))

      // compact folds partials; content unchanged; idempotent replay
      val content = viewRows(v)
      MultiNdvJoinView.compact(spark, v)
      assert(viewRows(v) == content)
      val before = SnapshotStore.currentVersion(v)
      refresh(l, r, v)
      assert(SnapshotStore.currentVersion(v) == before)
    }
  }

  test("rewrite: the datasketches shape serves from the ndv-join view; classic shapes decline on it") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 90L: _*), r)
      refresh(l, r, v)
      MaterializedMultiJoins.enableNdv(Seq(l, r), v, Seq(Edge(0, Seq("c_id"), Seq("o_cust"))),
        Seq("seg", "status"), "user_id")
      def q(): DataFrame = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .groupBy("seg", "status")
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("au"),
            count(lit(1)).as("n"))
      }
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "the distinct-count-over-join shape did not serve")
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3))).toSet
      val got = rows(served)
      MaterializedAggJoins.disable(l)
      assert(got == rows(q()) && got.nonEmpty,
        "served estimate must be bit-equal to the single-pass aggregate")

      MaterializedMultiJoins.enableNdv(Seq(l, r), v, Seq(Edge(0, Seq("c_id"), Seq("o_cust"))),
        Seq("seg", "status"), "user_id")
      // a SUM over the join must not be served by an ndv view
      val sumQ = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .groupBy("seg", "status")
          .agg(sum(col("o_id").cast("decimal(18,2)")).as("t"))
      }
      assert(!graft.plans.PlanProbe.scansAny(sumQ, "/view"),
        "a decimal sum must DECLINE on an ndv-kind view")
      // a different lgK changes the estimate → declines
      val wrongK = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .groupBy("seg", "status")
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("au"))
      }
      assert(!graft.plans.PlanProbe.scansAny(wrongK, "/view"),
        "a foreign lgK must DECLINE")
    }
  }

  test("stale serving: append-only gap unions gap sketches BIT-EQUAL; churn declines") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 60L: _*), r)
      refresh(l, r, v)
      MaterializedMultiJoins.enableNdv(Seq(l, r), v, Seq(Edge(0, Seq("c_id"), Seq("o_cust"))),
        Seq("seg", "status"), "user_id", serveStale = true)
      def q(): DataFrame = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .groupBy("seg", "status")
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, " +
            s"${NdvView.LgK}))").as("au"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2))).toSet
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view")) // fresh

      SnapshotStore.append(ordersDF(61L to 100L: _*), r) // gap, NO refresh
      val stale = q()
      assert(graft.plans.PlanProbe.scansAny(stale, "/view"),
        "append-only stale ndv-join gap must serve the sketch union")
      val got = rows(stale)
      MaterializedAggJoins.disable(l)
      assert(got == rows(q()) && got.nonEmpty,
        "compensated sketch union must be bit-equal to the single pass")

      MaterializedMultiJoins.enableNdv(Seq(l, r), v, Seq(Edge(0, Seq("c_id"), Seq("o_cust"))),
        Seq("seg", "status"), "user_id", serveStale = true)
      SnapshotStore.deleteWhere(spark, r, col("o_id") === 5)
      assert(!graft.plans.PlanProbe.scansAny(q(), "/view"),
        "a churned gap must DECLINE — registers cannot retract")
      refresh(l, r, v)
      assert(graft.plans.PlanProbe.scansOnly(q(), "/view"))
    }
  }
}
