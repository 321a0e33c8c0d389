package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{JoinView, MultiQuantileJoinView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** Quantile-over-join view contract: after ANY in-envelope commit
  * sequence the estimates equal the same fixed-bin interpolation
  * computed FROM SCRATCH over the current join under the SAME frozen
  * edges (signed counts are exactly retractable — appends AND churn stay
  * pure arithmetic, one stamped append per refresh); an
  * envelope-escaping insert triggers ONE rebuild that refreezes with the
  * margin doubled; the ≤ 2·w accuracy bound holds against the exact
  * percentile. */
class QuantileJoinViewSpec extends SparkSpec {

  private def custDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"seg${i % 3}")).toDF("c_id", "seg")
  }

  private def ordersDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 40, ((i * 37) % 1000).toDouble))
      .toDF("o_id", "o_cust", "total")
  }

  private def withRoots(f: (String, String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("qjv_spec").toString
    try f(s"$root/L", s"$root/R", s"$root/view")
    finally SnapshotStore.deleteTree(root)
  }

  private def refresh(l: String, r: String, v: String): Int =
    MultiQuantileJoinView.refresh(spark, Seq(l, r), v, edges, Seq("seg"),
      "total")

  private val edges = Seq(Edge(0, Seq("c_id"), Seq("o_cust")))

  private val phis = Seq(0.5, 0.9)

  private def estimates(v: String): Set[(String, Double, Double)] =
    MultiQuantileJoinView.quantiles(spark, v, phis).collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[Double]("phi"),
        x.getAs[Double]("est"))).toSet

  /** The same fixed-bin interpolation computed from scratch over the
    * CURRENT join under the view's CURRENT frozen edges. */
  private def truth(l: String, r: String, v: String): Set[(String, Double, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val ed = MultiQuantileJoinView.edgesFor(spark, v).head()
    val (lo, w, bins) = (ed.getAs[Double]("lo"), ed.getAs[Double]("w"),
      ed.getAs[Int]("bins"))
    val lf = SnapshotStore.read(spark, l)
    val rf = SnapshotStore.read(spark, r)
    val counts = lf.join(rf, lf("c_id") === rf("o_cust"))
      .where(col("total").isNotNull)
      .select(col("seg"),
        least(lit(bins - 1), greatest(lit(0),
          floor((col("total") - lit(lo)) / lit(w)).cast("int"))).as("bin"))
      .groupBy("seg", "bin").agg(count(lit(1)).as("cnt"))
    val cum = counts
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("seg").orderBy("bin")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("seg")))
    cum.select(col("*"), explode(array(phis.map(lit(_)): _*)).as("phi"))
      .withColumn("t", col("phi") * col("n").cast("double"))
      .where((col("cum").cast("double") >= col("t") &&
          (col("cum") - col("cnt")).cast("double") < col("t")) ||
        (col("t") === 0.0 && col("cum") === col("cnt")))
      .select(col("seg"), col("phi"),
        (lit(lo) + lit(w) * col("bin") +
          lit(w) * ((col("t") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))).as("est"))
      .collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).toSet
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  test("signed bin counts == from-scratch binning through deltas and churn; estimates within 2w of exact") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 39L: _*), l)
      SnapshotStore.append(ordersDF(0L to 300L: _*), r)
      refresh(l, r, v)
      assert(estimates(v) == truth(l, r, v) && estimates(v).nonEmpty)

      // in-envelope append on the fact side: O(Δ) positive partials
      SnapshotStore.append(ordersDF(301L to 500L: _*), r)
      refresh(l, r, v)
      assert(estimates(v) == truth(l, r, v) && lastOp(v) == "append")

      // churn — deletes AND a group-moving dim upsert: pure signed
      // arithmetic (one stamped append, no rewrite, no upsert)
      SnapshotStore.deleteWhere(spark, r, col("o_id") % 4 === 0)
      SnapshotStore.upsert(spark,
        custDF(0L, 3L, 6L).withColumn("seg", lit("seg1")), l, Seq("c_id"))
      refresh(l, r, v)
      assert(lastOp(v) == "append",
        "in-envelope churn must stay a signed-partial append")
      assert(estimates(v) == truth(l, r, v))

      // accuracy: every estimate within 2·w of the exact percentile
      val ed = MultiQuantileJoinView.edgesFor(spark, v).head()
      val w = ed.getAs[Double]("w")
      val lf = SnapshotStore.read(spark, l)
      val rf = SnapshotStore.read(spark, r)
      val exact = lf.join(rf, lf("c_id") === rf("o_cust"))
        .groupBy("seg")
        .agg(expr("percentile(total, 0.5)").as("p50"),
          expr("percentile(total, 0.9)").as("p90"))
        .collect().map(x => x.getString(0) ->
          (x.getDouble(1), x.getDouble(2))).toMap
      estimates(v).foreach { case (seg, phi, est) =>
        val ex = if (phi == 0.5) exact(seg)._1 else exact(seg)._2
        assert(math.abs(est - ex) <= 2.0 * w,
          s"estimate $est for ($seg, $phi) outside 2w=${2 * w} of exact $ex")
      }

      // compact folds the signed residue; content unchanged; replay no-op
      val content = estimates(v)
      MultiQuantileJoinView.compact(spark, v)
      assert(estimates(v) == content)
      val before = SnapshotStore.currentVersion(v)
      refresh(l, r, v)
      assert(SnapshotStore.currentVersion(v) == before)
    }
  }

  test("stale compensation is sound over APPEND and CHURN gaps (signed counts retract); escape declines") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 39L: _*), l)
      SnapshotStore.append(ordersDF(0L to 300L: _*), r)
      refresh(l, r, v)
      def compensated(): Option[Set[(String, Double, Double)]] =
        MultiQuantileJoinView.compensatedQuantiles(spark, Seq(l, r), v,
          edges, Seq("seg"), "total", phis)
          .map(_.collect().map(x => (x.getAs[String]("seg"),
            x.getAs[Double]("phi"), x.getAs[Double]("est"))).toSet)

      // APPEND gap, no refresh: compensated == refresh-then-serve
      SnapshotStore.append(ordersDF(301L to 420L: _*), r)
      val compAppend = compensated()
      assert(compAppend.nonEmpty, "append gap must compensate")
      refresh(l, r, v)
      assert(compAppend.get == estimates(v))

      // CHURN gap (delete + group-moving dim upsert): counts retract, so
      // compensation stays sound where monotone summaries decline
      SnapshotStore.deleteWhere(spark, r, col("o_id") % 6 === 0)
      SnapshotStore.upsert(spark,
        custDF(1L, 4L).withColumn("seg", lit("seg0")), l, Seq("c_id"))
      val compChurn = compensated()
      assert(compChurn.nonEmpty, "churn gap must compensate (signed counts)")
      refresh(l, r, v)
      assert(compChurn.get == estimates(v))

      // an ESCAPING gap declines (compensation would change the freeze)
      val s = spark
      import s.implicits._
      SnapshotStore.append(
        Seq((9100L, 5L, 5.0e6)).toDF("o_id", "o_cust", "total"), r)
      assert(compensated().isEmpty,
        "an envelope-escaping gap must DECLINE compensation")
    }
  }

  test("an envelope-escaping insert refreezes once with the margin doubled; content exact after") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 39L: _*), l)
      SnapshotStore.append(ordersDF(0L to 200L: _*), r)
      refresh(l, r, v)
      val m0 = MultiQuantileJoinView.edgesFor(spark, v).head()
        .getAs[Double]("margin")
      assert(m0 == MultiQuantileJoinView.DefaultMargin)

      // a delta far outside the frozen envelope (values ~1e6)
      val s = spark
      import s.implicits._
      SnapshotStore.append(
        Seq((9001L, 1L, 1.0e6), (9002L, 2L, 1.1e6))
          .toDF("o_id", "o_cust", "total"), r)
      refresh(l, r, v)
      assert(lastOp(v) == "compact",
        "an escaping delta must take the one-rebuild refreeze")
      val m1 = MultiQuantileJoinView.edgesFor(spark, v).head()
        .getAs[Double]("margin")
      assert(m1 == 2.0 * MultiQuantileJoinView.DefaultMargin,
        s"escape must double the margin, got $m1")
      assert(estimates(v) == truth(l, r, v) && estimates(v).nonEmpty)

      // the grown envelope absorbs the next nearby delta incrementally
      SnapshotStore.append(
        Seq((9003L, 3L, 0.9e6)).toDF("o_id", "o_cust", "total"), r)
      refresh(l, r, v)
      assert(lastOp(v) == "append",
        "the doubled envelope must absorb the next nearby delta O(Δ)")
      assert(estimates(v) == truth(l, r, v))
    }
  }

  test("a store in the old two-table layout is refused on refresh and declined by serving") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(0L to 39L: _*), l)
      SnapshotStore.append(ordersDF(0L to 300L: _*), r)
      def q(): DataFrame = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .groupBy("seg")
          .agg(percentile_approx(col("total"), lit(0.5), lit(1000)).as("p0"))
      }
      def rows(df: DataFrame): Set[(String, Double)] =
        df.collect().map(x => (x.getString(0), x.getDouble(1))).toSet
      val want = rows(q())

      // the layout an earlier build's two-table view wrote: a `_qjspec`
      // spec file, its `_jedges` sidecar, and signed bin counts stamped
      // with the base-10^6 cursor lv * 10^6 + rv, here fresh at (1, 1)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(v))
      java.nio.file.Files.write(java.nio.file.Paths.get(v, "_qjspec"),
        "lk=c_id;rk=o_cust;g=seg;v=total;b=64;p=1".getBytes("UTF-8"))
      val s = spark
      import s.implicits._
      Seq((0.0, 1000.0 / 64, 64, 0.25)).toDF("lo", "w", "bins", "margin")
        .coalesce(1).write.parquet(s"$v/_jedges/v1")
      val counts = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_cust"))
          .select(col("seg"),
            least(lit(63), greatest(lit(0),
              floor(col("total") / lit(1000.0 / 64)).cast("int"))).as("bin"))
          .groupBy("seg", "bin").agg(count(lit(1)).as("cnt"))
      }
      SnapshotStore.appendEpoch(counts, v, JoinView.packedCursor(1, 1))

      val e = intercept[IllegalArgumentException](refresh(l, r, v))
      assert(e.getMessage.contains("old two-table layout") &&
        e.getMessage.contains("_qjspec") && e.getMessage.contains("rebuild"),
        e.getMessage)
      // a registration over the old store, stale serving opted in, must
      // decline to the base plan and answer its rows
      graft.plans.MaterializedMultiJoins.enableQuantile(Seq(l, r), v, edges,
        Seq("seg"), "total", serveStale = true)
      try {
        val served = q()
        assert(!graft.plans.PlanProbe.scansAny(served, "/view"),
          "an old-layout store must not serve")
        assert(rows(served) == want && want.nonEmpty)
      } finally graft.plans.MaterializedMultiJoins.disableView(v)
    }
  }
}
