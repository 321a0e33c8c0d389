package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{MaterializedMultiJoins, MaterializedQuantiles, PlanProbe}
import graft.sources.{MultiQuantileJoinView, QuantileView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** The quantile SERVING arm — the last view kind to rewrite through
  * Catalyst: a `percentile_approx`-shaped aggregate over a REGISTERED
  * source / join is answered from the maintained quantile view's
  * O(bins) read (the table scan / fact×dim join leaves the plan),
  * behind the registry's EXPLICIT approximation opt-in (the served
  * estimate is the view's deterministic fixed-bin interpolation, ≤ 2·w
  * of the exact percentile — NOT percentile_approx's GK answer). Exact
  * in everything else: unregistered/odd shapes decline, stale serves
  * only compensated behind `serveStale` (sound over churn gaps too —
  * signed counts retract), never silently. */
class QuantileServeSpec extends SparkSpec {

  // ---- single-table -------------------------------------------------------

  // value spacing (0.1) well under the frozen bin width (~0.45) so the
  // ≤ 2·w accuracy contract is meaningful against the exact percentile
  // (with data spacing ABOVE w, the rank-definition gap between the
  // view's t = φ·n and percentile's pos = φ·(n−1) dominates the bound)
  private def se(r: Range): DataFrame = seriesDF(
    r.map(i => ("m" + i % 2, i.toLong * 3600, (i % 200) * 0.1)): _*)
    .select("metric", "e", "value")

  private def userQ(src: String, phis: Seq[Double]): DataFrame = {
    val aggs = phis.zipWithIndex.map { case (p, i) =>
      percentile_approx(col("value"), lit(p), lit(1000)).as(s"p$i")
    }
    SnapshotStore.read(spark, src)
      .groupBy(col("metric"), expr("e div 86400").as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def longRows(df: DataFrame, phis: Seq[Double]): Set[(String, Long, Double, Double)] =
    df.collect().flatMap { x =>
      phis.zipWithIndex.map { case (p, i) =>
        (x.getAs[String]("metric"), x.getAs[Long]("bucket"), p,
          x.getAs[Double](s"p$i"))
      }
    }.toSet

  private def viewRows(v: String, phis: Seq[Double]): Set[(String, Long, Double, Double)] =
    QuantileView.quantiles(spark, v, phis).collect().map(x =>
      (x.getAs[String]("metric"), x.getAs[Long]("bucket"),
        x.getAs[Double]("phi"), x.getAs[Double]("est"))).toSet

  test("single-table: percentile_approx serves O(bins) from the view; accuracy ≤ 2·w; odd shapes decline") {
    val root = java.nio.file.Files.createTempDirectory("qserve").toString
    val src = s"$root/src"; val v = s"$root/qview"
    try {
      SnapshotStore.append(se(1 to 200), src)
      QuantileView.refresh(spark, src, v)
      val phis = Seq(0.5, 0.9)

      // NOT enabled: the maintained view alone never rewrites (the
      // approximation opt-in is explicit)
      assert(!PlanProbe.scansAny(userQ(src, phis), "/qview"),
        "serving without the explicit opt-in is an approximation leak")

      MaterializedQuantiles.enable(src, v)
      val served = userQ(src, phis)
      assert(PlanProbe.scansOnly(served, "/qview"),
        "the percentile_approx shape must serve from the view only")
      // the served numbers ARE the view's estimates, reshaped
      assert(longRows(served, phis) == viewRows(v, phis) &&
        longRows(served, phis).nonEmpty)

      // the documented accuracy contract vs the EXACT percentile
      val ed = QuantileView.edgesFor(spark, v).collect()
        .map(r => r.getAs[String]("metric") -> r.getAs[Double]("w")).toMap
      val exact = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(expr("percentile(value, 0.5)").as("x0"),
          expr("percentile(value, 0.9)").as("x1"))
        .collect().flatMap(x => Seq(
          (x.getString(0), x.getLong(1), 0.5, x.getDouble(2)),
          (x.getString(0), x.getLong(1), 0.9, x.getDouble(3))))
        .map(r => ((r._1, r._2, r._3), r._4)).toMap
      longRows(served, phis).foreach { case (m, b, p, est) =>
        assert(math.abs(est - exact((m, b, p))) <= 2.0 * ed(m) + 1e-9,
          s"|est - exact| must be ≤ 2·w for ($m, $b, $p)")
      }

      // a metric filter commutes and re-applies to the view's groups
      val filtered = SnapshotStore.read(spark, src)
        .where(col("metric") === "m0")
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p0"))
      assert(PlanProbe.scansOnly(filtered, "/qview"))
      assert(filtered.collect().forall(_.getString(0) == "m0"))

      // declines: a non-percentile aggregate beside the phi shape, an
      // array percentage, a value filter, a foreign grain
      val mixed = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p0"),
          sum("value").as("s"))
      assert(!PlanProbe.scansAny(mixed, "/qview"),
        "a non-phi aggregate beside the shape must decline the whole serve")
      val arr = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
          lit(1000)).as("p"))
      assert(!PlanProbe.scansAny(arr, "/qview"), "array percentages decline")
      val valFiltered = SnapshotStore.read(spark, src)
        .where(col("value") > 3.0)
        .groupBy(col("metric"), expr("e div 86400").as("bucket"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p0"))
      assert(!PlanProbe.scansAny(valFiltered, "/qview"),
        "a value predicate slices rows the view cannot slice — decline")
      val hourly = SnapshotStore.read(spark, src)
        .groupBy(col("metric"), expr("e div 3600").as("bucket"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p0"))
      assert(!PlanProbe.scansAny(hourly, "/qview"),
        "an unregistered grain must decline")

      // stale WITHOUT the stale opt-in declines; refresh re-serves
      SnapshotStore.append(se(201 to 220), src)
      assert(!PlanProbe.scansAny(userQ(src, phis), "/qview"))
      QuantileView.refresh(spark, src, v)
      assert(PlanProbe.scansOnly(userQ(src, phis), "/qview"))
    } finally {
      MaterializedQuantiles.disable(src)
      SnapshotStore.deleteTree(root)
    }
  }

  test("single-table stale serving: append AND churn gaps serve compensated bit-equal; escape declines") {
    val root = java.nio.file.Files.createTempDirectory("qserve_st").toString
    val src = s"$root/src"; val v = s"$root/qview"
    try {
      SnapshotStore.append(se(1 to 120), src)
      QuantileView.refresh(spark, src, v)
      MaterializedQuantiles.enable(src, v, serveStale = true)
      val phis = Seq(0.5, 0.9)

      // the distinctive property: the gap holds an append AND a DELETE —
      // signed counts retract, so compensation still serves. The append
      // repeats observed values (se(1..40) ⊆ the bootstrap's range) so
      // it deterministically stays in-envelope.
      SnapshotStore.append(se(1 to 40), src)
      SnapshotStore.deleteWhere(spark, src, col("e") === 3600L * 7)
      val stale = userQ(src, phis)
      assert(PlanProbe.scansAny(stale, "/qview"),
        "a churn-containing gap must serve compensated (counts retract)")
      val got = longRows(stale, phis)
      QuantileView.refresh(spark, src, v)
      assert(got == viewRows(v, phis) && got.nonEmpty,
        "compensated serve must be bit-equal to refresh-then-serve")

      // an envelope-ESCAPING gap declines (refresh would refreeze)
      SnapshotStore.append(
        seriesDF(("m0", 999999L, 1e9)).select("metric", "e", "value"), src)
      assert(!PlanProbe.scansAny(userQ(src, phis), "/qview"),
        "an escaping gap must decline — compensation cannot refreeze")
    } finally {
      MaterializedQuantiles.disable(src)
      SnapshotStore.deleteTree(root)
    }
  }

  // ---- join ---------------------------------------------------------------

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

  private def joinQ(l: String, r: String, phis: Seq[Double]): DataFrame = {
    val lf = SnapshotStore.read(spark, l)
    val rf = SnapshotStore.read(spark, r)
    val aggs = phis.zipWithIndex.map { case (p, i) =>
      percentile_approx(col("total"), lit(p), lit(1000)).as(s"p$i")
    }
    lf.join(rf, lf("c_id") === rf("o_cust"))
      .groupBy("seg").agg(aggs.head, aggs.tail: _*)
  }

  private def jlongRows(df: DataFrame, phis: Seq[Double]): Set[(String, Double, Double)] =
    df.collect().flatMap { x =>
      phis.zipWithIndex.map { case (p, i) =>
        (x.getAs[String]("seg"), p, x.getAs[Double](s"p$i"))
      }
    }.toSet

  private def jviewRows(v: String, phis: Seq[Double]): Set[(String, Double, Double)] =
    MultiQuantileJoinView.quantiles(spark, v, phis).collect().map(x =>
      (x.getAs[String]("seg"), x.getAs[Double]("phi"),
        x.getAs[Double]("est"))).toSet

  test("join: percentile-per-dim serves join-free; churn-gap stale serving compensates bit-equal") {
    val root = java.nio.file.Files.createTempDirectory("qjserve").toString
    val (l, r, v) = (s"$root/L", s"$root/R", s"$root/view")
    val ckv = s"$root/ckview"
    val edges = Seq(Edge(0, Seq("c_id"), Seq("o_cust")))
    try {
      SnapshotStore.append(custDF(0L to 39L: _*), l)
      SnapshotStore.append(ordersDF(0L to 300L: _*), r)
      def refresh(): Unit = MultiQuantileJoinView.refresh(spark, Seq(l, r), v,
        edges, Seq("seg"), "total")
      refresh()
      val phis = Seq(0.5, 0.9)

      assert(!PlanProbe.scansAny(joinQ(l, r, phis), "/view"),
        "no serve without the explicit opt-in")
      MaterializedMultiJoins.enableQuantile(Seq(l, r), v, edges,
        Seq("seg"), "total", serveStale = true)
      val served = joinQ(l, r, phis)
      assert(PlanProbe.scansOnly(served, "/view"),
        "the join + GK aggregate must leave the plan entirely")
      assert(jlongRows(served, phis) == jviewRows(v, phis) &&
        jlongRows(served, phis).nonEmpty)

      val lf = SnapshotStore.read(spark, l)
      val rf = SnapshotStore.read(spark, r)
      def pcts(): Seq[org.apache.spark.sql.Column] =
        phis.zipWithIndex.map { case (p, i) =>
          percentile_approx(col("total"), lit(p), lit(1000)).as(s"p$i")
        }
      // the join written right-first serves from the same registration
      val flipped = rf.join(lf, rf("o_cust") === lf("c_id"))
        .groupBy("seg").agg(pcts().head, pcts().tail: _*)
      assert(PlanProbe.scansOnly(flipped, "/view"),
        "operands written right-first must serve from the view")
      assert(jlongRows(flipped, phis) == jviewRows(v, phis))

      // grouping on the right key serves from a registration grouped on
      // its paired left key (value-identical under the inner equality)
      MultiQuantileJoinView.refresh(spark, Seq(l, r), ckv, edges,
        Seq("c_id"), "total")
      MaterializedMultiJoins.enableQuantile(Seq(l, r), ckv, edges,
        Seq("c_id"), "total")
      val byRightKey = lf.join(rf, lf("c_id") === rf("o_cust"))
        .groupBy("o_cust").agg(pcts().head, pcts().tail: _*)
      assert(PlanProbe.scansOnly(byRightKey, "/ckview"),
        "a right-key grouping must serve from the left-key registration")
      val ckRows = MultiQuantileJoinView.quantiles(spark, ckv, phis).collect()
        .map(x => (x.getAs[Long]("c_id"), x.getAs[Double]("phi"),
          x.getAs[Double]("est"))).toSet
      assert(byRightKey.collect().flatMap { x =>
        phis.zipWithIndex.map { case (p, i) =>
          (x.getAs[Long]("o_cust"), p, x.getAs[Double](s"p$i"))
        }
      }.toSet == ckRows && ckRows.nonEmpty)
      MaterializedMultiJoins.disableView(ckv)

      // a non-registered measure declines (the o_id column exists but
      // is not the view's value column)
      val wrongMeasure = lf.join(rf, lf("c_id") === rf("o_cust"))
        .groupBy("seg")
        .agg(percentile_approx(col("o_id").cast("double"), lit(0.5),
          lit(1000)).as("p0"))
      assert(!PlanProbe.scansAny(wrongMeasure, "/view"))

      // STALE over a gap holding an append AND a group-MOVING churn —
      // the family's distinctive signed-retraction property, now facing
      // the rewrite: serve compensated, bit-equal to refresh-then-serve
      SnapshotStore.append(ordersDF(301L to 360L: _*), r)
      SnapshotStore.upsert(spark,
        custDF(0L, 3L, 6L).withColumn("seg", lit("seg1")), l, Seq("c_id"))
      val stale = joinQ(l, r, phis)
      assert(PlanProbe.scansAny(stale, "/view"),
        "churn-gap stale quantile-join must serve compensated")
      val got = jlongRows(stale, phis)
      refresh()
      assert(got == jviewRows(v, phis) && got.nonEmpty,
        "compensated join serve must be bit-equal to refresh-then-serve")
      assert(PlanProbe.scansOnly(joinQ(l, r, phis), "/view"))
    } finally {
      MaterializedMultiJoins.disableView(v)
      MaterializedMultiJoins.disableView(ckv)
      SnapshotStore.deleteTree(root)
    }
  }

  // ---- multiway ------------------------------------------------------------

  test("multiway: percentile over an N-way tree serves tree-free; mixed-gap stale compensates; agg shapes never cross kinds") {
    import graft.plans.MaterializedMultiJoins
    import graft.sources.{MultiQuantileJoinView, MultiAggJoinView}
    import graft.sources.MultiAggJoinView.Edge
    val root = java.nio.file.Files.createTempDirectory("mqserve").toString
    val (fr, cr, nr, v) = (s"$root/F", s"$root/C", s"$root/N", s"$root/view")
    val roots = Seq(fr, cr, nr)
    val edges = Seq(Edge(0, Seq("o_cust"), Seq("c_id")),
      Edge(1, Seq("nat"), Seq("n_id")))
    try {
      val s = spark
      import s.implicits._
      SnapshotStore.append((0L to 300L).map(i =>
        (i, i % 40, ((i * 37) % 1000).toDouble)).toDF("o_id", "o_cust", "total"),
        fr)
      SnapshotStore.append((0L to 39L).map(i => (i, i % 5)).toDF("c_id", "nat"),
        cr)
      SnapshotStore.append((0L to 4L).map(i => (i, s"n$i")).toDF("n_id", "n_name"),
        nr)
      def refresh(): Unit = MultiQuantileJoinView.refresh(spark, roots, v,
        edges, Seq("n_name"), "total")
      refresh()
      val phis = Seq(0.5, 0.9)
      def treeQ() = {
        val f = SnapshotStore.read(spark, fr)
        val c = SnapshotStore.read(spark, cr)
        val n = SnapshotStore.read(spark, nr)
        val aggs = phis.zipWithIndex.map { case (p, i) =>
          percentile_approx(col("total"), lit(p), lit(1000)).as(s"p$i")
        }
        f.join(c, f("o_cust") === c("c_id"))
          .join(n, c("nat") === n("n_id"))
          .groupBy("n_name").agg(aggs.head, aggs.tail: _*)
      }
      def servedRows(df: org.apache.spark.sql.DataFrame): Set[(String, Double, Double)] =
        df.collect().flatMap { x =>
          phis.zipWithIndex.map { case (p, i) =>
            (x.getAs[String]("n_name"), p, x.getAs[Double](s"p$i"))
          }
        }.toSet
      def viewRows(): Set[(String, Double, Double)] =
        MultiQuantileJoinView.quantiles(spark, v, phis).collect().map(x =>
          (x.getAs[String]("n_name"), x.getAs[Double]("phi"),
            x.getAs[Double]("est"))).toSet

      assert(!PlanProbe.scansAny(treeQ(), "/view"),
        "no serve without the explicit opt-in")
      MaterializedMultiJoins.enableQuantile(roots, v, edges, Seq("n_name"),
        "total", serveStale = true)
      val served = treeQ()
      assert(PlanProbe.scansOnly(served, "/view"),
        "the whole tree + GK aggregate must leave the plan")
      assert(servedRows(served) == viewRows() && viewRows().nonEmpty)

      // kind separation: a count/sum shape over the SAME tree must not
      // serve from the quantile store's bin partials
      val f = SnapshotStore.read(spark, fr)
      val c = SnapshotStore.read(spark, cr)
      val n = SnapshotStore.read(spark, nr)
      val aggShape = f.join(c, f("o_cust") === c("c_id"))
        .join(n, c("nat") === n("n_id"))
        .groupBy("n_name").agg(count(lit(1)).as("cnt"))
      assert(!PlanProbe.scansAny(aggShape, "/view"),
        "an agg shape must never serve from a quantile-kind registration")
      // …and a non-registered measure declines
      val wrongMeasure = f.join(c, f("o_cust") === c("c_id"))
        .join(n, c("nat") === n("n_id"))
        .groupBy("n_name")
        .agg(percentile_approx(col("o_id").cast("double"), lit(0.5),
          lit(1000)).as("p0"))
      assert(!PlanProbe.scansAny(wrongMeasure, "/view"))

      // STALE over a MIXED gap — fact append + group-moving dim churn:
      // serve compensated (telescoped signed terms), bit-equal to
      // refresh-then-serve, cursor untouched
      SnapshotStore.append((301L to 360L).map(i =>
        (i, i % 40, ((i * 37) % 1000).toDouble)).toDF("o_id", "o_cust", "total"),
        fr)
      SnapshotStore.upsert(spark,
        Seq((0L, 1L), (7L, 1L), (14L, 1L)).toDF("c_id", "nat"), cr,
        Seq("c_id"))
      val before = graft.sources.SnapshotStore.lastEpoch(v)
      val stale = treeQ()
      assert(PlanProbe.scansAny(stale, "/view"),
        "mixed-gap stale multiway quantile must serve compensated")
      val got = servedRows(stale)
      assert(graft.sources.SnapshotStore.lastEpoch(v) == before,
        "compensated serving must not move the view's cursor")
      refresh()
      assert(got == viewRows() && got.nonEmpty,
        "compensated multiway serve must be bit-equal to refresh-then-serve")
      assert(PlanProbe.scansOnly(treeQ(), "/view"))
    } finally {
      MaterializedMultiJoins.disable(v)
      SnapshotStore.deleteTree(root)
    }
  }
}
