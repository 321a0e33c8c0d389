package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.sources.{JoinView, MultiAggJoinView, MultiNdvJoinView, MultiQuantileJoinView,
  NdvView, QuantileView, RollupView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge
import ViewRegistrySpec.Served

/** The one view registry behind the serving facades: every unregister
  * path leaves neither a registration nor a probe-cache entry behind, a
  * second registration at a slot replaces the first (stale opt-in
  * included), and each facade's `clear`/`disable` stays scoped to its own
  * kinds. Fixtures are built once: every view is fresh except the `*_lag`
  * ones, refreshed before the sources' last append. */
class ViewRegistrySpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val root = java.nio.file.Files.createTempDirectory("vreg").toString
  private lazy val src = s"$root/src"
  private lazy val cust = s"$root/L"
  private lazy val orders = s"$root/R"
  private lazy val segs = s"$root/S"
  private def v(name: String): String = s"$root/$name"
  private val edges = Seq(Edge(0, Seq("c_id"), Seq("o_cust")))
  private val edges3 = edges :+ Edge(0, Seq("seg"), Seq("s_seg"))

  private def seriesRows(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => ("m" + i % 2, i.toLong * 3600, (i % 100) * 0.1, i.toLong % 7))
      .toDF("metric", "e", "value", "user_id")
  }

  private def custDF(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"seg${i % 3}")).toDF("c_id", "seg")
  }

  private def ordersDF(ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, i.toLong % 20, ((i * 37) % 100).toDouble))
      .toDF("o_id", "o_cust", "total")
  }

  private def segsDF(): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 3).map(i => (s"seg$i", s"region${i % 2}")).toDF("s_seg", "region")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    SnapshotStore.append(seriesRows(0 until 120), src)
    SnapshotStore.append(custDF(0 until 20), cust)
    SnapshotStore.append(ordersDF(0 until 80), orders)
    SnapshotStore.append(segsDF(), segs)
    RollupView.refresh(spark, src, v("rollup_lag"))
    QuantileView.refresh(spark, src, v("quantile_lag"))
    JoinView.refresh(spark, cust, orders, v("join_lag"), "c_id", "o_cust")
    SnapshotStore.append(seriesRows(120 until 160), src)
    SnapshotStore.append(ordersDF(80 until 100), orders)
    Seq("rollup_a", "rollup_b").foreach(n => RollupView.refresh(spark, src, v(n)))
    NdvView.refresh(spark, src, v("ndv"))
    Seq("quantile_a", "quantile_b").foreach(n => QuantileView.refresh(spark, src, v(n)))
    Seq("join_a", "join_b").foreach(n =>
      JoinView.refresh(spark, cust, orders, v(n), "c_id", "o_cust"))
    MultiAggJoinView.refresh(spark, Seq(cust, orders), v("magg"), edges,
      Seq("seg"), Seq("total"))
    MultiNdvJoinView.refresh(spark, Seq(cust, orders), v("mndv"), edges,
      Seq("seg"), "o_id")
    MultiQuantileJoinView.refresh(spark, Seq(cust, orders), v("mquantile"), edges,
      Seq("seg"), "total")
    MultiAggJoinView.refresh(spark, Seq(cust, orders, segs), v("tree3"), edges3,
      Seq("region"), Seq("total"))
    Seq("l" -> cust, "r" -> orders, "s" -> segs).foreach { case (n, store) =>
      SnapshotStore.read(spark, store).createOrReplaceTempView(s"vreg_$n")
    }
  }

  override def afterAll(): Unit = {
    try {
      MaterializedViews.all.map(_.viewRoot).filter(_.startsWith(root)).toSeq
        .foreach(MaterializedViews.disableView)
      Seq("l", "r", "s").foreach(n => spark.catalog.dropTempView(s"vreg_$n"))
      SnapshotStore.deleteTree(root)
    } finally super.afterAll()
  }

  // ---- the user queries each kind serves ------------------------------------

  private def series: DataFrame = SnapshotStore.read(spark, src)
  private def byDay(df: DataFrame) =
    df.groupBy(col("metric"), expr("e div 86400").as("day"))

  private def rollupQ(): DataFrame = byDay(series).agg(count(lit(1)).as("n"))
  private def ndvQ(): DataFrame = byDay(series)
    .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))").as("u"))
  private def quantileQ(): DataFrame = byDay(series)
    .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"))

  private def joinQ(): DataFrame = {
    val (l, r) = (SnapshotStore.read(spark, cust), SnapshotStore.read(spark, orders))
    l.join(r, l("c_id") === r("o_cust"))
  }
  // aggregates over the join go through SQL: one analysis sees the
  // Aggregate over the Join (a DataFrame join is analyzed, and so served
  // from a registered join view, before its groupBy exists)
  private def overJoin(aggs: String): DataFrame = spark.sql(
    s"SELECT seg, $aggs FROM vreg_l JOIN vreg_r ON c_id = o_cust GROUP BY seg")
  private def maggQ(): DataFrame =
    overJoin("count(1) AS n, sum(CAST(total AS DECIMAL(18,2))) AS t")
  private def mndvQ(): DataFrame =
    overJoin(s"hll_sketch_estimate(hll_sketch_agg(o_id, ${NdvView.LgK})) AS u")
  private def mquantileQ(): DataFrame = overJoin("percentile_approx(total, 0.5, 1000) AS p50")
  private def tree3Q(): DataFrame = spark.sql("SELECT region, count(1) AS n FROM vreg_l " +
    "JOIN vreg_r ON c_id = o_cust JOIN vreg_s ON seg = s_seg GROUP BY region")

  private def served(name: String, enable: () => Unit, query: () => DataFrame,
                     facade: MaterializedViews.Facade, source: String): Served =
    ViewRegistrySpec.Served(name, v(name), enable, query, facade, source)

  private lazy val rollup = served("rollup_a",
    () => MaterializedRollups.enable(src, v("rollup_a")), rollupQ, MaterializedRollups, src)
  private lazy val ndv = served("ndv",
    () => MaterializedRollups.enableNdv(src, v("ndv")), ndvQ, MaterializedRollups, src)
  private lazy val quantile = served("quantile_a",
    () => MaterializedQuantiles.enable(src, v("quantile_a")), quantileQ,
    MaterializedQuantiles, src)
  private lazy val join = served("join_a",
    () => MaterializedJoins.enable(cust, orders, v("join_a"), "c_id", "o_cust"),
    joinQ, MaterializedJoins, cust)
  private lazy val magg = served("magg",
    () => MaterializedMultiJoins.enable(Seq(cust, orders), v("magg"), edges,
      Seq("seg"), Seq("total")), maggQ, MaterializedMultiJoins, orders)
  private lazy val mndv = served("mndv",
    () => MaterializedMultiJoins.enableNdv(Seq(cust, orders), v("mndv"), edges,
      Seq("seg"), "o_id"), mndvQ, MaterializedMultiJoins, orders)
  private lazy val mquantile = served("mquantile",
    () => MaterializedMultiJoins.enableQuantile(Seq(cust, orders), v("mquantile"),
      edges, Seq("seg"), "total"), mquantileQ, MaterializedMultiJoins, orders)
  private lazy val kinds = Seq(rollup, ndv, quantile, join, magg, mndv, mquantile)

  /** Registrations and probe-cache entries that still name `view`. */
  private def leftovers(view: String): Seq[String] =
    MaterializedViews.all.map(_.viewRoot).filter(_.contains(view)).toSeq ++
      MaterializedViews.probes.keySet.asScala.filter(_.contains(view))

  private def unregisterAll(): Unit =
    (kinds.map(_.view) ++ Seq("rollup_b", "rollup_lag", "quantile_b",
      "quantile_lag", "join_b", "join_lag", "tree3").map(v))
      .foreach(MaterializedViews.disableView)

  test("every unregister path removes the registration and its probe entry") {
    val paths: Seq[(String, Served => Unit)] = Seq(
      "disable" -> (s => s.facade.disable(s.source)),
      "disableView(file:)" -> (s => s.facade.disableView("file:" + s.view)),
      "clear" -> (s => s.facade.clear()))
    unregisterAll()
    for (s <- kinds; (how, unregister) <- paths) {
      s.enable()
      assert(s.serves, s"${s.name}: the fixture query must serve from its view")
      assert(leftovers(s.view).nonEmpty, s"${s.name}: serving left no probe entry")
      unregister(s)
      assert(leftovers(s.view).isEmpty,
        s"${s.name} after $how: left behind ${leftovers(s.view).mkString(", ")}")
      assert(!PlanProbe.scansAny(s.query(), s.view), s"${s.name} after $how: still serves")
    }
  }

  test("a second registration at a slot replaces the first, stale opt-in included") {
    unregisterAll()
    // (enable first with the stale opt-in, enable second, listed view roots)
    val slots: Seq[(String, (String, Boolean) => Unit, () => Iterable[String], () => DataFrame)] = Seq(
      ("rollup", (view, stale) => MaterializedRollups.enable(src, view, serveStale = stale),
        () => MaterializedRollups.all.values, rollupQ),
      ("quantile", (view, stale) => MaterializedQuantiles.enable(src, view, serveStale = stale),
        () => MaterializedQuantiles.all.values.map(_.viewRoot), quantileQ),
      ("join", (view, stale) => MaterializedJoins.enable(cust, orders, view, "c_id", "o_cust",
        serveStale = stale), () => MaterializedJoins.all.values.map(_.viewRoot), joinQ))
    for ((kind, enable, listed, query) <- slots) {
      val (first, second, lag) = (v(s"${kind}_a"), v(s"${kind}_b"), v(s"${kind}_lag"))
      enable(first, true)
      enable(second, false)
      assert(listed().filter(_.startsWith(root)).toSet == Set(second), kind)
      assert(PlanProbe.scansOnly(query(), second), s"$kind: the second view must serve")
      // a lagging second view without its own opt-in declines…
      enable(first, true)
      enable(lag, false)
      assert(listed().filter(_.startsWith(root)).toSet == Set(lag), kind)
      assert(!PlanProbe.scansAny(query(), lag),
        s"$kind: the replaced view's stale opt-in carried over")
      // …and with it, serves compensated (so the decline above is the opt-in's)
      enable(lag, true)
      assert(PlanProbe.scansAny(query(), lag), s"$kind: stale opt-in must serve")
      unregisterAll()
    }
  }

  test("each facade's clear and disable leave the other kinds serving") {
    val tree3 = served("tree3",
      () => MaterializedMultiJoins.enable(Seq(cust, orders, segs), v("tree3"), edges3,
        Seq("region"), Seq("total")), tree3Q, MaterializedMultiJoins, cust)
    // magg and mndv again, through the two-table facade
    val aggJoin = magg.copy(enable = () => MaterializedAggJoins.enable(cust, orders,
      v("magg"), "c_id", "o_cust", Seq("seg"), Seq("total")), facade = MaterializedAggJoins)
    val ndvJoin = mndv.copy(enable = () => MaterializedAggJoins.enableNdv(cust, orders,
      v("mndv"), "c_id", "o_cust", Seq("seg"), "o_id"), facade = MaterializedAggJoins)
    val all = Seq(rollup, ndv, quantile, join, aggJoin, ndvJoin, mquantile, tree3)
    val facades: Seq[(String, MaterializedViews.Facade, Set[String], String)] = Seq(
      ("Rollups", MaterializedRollups, Set("rollup_a", "ndv"), src),
      ("Quantiles", MaterializedQuantiles, Set("quantile_a"), src),
      ("Joins", MaterializedJoins, Set("join_a"), cust),
      ("MultiJoins", MaterializedMultiJoins, Set("magg", "mndv", "mquantile", "tree3"), cust),
      ("AggJoins", MaterializedAggJoins, Set("magg", "mndv"), cust))
    for ((name, facade, owned, source) <- facades;
         (how, unregister) <- Seq[(String, () => Unit)](
           "clear" -> (() => facade.clear()), "disable" -> (() => facade.disable(source)))) {
      unregisterAll()
      all.foreach(_.enable())
      unregister()
      all.foreach { s =>
        if (owned(s.name))
          assert(!PlanProbe.scansAny(s.query(), s.view), s"$name.$how kept ${s.name}")
        else assert(s.serves, s"$name.$how unplugged ${s.name}")
      }
    }
    unregisterAll()
  }
}

object ViewRegistrySpec {

  /** One served view: how to register it, the query it answers, the
    * facade that owns it, and a source root it reads. */
  final case class Served(name: String, view: String, enable: () => Unit,
                          query: () => DataFrame, facade: MaterializedViews.Facade,
                          source: String) {
    def serves: Boolean = PlanProbe.scansOnly(query(), view)
  }
}
