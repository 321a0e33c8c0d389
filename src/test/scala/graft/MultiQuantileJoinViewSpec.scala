package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{MultiAggJoinView, MultiQuantileJoinView, SnapshotStore}
import graft.sources.MultiAggJoinView.Edge

/** Quantile-over-N-way-join contract: after ANY in-envelope commit
  * sequence — fact appends, snowflake-leaf appends, and MIXED gaps where
  * one table appends while another churns — the estimates equal the same
  * fixed-bin interpolation computed FROM SCRATCH over the current join
  * tree under the SAME frozen edges (signed bin counts retract, so every
  * telescoped term is pure arithmetic: ONE stamped append per refresh,
  * never a dirty-group recompute); an envelope-escaping leg triggers ONE
  * rebuild that refreezes with the margin doubled; stale compensation is
  * sound over churn gaps too and declines on escape; a freeze over zero
  * non-null values is refused. */
class MultiQuantileJoinViewSpec extends SparkSpec {

  // T0 fact(o_id, o_cust, total) ⋈ T1 customer(c_id, nat) ⋈ T2
  // nation(n_id, n_name) — a snowflake: nation hangs off customer
  private val edges = Seq(
    Edge(0, Seq("o_cust"), Seq("c_id")),
    Edge(1, Seq("nat"), Seq("n_id")))
  private val groups = Seq("n_name")

  private def factDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 40, ((i * 37) % 1000).toDouble))
      .toDF("o_id", "o_cust", "total")
  }

  private def custDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i % 5)).toDF("c_id", "nat")
  }

  private def nationDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"nation$i")).toDF("n_id", "n_name")
  }

  private def withRoots(f: (IndexedSeq[String], String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("mqjv_spec").toString
    try f(IndexedSeq(s"$root/F", s"$root/C", s"$root/N"), s"$root/view")
    finally SnapshotStore.deleteTree(root)
  }

  private def refresh(roots: Seq[String], v: String): Int =
    MultiQuantileJoinView.refresh(spark, roots, v, edges, groups, "total")

  private val phis = Seq(0.5, 0.9)

  private def estimates(v: String): Set[(String, Double, Double)] =
    MultiQuantileJoinView.quantiles(spark, v, phis).collect()
      .map(x => (x.getAs[String]("n_name"), x.getAs[Double]("phi"),
        x.getAs[Double]("est"))).toSet

  /** The same fixed-bin interpolation computed from scratch over the
    * CURRENT 3-way join under the view's CURRENT frozen edges. */
  private def truth(roots: Seq[String], v: String): Set[(String, Double, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val ed = MultiQuantileJoinView.edgesFor(spark, v).head()
    val (lo, w, bins) = (ed.getAs[Double]("lo"), ed.getAs[Double]("w"),
      ed.getAs[Int]("bins"))
    val joined = currentJoin(roots)
    val counts = joined
      .where(col("total").isNotNull)
      .select(col("n_name"),
        least(lit(bins - 1), greatest(lit(0),
          floor((col("total") - lit(lo)) / lit(w)).cast("int"))).as("bin"))
      .groupBy("n_name", "bin").agg(count(lit(1)).as("cnt"))
    val cum = counts
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("n_name").orderBy("bin")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("n_name")))
    cum.select(col("*"), explode(array(phis.map(lit(_)): _*)).as("phi"))
      .withColumn("t", col("phi") * col("n").cast("double"))
      .where((col("cum").cast("double") >= col("t") &&
          (col("cum") - col("cnt")).cast("double") < col("t")) ||
        (col("t") === 0.0 && col("cum") === col("cnt")))
      .select(col("n_name"), col("phi"),
        (lit(lo) + lit(w) * col("bin") +
          lit(w) * ((col("t") - (col("cum") - col("cnt")).cast("double")) /
            col("cnt").cast("double"))).as("est"))
      .collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2))).toSet
  }

  private def currentJoin(roots: Seq[String]): DataFrame = {
    val f = SnapshotStore.read(spark, roots(0))
    val c = SnapshotStore.read(spark, roots(1))
    val n = SnapshotStore.read(spark, roots(2))
    f.join(c, f("o_cust") === c("c_id"))
      .join(n, c("nat") === n("n_id"))
  }

  test("cascade: broadcastable hops read whole, threshold -1 probes each; both == from-scratch binning") {
    // net (n_name, bin, cnt) counts: the stored signed partials summed,
    // against the current five-way join binned under the view's edges
    def stored(v: String): Set[(String, Int, Long)] =
      SnapshotStore.read(spark, v).groupBy("n_name", "bin")
        .agg(sum("cnt").as("cnt")).where(col("cnt") =!= 0).collect()
        .map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSet
    def binned(roots: IndexedSeq[String], v: String): Set[(String, Int, Long)] = {
      val ed = MultiQuantileJoinView.edgesFor(spark, v).head()
      val (lo, w, bins) = (ed.getAs[Double]("lo"), ed.getAs[Double]("w"),
        ed.getAs[Int]("bins"))
      JoinTreeFixture.joined(spark, roots).where(col("qty").isNotNull)
        .select(col("n_name"), least(lit(bins - 1), greatest(lit(0),
          floor((col("qty") - lit(lo)) / lit(w)).cast("int"))).as("bin"))
        .groupBy("n_name", "bin").agg(count(lit(1)).as("cnt")).collect()
        .map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSet
    }
    JoinTreeFixture.bothPaths(spark, "mqjv_paths") { (roots, v) =>
      MultiQuantileJoinView.refresh(spark, roots, v, JoinTreeFixture.edges,
        Seq("n_name"), "qty")
    } { (roots, v) => assert(stored(v) == binned(roots, v) && stored(v).nonEmpty) }
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  test("telescoped signed bins == from-scratch binning through fact deltas, leaf appends, and a MIXED gap") {
    withRoots { (roots, v) =>
      SnapshotStore.append(factDF(0L to 300L: _*), roots(0))
      SnapshotStore.append(custDF(0L to 39L: _*), roots(1))
      // nations 0..2 only: customers with nat 3-4 stand unmatched
      SnapshotStore.append(nationDF(0L, 1L, 2L), roots(2))
      refresh(roots, v)
      assert(estimates(v) == truth(roots, v) && estimates(v).nonEmpty)

      // fact append: the single positive telescoped term, O(Δ)
      SnapshotStore.append(factDF(301L to 500L: _*), roots(0))
      refresh(roots, v)
      assert(estimates(v) == truth(roots, v) && lastOp(v) == "append")

      // snowflake-LEAF append: previously-unmatched customers join in
      SnapshotStore.append(nationDF(3L, 4L), roots(2))
      refresh(roots, v)
      assert(estimates(v) == truth(roots, v) && lastOp(v) == "append")

      // MIXED gap: the fact APPENDS while the mid dim CHURNS (a
      // group-moving nat rewrite) — append term + ± churn legs fold
      // into ONE stamped signed append (bins retract; no recompute)
      SnapshotStore.append(factDF(501L to 620L: _*), roots(0))
      SnapshotStore.upsert(spark,
        custDF(0L, 7L, 14L).withColumn("nat", lit(1L)), roots(1),
        Seq("c_id"))
      refresh(roots, v)
      assert(lastOp(v) == "append",
        "an in-envelope mixed gap must stay ONE signed-partial append")
      assert(estimates(v) == truth(roots, v))

      // fact churn: deletes retract by arithmetic
      SnapshotStore.deleteWhere(spark, roots(0), col("o_id") % 4 === 0)
      refresh(roots, v)
      assert(lastOp(v) == "append" && estimates(v) == truth(roots, v))

      // accuracy: every estimate within 2·w of the exact percentile
      val w = MultiQuantileJoinView.edgesFor(spark, v).head()
        .getAs[Double]("w")
      val exact = currentJoin(roots)
        .groupBy("n_name")
        .agg(expr("percentile(total, 0.5)").as("p50"),
          expr("percentile(total, 0.9)").as("p90"))
        .collect().map(x => x.getString(0) ->
          (x.getDouble(1), x.getDouble(2))).toMap
      estimates(v).foreach { case (nm, phi, est) =>
        val ex = if (phi == 0.5) exact(nm)._1 else exact(nm)._2
        assert(math.abs(est - ex) <= 2.0 * w,
          s"estimate $est for ($nm, $phi) outside 2w=${2 * w} of exact $ex")
      }

      // compact folds signed residue; content unchanged; replay no-op
      val content = estimates(v)
      MultiQuantileJoinView.compact(spark, v)
      assert(estimates(v) == content)
      val before = SnapshotStore.currentVersion(v)
      refresh(roots, v)
      assert(SnapshotStore.currentVersion(v) == before)
    }
  }

  test("stale compensation is sound over APPEND and MIXED CHURN gaps; escape declines; freeze refuses all-null values") {
    withRoots { (roots, v) =>
      SnapshotStore.append(factDF(0L to 300L: _*), roots(0))
      SnapshotStore.append(custDF(0L to 39L: _*), roots(1))
      SnapshotStore.append(nationDF(0L to 4L: _*), roots(2))
      refresh(roots, v)
      def compensated(): Option[Set[(String, Double, Double)]] =
        MultiQuantileJoinView.compensatedQuantiles(spark, roots, v,
          edges, groups, "total", phis)
          .map(_.collect().map(x => (x.getAs[String]("n_name"),
            x.getAs[Double]("phi"), x.getAs[Double]("est"))).toSet)

      // APPEND gap, no refresh: compensated == refresh-then-serve
      SnapshotStore.append(factDF(301L to 420L: _*), roots(0))
      val compAppend = compensated()
      assert(compAppend.nonEmpty, "append gap must compensate")
      refresh(roots, v)
      assert(compAppend.get == estimates(v))

      // MIXED gap (fact delete + group-moving dim upsert): signed
      // counts retract, so compensation stays sound
      SnapshotStore.deleteWhere(spark, roots(0), col("o_id") % 6 === 0)
      SnapshotStore.upsert(spark,
        custDF(1L, 4L).withColumn("nat", lit(0L)), roots(1), Seq("c_id"))
      val compChurn = compensated()
      assert(compChurn.nonEmpty, "churn gap must compensate (signed counts)")
      refresh(roots, v)
      assert(compChurn.get == estimates(v))

      // an ESCAPING gap declines (compensation would change the freeze)
      val s = spark
      import s.implicits._
      SnapshotStore.append(
        Seq((9100L, 5L, 5.0e6)).toDF("o_id", "o_cust", "total"), roots(0))
      assert(compensated().isEmpty,
        "an envelope-escaping gap must DECLINE compensation")

      // …and the refresh pays ONE refreeze with the margin doubled
      refresh(roots, v)
      assert(lastOp(v) == "compact")
      assert(MultiQuantileJoinView.edgesFor(spark, v).head()
        .getAs[Double]("margin") ==
        2.0 * MultiQuantileJoinView.DefaultMargin)
      assert(estimates(v) == truth(roots, v))

      // a freeze over ZERO non-null values is refused loudly
      val root2 = java.nio.file.Files.createTempDirectory("mqjv_null").toString
      try {
        val r2 = IndexedSeq(s"$root2/F", s"$root2/C", s"$root2/N")
        SnapshotStore.append(
          Seq((1L, 1L)).toDF("o_id", "o_cust")
            .withColumn("total", lit(null).cast("double")), r2(0))
        SnapshotStore.append(custDF(1L), r2(1))
        SnapshotStore.append(nationDF(0L to 4L: _*), r2(2))
        val ex = intercept[IllegalArgumentException] {
          MultiQuantileJoinView.refresh(spark, r2, s"$root2/view", edges,
            groups, "total")
        }
        assert(ex.getMessage.contains("no non-null"))
      } finally SnapshotStore.deleteTree(root2)
    }
  }

  test("compact drops a crashed rebuild's orphan edges instead of publishing them") {
    withRoots { (roots, v) =>
      SnapshotStore.append(factDF(0L to 300L: _*), roots(0))
      SnapshotStore.append(custDF(0L to 39L: _*), roots(1))
      SnapshotStore.append(nationDF(0L to 4L: _*), roots(2))
      refresh(roots, v)
      val before = estimates(v)
      // a rebuild that crashed between its sidecar write and its publish:
      // a different freeze keyed by the version the publish would create
      val orphan = s"$v/_jedges/v${SnapshotStore.currentVersion(v) + 1}"
      MultiQuantileJoinView.edgesFor(spark, v)
        .withColumn("lo", col("lo") - lit(123.0))
        .withColumn("w", col("w") * lit(3.0))
        .coalesce(1).write.parquet(orphan)
      MultiQuantileJoinView.compact(spark, v)
      assert(lastOp(v) == "compact")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphan)),
        "compact must drop the orphan freeze before it publishes")
      assert(estimates(v) == before)
    }
  }

  test("the refreshed multiway stamp advances the packed N-way cursor (replay no-op per source)") {
    withRoots { (roots, v) =>
      SnapshotStore.append(factDF(0L to 100L: _*), roots(0))
      SnapshotStore.append(custDF(0L to 39L: _*), roots(1))
      SnapshotStore.append(nationDF(0L to 4L: _*), roots(2))
      refresh(roots, v)
      val c1 = MultiAggJoinView.cursors(v, 3)
      assert(c1 == Seq(1, 1, 1))
      SnapshotStore.append(factDF(101L to 150L: _*), roots(0))
      refresh(roots, v)
      assert(MultiAggJoinView.cursors(v, 3) == Seq(2, 1, 1))
    }
  }
}
