package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.MaterializedAggJoins
import graft.sources.{AggJoinView, JoinView, SnapshotStore}

/** Aggregate-over-join view contract: after ANY commit sequence on
  * either source, the merged partials equal the from-scratch GROUP BY
  * over the join; churn maintains by pure arithmetic (an APPEND, never
  * a rewrite); and the serving rewrite fires exactly on the registered
  * shape. */
class AggJoinViewSpec extends SparkSpec {

  private def ordersDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    // (key, group-ish status, measure)
    ids.map(i => (i, s"st${i % 2}", i * 10.0)).toDF("o_id", "status", "total")
  }

  private def custDF(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, if (i % 5 == 0) null else s"seg${i % 3}"))
      .toDF("c_id", "seg")
  }

  private def withRoots(f: (String, String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("ajv_spec").toString
    val l = s"$root/L"
    try f(l, s"$root/R", s"$root/view")
    finally { MaterializedAggJoins.disable(l); SnapshotStore.deleteTree(root) }
  }

  private def refresh(l: String, r: String, v: String): Int =
    AggJoinView.refresh(spark, l, r, v, "c_id", "o_id",
      Seq("seg", "status"), Seq("total"))

  private def viewRows(v: String): Set[(String, String, Long, String)] =
    AggJoinView.read(spark, v).collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_total"))
          .map(_.stripTrailingZeros.toPlainString).orNull))
      .toSet

  private def truth(l: String, r: String): Set[(String, String, Long, String)] = {
    val lf = SnapshotStore.read(spark, l)
    val rf = SnapshotStore.read(spark, r)
    lf.join(rf, lf("c_id") === rf("o_id"))
      .groupBy("seg", "status")
      .agg(count(lit(1)).as("cnt"),
        sum(col("total").cast("decimal(30,2)")).cast("decimal(30,2)").as("sum_total"))
      .collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_total"))
          .map(_.stripTrailingZeros.toPlainString).orNull))
      .toSet
  }

  private def lastOp(v: String): String =
    SnapshotStore.manifestOp(v, SnapshotStore.currentVersion(v)).getOrElse("?")

  test("bootstrap + left/right/both deltas equal the re-aggregation (null group keys included)") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 10L: _*), l) // ids %5==0 → null seg
      SnapshotStore.append(ordersDF(1, 2, 5, 11), r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && viewRows(v).nonEmpty)

      SnapshotStore.append(custDF(11, 12), l) // 11 now matches
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")

      SnapshotStore.append(ordersDF(3, 10, 12), r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")

      // both sides move before one refresh — ΔL⋈ΔR counted exactly once
      SnapshotStore.append(custDF(20), l)
      SnapshotStore.append(ordersDF(20, 4), r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")

      // no-change refresh is a no-op
      val before = SnapshotStore.currentVersion(v)
      refresh(l, r, v)
      assert(SnapshotStore.currentVersion(v) == before)
    }
  }

  test("churn retracts by arithmetic: an APPEND of signed partials, never a rewrite") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 12L: _*), l)
      SnapshotStore.append(ordersDF(1L to 12L: _*), r)
      refresh(l, r, v)

      // delete some orders (right churn): their groups' counts shrink
      SnapshotStore.deleteWhere(spark, r, col("o_id") % 4 === 0)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append",
        "right churn must publish as a signed-partial APPEND")

      // upsert changes a measure value in place (delete+insert same key):
      // net cnt 0, net sum moves by the difference
      val s = spark
      import s.implicits._
      SnapshotStore.upsert(spark,
        Seq((1L, "st1", 999.0)).toDF("o_id", "status", "total"), r, Seq("o_id"))
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")

      // left churn that empties a group entirely: cnt reaches 0 and read
      // drops it (seg2 customers with surviving orders: 2, 5→null, 8, 11)
      SnapshotStore.deleteWhere(spark, l, col("seg") === "seg2")
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "append")
      assert(!viewRows(v).exists(_._1 == "seg2"), "emptied group must vanish")

      // compact folds the signed residue physically, content unchanged
      val want = viewRows(v)
      AggJoinView.compact(spark, v)
      assert(viewRows(v) == want && lastOp(v) == "compact")
      val partials = SnapshotStore.read(spark, v)
      assert(partials.count() == want.size, "compact must fold to one row/group")
      assert(partials.where(col("cnt") <= 0).isEmpty,
        "compact must drop retraction residue")
    }
  }

  test("a source compaction forces one full rebuild; spec mismatch refuses") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 8L: _*), l)
      SnapshotStore.append(ordersDF(1L to 8L: _*), r)
      refresh(l, r, v)
      SnapshotStore.compact(spark, r)
      refresh(l, r, v)
      assert(viewRows(v) == truth(l, r) && lastOp(v) == "compact",
        "post-source-compaction refresh must rebuild")
      // a refresh under a different spec must refuse loudly
      SnapshotStore.append(ordersDF(9), r)
      val e = intercept[IllegalArgumentException] {
        AggJoinView.refresh(spark, l, r, v, "c_id", "o_id",
          Seq("seg"), Seq("total"))
      }
      assert(e.getMessage.contains("spec"))
    }
  }

  test("ambiguous or missing view columns refuse at the cause") {
    withRoots { (l, r, v) =>
      val s = spark
      import s.implicits._
      // both sides carry 'status' → ambiguous group column
      SnapshotStore.append(
        Seq((1L, "x")).toDF("c_id", "status"), l)
      SnapshotStore.append(ordersDF(1), r)
      val e = intercept[IllegalArgumentException] {
        AggJoinView.refresh(spark, l, r, v, "c_id", "o_id",
          Seq("status"), Seq("total"))
      }
      assert(e.getMessage.contains("exactly one join table"))
    }
  }

  test("rewrite: serves the exact shape, declines non-grouping filters, min/max, staleness") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 25L: _*), r)
      refresh(l, r, v)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      def userAgg(aggs: Seq[org.apache.spark.sql.Column],
                  lFilter: Option[org.apache.spark.sql.Column] = None) = {
        val lf0 = SnapshotStore.read(spark, l)
        val lf = lFilter.map(lf0.where).getOrElse(lf0)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status").agg(aggs.head, aggs.tail: _*)
      }
      def scansView(df: DataFrame) = graft.plans.PlanProbe.scansOnly(df, "/view")

      val exact = userAgg(Seq(count(lit(1)).as("n"),
        sum(col("total").cast("decimal(18,2)")).as("t")))
      assert(scansView(exact), "exact MV shape did not rewrite")
      // values equal the declined path's
      val got = exact.collect().map(x => (x.getString(0), x.getString(1),
        x.getLong(2), x.getDecimal(3))).toSet
      MaterializedAggJoins.disable(l)
      val want = userAgg(Seq(count(lit(1)).as("n"),
        sum(col("total").cast("decimal(18,2)")).as("t")))
        .collect().map(x => (x.getString(0), x.getString(1),
          x.getLong(2), x.getDecimal(3))).toSet
      assert(got == want && want.nonEmpty)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))

      // a grouping-column filter rides onto the view
      val filtered = userAgg(Seq(count(lit(1)).as("n")),
        Some(col("seg") === "seg1"))
      assert(scansView(filtered), "grouping-column filter must ride")

      // a NON-grouping filter (on the measure side) declines
      val rowFiltered = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r).where(col("total") > 50.0)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status").agg(count(lit(1)).as("n"))
      }
      assert(!scansView(rowFiltered), "non-grouping filter must DECLINE")

      // min/max is not a stored partial — declines, never approximates
      val withMax = userAgg(Seq(count(lit(1)).as("n"), max(col("total")).as("m")))
      assert(!scansView(withMax), "max() must DECLINE")

      // a raw double sum (no decimal cast) declines
      val rawSum = userAgg(Seq(sum(col("total")).as("t")))
      assert(!scansView(rawSum), "raw double sum must DECLINE")

      // staleness declines; refresh re-serves
      SnapshotStore.append(ordersDF(26), r)
      assert(!scansView(userAgg(Seq(count(lit(1)).as("n")))),
        "STALE view served — correctness bug")
      refresh(l, r, v)
      assert(scansView(userAgg(Seq(count(lit(1)).as("n")))))

      // grouping by the RIGHT key serves from the paired left key
      MaterializedAggJoins.disable(l)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("c_id", "status"), Seq("total"))
      // (view above is seg/status-shaped; registration alone must not
      // serve a shape the store doesn't carry — the read side resolves
      // by name and c_id is absent, so the rewrite declines on dataType/
      // name mismatch rather than serving wrong data)
      val byKey = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy(rf("o_id"), col("status")).agg(count(lit(1)).as("n"))
      }
      assert(!scansView(byKey), "mis-shaped store must not serve")
    }
  }

  // ---- extents (min/max) views ----

  private def custNN(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"seg${i % 3}")).toDF("c_id", "seg")
  }

  private def refreshX(l: String, r: String, v: String): Int =
    AggJoinView.refreshKeys(spark, l, r, v, Seq("c_id"), Seq("o_id"),
      Seq("seg", "status"), Seq("total"), extents = true)

  private def viewX(v: String): Set[(String, String, Long, String, Double, Double)] =
    AggJoinView.read(spark, v).collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("sum_total"))
          .map(_.stripTrailingZeros.toPlainString).orNull,
        x.getAs[Double]("min_total"), x.getAs[Double]("max_total")))
      .toSet

  private def truthX(l: String, r: String): Set[(String, String, Long, String, Double, Double)] = {
    val lf = SnapshotStore.read(spark, l)
    val rf = SnapshotStore.read(spark, r)
    lf.join(rf, lf("c_id") === rf("o_id"))
      .groupBy("seg", "status")
      .agg(count(lit(1)).as("cnt"),
        sum(col("total").cast("decimal(30,2)")).cast("decimal(30,2)").as("st"),
        min(col("total")).as("mn"), max(col("total")).as("mx"))
      .collect()
      .map(x => (x.getAs[String]("seg"), x.getAs[String]("status"),
        x.getAs[Long]("cnt"),
        Option(x.getAs[java.math.BigDecimal]("st"))
          .map(_.stripTrailingZeros.toPlainString).orNull,
        x.getAs[Double]("mn"), x.getAs[Double]("mx")))
      .toSet
  }

  test("extents lifecycle: appends fold, extremum churn recomputes dirty groups whole, tombstone + revival") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custNN(1L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 20L: _*), r)
      refreshX(l, r, v)
      assert(viewX(v) == truthX(l, r))
      // append-only delta keeps extents on the O(Δ) path
      SnapshotStore.append(ordersDF(21L to 25L: _*), r)
      refreshX(l, r, v)
      assert(lastOp(v) == "append")
      assert(viewX(v) == truthX(l, r))
      // churn deleting a group's MAXIMUM — arithmetic cannot un-derive
      // an extremum; the dirty groups must recompute WHOLE and replace
      // by key (an upsert, then the stamping append)
      SnapshotStore.deleteWhere(spark, r, col("total") === 190.0)
      refreshX(l, r, v)
      assert(lastOp(v) == "upsert",
        "extents churn must replace dirty groups in ONE stamped upsert, " +
          "never rewrite the view")
      assert(viewX(v) == truthX(l, r))
      // emptying every (seg, st1) group publishes TOMBSTONES...
      SnapshotStore.deleteWhere(spark, r, col("o_id") % 2 === 1)
      refreshX(l, r, v)
      assert(viewX(v) == truthX(l, r))
      assert(!viewX(v).exists(_._2 == "st1"))
      // ...and a revival append merges past them (min/max skip the
      // tombstone's nulls; cnt resumes from the arithmetic zero)
      SnapshotStore.append(ordersDF(17L), r)
      refreshX(l, r, v)
      assert(viewX(v) == truthX(l, r))
      assert(viewX(v).exists(_._2 == "st1"))
      // compact folds the signed + tombstone residue physically
      AggJoinView.compact(spark, v)
      assert(viewX(v) == truthX(l, r))
    }
  }

  test("a fully-retracted group re-arriving with all-NULL measures serves sum = NULL, not 0") {
    withRoots { (l, r, v) =>
      val s = spark
      import s.implicits._
      def ord(rows: (Long, String, Option[Double])*) =
        rows.toDF("o_id", "status", "total")
      SnapshotStore.append(custNN(1L to 6L: _*), l)
      SnapshotStore.append(ord((1L, "st0", Some(10.0))), r)
      def refresh(): Unit = AggJoinView.refreshKeys(spark, l, r, v,
        Seq("c_id"), Seq("o_id"), Seq("seg", "status"), Seq("total"))
      refresh()
      // retract the group's only row (signed partials cancel to 0)…
      SnapshotStore.deleteWhere(spark, r, col("o_id") === 1L)
      refresh()
      // …then re-arrive with ONLY NULL measures: base-plan sum over an
      // all-NULL group is NULL; without the nn partial the stale 0-sum
      // residue would serve 0.00 instead
      SnapshotStore.append(ord((1L, "st0", None), (4L, "st0", None)), r)
      refresh()
      val row = AggJoinView.read(spark, v)
        .where(col("seg") === "seg1" && col("status") === "st0")
        .collect()
      assert(row.length == 1 && row.head.getAs[Long]("cnt") == 2L &&
        row.head.getAs[Any]("sum_total") == null,
        s"all-NULL re-arrival must serve sum NULL: ${row.mkString}")
      assert(viewRows(v) == truth(l, r),
        "view must equal the re-aggregation including the NULL-sum group")
    }
  }

  test("extents: null-keyed dirty group rebuilds; min/max serve from the extents view") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 30L: _*), l) // %5 == 0 → null seg
      SnapshotStore.append(ordersDF(1L to 25L: _*), r)
      refreshX(l, r, v)
      // o_id 20 joins c_id 20 (null seg): the dirty group is null-keyed,
      // the keyed replace cannot target it — one full rebuild instead
      SnapshotStore.deleteWhere(spark, r, col("o_id") === 20L)
      refreshX(l, r, v)
      assert(lastOp(v) == "compact",
        "null-keyed dirty group must take the full-rebuild branch")
      assert(viewX(v) == truthX(l, r))
      // the rewrite serves min/max (+ count/sum) from the extents view
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      def q() = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status")
          .agg(count(lit(1)).as("n"), min(col("total")).as("mn"),
            max(col("total")).as("mx"))
      }
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "min/max over an extents view did not serve")
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3),
          x.getDouble(4))).toSet
      val got = rows(served)
      MaterializedAggJoins.disable(l)
      assert(got == rows(q()) && got.nonEmpty)
    }
  }

  test("rewrite: avg(decimal measure) serves BIT-EQUAL as stored sum ÷ nn, NULL measures included") {
    withRoots { (l, r, v) =>
      val s = spark
      import s.implicits._
      SnapshotStore.append(custDF(1L to 30L: _*), l)
      SnapshotStore.append(ordersDF(1L to 25L: _*), r)
      // NULL measures: Average divides by the NON-null count, so a mixed
      // group (26 → (seg2, st0), which holds non-null totals) would be
      // silently mis-averaged by a sum ÷ cnt serve, and an all-NULL group
      // (27/28 → hand-set status stN, no non-null totals) must serve NULL
      SnapshotStore.append(
        Seq((26L, "st0", null: java.lang.Double),
          (27L, "stN", null: java.lang.Double),
          (28L, "stN", null: java.lang.Double))
          .toDF("o_id", "status", "total"), r)
      refresh(l, r, v)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      def q() = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status")
          .agg(avg(col("total").cast("decimal(18,2)")).as("a"),
            count(lit(1)).as("n"))
      }
      // BigDecimal equality checks value AND scale — a rounding or
      // result-type divergence from Average's own arithmetic fails here
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getDecimal(2), x.getLong(3))).toSet
      val served = q()
      assert(graft.plans.PlanProbe.scansOnly(served, "/view"),
        "avg(decimal) shape did not serve")
      val got = rows(served)
      MaterializedAggJoins.disable(l)
      assert(got == rows(q()) && got.nonEmpty,
        "served avg must be bit-equal to the declined plan")
      // a raw double avg (no decimal cast) still declines
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      val dbl = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status").agg(avg(col("total")).as("a"))
      }
      assert(!graft.plans.PlanProbe.scansOnly(dbl, "/view"),
        "raw double avg must DECLINE")
    }
  }

  test("stale serving: append-only gap folds Δ-join partials on the fly; churn declines") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 20L: _*), l)
      SnapshotStore.append(ordersDF(1L to 12L: _*), r)
      refresh(l, r, v)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"), serveStale = true)
      def userAgg() = {
        val lf = SnapshotStore.read(spark, l); val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status")
          .agg(count(lit(1)).as("n"),
            sum(col("total").cast("decimal(18,2)")).as("t"))
      }
      def scansView(df: org.apache.spark.sql.DataFrame) =
        graft.plans.PlanProbe.scansAny(df, "/view")
      assert(graft.plans.PlanProbe.scansOnly(userAgg(), "/view")) // fresh

      // append-only gap on BOTH sides, no refresh → compensated serve
      SnapshotStore.append(custDF(21L to 25L: _*), l)
      SnapshotStore.append(ordersDF(13L to 22L: _*), r)
      val stale = userAgg()
      assert(scansView(stale), "append-only stale gap must serve compensated")
      val got = stale.collect().map(x => (x.getString(0), x.getString(1),
        x.getLong(2), x.getDecimal(3))).toSet
      MaterializedAggJoins.disable(l)
      val want = userAgg().collect().map(x => (x.getString(0), x.getString(1),
        x.getLong(2), x.getDecimal(3))).toSet
      assert(got == want && want.nonEmpty,
        "compensated aggregate must equal the CURRENT base aggregate")

      // churned gap declines; refresh restores plain serving
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"), serveStale = true)
      SnapshotStore.deleteWhere(spark, r, col("o_id") === 3L)
      assert(!scansView(userAgg()),
        "churned gap served stale — retraction is not an insert-monotone merge")
      refresh(l, r, v)
      assert(graft.plans.PlanProbe.scansOnly(userAgg(), "/view"))

      // without the opt-in a stale gap declines
      MaterializedAggJoins.disable(l)
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      SnapshotStore.append(ordersDF(23L), r)
      assert(!scansView(userAgg()), "stale gap served without opt-in")
    }
  }

  test("rewrite: grouped-on right key normalizes onto its paired stored left key") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 20L: _*), l)
      SnapshotStore.append(ordersDF(1L to 15L: _*), r)
      AggJoinView.refresh(spark, l, r, v, "c_id", "o_id",
        Seq("c_id", "status"), Seq("total"))
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("c_id", "status"), Seq("total"))
      val lf = SnapshotStore.read(spark, l)
      val rf = SnapshotStore.read(spark, r)
      val q = lf.join(rf, lf("c_id") === rf("o_id"))
        .groupBy(rf("o_id"), col("status")).agg(count(lit(1)).as("n"))
      assert(graft.plans.PlanProbe.scansOnly(q, "/view"),
        "grouping by the right key must serve from the paired left key")
      val got = q.collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
      MaterializedAggJoins.disable(l)
      val want = {
        val lf2 = SnapshotStore.read(spark, l)
        val rf2 = SnapshotStore.read(spark, r)
        lf2.join(rf2, lf2("c_id") === rf2("o_id"))
          .groupBy(rf2("o_id"), col("status")).agg(count(lit(1)).as("n"))
          .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
      }
      assert(got == want && want.nonEmpty)
    }
  }

  test("two registrations over the SAME join with different groups coexist; each query lands on its own view") {
    withRoots { (l, r, v) =>
      val v2 = v.replace("/view", "/segonlyview")
      SnapshotStore.append(custDF(1L to 20L: _*), l)
      SnapshotStore.append(ordersDF(1L to 15L: _*), r)
      AggJoinView.refresh(spark, l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      AggJoinView.refresh(spark, l, r, v2, "c_id", "o_id",
        Seq("seg"), Seq("total"))
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"))
      MaterializedAggJoins.enable(l, r, v2, "c_id", "o_id",
        Seq("seg"), Seq("total"))
      def q(groups: String*) = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy(groups.map(col): _*)
          .agg(count(lit(1)).as("n"))
      }
      // groups pick the candidate — NOT an arbitrary first hit that then
      // vetoes the whole rewrite
      assert(graft.plans.PlanProbe.scansOnly(q("seg", "status"), "/view") &&
        !graft.plans.PlanProbe.scansAny(q("seg", "status"), "/segonlyview"),
        "the two-group query must land on the (seg, status) view")
      assert(graft.plans.PlanProbe.scansOnly(q("seg"), "/segonlyview"),
        "the one-group query must land on the (seg) view")
    }
  }

  test("a store in the old two-table layout: refresh refuses naming it; serving declines to the base plan") {
    withRoots { (l, r, v) =>
      SnapshotStore.append(custDF(1L to 20L: _*), l)
      SnapshotStore.append(ordersDF(1L to 15L: _*), r)
      def joinAgg(): DataFrame = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status")
          .agg(count(lit(1)).as("n"),
            sum(col("total").cast("decimal(18,2)")).as("t"))
      }
      def rows(df: DataFrame) = df.collect().map(x =>
        (x.getString(0), x.getString(1), x.getLong(2), x.getDecimal(3))).toSet
      val want = rows(joinAgg())
      // the layout an earlier build's two-table view wrote: an `_aggspec`
      // spec file and partials stamped with the base-10^6 cursor
      // lv * 10^6 + rv, here fresh at (1, 1)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(v))
      java.nio.file.Files.write(java.nio.file.Paths.get(v, "_aggspec"),
        "lk=c_id;rk=o_id;g=seg,status;m=total;p=2".getBytes("UTF-8"))
      val partials = {
        val lf = SnapshotStore.read(spark, l)
        val rf = SnapshotStore.read(spark, r)
        lf.join(rf, lf("c_id") === rf("o_id"))
          .groupBy("seg", "status")
          .agg(count(lit(1)).as("cnt"),
            sum(col("total").cast("decimal(30,2)")).cast("decimal(30,2)")
              .as("sum_total"),
            count(col("total")).as("nn_total"))
      }
      SnapshotStore.appendEpoch(partials, v, JoinView.packedCursor(1, 1))

      val e = intercept[IllegalArgumentException](refresh(l, r, v))
      assert(e.getMessage.contains("old two-table layout") &&
        e.getMessage.contains("_aggspec") && e.getMessage.contains("rebuild"),
        e.getMessage)
      // a registration over the old store, stale serving opted in, must
      // decline to the base plan and answer its rows
      MaterializedAggJoins.enable(l, r, v, "c_id", "o_id",
        Seq("seg", "status"), Seq("total"), serveStale = true)
      val q = joinAgg()
      assert(!graft.plans.PlanProbe.scansAny(q, "/view"),
        "an old-layout store must not serve")
      assert(rows(q) == want && want.nonEmpty)
    }
  }
}
