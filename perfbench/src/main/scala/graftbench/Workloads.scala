package graftbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.sources.{AggJoinView, MultiAggJoinView, QuantileView, RollupView, SnapshotStore}
import graft.streaming.{StreamOps, StreamReplay}

/** What a workload needs from the run: the session, the generated tables,
  * a private work directory, the workload seed and the recorder. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: File,
                     seed: Long, rec: Recorder)

/** One closed-loop workload. `setup` stages fixtures before timing starts;
  * `round` issues one round of operations through the recorder; `check`
  * runs the output checks after the timed phase, through the recorder. */
trait Workload {
  def setup(): Unit
  def round(i: Int): Unit
  def check(): Unit
  /** Workload-specific end-to-end metrics. */
  def metrics(t: MetricTable): Unit
  /** Workload-specific per-layer metrics (traced run), given the Spark
    * jobs the scheduler reported. */
  def layerMetrics(t: MetricTable, jobs: Seq[Job]): Unit
  /** Materialized* registrations this workload made (the leak guard's
    * allow-list). */
  def ownViewRoots: Set[String] = Set.empty
  /** Operation kinds that count as operations in `op_*` and `ops_per_s`. */
  def opKinds: Set[String]
  /** Undo the session state the workload set up. */
  def close(): Unit = ()
  /** Tail percentiles and sample counts of the reported latencies. */
  val detail = collection.mutable.LinkedHashMap.empty[String, String]
}

object Workloads {
  val Names: Seq[String] = Seq("trend_batch", "view_maintain")

  def apply(name: String, ctx: Ctx, golden: Option[File]): Workload = name match {
    case "trend_batch"   => new TrendBatch(ctx, golden)
    case "view_maintain" => new ViewMaintain(ctx)
    case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seeded shuffle for round `i`: the same (seed, round) gives the same order. */
  def order[A](xs: Seq[A], seed: Long, i: Int): Seq[A] =
    new Random(seed * 1000003L + i).shuffle(xs)

  /** Put `s` seconds-per-op samples as p50 and tail metrics, and record the
    * tail percentile and sample count in `detail`. */
  def putLatency(t: MetricTable, prefix: String, xs: Seq[Double],
                 detail: collection.mutable.Map[String, String]): Unit =
    if (xs.nonEmpty) {
      val (p, v) = Stats.tail(xs)
      t.put(s"${prefix}_p50_s", Stats.median(xs), "s")
      t.put(s"${prefix}_tail_s", v, "s")
      detail(s"${prefix}_tail_pct") = Json.num(p)
      detail(s"${prefix}_samples") = xs.size.toString
    }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def dirFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles()).toSeq.flatten.map(dirFiles).sum
}

/** Read-only trend analytics: each operation is one registry query forced
  * through the `noop` sink, in a seeded order per round. */
final class TrendBatch(ctx: Ctx, golden: Option[File]) extends Workload {
  import ctx._

  val queries: Seq[String] = TrendBatch.Queries
  private lazy val registry = SparkEntry.queries

  def opKinds: Set[String] = Set("query")

  def setup(): Unit = queries.foreach(q => require(registry.contains(q), s"no registry query $q"))

  def round(i: Int): Unit =
    Workloads.order(queries, seed, i).foreach { q =>
      rec.op("query", q) {
        rec.span(s"operators.$q") {
          val df = rec.span("plans.plan") {
            val d = registry(q)(spark, dataDir)
            if (rec.tracing) d.queryExecution.executedPlan
            d
          }
          Workloads.noop(df)
        }
        None
      }
    }

  /** Fingerprint of every query's result. */
  def fingerprints(): Seq[(String, String)] =
    queries.map(q => q -> Fingerprint.of(registry(q)(spark, dataDir)))

  /** Fingerprints of the seed's queries against the golden file. */
  def check(): Unit = {
    val expected = TrendBatch.readGolden(golden.getOrElse(
      throw new IllegalStateException("trend_batch needs a golden fingerprint file")))
    TrendBatch.checked(seed).foreach { q =>
      rec.check(s"fingerprint/$q") {
        val got = Fingerprint.of(registry(q)(spark, dataDir))
        expected.get(q) match {
          case None                => Some(s"no golden fingerprint for $q")
          case Some(e) if e != got => Some(s"$q fingerprint $got != golden $e")
          case Some(_)             => None
        }
      }
    }
  }

  def metrics(t: MetricTable): Unit = ()

  def layerMetrics(t: MetricTable, jobs: Seq[Job]): Unit =
    queries.foreach { q =>
      val xs = rec.samples.filter(s => s.kind == "query" && s.name == q).map(_.seconds).toSeq
      if (xs.nonEmpty) t.put(s"operators.${q}_s", Stats.median(xs), "s")
    }
}

object TrendBatch {
  /** Queries whose output a run checks (each check re-runs its query). */
  val CheckedPerRun = 3

  val Queries: Seq[String] = Seq(
    "a2_banded_extents", "a2_banded_extents_fused", "a1_argminmax",
    "a5_rolling_mean", "f1_decimate", "f1_decimate_faithful",
    "pipeline_cold_start", "a14_ewma_chunked", "a18_ohlc",
    "a20_cusum_chunked", "a25_corr_matrix", "a31_mad_outliers",
    "a33_top_movers", "a7_sessions", "q1_pricing", "q5_local_volume",
    "q9_product_profit")

  /** The queries seed `seed` checks: a rotation, so that any
    * ceil(17 / 3) = 6 consecutive seeds check every query. */
  def checked(seed: Long): Seq[String] =
    (0 until CheckedPerRun).map(j => Queries(Math.floorMod(seed * CheckedPerRun + j, Queries.size.toLong).toInt))

  def readGolden(f: File): Map[String, String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally src.close()
  }

  def writeGolden(f: File, fps: Seq[(String, String)]): Unit = {
    val body = "# query\tfingerprint (rows:hash1:hash2), see Fingerprint.scala\n" +
      fps.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Writes beside reads on SnapshotStore. Set-up loads the source stores
  * and bootstraps five maintained views over them. Each round then, in
  * order: appends a seeded delta slice to the series and lineitem stores;
  * reads every view stale (`compensatedRead` over the append-only gap);
  * commits a churn step (a seeded lineitem delete and supplier upsert);
  * refreshes every view; compacts one view; serves the source-shaped
  * aggregate of four views through the rewrite rules; and runs the
  * checkpointed Structured Streaming `ohlcReplay`, a stateful windowed
  * aggregation, so the streaming layer and its state store are measured
  * in the same loop. */
final class ViewMaintain(ctx: Ctx) extends Workload {
  import ctx._
  import ViewMaintain._

  private val root = new File(workDir, "vm")
  private def p(n: String) = new File(root, n).getPath
  val src = p("series")            // (metric, e, value): rollup + quantile source
  val lroot = p("lineitem")        // fact of the three join views
  val oroot = p("orders")
  val proot = p("part")
  val sroot = p("supplier")
  val nroot = p("nation")
  val views: Map[String, String] = Kinds.map(k => k -> p(s"mv_$k")).toMap

  val n2Edges = Seq(MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
  val n5Roots = Seq(lroot, proot, sroot, nroot, oroot)
  val n5Edges = Seq(
    MultiAggJoinView.Edge(0, Seq("l_partkey"), Seq("p_partkey")),
    MultiAggJoinView.Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
    MultiAggJoinView.Edge(2, Seq("s_nationkey"), Seq("n_nationkey")),
    MultiAggJoinView.Edge(0, Seq("l_orderkey"), Seq("o_orderkey")))
  val Phis = Seq(0.5, 0.9)

  def opKinds: Set[String] =
    Set("append", "upsert", "delete", "compact", "refresh", "serve", "replay")
  override def ownViewRoots: Set[String] = Served.map(views).toSet

  private var seriesAll: DataFrame = _
  private var lineAll: DataFrame = _
  private var servedAttempted = 0
  private var servedFromView = 0
  private val deltaOrder = new Random(seed).shuffle((0 until DeltaSlices).toList)
  private val bootstrapS = collection.mutable.Map.empty[String, Double]
  private val replay = new OhlcReplay(ctx)

  /** Delta slice of a row: a seeded hash bucket in [0, Slices). The base
    * load holds the buckets at or above DeltaSlices. */
  private def bucket(cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(Slices.toLong))

  def setup(): Unit = {
    seriesAll = Tables.metricSeries(spark, dataDir)
      .select(col("metric"), col("e"), col("value"), bucket(col("event_id")).as("__b"))
      .localCheckpoint(true)
    // a quarter of the fact universe, as graft's own 5-way lifecycle query sizes it
    lineAll = Tables.lineitem(spark, dataDir).where(col("l_orderkey") % FactShare === 0)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"),
        bucket(col("l_orderkey"), col("l_linenumber"), col("l_partkey")).as("__b"))
      .localCheckpoint(true)
    def base(df: DataFrame) = df.where(col("__b") >= DeltaSlices).drop("__b")
    SnapshotStore.append(base(seriesAll), src)
    SnapshotStore.append(base(lineAll), lroot)
    SnapshotStore.append(Tables.orders(spark, dataDir).select("o_orderkey", "o_orderpriority"), oroot)
    SnapshotStore.append(Tables.part(spark, dataDir).select("p_partkey", "p_brand"), proot)
    SnapshotStore.append(Tables.supplier(spark, dataDir).select("s_suppkey", "s_nationkey"), sroot)
    SnapshotStore.append(Tables.nation(spark, dataDir).select("n_nationkey", "n_name"), nroot)
    Kinds.foreach { k =>
      val t0 = System.nanoTime()
      refresh(k)
      bootstrapS(k) = (System.nanoTime() - t0) / 1e9
    }
    register()
    replay.setup()
  }

  /** Register the four served views with their serving registries. */
  private def register(): Unit = {
    graft.plans.MaterializedRollups.enable(src, views("rollup"))
    graft.plans.MaterializedAggJoins.enable(lroot, oroot, views("aggjoin2"),
      "l_orderkey", "o_orderkey", Seq("o_orderpriority"), Seq("l_extendedprice"))
    graft.plans.MaterializedMultiJoins.enable(n5Roots, views("multiagg_n5"), n5Edges,
      Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
    graft.plans.MaterializedQuantiles.enable(src, views("quantile"))
  }

  override def close(): Unit = { unregister(); replay.close() }

  private def unregister(): Unit = Served.map(views).foreach { v =>
    graft.plans.MaterializedRollups.disableView(v)
    graft.plans.MaterializedAggJoins.disableView(v)
    graft.plans.MaterializedMultiJoins.disable(v)
    graft.plans.MaterializedQuantiles.disableView(v)
  }

  private def refresh(kind: String): Unit = kind match {
    case "rollup"      => RollupView.refresh(spark, src, views(kind))
    case "aggjoin2"    => AggJoinView.refresh(spark, lroot, oroot, views(kind), "l_orderkey",
      "o_orderkey", Seq("o_orderpriority"), Seq("l_extendedprice"))
    case "multiagg_n2" => MultiAggJoinView.refresh(spark, Seq(lroot, oroot), views(kind),
      n2Edges, Seq("o_orderpriority"), Seq("l_extendedprice"))
    case "multiagg_n5" => MultiAggJoinView.refresh(spark, n5Roots, views(kind), n5Edges,
      Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
    case "quantile"    => QuantileView.refresh(spark, src, views(kind))
  }

  /** A view's answer while its sources are ahead of it; None when the view
    * declines compensation. */
  private def staleRead(kind: String): Option[DataFrame] = kind match {
    case "rollup"      => RollupView.compensatedRead(spark, src, views(kind))
    case "aggjoin2"    => AggJoinView.compensatedRead(spark, lroot, oroot, views(kind),
      Seq("l_orderkey"), Seq("o_orderkey"), Seq("o_orderpriority"), Seq("l_extendedprice"))
    case "multiagg_n2" => MultiAggJoinView.compensatedRead(spark, Seq(lroot, oroot),
      views(kind), n2Edges, Seq("o_orderpriority"), Seq("l_extendedprice"))
    case "multiagg_n5" => MultiAggJoinView.compensatedRead(spark, n5Roots, views(kind),
      n5Edges, Seq("n_name", "o_orderpriority"), Seq("l_extendedprice"))
    case "quantile"    => QuantileView.compensatedQuantiles(spark, src, views(kind), Phis)
  }

  private def compact(kind: String): Unit = kind match {
    case "rollup"   => RollupView.compact(spark, views(kind))
    case "aggjoin2" => AggJoinView.compact(spark, views(kind))
    case "quantile" => QuantileView.compact(spark, views(kind))
    case _          => MultiAggJoinView.compact(spark, views(kind))
  }

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** The view's stored answer in the shape of [[sourceQuery]]. */
  private def viewAnswer(kind: String): DataFrame = {
    val v = views(kind)
    kind match {
      case "rollup" => RollupView.read(spark, v)
        .select("metric", "day", "cnt", "vsum", "vmin", "vmax")
      case "aggjoin2" | "multiagg_n2" =>
        val r = if (kind == "aggjoin2") AggJoinView.read(spark, v) else MultiAggJoinView.read(spark, v)
        r.select(col("o_orderpriority"), col("cnt"), col("sum_l_extendedprice").as("msum"))
      case "multiagg_n5" => MultiAggJoinView.read(spark, v)
        .select(col("n_name"), col("o_orderpriority"), col("cnt"),
          col("sum_l_extendedprice").as("msum"))
      case "quantile" => QuantileView.quantiles(spark, v, Phis)
        .groupBy("metric", "bucket")
        .agg(first(when(col("phi") === 0.5, col("est")), ignoreNulls = true).as("p50"),
          first(when(col("phi") === 0.9, col("est")), ignoreNulls = true).as("p90"))
    }
  }

  /** The aggregate a user writes against the source roots; with the view
    * registered, the rewrite rules answer it from the view. */
  private def sourceQuery(kind: String): DataFrame = {
    def rd(r: String) = SnapshotStore.read(spark, r)
    kind match {
      case "rollup" =>
        rd(src).groupBy(col("metric"), expr("e div 86400").as("day"))
          .agg(count(lit(1)).as("cnt"), sum(dec("value")).as("vsum"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      case "aggjoin2" | "multiagg_n2" =>
        val l = rd(lroot); val o = rd(oroot)
        l.join(o, l("l_orderkey") === o("o_orderkey")).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum(dec("l_extendedprice")).as("msum"))
      case "multiagg_n5" =>
        val f = rd(lroot); val pp = rd(proot); val su = rd(sroot)
        val n = rd(nroot); val o = rd(oroot)
        val sn = su.join(n, su("s_nationkey") === n("n_nationkey"))
        f.join(o, f("l_orderkey") === o("o_orderkey"))
          .join(sn, f("l_suppkey") === sn("s_suppkey"))
          .join(pp, f("l_partkey") === pp("p_partkey"))
          .groupBy("n_name", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum(dec("l_extendedprice")).as("msum"))
      case "quantile" =>
        rd(src).groupBy(col("metric"), expr("e div 86400").as("bucket"))
          .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
            percentile_approx(col("value"), lit(0.9), lit(1000)).as("p90"))
    }
  }

  private def sourceRoots(kind: String): Seq[String] = kind match {
    case "rollup" | "quantile"      => Seq(src)
    case "aggjoin2" | "multiagg_n2" => Seq(lroot, oroot)
    case "multiagg_n5"              => n5Roots
  }

  /** From-scratch answers by kind, with the source versions they were
    * computed at. */
  private val scratch = collection.mutable.Map.empty[String, (Seq[Int], DataFrame)]

  /** The from-scratch answer over the current snapshots: the source query
    * run with every registration lifted, so no rule rewrites it. The rules
    * are post-hoc resolution rules and rewrite any plan built on top of an
    * unexecuted frame, so the answer is executed and materialized inside
    * the window, and the plan that ran must scan the sources and no view.
    * For the quantile view it is the exact value at rank ceil(phi * n), the
    * rank the view's estimate is taken at. */
  private def fromScratch(kind: String): DataFrame = {
    val versions = sourceRoots(kind).map(SnapshotStore.currentVersion)
    scratch.get(kind).collect { case (`versions`, df) => df }.getOrElse {
      unregister()
      val answer = try {
        val q =
          if (kind != "quantile") sourceQuery(kind)
          else SnapshotStore.read(spark, src).groupBy(col("metric"), expr("e div 86400").as("bucket"))
            .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
              expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"))
        val m = q.localCheckpoint(true)
        val scanned = ExecutedScans.roots(q)
        require(scanned.nonEmpty && !scanned.exists(r => views.values.exists(v => r.contains(v))),
          s"$kind: the from-scratch plan scanned ${scanned.mkString(",")}")
        m
      } finally register()
      scratch(kind) = (versions, answer)
      answer
    }
  }

  /** `got` against `want`: the same rows, or for quantiles every group on
    * both sides with each estimate within 2·w of the exact value (the
    * view's documented bound, w its frozen bin width). */
  private def agree(kind: String, got: DataFrame, want: DataFrame): Option[String] =
    if (kind != "quantile") {
      val (g, w) = Fingerprint.pair(got, want)
      if (g == w) None else Some(s"$kind: rows $g != expected $w")
    } else {
      val ed = QuantileView.edgesFor(spark, views(kind)).select("metric", "w")
      val j = got.select(col("metric"), col("bucket"), col("p50").as("g50"), col("p90").as("g90"))
        .join(want, Seq("metric", "bucket"), "full_outer").join(ed, Seq("metric"), "left")
      val bad = j.where(col("g50").isNull || col("p50").isNull || col("w").isNull ||
        abs(col("g50") - col("p50")) > col("w") * 2 + 1e-9 ||
        abs(col("g90") - col("p90")) > col("w") * 2 + 1e-9).count()
      if (bad == 0) None else Some(s"$kind: $bad groups outside the 2w band or missing")
    }

  def round(i: Int): Unit = {
    val slice = deltaOrder(i % DeltaSlices)
    def delta(df: DataFrame) = df.where(col("__b") === slice).drop("__b")
    rec.op("append", "series")(rec.span("sources.store.append") {
      SnapshotStore.append(delta(seriesAll), src); None
    })
    rec.op("append", "lineitem")(rec.span("sources.store.append") {
      SnapshotStore.append(delta(lineAll), lroot); None
    })
    Kinds.foreach { k =>
      rec.op("stale", k)(rec.span(s"sources.view.$k.compensated_read") {
        staleRead(k).foreach(Workloads.noop); None
      })
    }
    val salt = seed * 31 + i
    def pick(c: Column, n: Long) = pmod(xxhash64(lit(salt), c), lit(n)) === 0
    rec.op("delete", "lineitem")(rec.span("sources.store.delete") {
      SnapshotStore.deleteWhere(spark, lroot, pick(col("l_orderkey"), 50)); None
    })
    rec.op("upsert", "supplier")(rec.span("sources.store.upsert") {
      SnapshotStore.upsert(spark, Tables.supplier(spark, dataDir).where(pick(col("s_suppkey"), 20))
        .select(col("s_suppkey"), pmod(lit(salt), lit(25L)).cast("int").as("s_nationkey")),
        sroot, Seq("s_suppkey"))
      None
    })
    Workloads.order(Kinds, seed, i).foreach { k =>
      rec.op("refresh", k)(rec.span(s"sources.view.$k.refresh") { refresh(k); None })
    }
    val ck = Kinds(i % Kinds.size)
    rec.op("compact", ck)(rec.span("sources.store.compact") { compact(ck); None })
    Workloads.order(Served, seed + 1, i).foreach { k =>
      servedAttempted += 1
      rec.opThen("serve", k) {
        rec.span(s"sources.view.$k.read") {
          val q = rec.span("plans.plan") {
            val d = sourceQuery(k)
            if (rec.tracing) d.queryExecution.executedPlan
            d
          }
          val fromView = graft.plans.PlanProbe.scansOnly(q, views(k))
          if (fromView) { servedFromView += 1; Workloads.noop(q) }
          (q, fromView)
        }
      } { case (q, fromView) =>
        if (!fromView) Some(s"$k served read did not scan only its view")
        else agree(k, q, fromScratch(k)).map(m => s"served read: $m")
      }
    }
    replay.run()
  }

  /** After the last round every view's stored answer must equal the
    * from-scratch answer over the final snapshots. (Each served read was
    * held to the from-scratch answer of its round in the loop.) */
  def check(): Unit = {
    Kinds.foreach(k => rec.check(s"view/$k")(agree(k, viewAnswer(k), fromScratch(k))))
    replay.finish()
  }

  private def storeRoots = Seq(src, lroot, oroot, proot, sroot, nroot).map(new File(_))
  private def viewRoots = views.values.toSeq.map(new File(_))

  def metrics(t: MetricTable): Unit = {
    val commits = Seq("append", "upsert", "delete").flatMap(rec.seconds)
    if (commits.nonEmpty) t.put("append_p50_s", Stats.median(commits), "s")
    Workloads.putLatency(t, "refresh", rec.seconds("refresh"), detail)
    Workloads.putLatency(t, "serve", rec.seconds("serve"), detail)
    t.put("store_mb", (storeRoots ++ viewRoots).map(Workloads.dirBytes).sum / 1e6, "MB")
    replay.metrics(t, detail)
  }

  def layerMetrics(t: MetricTable, jobs: Seq[Job]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) None else Some(Stats.median(xs))
    Seq("append", "upsert", "delete", "compact").foreach { k =>
      med(rec.seconds(k)).foreach(v => t.put(s"sources.store.${k}_s", v, "s"))
    }
    t.put("sources.store.bytes_written", storeRoots.map(Workloads.dirBytes).sum.toDouble, "bytes")
    t.put("sources.store.files_written", storeRoots.map(Workloads.dirFiles).sum.toDouble, "count")
    t.put("sources.store.versions",
      storeRoots.map(r => SnapshotStore.currentVersion(r.getPath)).sum.toDouble, "count")
    val byName = rec.samples.groupBy(s => (s.kind, s.name))
    Kinds.foreach { k =>
      t.put(s"sources.view.$k.bootstrap_s", bootstrapS(k), "s")
      def m(kind: String) = byName.get((kind, k)).map(_.map(_.seconds).toSeq).flatMap(med)
      m("refresh").foreach(v => t.put(s"sources.view.$k.refresh_s", v, "s"))
      med(byName.getOrElse(("refresh", k), Nil).map(o => Job.within(jobs, o).size.toDouble).toSeq)
        .foreach(v => t.put(s"sources.view.$k.refresh_jobs", v, "count"))
      m("serve").foreach(v => t.put(s"sources.view.$k.read_s", v, "s"))
      m("stale").foreach(v => t.put(s"sources.view.$k.compensated_read_s", v, "s"))
    }
    if (servedAttempted > 0)
      t.put("plans.served_ratio", servedFromView.toDouble / servedAttempted, "ratio")
    replay.layerMetrics(t)
  }
}

object ViewMaintain {
  val Kinds: Seq[String] = Seq("rollup", "aggjoin2", "multiagg_n2", "multiagg_n5", "quantile")
  /** The views read through the serving rules. `multiagg_n2` is not: the
    * N-way rule leaves two-table shapes to the two-table rules. */
  val Served: Seq[String] = Seq("rollup", "aggjoin2", "multiagg_n5", "quantile")
  /** Hash buckets per table; buckets below DeltaSlices are the deltas. */
  val Slices = 64
  val DeltaSlices = 32
  /** One in FactShare orders (with their line items) is loaded. */
  val FactShare = 4
}

/** The checkpointed Structured Streaming `ohlcReplay` as one operation,
  * with an explicit slice count, its result compared with its batch twin:
  * `StreamOps.ohlcStream` evaluated as one batch query over the same input.
  * Trigger figures come from the `StreamingQueryProgress` events Spark
  * emits for every micro-batch, read through a listener. */
final class OhlcReplay(ctx: Ctx) {
  import ctx._
  import OhlcReplay._

  private var unique: DataFrame = _
  private var twin: String = _
  private val progress = collection.mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]
  private val listener = new ProgressListener
  private var replayNs = 0L

  private def bars(df: DataFrame) =
    df.select(col("metric"), col("bar_start").cast("long").as("bar_start"),
      col("n"), col("open"), col("high"), col("low"), col("close"))

  def setup(): Unit = {
    spark.streams.addListener(listener)
    // the seed picks which quarter of the event stream is replayed; the
    // replay's exact-parity domain is one row per (metric, second)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("metric", "e")
    unique = Tables.metricSeries(spark, dataDir).select("event_id", "metric", "e", "value")
      .where(pmod(xxhash64(lit(seed), col("event_id")), lit(InputShare.toLong)) === 0)
      .withColumn("__c", count(lit(1)).over(w)).where(col("__c") === 1)
      .select("metric", "e", "value").localCheckpoint(true)
    twin = Fingerprint.of(bars(StreamOps.ohlcStream(
      unique.select(col("metric"), timestamp_seconds(col("e")).as("ts"), col("value")),
      "1 day", "3650 days")))
  }

  /** One replay as one operation; its result is checked against the twin
    * after the timing ends. */
  def run(): Unit =
    rec.opThen("replay", "ohlc") {
      val t0 = System.nanoTime()
      val out = rec.span("streaming.ohlc") {
        bars(StreamReplay.ohlcReplay(unique, slices = Slices)).localCheckpoint(true)
      }
      replayNs += System.nanoTime() - t0
      out
    } { out =>
      val got = Fingerprint.of(out)
      if (got == twin) None else Some(s"ohlc replay $got != batch twin $twin")
    }

  /** Collect the last progress events. */
  def finish(): Unit = {
    Thread.sleep(500) // the listener bus delivers progress asynchronously
    progress ++= listener.drain()
  }

  def close(): Unit = spark.streams.removeListener(listener)

  private def durations(key: String): Seq[Double] =
    progress.toSeq.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue()))

  def metrics(t: MetricTable, detail: collection.mutable.Map[String, String]): Unit = {
    Workloads.putLatency(t, "trigger", durations("triggerExecution").map(_ / 1000.0), detail)
    if (replayNs > 0)
      t.put("stream_rows_per_s", progress.map(_.numInputRows).sum / (replayNs / 1e9), "1/s")
  }

  def layerMetrics(t: MetricTable): Unit = {
    val xs = rec.seconds("replay")
    if (xs.nonEmpty) t.put("streaming.ohlc_s", Stats.median(xs), "s")
    t.put("streaming.triggers", progress.size.toDouble, "count")
    Seq("queryPlanning" -> "query_planning", "getBatch" -> "get_batch",
      "latestOffset" -> "latest_offset", "addBatch" -> "add_batch",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets").foreach {
      case (k, n) =>
        val xs = durations(k)
        if (xs.nonEmpty) t.put(s"streaming.trigger.${n}_ms", Stats.median(xs), "ms")
    }
    val ops = progress.toSeq.flatMap(_.stateOperators.toSeq)
    if (ops.nonEmpty) {
      t.put("streaming.state.commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
      t.put("streaming.state.rows", Stats.median(ops.map(_.numRowsTotal.toDouble)), "count")
      t.put("streaming.state.memory_bytes", Stats.median(ops.map(_.memoryUsedBytes.toDouble)), "bytes")
    }
    t.put("streaming.replay_overhead_s",
      replayNs / 1e9 - durations("triggerExecution").sum / 1000.0, "s")
  }
}

object OhlcReplay {
  /** Micro-batches per replay; graft.Bench runs replays at 2. */
  val Slices = 3
  /** One in InputShare events is replayed. */
  val InputShare = 4
}
