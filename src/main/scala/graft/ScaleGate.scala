package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators._
import graft.plans.{MaterializedJoins, MaterializedMultiJoins, MaterializedRollups, PlanProbe}
import graft.sources._
import graft.sources.MultiAggJoinView.Edge

/** The scale gate: every row of [[rows]] runs at two on-disk [[ScaleUp]]
  * directories (say 10× and 100× sf0.1), and [[judge]] holds the two
  * runs' measurements to the envelopes the row declares. The gate prints
  * one verdict line per row and exits non-zero when any row fails.
  *
  * View rows build one fixture per view kind and run, in order, the
  * bootstrap (reported, not judged — it is honestly O(table)), refreshes
  * that absorb deltas of FIXED ABSOLUTE size (replica-0 key ranges, the
  * same rows at every scale, shifted into a fresh key band above every
  * replica's keys), churn (deletes inside that band), then the served
  * read. Those legs must stay flat while the standing data grows. Query
  * rows time a registered query and bound its scaling exponent over the
  * table that dominates its input.
  *
  * The gate writes its stdout to `plans/scale/gate.txt` and the join-view
  * restriction plan of each scale to `plans/scale/restriction_<dir>.txt`,
  * relative to the working directory.
  *
  * Usage: runMain graft.ScaleGate <smallDir> <bigDir> [rows]
  * (rows = comma list of row names; default every row)
  */
object ScaleGate {

  /** What one leg measured at one scale. `op` is the manifest op of each
    * view version the leg published, joined by `+`; `files` is
    * (selected, total) posting files; `shuffle` is shuffle-write bytes. */
  final case class Leg(secs: Double, op: String = "", served: Boolean = false,
                       files: (Int, Int) = (0, 0), shuffle: Long = 0L,
                       plan: String = "")

  /** One row's legs at one scale, and that scale's table row counts. */
  final case class Run(legs: Map[String, Leg], rows: Map[String, Long])

  sealed trait Envelope { def leg: String }
  /** `t_big / t_small <= bound`, or `t_big <= floor` seconds: a
    * sub-second leg is not judged on jitter. The default bound leaves room
    * for single-shot timings on a shared box, where the same leg swings up
    * to 1.8×; an O(table) leg grows far past it across 10× data. */
  final case class Flat(leg: String, bound: Double = 2.0, floor: Double = 1.0) extends Envelope
  /** `log(t ratio) / log(rows ratio)` of `table` is at most `bound`. */
  final case class Exponent(leg: String, table: String, bound: Double = 1.1) extends Envelope
  /** The leg published exactly one view version, with this op, at both scales. */
  final case class ManifestOp(leg: String, op: String) extends Envelope
  /** The leg's read was answered from the view at both scales. */
  final case class Serves(leg: String) extends Envelope
  /** Selected / total posting files is at most `share` at both scales. */
  final case class SelectedFiles(leg: String, share: Double) extends Envelope
  /** Shuffle bytes of `leg` over those of `base` is at most `bound` at both scales. */
  final case class ShuffleRatio(leg: String, base: String, bound: Double) extends Envelope
  /** The plan pushes one of `marks` into the scan's `PushedFilters` at both scales. */
  final case class PlanHas(leg: String, marks: Seq[String]) extends Envelope

  /** Does the envelope hold? The pure judge of two runs: the verdict and
    * the numbers it read. */
  def judge(e: Envelope, small: Run, big: Run): (Boolean, String) =
    (small.legs.get(e.leg), big.legs.get(e.leg)) match {
      case (Some(s), Some(b)) => e match {
        case Flat(leg, bound, floor) =>
          val r = b.secs / s.secs
          (b.secs <= floor || r <= bound,
            f"$leg ${s.secs}%.2fs>${b.secs}%.2fs ${r}%.2fx (<=$bound%.2f or <=$floor%.1fs)")
        case Exponent(leg, table, bound) =>
          val rr = big.rows.getOrElse(table, 0L).toDouble / small.rows.getOrElse(table, 0L)
          if (!(rr > 1.0) || rr.isInfinite)
            (false, f"$leg exponent undefined: $table rows ratio $rr%.2f")
          else {
            val x = math.log(b.secs / s.secs) / math.log(rr)
            (x <= bound, f"$leg ${s.secs}%.2fs>${b.secs}%.2fs exp ${x}%.2f (<=$bound%.2f)")
          }
        case ManifestOp(leg, op) =>
          (s.op == op && b.op == op, s"$leg op ${s.op}/${b.op} (=$op)")
        case Serves(leg) =>
          (s.served && b.served, s"$leg served ${s.served}/${b.served}")
        case SelectedFiles(leg, share) =>
          def ok(l: Leg) = l.files._2 > 0 && l.files._1 <= share * l.files._2
          (ok(s) && ok(b), s"$leg files ${s.files._1}/${s.files._2}>" +
            s"${b.files._1}/${b.files._2} (<=$share)")
        case ShuffleRatio(leg, base, bound) =>
          def ratio(run: Run): Double = run.legs.get(base) match {
            case Some(bl) if bl.shuffle > 0 => run.legs(leg).shuffle.toDouble / bl.shuffle
            case _ => Double.PositiveInfinity
          }
          val (rs, rb) = (ratio(small), ratio(big))
          (rs <= bound && rb <= bound, f"$leg/$base shuffle $rs%.3f>$rb%.3f (<=$bound)")
        case PlanHas(leg, marks) =>
          def has(l: Leg) = l.plan.linesIterator
            .exists(p => p.contains("PushedFilters") && marks.exists(p.contains))
          (has(s) && has(b), s"$leg plan ${marks.mkString("|")} ${has(s)}/${has(b)}")
      }
      case _ => (false, s"${e.leg} not measured")
    }

  /** Records one row's legs at one scale; `root` is the row's scratch
    * store root. */
  final class Legs(val spark: SparkSession, val dir: String, val root: String,
                   shuffleBytes: AtomicLong) {
    val got = mutable.LinkedHashMap.empty[String, Leg]

    def time[A](leg: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      got(leg) = Leg((System.nanoTime() - t0) / 1e9)
      r
    }

    /** Time a view refresh and record the ops of the versions it published. */
    def refresh(leg: String, view: String)(f: => Any): Unit = {
      val v0 = SnapshotStore.currentVersion(view)
      time(leg)(f)
      val ops = (v0 + 1 to SnapshotStore.currentVersion(view))
        .map(SnapshotStore.manifestOp(view, _).getOrElse("?"))
      got(leg) = got(leg).copy(op = ops.mkString("+"))
    }

    /** Bench's estimator for a repeatable read: one warm-up (plan, codegen,
      * file listing), then the best of two noop-sink runs. */
    def best(leg: String)(df: => DataFrame): Unit = {
      sink(df)
      val secs = Seq.fill(2) { time(leg)(sink(df)); got(leg).secs }.min
      got(leg) = Leg(secs)
    }

    /** Time a read and record whether its plan scans the view (`stale`: the
      * view plus the gap's delta files) rather than its sources. */
    def serve(leg: String, marker: String, stale: Boolean = false)(df: DataFrame): Unit = {
      val served = if (stale) PlanProbe.scansAny(df, marker) else PlanProbe.scansOnly(df, marker)
      time(leg)(sink(df))
      got(leg) = got(leg).copy(served = served)
    }

    /** Time one noop-sink run and record its shuffle-write bytes. */
    def shuffle(leg: String)(df: DataFrame): Unit = {
      ListenerBusDrain(spark.sparkContext)
      shuffleBytes.set(0L)
      time(leg)(sink(df))
      ListenerBusDrain(spark.sparkContext)
      got(leg) = got(leg).copy(shuffle = shuffleBytes.get())
    }
  }

  /** A row: its envelopes and the legs it runs at one scale. */
  final case class Row(name: String, envelopes: Seq[Envelope], run: Legs => Unit)

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Range-cluster at CONSTANT file size (~500k rows/file): a production
    * store's file count grows with the data while its file size stays, so
    * a fixed key band's pruned read is O(band). A fixed partition count
    * would grow every file 10× per scale step and make a band leg look
    * super-linear when the algorithm is not. */
  private def clustered(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(math.max(8, (df.count() / 500000L).toInt), col(key))

  /** Fresh-band offset: above every replica's keys even at ScaleUp ×1000
    * (replicas are offset by 1e7 each), so a band delta or churn never
    * touches standing replicas. */
  private val Band = 20_000_000_000L

  private def customer(l: Legs) =
    Tables.customer(l.spark, l.dir).select("c_custkey", "c_mktsegment", "c_acctbal")
  private def orders(l: Legs) =
    Tables.orders(l.spark, l.dir).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  /** 1024 replica-0 customers moved into the fresh band. */
  private def bandCustomers(l: Legs) = customer(l).where(col("c_custkey") < 1024)
    .withColumn("c_custkey", col("c_custkey") + lit(Band)).localCheckpoint(true)
  /** 4096 replica-0 orders whose customers are the fresh-band ones. */
  private def bandOrders(l: Legs) = orders(l).where(col("o_orderkey") < 4096)
    .withColumn("o_custkey", col("o_custkey") % 1024 + lit(Band)).localCheckpoint(true)
  private def series(l: Legs) = Tables.metricSeries(l.spark, l.dir)
  /** Replica-0 series rows shifted to their own day range. */
  private def bandSeries(l: Legs, cols: String*) = series(l).where(col("event_id") < 20000)
    .select(cols.map(col): _*).withColumn("e", col("e") + lit(Band)).localCheckpoint(true)

  /** The snowflake (lineitem × orders × part × supplier × nation) with the
    * fact range-clustered on its first edge's parent key, which is the
    * fact's churn-restriction key; the fact also stamps l_suppkey stats
    * so a leaf delta's cascade prunes its last hop. Returns the roots. */
  private def snowflake(l: Legs): Seq[String] = {
    val Seq(f, o, p, s, n) = Seq("F", "O", "P", "S", "N").map(t => s"${l.root}/$t")
    SnapshotStore.appendWithStats(clustered(Tables.lineitem(l.spark, l.dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"), "l_orderkey"),
      f, Seq("l_orderkey", "l_suppkey"))
    SnapshotStore.appendWithStats(clustered(Tables.orders(l.spark, l.dir)
      .select("o_orderkey", "o_orderpriority"), "o_orderkey"), o, Seq("o_orderkey"))
    SnapshotStore.append(Tables.part(l.spark, l.dir).select("p_partkey", "p_brand"), p)
    SnapshotStore.appendWithStats(Tables.supplier(l.spark, l.dir)
      .select("s_suppkey", "s_nationkey"), s, Seq("s_suppkey"))
    SnapshotStore.append(Tables.nation(l.spark, l.dir).select("n_nationkey", "n_name"), n)
    Seq(f, o, p, s, n)
  }
  private val snowflakeEdges = Seq(
    Edge(0, Seq("l_orderkey"), Seq("o_orderkey")),
    Edge(0, Seq("l_partkey"), Seq("p_partkey")),
    Edge(0, Seq("l_suppkey"), Seq("s_suppkey")),
    Edge(3, Seq("s_nationkey"), Seq("n_nationkey")))
  /** A fresh l_orderkey band of facts, with the orders they reference. */
  private def snowflakeDelta(l: Legs, roots: Seq[String]): Unit = {
    val Seq(f, o, _, _, _) = roots
    val li = SnapshotStore.read(l.spark, f).where(col("l_orderkey") < 4096)
      .withColumn("l_orderkey", col("l_orderkey") + lit(Band)).localCheckpoint(true)
    val od = SnapshotStore.read(l.spark, o).where(col("o_orderkey") < 4096)
      .withColumn("o_orderkey", col("o_orderkey") + lit(Band)).localCheckpoint(true)
    SnapshotStore.appendWithStats(li, f, Seq("l_orderkey", "l_suppkey"))
    SnapshotStore.appendWithStats(od, o, Seq("o_orderkey"))
  }
  private def newNations(l: Legs, from: Int, to: Int, root: String): Unit =
    SnapshotStore.append(l.spark.range(from, to).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('nation', id) AS n_name").localCheckpoint(true), root)

  /** The judged legs of a maintained view: each fixed-size refresh stays
    * flat and on its `op` path; the served read stays flat and scans the
    * view. */
  private def maintained(ops: (String, String)*)(serves: String*): Seq[Envelope] =
    ops.flatMap { case (leg, op) => Seq(Flat(leg), ManifestOp(leg, op)) } ++
      serves.flatMap(leg => Seq(Flat(leg), Serves(leg)))

  /** A registered query, timed as Bench times it; `table` dominates its input. */
  private def query(name: String, table: String): Row =
    Row(name, Seq(Exponent("run", table)),
      l => l.best("run")(SparkEntry.queries(name)(l.spark, l.dir)))

  val rows: Seq[Row] = Seq(
    query("a2_banded_extents", "events"),
    query("f1_decimate", "events"),
    query("a7_sessions", "events"),
    query("a12_time_weighted_mean", "events"),
    query("a13_resample_ffill", "events"),
    query("a16_outliers", "events"),
    query("a17_resample_linear", "events"),
    query("a20_cusum", "events"),
    query("a18_ohlc", "events"),
    query("a35_quantile_tier", "events"),
    query("funnel_steps", "events"),
    query("cohort_retention", "events"),
    query("audience_overlap", "events"),
    query("pack_sequences", "documents"),
    query("text_tfidf", "documents"),
    query("minhash_neardup", "documents"),
    query("neardup_cc", "documents"),
    query("shuffle_shards", "documents"),
    query("text_bigram_lm", "documents"),
    query("bpe_train", "documents"),
    query("quality_train_score", "documents"),
    query("q_mktseg_revenue", "lineitem"),
    query("q5_local_volume", "lineitem"),
    query("q7_nation_pairs", "lineitem"),

    // Every row on ONE metric: the sequential recurrences' worst case is
    // one task, so time ∝ rows on one core is the contract; the chunked
    // escape hatches split the timeline into parallel day chunks.
    Row("hot_metric", Seq("ewma", "decimate_faithful", "ewma_chunked",
        "cusum_chunked", "derivative_chunked").map(Exponent(_, "events")), { l =>
      def hot = series(l).withColumn("metric", lit("hot"))
      l.best("ewma")(TrendOps.ewma(hot, alpha = 0.2).toDF())
      l.best("decimate_faithful")(TrendOps.decimateFaithful(hot, 60.0).toDF())
      l.best("ewma_chunked")(TrendOps.ewmaChunked(hot, alpha = 0.2).toDF())
      l.best("cusum_chunked")(TrendOps.cusumChunked(hot))
      l.best("derivative_chunked")(TrendOps.derivativeChunked(hot))
    }),

    // ~90% of orders on ONE derived key, broadcast and AQE's skew split
    // off: the plain join sorts the hot key in one task, salting spreads
    // it over 16 sub-keys.
    Row("skew_join", Seq(Exponent("plain", "orders"), Exponent("salted", "orders")), { l =>
      def sk(c: org.apache.spark.sql.Column) =
        when(pmod(c, lit(100L)) < 90, lit(0L)).otherwise(pmod(c, lit(100L))).as("sk")
      val o = orders(l).select(col("o_totalprice"), sk(col("o_custkey")))
      val dim = customer(l).select(sk(col("c_custkey"))).groupBy("sk").agg(count(lit(1)).as("d"))
      def agg(j: DataFrame) = j.groupBy("sk").agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      withConfs(l.spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        l.best("plain")(agg(o.join(dim, "sk")))
        l.best("salted")(agg(RelationalOps.saltedJoin(o, dim, "sk", 16)))
      }
    }),

    // Each task ships one O(cap) Misra–Gries summary instead of one row
    // per distinct term.
    Row("topk_shuffle", Seq(ShuffleRatio("sketch", "exact", 0.8)), { l =>
      val terms = Tables.documents(l.spark, l.dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      l.shuffle("exact")(RelationalOps.topNPerGroup(
        terms.groupBy("lang", "term").agg(count(lit(1)).as("f")),
        20, Seq(lit(1)), Seq(col("f").desc, col("term").asc)))
      l.shuffle("sketch")(terms.groupBy("lang")
        .agg(HeavyHitters.summary(col("term"), cap = 256).as("sk"))
        .agg(HeavyHitters.merged(col("sk"), cap = 256).as("sk"))
        .select(explode(col("sk")).as("t")))
    }),

    // A shuffled fact × dim join (the dim too big to broadcast): the dim's
    // key bloom kills non-matching fact rows at the scan.
    Row("bloom_join", Seq(ShuffleRatio("bloomed", "plain", 0.1)), { l =>
      val li = Tables.lineitem(l.spark, l.dir).select("l_partkey", "l_extendedprice")
      val dim = Tables.part(l.spark, l.dir).where(col("p_brand") === "Brand#13")
        .select("p_partkey", "p_brand")
      def agg(j: DataFrame) = j.groupBy("p_brand").agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      withConfs(l.spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        l.shuffle("plain")(agg(li.join(dim, col("l_partkey") === col("p_partkey"))))
        l.shuffle("bloomed")(agg(RelationalOps.bloomFilteredJoin(li, dim, "l_partkey", "p_partkey")))
      }
    }),

    // The standing side restricted to a delta's key tuples: the probe →
    // range-prune → exact-restriction pipeline every view refresh funnels
    // through. A small key set must reach the scan as an IN list.
    Row("restriction", Seq(PlanHas("plan", Seq("In(", "BloomFilter", "might_contain"))), { l =>
      val store = s"${l.root}/O"
      val o = Tables.orders(l.spark, l.dir)
      SnapshotStore.append(o, store)
      val delta = o.where(col("o_orderkey") % 997 === 0).limit(200).select("o_custkey")
      val plan = l.time("plan")(JoinView.restrictionPlan(l.spark, store, 1, Seq("o_custkey"), delta)
        .queryExecution.explainString(FormattedMode))
      l.got("plan") = l.got("plan").copy(plan = plan)
      write(s"restriction_${Paths.get(l.dir).getFileName}.txt", plan)
    }),

    Row("rollup", maintained("delta" -> "append", "churn" -> "upsert")("serve"), { l =>
      val (src, v) = (s"${l.root}/src", s"${l.root}/view")
      SnapshotStore.append(series(l).select("metric", "e", "value"), src)
      l.refresh("bootstrap", v)(RollupView.refresh(l.spark, src, v))
      SnapshotStore.append(bandSeries(l, "metric", "e", "value"), src)
      l.refresh("delta", v)(RollupView.refresh(l.spark, src, v))
      // half of the band's rows: the CoW rewrite touches only its dir
      SnapshotStore.deleteWhere(l.spark, src, col("e") >= Band && col("e") % 2 === 0)
      l.refresh("churn", v)(RollupView.refresh(l.spark, src, v))
      MaterializedRollups.enable(src, v)
      try l.serve("serve", "/view")(SnapshotStore.read(l.spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"), sum(col("value").cast("decimal(18,2)")).as("vsum"),
          min(col("value")).as("mn"), max(col("value")).as("mx")))
      finally MaterializedRollups.disable(src)
    }),

    Row("ndv", maintained("delta" -> "append", "churn" -> "upsert")("serve", "stale"), { l =>
      val (src, v) = (s"${l.root}/src", s"${l.root}/view")
      SnapshotStore.append(series(l).select("metric", "e", "user_id"), src)
      l.refresh("bootstrap", v)(NdvView.refresh(l.spark, src, v))
      SnapshotStore.append(bandSeries(l, "metric", "e", "user_id"), src)
      l.refresh("delta", v)(NdvView.refresh(l.spark, src, v))
      SnapshotStore.deleteWhere(l.spark, src, col("e") >= Band && col("e") % 2 === 0)
      l.refresh("churn", v)(NdvView.refresh(l.spark, src, v))
      def agg() = SnapshotStore.read(l.spark, src)
        .groupBy(col("metric"), expr("e div 86400").as("day"))
        .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, ${NdvView.LgK}))").as("u"))
      MaterializedRollups.enableNdv(src, v, serveStale = true)
      try {
        l.serve("serve", "/view")(agg())
        // an append gap, no refresh: the sketch union compensates
        SnapshotStore.append(bandSeries(l, "metric", "e", "user_id")
          .withColumn("e", col("e") + lit(86400L)), src)
        l.serve("stale", "/view", stale = true)(agg())
      } finally MaterializedRollups.disable(src)
    }),

    Row("quantile", maintained("delta" -> "append", "churn" -> "append")() ++
        Seq(Flat("serve"), Flat("stale")), { l =>
      val (src, v) = (s"${l.root}/src", s"${l.root}/view")
      SnapshotStore.append(series(l).select("metric", "e", "value"), src)
      l.refresh("bootstrap", v)(QuantileView.refresh(l.spark, src, v))
      SnapshotStore.append(bandSeries(l, "metric", "e", "value"), src)
      l.refresh("delta", v)(QuantileView.refresh(l.spark, src, v))
      SnapshotStore.deleteWhere(l.spark, src, col("e") >= Band)
      l.refresh("churn", v)(QuantileView.refresh(l.spark, src, v))
      l.time("serve")(QuantileView.quantiles(l.spark, v, Seq(0.5, 0.99)).collect())
      // an in-envelope append gap, no refresh: signed counts compensate
      SnapshotStore.append(bandSeries(l, "metric", "e", "value"), src)
      l.time("stale")(QuantileView.compensatedQuantiles(l.spark, src, v, Seq(0.5, 0.99))
        .getOrElse(sys.error("quantile compensation declined")).collect())
    }),

    // One source pair, three join types. New-band customers and
    // matched-key orders convert nothing, so every refresh stays an O(Δ)
    // append: the outer match-arrival probes file-prune the view through
    // its stamped key stats.
    Row("join", maintained("inner" -> "append", "left_outer" -> "append",
        "full_outer" -> "append")() :+ Serves("serve"), { l =>
      val (c, o) = (s"${l.root}/L", s"${l.root}/R")
      val hows = Seq("inner", "left_outer", "full_outer")
      SnapshotStore.append(customer(l), c)
      SnapshotStore.append(orders(l), o)
      def refresh(how: String) =
        JoinView.refresh(l.spark, c, o, s"${l.root}/$how", "c_custkey", "o_custkey", how)
      hows.foreach(h => l.refresh(s"bootstrap_$h", s"${l.root}/$h")(refresh(h)))
      SnapshotStore.append(bandCustomers(l), c)
      SnapshotStore.append(orders(l).where(col("o_orderkey") < 4096).localCheckpoint(true), o)
      hows.foreach(h => l.refresh(h, s"${l.root}/$h")(refresh(h)))
      MaterializedJoins.enable(c, o, s"${l.root}/inner", "c_custkey", "o_custkey")
      try {
        val (cf, of) = (SnapshotStore.read(l.spark, c), SnapshotStore.read(l.spark, o))
        l.serve("serve", "/inner")(cf.join(of, cf("c_custkey") === of("o_custkey")))
      } finally MaterializedJoins.disable(c)
    }),

    // Two-table agg-join (one-edge tree), range-clustered stats-carrying
    // sources: every leg's standing and time-travel reads file-prune to
    // the delta's or churn's key band.
    Row("aggjoin", maintained("delta" -> "append", "churn" -> "append",
        "churn_dim" -> "append")("serve", "stale"), { l =>
      val (c, o, v) = (s"${l.root}/L", s"${l.root}/R", s"${l.root}/V")
      val edges = Seq(Edge(0, Seq("c_custkey"), Seq("o_custkey")))
      val groups = Seq("c_mktsegment", "o_orderstatus")
      SnapshotStore.appendWithStats(clustered(customer(l), "c_custkey"), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(clustered(orders(l), "o_custkey"), o, Seq("o_custkey"))
      def refresh() = MultiAggJoinView.refresh(l.spark, Seq(c, o), v, edges, groups,
        Seq("o_totalprice"))
      l.refresh("bootstrap", v)(refresh())
      SnapshotStore.appendWithStats(bandCustomers(l), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(bandOrders(l), o, Seq("o_custkey"))
      l.refresh("delta", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, o, col("o_custkey") >= Band)
      l.refresh("churn", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, c, col("c_custkey") < 1024)
      l.refresh("churn_dim", v)(refresh())
      def q() = {
        val (cf, of) = (SnapshotStore.read(l.spark, c), SnapshotStore.read(l.spark, o))
        cf.join(of, cf("c_custkey") === of("o_custkey")).groupBy(groups.map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      }
      MaterializedMultiJoins.enable(Seq(c, o), v, edges, groups, Seq("o_totalprice"),
        serveStale = true)
      try {
        l.serve("serve", "/V")(q())
        // append gaps on both sides, no refresh: Δ-join partials compensate
        SnapshotStore.appendWithStats(bandCustomers(l)
          .withColumn("c_custkey", col("c_custkey") + lit(Band)), c, Seq("c_custkey"))
        SnapshotStore.appendWithStats(bandOrders(l)
          .withColumn("o_custkey", col("o_custkey") + lit(Band)), o, Seq("o_custkey"))
        l.serve("stale", "/V", stale = true)(q())
      } finally MaterializedMultiJoins.disable(v)
    }),

    // Extents (min/max): churn is the dirty-GROUP recompute, grouped on
    // the clustered key so the dirty groups are a key band.
    Row("aggjoinx", maintained("delta" -> "append", "churn" -> "upsert")() :+ Flat("read"), { l =>
      val (c, o, v) = (s"${l.root}/L", s"${l.root}/R", s"${l.root}/V")
      SnapshotStore.appendWithStats(clustered(customer(l), "c_custkey"), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(clustered(orders(l), "o_custkey"), o, Seq("o_custkey"))
      def refresh() = MultiAggJoinView.refresh(l.spark, Seq(c, o), v,
        Seq(Edge(0, Seq("c_custkey"), Seq("o_custkey"))), Seq("c_custkey"),
        Seq("o_totalprice"), extents = true)
      l.refresh("bootstrap", v)(refresh())
      SnapshotStore.appendWithStats(bandCustomers(l), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(bandOrders(l), o, Seq("o_custkey"))
      l.refresh("delta", v)(refresh())
      // deletes strip per-group maxima inside the band
      SnapshotStore.deleteWhere(l.spark, o,
        col("o_custkey") >= Band && col("o_totalprice") > 100000.0)
      l.refresh("churn", v)(refresh())
      l.time("read")(MultiAggJoinView.read(l.spark, v).count())
    }),

    // The five-way snowflake: a fact band delta, a leaf delta that
    // cascades nation → supplier → fact with each hop pruned, and band
    // churn on two tables in one gap.
    Row("maggjoin", maintained("delta" -> "append", "leaf" -> "append",
        "churn" -> "append")("serve"), { l =>
      val roots = snowflake(l)
      val Seq(f, o, _, s, n) = roots
      val v = s"${l.root}/V"
      val groups = Seq("n_name", "o_orderpriority")
      def refresh() = MultiAggJoinView.refresh(l.spark, roots, v, snowflakeEdges, groups,
        Seq("l_extendedprice"))
      l.refresh("bootstrap", v)(refresh())
      snowflakeDelta(l, roots)
      l.refresh("delta", v)(refresh())
      newNations(l, 500, 510, n)
      SnapshotStore.appendWithStats(l.spark.range(0, 1024).selectExpr(
        s"id + $Band AS s_suppkey", "CAST(500 + id % 10 AS INT) AS s_nationkey")
        .localCheckpoint(true), s, Seq("s_suppkey"))
      SnapshotStore.appendWithStats(SnapshotStore.read(l.spark, f)
        .where(col("l_orderkey") < 4096)
        .withColumn("l_orderkey", col("l_orderkey") + lit(2 * Band))
        .withColumn("l_suppkey", col("l_suppkey") % 1024 + lit(Band))
        .localCheckpoint(true), f, Seq("l_orderkey", "l_suppkey"))
      l.refresh("leaf", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, f, col("l_orderkey") >= 2 * Band)
      SnapshotStore.deleteWhere(l.spark, o, col("o_orderkey") >= Band)
      l.refresh("churn", v)(refresh())
      MaterializedMultiJoins.enable(roots, v, snowflakeEdges, groups, Seq("l_extendedprice"))
      try {
        val Seq(ff, of, pf, sf, nf) = roots.map(SnapshotStore.read(l.spark, _))
        l.serve("serve", "/V")(ff.join(pf, ff("l_partkey") === pf("p_partkey"))
          .join(sf, ff("l_suppkey") === sf("s_suppkey"))
          .join(nf, sf("s_nationkey") === nf("n_nationkey"))
          .join(of, ff("l_orderkey") === of("o_orderkey"))
          .groupBy(groups.map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev")))
      } finally MaterializedMultiJoins.disable(v)
    }),

    // Snowflake extents: an extremum delete inside the fact band and a
    // leaf append in ONE gap — the dirty-group replace and the append
    // term publish as one upsert version. The churn is sub-linear, not
    // flat: the dirty-group recompute's pruned reads grow with the band
    // files' size. The read is O(groups), and the key-grained groups grow
    // with the fact.
    Row("maggjoinx", Seq(Flat("delta"), ManifestOp("delta", "append"),
        Exponent("churn", "lineitem", 0.5), ManifestOp("churn", "upsert"),
        Exponent("read", "lineitem")), { l =>
      val roots = snowflake(l)
      val v = s"${l.root}/V"
      def refresh() = MultiAggJoinView.refresh(l.spark, roots, v, snowflakeEdges,
        Seq("l_orderkey", "n_name"), Seq("l_extendedprice"), extents = true)
      l.refresh("bootstrap", v)(refresh())
      snowflakeDelta(l, roots)
      l.refresh("delta", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, roots.head,
        col("l_orderkey") >= Band && col("l_extendedprice") > 60000.0)
      newNations(l, 600, 610, roots(4))
      l.refresh("churn", v)(refresh())
      l.time("read")(MultiAggJoinView.read(l.spark, v).count())
    }),

    // N-way distinct counts over orders ⋈ customer ⋈ nation, both big
    // tables clustered on the custkey axis (the fact's churn-restriction
    // key) and the group bucketed from it: a custkey-band churn's dirty
    // keys, dirty groups and cascade hop all prune to the band.
    Row("mndvjoin", maintained("delta" -> "append", "churn" -> "upsert")("serve"), { l =>
      val Seq(o, c, n) = Seq("O", "C", "N").map(t => s"${l.root}/$t")
      val v = s"${l.root}/V"
      val edges = Seq(Edge(0, Seq("o_custkey"), Seq("c_custkey")),
        Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
      val groups = Seq("o_cb", "o_orderstatus")
      def bucketed(df: DataFrame) = df.select("o_orderkey", "o_custkey", "o_orderstatus")
        .withColumn("o_cb", expr("o_custkey div 1048576"))
      val cust = Tables.customer(l.spark, l.dir).select("c_custkey", "c_nationkey")
      SnapshotStore.appendWithStats(clustered(bucketed(orders(l)), "o_custkey"), o, Seq("o_custkey"))
      SnapshotStore.appendWithStats(clustered(cust, "c_custkey"), c, Seq("c_custkey"))
      SnapshotStore.append(Tables.nation(l.spark, l.dir).select("n_nationkey", "n_name"), n)
      def refresh() = MultiNdvJoinView.refresh(l.spark, Seq(o, c, n), v, edges, groups, "o_custkey")
      l.refresh("bootstrap", v)(refresh())
      SnapshotStore.appendWithStats(cust.where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(Band)).localCheckpoint(true),
        c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(bucketed(bandOrders(l)), o, Seq("o_custkey"))
      l.refresh("delta", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, o, col("o_custkey") >= Band && col("o_orderkey") % 3 === 0)
      newNations(l, 700, 705, n)
      l.refresh("churn", v)(refresh())
      MaterializedMultiJoins.enableNdv(Seq(o, c, n), v, edges, groups, "o_custkey")
      try {
        val Seq(of, cf, nf) = Seq(o, c, n).map(SnapshotStore.read(l.spark, _))
        l.serve("serve", "/V")(of.join(cf, of("o_custkey") === cf("c_custkey"))
          .join(nf, cf("c_nationkey") === nf("n_nationkey")).groupBy(groups.map(col): _*)
          .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(o_custkey, ${NdvView.LgK}))").as("u")))
      } finally MaterializedMultiJoins.disable(v)
    }),

    // Quantiles over a join as signed bin counts: even an extremum band
    // delete is pure arithmetic (one signed append, no recompute).
    Row("qjoin", maintained("delta" -> "append", "churn" -> "append")("serve"), { l =>
      val (c, o, v) = (s"${l.root}/L", s"${l.root}/R", s"${l.root}/V")
      val edges = Seq(Edge(0, Seq("c_custkey"), Seq("o_custkey")))
      SnapshotStore.appendWithStats(clustered(customer(l), "c_custkey"), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(clustered(orders(l), "o_custkey"), o, Seq("o_custkey"))
      def refresh() = MultiQuantileJoinView.refresh(l.spark, Seq(c, o), v, edges,
        Seq("c_mktsegment"), "o_totalprice")
      l.refresh("bootstrap", v)(refresh())
      SnapshotStore.appendWithStats(bandCustomers(l), c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(bandOrders(l), o, Seq("o_custkey"))
      l.refresh("delta", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, o,
        col("o_custkey") >= Band && col("o_totalprice") > 100000.0)
      l.refresh("churn", v)(refresh())
      MaterializedMultiJoins.enableQuantile(Seq(c, o), v, edges, Seq("c_mktsegment"), "o_totalprice")
      try {
        val (cf, of) = (SnapshotStore.read(l.spark, c), SnapshotStore.read(l.spark, o))
        l.serve("serve", "/V")(cf.join(of, cf("c_custkey") === of("o_custkey"))
          .groupBy("c_mktsegment")
          .agg(percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("p90")))
      } finally MaterializedMultiJoins.disable(v)
    }),

    Row("mqjoin", maintained("delta" -> "append", "churn" -> "append")("serve"), { l =>
      val Seq(o, c, n) = Seq("O", "C", "N").map(t => s"${l.root}/$t")
      val v = s"${l.root}/V"
      val cust = Tables.customer(l.spark, l.dir).select("c_custkey", "c_nationkey")
      val edges = Seq(Edge(0, Seq("o_custkey"), Seq("c_custkey")),
        Edge(1, Seq("c_nationkey"), Seq("n_nationkey")))
      SnapshotStore.appendWithStats(clustered(orders(l), "o_custkey"), o, Seq("o_custkey"))
      SnapshotStore.appendWithStats(clustered(cust, "c_custkey"), c, Seq("c_custkey"))
      SnapshotStore.append(Tables.nation(l.spark, l.dir).select("n_nationkey", "n_name"), n)
      def refresh() = MultiQuantileJoinView.refresh(l.spark, Seq(o, c, n), v, edges,
        Seq("n_name"), "o_totalprice")
      l.refresh("bootstrap", v)(refresh())
      SnapshotStore.appendWithStats(cust.where(col("c_custkey") < 1024)
        .withColumn("c_custkey", col("c_custkey") + lit(Band)).localCheckpoint(true),
        c, Seq("c_custkey"))
      SnapshotStore.appendWithStats(bandOrders(l)
        .withColumn("o_orderkey", col("o_orderkey") + lit(Band)), o, Seq("o_custkey"))
      l.refresh("delta", v)(refresh())
      SnapshotStore.deleteWhere(l.spark, o,
        col("o_custkey") >= Band && col("o_totalprice") > 100000.0)
      l.refresh("churn", v)(refresh())
      MaterializedMultiJoins.enableQuantile(Seq(o, c, n), v, edges, Seq("n_name"), "o_totalprice")
      try {
        val Seq(of, cf, nf) = Seq(o, c, n).map(SnapshotStore.read(l.spark, _))
        l.serve("serve", "/V")(of.join(cf, of("o_custkey") === cf("c_custkey"))
          .join(nf, cf("c_nationkey") === nf("n_nationkey")).groupBy("n_name")
          .agg(percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("p90")))
      } finally MaterializedMultiJoins.disable(v)
    }),

    // View over view: a join view (series ⋈ users) under a rollup. A
    // user-band × one-day churn reaches tier 2 through the join view's
    // recorded feed and its keyed replace, not a rebuild. Neither tier is
    // flat: tier 1 rewrites the join view once, and tier 2 recomputes the
    // dirty day from one day-band-pruned scan of the join view.
    Row("vovchurn", Seq(Exponent("tier1", "events"), Exponent("tier2", "events"),
        ManifestOp("tier2", "upsert")), { l =>
      val s = series(l).select("user_id", "metric", "e", "value")
      val Seq(src, users, jv, rv) = Seq("L", "R", "JV", "RV").map(t => s"${l.root}/$t")
      SnapshotStore.appendWithStats(clustered(s, "user_id"), src, Seq("user_id"))
      SnapshotStore.append(s.select(col("user_id").as("u_id")).distinct(), users)
      def tier1() = JoinView.refreshKeys(l.spark, src, users, jv, Seq("user_id"), Seq("u_id"))
      l.time("bootstrap") { tier1(); RollupView.refresh(l.spark, jv, rv) }
      val day = s.agg(min(col("e"))).head().getLong(0) / 86400L * 86400L
      SnapshotStore.deleteWhere(l.spark, src,
        col("user_id") < 1024 && col("e") >= day && col("e") < day + 86400L)
      l.time("tier1")(tier1())
      l.refresh("tier2", rv)(RollupView.refresh(l.spark, jv, rv))
    }),

    // Branch rebase and fast-forward merge are manifest surgery.
    Row("rebase", Seq(Flat("rebase_merge")), { l =>
      val t = s"${l.root}/t"
      val li = Tables.lineitem(l.spark, l.dir)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      def band(off: Long) = li.where(col("l_orderkey") < 512)
        .withColumn("l_orderkey", col("l_orderkey") + lit(off)).localCheckpoint(true)
      l.time("bootstrap") {
        SnapshotStore.append(li.where(col("l_orderkey") % 2 === 0), t)
        SnapshotStore.append(li.where(col("l_orderkey") % 2 =!= 0), t)
      }
      SnapshotStore.createBranch(t, "work")
      SnapshotStore.append(band(Band), SnapshotStore.branchRoot(t, "work"))
      SnapshotStore.append(band(2 * Band), t)
      l.time("rebase_merge") {
        SnapshotStore.rebaseBranch(l.spark, t, "work")
        SnapshotStore.mergeBranch(l.spark, t, "work")
      }
    }),

    // The inverted index: a reindex rewrites only the posting dirs owning
    // the touched docs (sub-linear, not constant: term-clustered dirs each
    // own a slice of every doc); a lookup of replica-0-only terms opens
    // only bloom-selected posting files.
    Row("search", Seq(Flat("reindex", bound = 2.5), Flat("bm25"), Flat("andnot"),
        SelectedFiles("bm25", 0.5)), { l =>
      val docs = Tables.documents(l.spark, l.dir)
      val idx = s"${l.root}/idx"
      l.time("bootstrap")(SearchIndex.index(l.spark, docs, idx))
      l.time("reindex")(SearchIndex.reindexEpoch(l.spark, docs.where(col("doc_id") < 200)
        .withColumn("text", concat(col("text"), lit(" spark"))).localCheckpoint(true),
        idx, epochId = 1L))
      l.time("bm25")(SearchIndex.bm25(l.spark, idx, Seq("data", "vector"), k = 10).collect())
      val (sel, tot) = SnapshotStore.planFilesEq(l.spark, idx, -1, "term", "data")
      l.got("bm25") = l.got("bm25").copy(files = (sel.size, tot))
      l.time("andnot")(SearchIndex.topkExcluding(l.spark, idx, Seq("data"), Seq("vector"),
        k = 10).collect())
    })
  )

  private def withConfs[A](spark: SparkSession, kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val OutDir = Paths.get("plans", "scale")

  private def write(name: String, text: String): Unit = {
    Files.createDirectories(OutDir)
    Files.write(OutDir.resolve(name), text.getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: ScaleGate <smallDir> <bigDir> [rows]")
    val dirs = args.take(2).toSeq
    val picked = args.lift(2).map(_.split(',').map(_.trim).toSet)
      .getOrElse(rows.map(_.name).toSet)
    val unknown = picked -- rows.map(_.name)
    require(unknown.isEmpty, s"unknown rows ${unknown.mkString(",")}; rows are " +
      rows.map(_.name).mkString(","))
    val spark = GraftSession.local()
    SparkEntry.configureOracleExport("/tmp/graft_scalegate_export", enabled = false)
    val shuffleBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    val tableRows = dirs.map { d =>
      Map("events" -> Tables.eventsRaw(spark, d).count(),
        "lineitem" -> Tables.lineitem(spark, d).count(),
        "orders" -> Tables.orders(spark, d).count(),
        "documents" -> Tables.documents(spark, d).count())
    }
    val out = new StringBuilder
    def say(line: String): Unit = { println(line); out ++= line + "\n" }
    say(s"[gate] ${dirs.mkString(" > ")}, rows ${tableRows.mkString(" > ")}")

    val failed = rows.filter(r => picked(r.name)).filterNot { row =>
      val verdict = try {
        val runs = dirs.zip(tableRows).map { case (d, n) =>
          val root = Files.createTempDirectory(s"gate_${row.name}").toString
          try {
            val legs = new Legs(spark, d, root, shuffleBytes)
            row.run(legs)
            Run(ListMap(legs.got.toSeq: _*), n)
          } finally SnapshotStore.deleteTree(root)
        }
        val checks = row.envelopes.map(judge(_, runs(0), runs(1)))
        val judged = row.envelopes.map(_.leg).toSet
        val reported = runs(0).legs.keys.filterNot(judged).map(k =>
          f"$k ${runs(0).legs(k).secs}%.2fs>${runs(1).legs(k).secs}%.2fs")
        (checks.forall(_._1), (checks.map { case (ok, d) => (if (ok) "" else "FAILED ") + d } ++
          reported.map("reported " + _)).mkString("; "))
      } catch {
        case NonFatal(e) => (false, s"error: $e")
      }
      say(s"[gate] ${if (verdict._1) "PASS" else "FAIL"} ${row.name}: ${verdict._2}")
      verdict._1
    }
    say(s"[gate] ${if (failed.isEmpty) "PASS" else "FAIL " + failed.map(_.name).mkString(",")}")
    write("gate.txt", out.toString)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
