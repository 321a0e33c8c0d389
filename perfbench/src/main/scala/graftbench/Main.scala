package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.{GraftSession, SparkEntry}

/** One benchmark run: set up one workload, drive its closed loop for the
  * given number of seconds, check its outputs, and print the metrics.
  *
  * {{{
  * Main --workload <name> --seed <int> --seconds <int> --trace <0|1>
  *      --cpus <int> --data <tables dir> --work <scratch dir>
  *      [--golden <file>] [--write-golden <file>]
  * }}}
  *
  * `run.py` validates the values (ranges, SPARK_GRAFT_CPUS against nproc);
  * this entry point only parses them.
  *
  * The last stdout line is the result object; the line before it carries
  * the run's parameters, the figures reported beside the gated metrics,
  * the per-layer detail and any failures. With `--trace 1` the run also
  * writes its spans to the work directory. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cpus: Int, data: String, work: File, golden: Option[File],
                        writeGolden: Option[File])

  def parse(argv: Seq[String]): Either[String, Args] = {
    val pairs = argv.grouped(2).toSeq
    if (argv.size % 2 != 0 || pairs.exists(p => !p.head.startsWith("--")))
      return Left("arguments must be --key value pairs")
    val m = pairs.map(p => p(0).drop(2) -> p(1)).toMap
    val known = Set("workload", "seed", "seconds", "trace", "cpus", "data", "work", "golden",
      "write-golden")
    (m.keySet -- known).headOption.foreach(k => return Left(s"unknown argument --$k"))
    def req(k: String) = m.get(k).toRight(s"--$k is required")
    def int(k: String) = req(k).flatMap(v => v.toLongOption.toRight(s"--$k must be an integer, got '$v'"))
    for {
      w <- req("workload").filterOrElse(Workloads.Names.contains, s"--workload must be one of ${Workloads.Names.mkString(", ")}")
      seed <- int("seed")
      secs <- int("seconds")
      trace <- req("trace").filterOrElse(Set("0", "1").contains, "--trace must be 0 or 1")
      cpus <- int("cpus")
      data <- req("data")
      work <- req("work")
    } yield Args(w, seed, secs.toInt, trace == "1", cpus.toInt, data, new File(work),
      m.get("golden").map(new File(_)), m.get("write-golden").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq).fold(e => fail(e), identity)
    val spark = GraftSession.local(args.cpus.toString)
    val (code, lines) = try run(args, spark) finally spark.stop()
    lines.foreach(println)
    sys.exit(code)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  /** One run on an open session: the exit code and the output lines (the
    * detail line, then the result line). */
  def run(args: Args, spark: org.apache.spark.sql.SparkSession): (Int, Seq[String]) = {
    args.work.mkdirs()
    SparkEntry.configureOracleExport(new File(args.work, "oracle_export").getPath, enabled = false)
    val jobs = new JobListener
    if (args.trace) spark.sparkContext.addSparkListener(jobs)
    var guard: LeakGuard = null
    val rec = new Recorder(args.trace, () => Option(guard).flatMap(_.check()))
    val wl = Workloads(args.workload,
      Ctx(spark, args.data, args.work, args.seed, rec), args.golden)
    try measure(args, spark, wl, rec, jobs, g => guard = g)
    finally {
      wl.close()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  private def measure(args: Args, spark: org.apache.spark.sql.SparkSession,
                      wl: Workload, rec: Recorder, jobs: JobListener,
                      setGuard: LeakGuard => Unit): (Int, Seq[String]) = {

    def sinceStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench] session ready at $sinceStart%.1f s")
    // warm the JVM, codegen and parquet paths, as graft.Bench does
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, args.data).limit(1000).selectExpr("sum(l_quantity)").collect()
    System.err.println(f"[perfbench] warm at $sinceStart%.1f s")
    val tStage = System.nanoTime()
    wl.setup()
    System.err.println(f"[perfbench] ${args.workload} set up in ${(System.nanoTime() - tStage) / 1e9}%.1f s")
    args.writeGolden.foreach { f =>
      TrendBatch.writeGolden(f, wl.asInstanceOf[TrendBatch].fingerprints())
      System.err.println(s"[perfbench] wrote ${f.getPath}")
      return (0, Nil)
    }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val guard = new LeakGuard(spark, new File(System.getProperty("java.io.tmpdir")),
      () => wl.ownViewRoots)
    guard.check().foreach(m => throw new IllegalStateException(s"leaked state before the loop: $m"))
    setGuard(guard)

    // the timed phase: whole rounds until the deadline passes
    Jvm.resetPeak()
    val (gc0n, gc0s) = Jvm.gc()
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    var rounds = 0
    var sampleNs = 0L
    while (System.nanoTime() < deadline) {
      wl.round(rounds)
      rounds += 1
      val ts = System.nanoTime()
      Jvm.sampleLive()
      sampleNs += System.nanoTime() - ts
    }
    val wallS = (System.nanoTime() - t0 - rec.checkNs - sampleNs) / 1e9
    val heapMb = Jvm.peakLiveMb()
    val (gc1n, gc1s) = Jvm.gc()
    val opsInLoop = rec.samples.filter(s => wl.opKinds.contains(s.kind)).toSeq
    val loopAttempted = rec.attempted
    val loopFailed = rec.failed

    wl.check()
    val correct = rec.failed == 0
    val e2e = new MetricTable      // the gated metrics of BENCHMARK.json
    val reported = new MetricTable // reported beside them, not gated
    val detail = collection.mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "cpus" -> args.cpus.toString, "seconds" -> args.seconds.toString,
      "rounds" -> rounds.toString, "timed_wall_s" -> Json.num(wallS),
      "loop_attempted" -> loopAttempted.toString, "loop_failed" -> loopFailed.toString,
      "error_rate" -> Json.num(rec.failed.toDouble / math.max(1L, rec.attempted)))
    val opS = opsInLoop.map(_.seconds)
    e2e.put("setup_s", setupS, "s")
    if (opS.nonEmpty) {
      val (pct, tail) = Stats.tail(opS)
      reported.put("op_p50_s", Stats.median(opS), "s")
      reported.put("op_tail_s", tail, "s")
      detail("op_tail_pct") = Json.num(pct)
      detail("op_samples") = opS.size.toString
    }
    e2e.put("ops_per_s", opS.size / wallS, "1/s")
    reported.put("heap_peak_mb", heapMb, "MB")
    wl.metrics(reported)
    detail ++= wl.detail

    val metrics =
      if (!args.trace) e2e
      else {
        val t = new MetricTable
        layers(t, opsInLoop, jobs.jobs, rec)
        t.put("jvm.gc_s", gc1s - gc0s, "s")
        t.put("jvm.gc_count", (gc1n - gc0n).toDouble, "count")
        opS.headOption.foreach(_ => t.put("trace.op_p50_s", Stats.median(opS), "s"))
        writeSpans(new File(args.work, s"spans-${args.workload}-${args.seed}.jsonl"), rec)
        t
      }
    val layerDetail = new MetricTable
    if (args.trace) {
      wl.layerMetrics(layerDetail, jobs.jobs)
      rec.selfSeconds.toSeq.sortBy(_._1).foreach { case (n, s) =>
        layerDetail.put(s"self.$n", s, "s")
      }
    }
    val detailLine = s"""{"detail":${detail.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
      s""""gated":${e2e.toJson},"reported":${reported.toJson},""" +
      s""""layers":${layerDetail.toJson},"failures":${rec.failures.map(Json.str).mkString("[", ",", "]")}}"""
    val resultLine = s"""{"correct":$correct,"attempted":${rec.attempted},"failed":${rec.failed},""" +
      s""""metrics":${metrics.toJson}}"""
    (if (correct) 0 else 1, Seq(detailLine, resultLine))
  }

  /** Scheduler metrics per operation: jobs whose start falls inside an
    * operation's interval belong to it (one client thread). */
  private def layers(t: MetricTable, ops: Seq[OpSample], jobs: Seq[Job],
                     rec: Recorder): Unit = {
    if (ops.isEmpty) return
    val perOp = ops.map { o =>
      val js = Job.within(jobs, o)
      val busy = Intervals.union(js.map(j => (j.start, math.min(j.end, o.endNs)))) / 1e9
      (js.size, js.map(_.tasks).sum, busy, o.seconds - busy)
    }
    t.put("spark.jobs_per_op", perOp.map(_._1).sum.toDouble / ops.size, "count")
    t.put("spark.tasks_per_op", perOp.map(_._2).sum.toDouble / ops.size, "count")
    t.put("spark.job_busy_s", Stats.median(perOp.map(_._3)), "s")
    t.put("driver.gap_s", Stats.median(perOp.map(_._4)), "s")
    val inLoop = jobs.filter(j => j.start >= ops.head.startNs && j.start <= ops.last.endNs)
    t.put("spark.max_jobs_in_flight",
      math.max(1, Intervals.maxOverlap(inLoop.map(j => (j.start, j.end)))).toDouble, "count")
    val plan = rec.spans.filter(_.name == "plans.plan").map(s => (s.endNs - s.startNs) / 1e9)
    if (plan.nonEmpty) t.put("plans.plan_s", Stats.median(plan.toSeq), "s")
  }

  private def writeSpans(f: File, rec: Recorder): Unit = {
    val lines = rec.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
