package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level profile of one registered query: runs it once cold (the
  * warm-up: codegen, JIT, scan setup), then once steady, and records every
  * steady-run Spark job's wall time, task count and description. The cold
  * run's wall time prints as `cold=` beside the steady `wall=`. Separates
  * "how many jobs does this operator launch" and "where do they spend
  * time" from the noop-sink total that Bench reports — the decomposition §1 of the optimization guide asks
  * for before touching anything. Driver-side time (planning, manifest
  * I/O, bloom sizing decisions) is the gap between the query wall time
  * and the time at least one job was running — the union of the job
  * intervals, not their sum: jobs overlapped by [[graft.sources.Overlap]]
  * would otherwise be counted twice and push the gap negative.
  *
  * Usage: runMain graft.JobProfile <query> [<query>...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // measure under Bench's conditions: no oracle-export plumbing, the
    // bench's minimum stream-replay slicing
    SparkEntry.configureOracleExport("/tmp/graft_oracle_export", enabled = false)
    graft.streaming.StreamReplay.defaultSlices = 2
    spark.range(1000000).selectExpr("sum(id)").collect()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    // (job id, label, start, end, tasks); start and end in seconds on
    // the System.nanoTime clock
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Double, Int)]()
    val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (desc, System.nanoTime()))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(sc.stageInfo.stageId, -1)
        if (jid >= 0) {
          taskCounts.merge(jid, sc.stageInfo.numTasks, (a, b) => a + b)
          // attribute the job to the deepest graft frame of its stage's
          // creation site (the operator that launched the action)
          val frame = sc.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobProfile"))
            .map(_.trim).getOrElse("?")
          sites.putIfAbsent(jid, frame)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
          done.add((je.jobId, desc, t0 / 1e9, System.nanoTime() / 1e9,
            taskCounts.getOrDefault(je.jobId, 0)))
        }
      }
    })
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- args.toSeq) {
      val fn = SparkEntry.queries(name)
      val cold = timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      // every warm-up job has ended before the count starts, and every
      // measured job before it is read
      ListenerBusDrain(spark.sparkContext)
      done.clear()
      val wall = timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      ListenerBusDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._1)
      val jobSum = rows.map(r => r._4 - r._3).sum
      val busy = busySeconds(rows.map(r => (r._3, r._4)))
      println(f"[jobprofile] $name wall=$wall%.2f s, cold=$cold%.2f s, jobs=${rows.size}, " +
        f"job-wall-sum=$jobSum%.2f s, driver-gap=${wall - busy}%.2f s")
      rows.groupBy(r =>
          if (r._2.nonEmpty) r._2 else sites.getOrDefault(r._1, "?"))
        .map { case (site, rs) => (rs.map(r => r._4 - r._3).sum, rs.size, site) }
        .toSeq.sortBy(-_._1)
        .foreach { case (secs, n, site) =>
          println(f"[jobprofile]   $secs%7.3f s  n=$n%4d  $site")
        }
    }
    spark.stop()
  }

  /** Length of the union of `[start, end]` intervals: the time at least
    * one of them was running. */
  private[graft] def busySeconds(intervals: Seq[(Double, Double)]): Double =
    intervals.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
    }._1
}
