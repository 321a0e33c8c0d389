package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation of the closed loop. `kind` groups operations for the
  * per-kind metrics (query, append, upsert, delete, compact, refresh,
  * serve, replay); `name` identifies the operation inside its kind. */
final case class OpSample(id: Long, kind: String, name: String,
                          startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A span the benchmark recorded around a call into one layer. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
                      startNs: Long, endNs: Long)

/** Runs the closed loop's operations and keeps their samples.
  *
  * An operation that throws, or whose check returns a failure message, or
  * after which the session-leak guard finds leaked state, counts as failed
  * and is never a latency sample. With tracing on, `span` records nested
  * spans in memory; with tracing off it only runs the body. */
final class Recorder(val tracing: Boolean, guard: () => Option[String] = () => None,
                     log: String => Unit = System.err.println) {
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private var currentOp = 0L
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Time spent in output checks and the leak guard inside the loop. */
  var checkNs = 0L

  def failed: Long = failures.size.toLong

  /** Run one operation; `body` returns a check failure, or None. */
  def op(kind: String, name: String)(body: => Option[String]): Boolean =
    opThen(kind, name)(body)(identity)

  /** Run one operation whose output is checked after its timing ends:
    * only `timed` is measured, and a failure of `check` fails the op. */
  def opThen[A](kind: String, name: String)(timed: => A)(check: A => Option[String]): Boolean = {
    attempted += 1
    val id = nextId; nextId += 1
    currentOp = id
    val t0 = System.nanoTime()
    val result = try Right(timed) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    currentOp = 0L
    val outcome = result match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(a) =>
        try check(a).map(m => s"check failed: $m")
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    val failure = outcome.orElse(guard().map(m => s"session leak: $m"))
    checkNs += System.nanoTime() - t1
    failure match {
      case Some(m) =>
        failures += s"$kind/$name: $m"
        log(s"[perfbench] FAILED $kind/$name: $m")
        false
      case None =>
        samples += OpSample(id, kind, name, t0, t1)
        if (tracing) spans += Span(id, 0L, id, s"op.$kind", t0, t1)
        true
    }
  }

  /** An output check outside the timed loop: counted as attempted, and as
    * failed when it throws or returns a failure; never a latency sample. */
  def check(name: String)(body: => Option[String]): Boolean = {
    attempted += 1
    val outcome =
      try body
      catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    outcome.foreach { m =>
      failures += s"check/$name: $m"
      log(s"[perfbench] FAILED check $name: $m")
    }
    outcome.isEmpty
  }

  /** A span around one layer call inside the current operation. */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(currentOp)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  def seconds(kind: String): Seq[Double] = samples.filter(_.kind == kind).map(_.seconds).toSeq

  /** Self time per span name: span time minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.union(children.getOrElse(s.id, Nil)
          .filter(_.id != s.id).map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by the union of half-open intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Largest number of intervals open at one instant. */
  def maxOverlap(xs: Seq[(Long, Long)]): Int = {
    val events = xs.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    events.foldLeft((0, 0)) { case ((cur, best), (_, d)) =>
      val n = cur + d
      (n, math.max(best, n))
    }._2
  }
}

/** A Spark job as the scheduler reported it: start, end and task count. */
final case class Job(start: Long, end: Long, tasks: Int)

object Job {
  /** The jobs that started inside `op`: with one client thread, the jobs
    * the operation ran. */
  def within(jobs: Seq[Job], op: OpSample): Seq[Job] =
    jobs.filter(j => j.start >= op.startNs && j.start <= op.endNs)
}

/** Spark jobs as the scheduler reports them. */
final class JobListener extends SparkListener {
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    open.put(e.jobId, (System.nanoTime(), e.stageInfos.map(_.numTasks).sum))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (s, t) =>
      done.add(Job(s, System.nanoTime(), t))
    }

  def jobs: Seq[Job] = done.asScala.toSeq
}

/** Structured Streaming progress events, read through the public listener
  * API. Spark emits one `StreamingQueryProgress` per micro-batch. */
final class ProgressListener extends StreamingQueryListener {
  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)

  /** Progress events received so far, clearing the buffer. */
  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var p = events.poll()
    while (p != null) { out += p; p = events.poll() }
    out.toSeq
  }
}

/** JVM heap and garbage-collector readings around the timed phase. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var forcedCount = 0L
  private var forcedSeconds = 0.0
  private var peakLive = 0L

  private def counters: (Long, Double) =
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum / 1000.0)

  /** (collections, collection seconds) so far, without the forced
    * collections of [[sampleLive]]. */
  def gc(): (Long, Double) = {
    val (n, s) = counters
    (n - forcedCount, s - forcedSeconds)
  }

  /** Start tracking the peak live heap from now. */
  def resetPeak(): Unit = peakLive = 0L

  /** Force a full collection and record the heap still in use: the live
    * heap at this point. Its collections are left out of [[gc]]. */
  def sampleLive(): Unit = {
    val (n0, s0) = counters
    // collect until the heap stops shrinking: each collection lets Spark's
    // cleaner release more broadcast and block state held through weak
    // references
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var last = Long.MaxValue
    var tries = 0
    while (tries < 5 && { System.gc(); Thread.sleep(100); used < last - (1L << 20) }) {
      last = used
      tries += 1
    }
    val (n1, s1) = counters
    forcedCount += n1 - n0
    forcedSeconds += s1 - s0
    peakLive = math.max(peakLive, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** The largest live heap sampled since [[resetPeak]], MB. */
  def peakLiveMb(): Double = peakLive / (1024.0 * 1024.0)
}
