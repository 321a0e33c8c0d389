package graftbench

import java.io.File
import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotStore

/** The benchmark's own tests, on tables generated at scale 0.001. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val base = new File(".").getCanonicalFile // the perfbench directory
  private lazy val work = Files.createTempDirectory("spec_").toFile
  private lazy val data = {
    val d = new File(work, "sf0.001")
    val code = Seq("python3", new File(base, "gen_data.py").getPath, d.getPath, "0.001").!
    assert(code == 0, "gen_data.py failed")
    d.getPath
  }
  private lazy val spark: SparkSession = {
    // registry queries export oracle inputs unless told not to
    graft.SparkEntry.configureOracleExport(new File(work, "oracle_export").getPath, enabled = false)
    graft.GraftSession.local("2")
  }

  override def afterAll(): Unit = {
    spark.stop()
    graft.sources.SnapshotStore.deleteTree(work.getPath)
  }

  test("tail: highest candidate percentile with ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 95.0 && xs.count(_ > v) >= Stats.TailBeyond)
    assert(xs.count(_ > Stats.percentile(xs, 99.0)) < Stats.TailBeyond)
    // 30 samples: only the median has ten beyond it
    assert(Stats.tail((1 to 30).map(_.toDouble)) == (50.0, 15.5))
    // too few samples for any candidate: the median, reported at 50
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == (50.0, 2.0))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("failures: a thrown or mis-checked operation is failed, never a sample") {
    var leak: Option[String] = None
    val rec = new Recorder(tracing = false, () => leak, _ => ())
    assert(rec.op("query", "ok")(None))
    assert(!rec.op("query", "throws")(throw new RuntimeException("boom")))
    assert(!rec.op("query", "wrong")(Some("bad rows")))
    assert(!rec.opThen("replay", "twin")(42)(v => if (v == 42) Some("differs") else None))
    leak = Some("shuffle partitions changed")
    assert(!rec.op("query", "leaks")(None))
    assert(!rec.check("golden")(Some("mismatch")))
    assert(rec.attempted == 6 && rec.failed == 5)
    assert(rec.samples.map(_.name) == Seq("ok"))
  }

  test("metric names follow [A-Za-z0-9_.-]+") {
    Seq("op_p50_s", "spark.jobs_per_op", "sources.view.multiagg_n5.refresh_s")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "p50 s", "a/b", "_x", "x" * 65).foreach(n => assert(!Stats.validName(n), n))
    val t = new MetricTable
    intercept[IllegalArgumentException](t.put("bad name", 1.0, "s"))
  }

  test("the golden checks rotate: six consecutive seeds cover every query") {
    (0L until 20L).foreach { s =>
      assert((s until s + 6).flatMap(TrendBatch.checked).toSet == TrendBatch.Queries.toSet)
    }
  }

  test("a view whose stored answer is wrong, though fresh, fails its check") {
    val rec = new Recorder(tracing = false, log = _ => ())
    val vm = new ViewMaintain(Ctx(spark, data, new File(work, "damaged"), 5, rec))
    vm.setup()
    try {
      // a plain append to a view store adds a partial without moving the
      // view's epoch, so the serving rules still take the view as fresh:
      // a copy of a stored partial, or for the quantile view a million
      // counts in the top bin of one group
      ViewMaintain.Kinds.foreach { k =>
        val v = vm.views(k)
        val row = SnapshotStore.read(spark, v).limit(1)
        def as(c: String, x: Any) = lit(x).cast(row.schema(c).dataType)
        SnapshotStore.append(
          if (k != "quantile") row
          else row.withColumn("bin", as("bin", graft.sources.QuantileView.DefaultBins - 1))
            .withColumn("cnt", as("cnt", 1000000)), v)
      }
      vm.check()
    } finally vm.close()
    val failed = rec.failures.map(_.takeWhile(_ != ':')).toSet
    assert(failed == ViewMaintain.Kinds.map(k => s"check/view/$k").toSet, rec.failures)
  }

  test("two seeds change the operation order but not the fingerprints") {
    val qs = TrendBatch.Queries
    assert(Workloads.order(qs, 1, 0) != Workloads.order(qs, 2, 0))
    assert(Workloads.order(qs, 1, 0) == Workloads.order(qs, 1, 0))
    def fps(seed: Long) = new TrendBatch(
      Ctx(spark, data, work, seed, new Recorder(false)), None).fingerprints().toMap
    assert(fps(1) == fps(2))
  }

  /** Metric names of BENCHMARK.json, by section. */
  private def declared(section: String): Seq[String] = {
    val src = scala.io.Source.fromFile(new File(base.getParentFile, "BENCHMARK.json"), "UTF-8")
    val json = try src.mkString finally src.close()
    val body = json.substring(json.indexOf(s""""$section""""))
    val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    """"name":\s*"([^"]+)"""".r.findAllMatchIn(list).map(_.group(1)).toSeq
  }

  private def resultNames(line: String): Seq[String] = {
    val metrics = line.substring(line.indexOf(""""metrics":"""))
    """"([A-Za-z0-9_.-]+)":\{"value"""".r.findAllMatchIn(metrics).map(_.group(1)).toSeq
  }

  test("every run prints the metrics BENCHMARK.json declares, and passes its checks") {
    val golden = new File(work, "golden.tsv")
    TrendBatch.writeGolden(golden, new TrendBatch(
      Ctx(spark, data, work, 1, new Recorder(false)), None).fingerprints())
    for (w <- Workloads.Names; trace <- Seq(false, true)) {
      val args = Main.Args(w, 7, 1, trace, 2, data, new File(work, s"run-$w-$trace"), Some(golden), None)
      val (code, lines) = Main.run(args, spark)
      assert(code == 0, s"$w trace=$trace: ${lines.headOption.getOrElse("")}")
      val result = lines.last
      assert(result.startsWith("""{"correct":true,"attempted":"""), result)
      val want = declared(if (trace) "per_layer" else "end_to_end")
      assert(resultNames(result).sorted == want.sorted, s"$w trace=$trace: $result")
    }
  }
}
