package graft

import java.util.TimeZone

import org.apache.spark.sql.SparkSession

/** The driver may call `SparkEntry` with a session it built itself, in a
  * JVM whose default zone is not UTC. Such a session carries none of
  * [[GraftSession]]'s runtime SQL confs; the query registry's boundary
  * guard must supply them. */
class DriverBoundarySpec extends SparkSpec {

  private val GraftConfs = Seq("spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** A session sharing the context but with GraftSession's confs unset. */
  private def bare(): SparkSession = {
    val s = spark.newSession()
    GraftConfs.foreach(s.conf.unset)
    s
  }

  test("a bare session's entry call returns rows") {
    val s = bare()
    assert(GraftConfs.forall(k => !s.conf.getOption(k).contains(spark.conf.get(k))))
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("zone-sensitive queries on a bare session under a non-UTC JVM zone equal GraftSession's") {
    // ISO rendering (x_scalars), timestamp-literal comparisons (q1, q3)
    // and the flagship as the nanos-conf canary
    val picks = Seq("x_scalars", "q1_pricing", "q3_shipping_priority", "a2_banded_extents")
    val dir = "/root/testdata/sf0.01"
    // a timestamp compares as its instant: java.sql.Timestamp renders in
    // the JVM default zone
    def rows(s: SparkSession, name: String): Seq[String] =
      SparkEntry.queries(name)(s, dir).collect().map(_.toSeq.map {
        case t: java.sql.Timestamp => t.toInstant.toString
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    val expected = picks.map(n => n -> rows(spark, n))
    val zone = TimeZone.getDefault
    TimeZone.setDefault(TimeZone.getTimeZone("America/New_York"))
    try {
      val s = bare()
      assert(s.conf.get("spark.sql.session.timeZone") == "America/New_York")
      for ((name, want) <- expected) {
        val got = rows(bare(), name)
        assert(want.nonEmpty && got == want, s"$name differs on a bare session")
      }
    } finally TimeZone.setDefault(zone)
  }
}
