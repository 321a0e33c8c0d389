package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

import graft.sources.SnapshotStore
import graft.sources.MultiAggJoinView.Edge

/** A small five-table snowflake over SnapshotStore for the tree views'
  * cascade tests, and the accounting of which cascade hops probed.
  *
  * {{{
  *   F fact(f_id, f_pk, f_sk, f_ck, qty, user_id)      table 0
  *     ⋈ P part(p_pk, p_brand)                         table 1, leaf dim
  *     ⋈ S supplier(s_sk, s_nk)                        table 2
  *         ⋈ N nation(n_nk, n_name)                    table 3
  *     ⋈ C customer(c_ck, c_seg)                       table 4, leaf dim
  * }}}
  */
object JoinTreeFixture {

  val edges: Seq[Edge] = Seq(
    Edge(0, Seq("f_pk"), Seq("p_pk")),
    Edge(0, Seq("f_sk"), Seq("s_sk")),
    Edge(2, Seq("s_nk"), Seq("n_nk")),
    Edge(0, Seq("f_ck"), Seq("c_ck")))

  /** The cascade hops breadth-first outward from a churned fact (0) and
    * from a churned nation (3). */
  val factHops: Set[(Int, Int)] = Set((0, 1), (0, 2), (0, 4), (2, 3))
  val nationHops: Set[(Int, Int)] = Set((3, 2), (2, 0), (0, 1), (0, 4))

  def fact(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, i % 7, i % 5, i % 4, ((i * 37) % 1000).toDouble, s"u${i % 23}"))
      .toDF("f_id", "f_pk", "f_sk", "f_ck", "qty", "user_id")
  }

  def part(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"brand${i % 3}")).toDF("p_pk", "p_brand")
  }

  def supplier(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, i % 3)).toDF("s_sk", "s_nk")
  }

  def nation(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"nation$i")).toDF("n_nk", "n_name")
  }

  def customer(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"seg${i % 2}")).toDF("c_ck", "c_seg")
  }

  /** `f(roots, dir)`: the five table roots and a scratch dir for views,
    * under one temp root deleted afterwards. */
  def withStores(prefix: String)(f: (IndexedSeq[String], String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(IndexedSeq("F", "P", "S", "N", "C").map(t => s"$root/$t"), s"$root/views")
    finally SnapshotStore.deleteTree(root)
  }

  /** Publish every table's first version. Nation 2 is missing, so
    * suppliers with `s_nk` 2 stand unmatched. */
  def load(spark: SparkSession, roots: IndexedSeq[String],
           factIds: Seq[Long] = 1L to 60L): Unit = {
    SnapshotStore.append(fact(spark, factIds), roots(0))
    SnapshotStore.append(part(spark, 0L to 6L), roots(1))
    SnapshotStore.append(supplier(spark, 0L to 4L), roots(2))
    SnapshotStore.append(nation(spark, Seq(0L, 1L)), roots(3))
    SnapshotStore.append(customer(spark, 0L to 3L), roots(4))
  }

  /** The commit sequence: a fact append, a fact delete, and a nation
    * upsert that renames nation 1 (moving its join rows to another
    * group). */
  def commits(spark: SparkSession, roots: IndexedSeq[String]): Unit = {
    import spark.implicits._
    SnapshotStore.append(fact(spark, 61L to 80L), roots(0))
    SnapshotStore.deleteWhere(spark, roots(0), col("f_id") % 4 === 0)
    SnapshotStore.upsert(spark, Seq((1L, "renamed")).toDF("n_nk", "n_name"),
      roots(3), Seq("n_nk"))
  }

  /** The current five-way join, every column kept. */
  def joined(spark: SparkSession, roots: IndexedSeq[String]): DataFrame = {
    val Seq(f, p, s, n, c) = roots.map(SnapshotStore.read(spark, _))
    f.join(p, f("f_pk") === p("p_pk"))
      .join(s, f("f_sk") === s("s_sk"))
      .join(n, s("s_nk") === n("n_nk"))
      .join(c, f("f_ck") === c("c_ck"))
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` at `value`,
    * restoring the caller's setting afterwards. */
  def withThreshold[T](spark: SparkSession, value: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
      body
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Both cascade paths over one commit sequence. Two views of the same
    * tree are bootstrapped, then [[commits]] land and each view refreshes
    * once: one at the session's broadcast threshold, the other at −1
    * (broadcast off: every hop probes); then `check` holds each view to
    * re-aggregation. Every fixture store is broadcastable, so at the
    * default threshold only the two churned tables' own dirty-key probes
    * may run; at −1 every hop out of each of them probes too. */
  def bothPaths(spark: SparkSession, prefix: String)(
      refresh: (IndexedSeq[String], String) => Unit)(
      check: (IndexedSeq[String], String) => Unit): Unit =
    withStores(prefix) { (roots, dir) =>
      val (dflt, off) = (s"$dir/default", s"$dir/off")
      load(spark, roots)
      refresh(roots, dflt)
      refresh(roots, off)
      commits(spark, roots)
      val p = probes(spark)(refresh(roots, dflt))
      val pOff = probes(spark)(withThreshold(spark, "-1")(refresh(roots, off)))
      assert(p.hops.isEmpty && p.jobs > 0,
        s"broadcastable churn must run only its dirty-key probes: $p")
      assert((factHops ++ nationHops).subsetOf(pOff.hops),
        s"threshold -1 skipped a hop: $pOff")
      check(roots, dflt)
      check(roots, off)
    }

  /** What the key probes run inside `body` did: the (u, v) cascade hops
    * that probed, and the number of Spark jobs of every key probe. */
  final case class Probes(hops: Set[(Int, Int)], jobs: Int)

  private val HopRe = """hop (\d+)>(\d+)""".r

  def probes(spark: SparkSession)(body: => Unit): Probes = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.contains("keys probe")).foreach(descs.add)
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = descs.asScala.toSeq
    Probes(all.flatMap(d => HopRe.findAllMatchIn(d)
      .map(m => (m.group(1).toInt, m.group(2).toInt))).toSet, all.size)
  }
}
