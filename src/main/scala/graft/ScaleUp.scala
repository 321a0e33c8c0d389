package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize a larger scale-factor directory from an existing one, for
  * on-disk scaling evidence: the fixtures [[ScaleGate]] runs at. The output
  * goes through real parquet files, so a scaled run exercises the scan path
  * (file listing, row-group pruning, multi-file parallelism) that a cluster
  * run would, unlike an in-memory self-union.
  *
  * Scaling model ("dims fixed, facts grow" — the 100 TB posture):
  *   - `region nation customer supplier part embeddings` copy through
  *     unchanged (at real scale the dimension side is the part that stays
  *     broadcastable while facts grow without bound).
  *   - `orders`/`lineitem` replicate ×factor with a per-replica
  *     `o_orderkey`/`l_orderkey` offset: the order→lineitem relationship is
  *     preserved inside each replica, and each customer simply owns
  *     factor× more orders.
  *   - `events` replicate with `event_id`/`user_id` offsets; metric names
  *     and timestamps stay — 10× data at fixed metric cardinality is how a
  *     production metric store grows.
  *   - `documents` replicate with a `doc_id` offset AND every token suffixed
  *     with a per-replica tag: tokens split on whitespace, so suffixing
  *     keeps token/shingle counts intact and within-replica similarity
  *     structure identical, while making replicas pairwise DISSIMILAR —
  *     a pure-duplicate corpus would grow near-dup candidate pairs
  *     quadratically by construction and measure the dup blowup, not plan
  *     scaling.
  *
  * Each scaled fact writes as a DIRECTORY `<name>.parquet/` with multiple
  * files so the scan parallelizes (tools/check.py globs directories).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> [factor=10]
  */
object ScaleUp {

  /** Key offsets per replica — far above any key in the source data and
    * above the +1,000,000 planted-variant offset used by the dedup gate
    * queries, so replica key ranges never collide with either. Replica
    * offsets are multiples of 50, so the gate's `doc_id % 50 = 0` planting
    * selects the same base docs in every replica. */
  private val KeyOff = 10_000_000L
  private val UserOff = 1_000_000L

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = args match {
      case Array(s, d)    => (s, d, 10)
      case Array(s, d, f) => (s, d, f.toInt)
      case _ => sys.error("usage: ScaleUp <srcSfDir> <dstDir> [factor]")
    }
    val spark = GraftSession.local()
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    if (!Files.exists(Paths.get(src, "events.parquet")))
      sys.error(s"srcSfDir '$src' does not contain events.parquet")
    Files.createDirectories(Paths.get(dst))

    // Fixed dimension side: byte-identical copies.
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "embeddings"))
      Files.copy(Paths.get(src, s"$t.parquet"), Paths.get(dst, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

    def replicate(base: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => mk(base, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      // Spread across enough files that a scaled scan parallelizes the way
      // a many-file cluster layout would (instead of one fat file = one
      // scan task under the default maxPartitionBytes).
      df.repartition(math.max(factor, 8))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$factor written")
    }

    val orders = Tables.orders(spark, src)
    write(replicate(orders) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff))
    }, "orders")

    val lineitem = Tables.lineitem(spark, src)
    write(replicate(lineitem) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff))
    }, "lineitem")

    // `ts` is shifted by i SECONDS per replica in whichever physical type
    // it arrives (Long nanos under nanosAsLong → +i·1e9; TIMESTAMP micros →
    // +i-second interval): with identical timestamps every (metric,
    // epoch-second) pair would appear `factor` times, leaving the tie-free
    // unique-series slice (the exact-parity domain of the typed streaming
    // twins) EMPTY at scale — the offset keeps that slice populated while
    // preserving the time distribution's shape. tools/check.py adapts its
    // oracle view to whichever type the scaled copy lands as.
    val events = Tables.eventsRaw(spark, src)
    val tsIsLong = events.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    write(replicate(events) { (e, i) =>
      e.withColumn("event_id", col("event_id") + lit(i * KeyOff))
        .withColumn("user_id", col("user_id") + lit(i * UserOff))
        .withColumn("ts",
          if (tsIsLong) col("ts") + lit(i * 1_000_000_000L)
          else col("ts") + expr(s"INTERVAL '$i' SECOND"))
    }, "events")

    val docs = Tables.documents(spark, src)
    write(replicate(docs) { (d, i) =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1" + s"x$i")
      d.withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
        .withColumn("text", text)
        .withColumn("n_chars", length(text))
    }, "documents")
  }
}
