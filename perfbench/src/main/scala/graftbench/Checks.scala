package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprints.
  *
  * Each row hashes to two 64-bit values (different seeds); the fingerprint
  * is the row count and the decimal sums of both hashes, so row order and
  * partitioning do not matter. Doubles are rounded to 10 significant digits
  * first, which absorbs the last-bit noise a different summation order
  * leaves in floating-point aggregates. */
object Fingerprint {
  private def normalized(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType =>
          val d = c.cast("double")
          val mag = floor(log10(abs(d)))
          when(d.isNull || isnan(d) || d === 0.0, d)
            .otherwise(round(d / pow(lit(10.0), mag - 9), 0) * pow(lit(10.0), mag - 9))
            .as(f.name)
        case _ => c.as(f.name)
      }
    }

  /** Per-row hashes of `df` tagged with `side`. */
  private def hashed(df: DataFrame, side: Int): DataFrame = {
    val cols = normalized(df)
    df.select(lit(side).as("__side"),
      xxhash64(cols: _*).cast("decimal(38,0)").as("__h1"),
      xxhash64((lit(0x5bd1e995L) +: cols): _*).cast("decimal(38,0)").as("__h2"))
  }

  /** Fingerprints of several frames, computed in one Spark job. */
  private def many(dfs: Seq[DataFrame]): Seq[String] = {
    val rows = dfs.zipWithIndex.map { case (d, i) => hashed(d, i) }.reduce(_ union _)
      .groupBy("__side").agg(count(lit(1)), sum("__h1"), sum("__h2"))
      .collect().map(r => r.getInt(0) -> r).toMap
    dfs.indices.map { i =>
      rows.get(i).fold("0:0:0")(r => s"${r.getLong(1)}:${r.getDecimal(2)}:${r.getDecimal(3)}")
    }
  }

  def of(df: DataFrame): String = many(Seq(df)).head

  def pair(a: DataFrame, b: DataFrame): (String, String) = {
    val Seq(fa, fb) = many(Seq(a, b))
    (fa, fb)
  }
}

/** File scans of the physical plan a frame executed, adaptive query
  * stages and subqueries included. */
object ExecutedScans extends AdaptiveSparkPlanHelper {
  def roots(df: DataFrame): Seq[String] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
}

/** The session-leak guard: after every operation the session must look as
  * it did before the loop began. Leaked state would silently change the
  * timing of every later operation, so a leak fails the operation. */
final class LeakGuard(spark: SparkSession, tmpRoot: File, ownRoots: () => Set[String]) {
  private val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")

  /** Temp roots left under the JVM's temp directory: graft's replay roots
    * (`graft_replay_*`) and the per-call roots of its registry queries. */
  private def tempEntries: Seq[String] =
    Option(tmpRoot.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("graft_"))

  def check(): Option[String] = {
    val problems = Seq(
      Option(spark.conf.get("spark.sql.shuffle.partitions"))
        .filter(_ != shufflePartitions)
        .map(v => s"spark.sql.shuffle.partitions is $v, was $shufflePartitions"),
      Some(graft.plans.BenchRegistrations.viewRoots -- ownRoots())
        .filter(_.nonEmpty).map(r => s"foreign Materialized registrations: ${r.mkString(",")}"),
      Some(spark.streams.active.toSeq).filter(_.nonEmpty)
        .map(a => s"${a.size} streaming queries still active"),
      Some(tempEntries).filter(_.nonEmpty)
        .map(t => s"temp roots left behind: ${t.mkString(",")}")
    ).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }
}
