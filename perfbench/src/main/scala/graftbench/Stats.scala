package graftbench

import scala.collection.mutable

/** Summary statistics and metric formatting shared by every workload. */
object Stats {

  /** The p-th percentile (0..100), interpolating linearly between the
    * nearest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles the tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a percentile for it to count as the tail. */
  val TailBeyond = 10

  /** The tail: the highest candidate percentile with at least
    * [[TailBeyond]] samples above it. Returns (percentile, value); with too
    * few samples for any candidate the tail is the median, reported as
    * percentile 50. */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailCandidates.iterator.map(p => (p, percentile(xs, p)))
      .find { case (_, v) => xs.count(_ > v) >= TailBeyond }
      .getOrElse((50.0, median(xs)))

  /** Names every metric must match before it is printed. */
  val NamePattern = "[A-Za-z0-9_.-]+".r

  def validName(name: String): Boolean =
    NamePattern.matches(name) && name.length <= 64 && name.head.isLetterOrDigit
}

/** One metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** Ordered metric table for one run; refuses names outside the name rule. */
final class MetricTable {
  private val entries = mutable.LinkedHashMap.empty[String, Metric]

  def put(name: String, value: Double, unit: String): Unit = {
    require(Stats.validName(name), s"invalid metric name '$name'")
    entries(name) = Metric(value, unit)
  }

  def toJson: String = entries.map { case (k, m) =>
    s""""$k":{"value":${Json.num(m.value)},"unit":"${m.unit}"}"""
  }.mkString("{", ",", "}")
}

/** Minimal JSON writing for the benchmark's own output. */
object Json {
  /** A finite number printed with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
