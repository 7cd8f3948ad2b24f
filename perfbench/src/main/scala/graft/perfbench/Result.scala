package graft.perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)
}

/** What one workload run reports back: end-to-end values, per-layer
  * values, and correctness tallies. `attempted` counts operations; a
  * failure is keyed by its operation, so an operation that both throws
  * and fails a later output check counts once. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  val failures = mutable.LinkedHashMap.empty[String, String]
  /** Wall-clock time (epoch ms) the first timed operation started. */
  var firstOpEpochMs = 0L

  def startTimed(): Unit =
    if (firstOpEpochMs == 0L) firstOpEpochMs = System.currentTimeMillis()

  /** Record operation `key` as failed, keeping its first message. */
  def fail(key: String, what: => String): Unit =
    if (!failures.contains(key)) failures(key) = what

  def toJson: String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    def strs(m: collection.Map[String, String]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"first_op_epoch_ms":$firstOpEpochMs,"attempted":$attempted,""" +
      s""""failures":${strs(failures)},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},"info":${strs(info)}}"""
  }
}
