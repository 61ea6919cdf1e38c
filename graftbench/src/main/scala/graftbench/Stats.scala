package graftbench

/** Order statistics for the benchmark's latency samples. */
object Stats {

  /** The percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val sorted = samples.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50.0)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least `minBeyond` samples
    * beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** The one-line result the benchmark prints last. */
object ResultJson {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def render(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
