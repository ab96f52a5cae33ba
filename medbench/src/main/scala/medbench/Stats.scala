package medbench

/** Summaries of latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  /** Samples strictly above the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  val Ladder: Seq[(String, Double)] = Seq(
    "p99.9" -> 0.999, "p99" -> 0.99, "p95" -> 0.95, "p90" -> 0.9,
    "p75" -> 0.75, "p50" -> 0.5)

  /** The highest percentile on [[Ladder]] with at least ten samples beyond
    * it, or the maximum when there are too few samples for any.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    Ladder.find { case (_, p) => beyond(xs.size, p) >= 10 }
      .map { case (label, p) => label -> percentile(xs, p) }
      .getOrElse("max" -> xs.max)
}
