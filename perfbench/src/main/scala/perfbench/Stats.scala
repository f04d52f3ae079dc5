package perfbench

/** Order statistics used for every reported percentile. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least `p`·n
    * samples at or below it (p50 of 1..10 is 5, p90 is 9). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
