package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** The highest whole percentile that still has at least 10 samples above
    * it, by the nearest-rank rule; None below 11 samples. */
  def tailPercentile(n: Int): Option[Int] =
    if (n <= 10) None
    else Some(math.floor(100.0 * (n - 10) / n + 1e-9).toInt)
}
