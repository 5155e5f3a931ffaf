package perfbench

/** Order statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples above
    * it: the (beyond + 1)-th largest sample, returned as (percentile, value),
    * where percentile is the share of samples at or below that rank. None
    * when there are not more than `beyond` samples. With 100 samples this
    * is p90; with fewer it is a lower percentile, never an extrapolation. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some((100.0 * (n - beyond) / n, s(n - beyond - 1)))
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
