package ragbench

object Stats {
  /** Nearest-rank percentile of unsorted samples, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val i = math.ceil(p / 100.0 * s.length).toInt - 1
    s(math.min(math.max(i, 0), s.length - 1))
  }

  /** Median with interpolation between the two middle samples; NaN
    * (which fails the run) when there are none. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile that leaves at least 10 samples above
    * it, with its value; None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
      .map(p => (p, percentile(xs, p)))
  }
}
