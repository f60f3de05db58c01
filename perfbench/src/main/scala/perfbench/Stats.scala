package perfbench

/** Summary statistics of a run's latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile). With 20 or fewer samples no percentile above the
    * median has ten samples beyond it, and the tail is the slowest sample
    * (percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val i = n - 11
    if (i <= (n - 1) / 2) (s.last, 100.0)
    else (s(i), 100.0 * (i + 1) / n)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
