package perfbench

/** Order statistics over measured samples. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Median of the samples, or 0 when there are none. */
  def medianOr0(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else median(xs)
}
