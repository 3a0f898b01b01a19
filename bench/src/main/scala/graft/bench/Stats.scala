package graft.bench

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail: the highest percentile that still has at least ten
    * samples beyond it, as (value, percentile, sample count). Below 21
    * samples that percentile would fall under the median, so the
    * median stands in and the percentile reads 50. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    if (n < 21) (median(xs), 50.0, n)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
