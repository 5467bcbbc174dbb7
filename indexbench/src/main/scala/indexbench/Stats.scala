package indexbench

/** Order statistics used by every metric. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail of a freshness sample and its percentile: the highest whole
    * percentile with at least 10 samples above it, but never below the
    * 75th. Under 40 samples that rule would fall below p75, so the tail is
    * the interpolated p75 there: a maximum of a few samples would report
    * the run's worst stall, not the program. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n < 40) (75, quantile(xs, 0.75))
    else {
      val s = xs.sorted.toIndexedSeq
      // samples strictly above the k-th smallest: n - k; need >= 10
      val k = n - 10 // 1-based rank of the tail sample
      val pct = math.floor(100.0 * k / n).toInt
      (pct, s(k - 1))
    }
  }
}
