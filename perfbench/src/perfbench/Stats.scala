package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Quantile `q` in [0, 1] of `xs` by linear interpolation between closest
    * ranks (the "type 7" definition numpy and R use by default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail statistic: the highest percentile that still has at least
    * `beyond` samples above it.
    *
    * For n sorted samples, the value at rank n - beyond (1-based) has exactly
    * `beyond` samples after it, so it is the percentile 100 * (n - beyond) / n.
    * With fewer than beyond + 1 samples no percentile has that support; the
    * maximum is returned and `supported` is false, so a reader can tell the
    * two cases apart. */
  case class Tail(value: Double, percentile: Double, samples: Int, supported: Boolean)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, n, supported = false)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n, supported = true)
  }
}
