package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Percentile `p` in [0, 1], linearly interpolated between order
    * statistics (the same rule as numpy's default).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** A tail percentile together with the evidence behind it. */
  final case class Tail(p: Double, value: Double, n: Int) {
    def label: String = f"p${p * 100}%.1f"
  }

  /** The highest percentile that still has `beyond` samples above it,
    * `1 - beyond / n` (continuous in n, so a run with a few more samples
    * moves it only slightly); the median when there are too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val n = xs.length
    val p = math.max(0.5, 1.0 - beyond.toDouble / n)
    Tail(p, percentile(xs, p), n)
  }
}
