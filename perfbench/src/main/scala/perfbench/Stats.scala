package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Percentile `p` (0..100) with linear interpolation between closest
    * ranks, the same rule as numpy's default and DuckDB's quantile_cont.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at. */
  val tailGrid: Seq[Double] = Seq(50, 75, 90, 95, 99)

  /** The highest percentile in [[tailGrid]] that has at least `beyond`
    * samples above it in a sample of `n`: n * (100 - p) / 100 >= beyond.
    * A sample too small for any of them reports its median.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    tailGrid.filter(p => n * (100 - p) >= beyond * 100).lastOption.getOrElse(50.0)

  /** The smallest sample with at least `beyond` samples above percentile `p`. */
  def samplesFor(p: Double, beyond: Int = 10): Int = math.ceil(beyond * 100 / (100 - p)).toInt

  /** (percentile, value) of the tail of `xs` under [[tailPercentile]]. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }
}
