package perfbench

/** The benchmark's own arithmetic: quantiles, the percentile rule and
  * interval unions. Pure functions, covered by StatsSpec. */
object Stats {

  /** Linearly interpolated quantile, `q` in [0, 1] (rank q * (n - 1) over
    * the sorted samples). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A percentile `p` (0-100) of `n` samples may be reported only when at
    * least ten samples lie beyond it. */
  def reportable(n: Int, p: Double): Boolean = n * (100.0 - p) >= 1000.0 - 1e-9

  /** The highest tail percentile that [[reportable]] allows for `n`. */
  def highestReportable(n: Int): Option[Double] =
    Seq(90.0, 99.0, 99.9).filter(reportable(n, _)).maxOption

  /** Length of the union of the half-open intervals [start, end), clipped
    * to the window [lo, hi). Overlapping and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time in [lo, hi) during which no job ran: the driver-only time. */
  def driverOnly(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - unionLength(jobs, lo, hi)
}
