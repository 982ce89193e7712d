package perfbench

/** Order statistics over timing samples.
  *
  * `Summary` carries the sample count beside every percentile so a
  * reader can see how many samples a tail figure rests on: a p90 is
  * only well supported once at least ten samples lie beyond it.
  */
object Stats {

  final case class Summary(n: Int, p50: Double, p90: Double, beyondP90: Int)

  /** Median of a non-empty sample; the mean of the two middle values
    * when the count is even (Python's `statistics.median`).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Percentile `p` in [0, 100] by linear interpolation between the
    * closest ranks (numpy's default): p0 is the minimum, p100 the
    * maximum, p50 the median.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def summarize(xs: Seq[Double]): Summary = {
    val p90 = percentile(xs, 90)
    Summary(xs.size, median(xs), p90, xs.count(_ > p90))
  }
}
