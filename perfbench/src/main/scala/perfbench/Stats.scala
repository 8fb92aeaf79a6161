package perfbench

/** Order statistics used by every reported timing. Pure functions, so
  * the self-test can pin them against hand-computed values. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Quartiles (q1, q2, q3) by the rule of Python's
    * `statistics.quantiles(xs, n=4)` (method 'exclusive'), which is
    * how run-to-run spread is judged: the i-th cut sits at position
    * (n + 1) * i / 4 of the sorted samples, the bracketing index is
    * clamped to 1 .. n-1, and the cut interpolates (or, past the ends,
    * extrapolates) between its two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val n = s.length
    val m = n + 1
    def cut(i: Int): Double = {
      val j = math.max(1, math.min(i * m / 4, n - 1))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** The reported tail: the mean of the slowest quarter of the samples
    * (at least one), i.e. the expected latency of an operation beyond
    * the 75th percentile. Returns (value, samples averaged). A run holds
    * eight /query calls or one batch, so a single order statistic up
    * there (the maximum, or p90) swings with whichever one slow sample the
    * run drew; the mean over the slowest quarter swings less. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val m = (xs.length + 3) / 4
    val slowest = xs.sorted.takeRight(m)
    (slowest.sum / m, m)
  }

  /** Length of the union of [start, end) intervals clipped to
    * [lo, hi): the part of a span that a set of child intervals
    * covers. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }
}
