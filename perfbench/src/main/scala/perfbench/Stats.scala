package perfbench

/** Summary statistics of one run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile of `xs` that still has at least
    * `beyond` samples above it. With n samples that is the sample at
    * rank n - beyond (1-based), i.e. percentile 100 * (n - beyond) / n.
    * Returns (value, percentile), or None with fewer than beyond + 1
    * samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else Some((xs.sorted.apply(n - beyond - 1), 100.0 * (n - beyond) / n))
  }

  /** Union length of half-open intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
