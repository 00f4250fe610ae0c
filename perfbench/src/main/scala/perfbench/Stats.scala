package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-th percentile, reported only when at least ten
    * samples lie beyond it: the sample at rank ceil(p/100 * n) must have
    * n - rank >= 10 samples above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100 * n).toInt
    if (n == 0 || n - rank < 10) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Driver gap of a span: the part of `[start, end)` covered by no job,
    * with each job interval clipped to the span. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
