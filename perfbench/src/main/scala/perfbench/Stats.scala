package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile above the median with at least ten samples
    * beyond it; none below 40 samples, where only the median qualifies.
    */
  def tailRank(n: Int): Option[Double] =
    ladder.find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
