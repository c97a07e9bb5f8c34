package perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency: the highest percentile that still has at least
    * `beyond` samples above it, with that percentile and the sample
    * count. With 100 samples and `beyond` = 10 it is the 90th value
    * (p90); with fewer than `beyond` + 1 samples it is the maximum.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = math.max(0, n - beyond - 1)
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(i), 100.0 * (i + 1) / n, n)
  }

  /** Length of the union of closed intervals (start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
