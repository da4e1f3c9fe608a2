package perfbench

/** Order statistics for timing samples. */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** A tail quantile: the value at nearest-rank percentile `pct`, with
    * `beyond` samples strictly above its rank out of `n`. */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int) {
    def label: String =
      if (beyond >= TailBeyond) f"p$pct%.1f (n=$n, $beyond beyond)"
      else s"max (n=$n, fewer than ${2 * TailBeyond + 1} samples)"
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest nearest-rank percentile with at least [[TailBeyond]]
    * samples beyond it: rank `n - TailBeyond` (1-based) of the sorted
    * samples. That percentile lies above the median only from
    * `2 * TailBeyond + 1` samples on; with fewer, the maximum is
    * reported instead, with `beyond = 0`. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n > 2 * TailBeyond) {
      val rank = n - TailBeyond
      Tail(s(rank - 1), 100.0 * rank / n, n - rank, n)
    } else Tail(s.last, 100.0, 0, n)
  }

  /** Total length of the union of closed intervals: overlapping and
    * nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a; curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the union of its children's
    * intervals, each clipped to the span. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end))
    })
}
