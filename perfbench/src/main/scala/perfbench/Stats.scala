package perfbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of no samples")
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A tail latency together with the percentile it sits at. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  /** Samples that must lie strictly beyond the reported tail. */
  val TailBeyond = 10

  /** The highest percentile that still has [[TailBeyond]] samples above
    * it: the (TailBeyond + 1)-th largest sample, at percentile
    * 100 * (n - TailBeyond) / n. A fixed p99 over a few dozen samples is
    * the maximum in disguise; choosing the percentile by sample count
    * keeps the tail an order statistic with support behind it. With too
    * few samples for any such percentile the median is reported. */
  def tail(xs: Iterable[Double]): Tail = {
    val s = xs.toArray.sorted
    val n = s.length
    require(n > 0, "tail of no samples")
    if (n <= 2 * TailBeyond) Tail(50.0, median(s), n)
    else Tail(100.0 * (n - TailBeyond) / n, s(n - 1 - TailBeyond), n)
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Iterable[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curStart.isNaN || a > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Self time of a span: its duration minus the part covered by its
    * children. Children are clipped to the parent, and overlapping or
    * abutting children are counted once. */
  def selfTime(parent: (Double, Double), children: Iterable[(Double, Double)]): Double = {
    val (ps, pe) = parent
    val clipped = children.map { case (a, b) => (math.max(a, ps), math.min(b, pe)) }
    math.max(0.0, (pe - ps) - unionLength(clipped))
  }

  /** Records the storage layer wrote per row the statement changed. A
    * statement that reports no changed rows but still wrote counts its
    * writes against one row, so a rewrite that changes nothing shows. */
  def rowsWrittenPerRowChanged(recordsWritten: Long, rowsChanged: Long): Double =
    recordsWritten.toDouble / math.max(1L, rowsChanged)
}
