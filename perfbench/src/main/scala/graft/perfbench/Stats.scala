package graft.perfbench

/** Order statistics and interval arithmetic the benchmark reports with. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile, in whole percent, that leaves at least
    * `beyond` of `n` samples strictly above its rank, or None when `n`
    * cannot support even the median that way. With nearest-rank
    * percentiles, p leaves n - ceil(p/100 * n) samples above it.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** Nearest-rank percentile of `xs` (p in 1..100). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Total length covered by the union of half-open [start, end)
    * intervals; empty or inverted intervals cover nothing.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Clip intervals to the window [from, to). */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter { case (s, e) => e > s }
}
