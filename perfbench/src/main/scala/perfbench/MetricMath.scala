package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The benchmark's metric arithmetic. Pure, so MetricMathSpec pins it. */
object MetricMath {

  /** Nearest-rank percentile of an ascending sample: the smallest value with
    * at least `p` percent of the sample at or below it. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p is outside [0, 100]")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.max(rank, 1) - 1)
  }

  /** The middle value of a sample, or the mean of the two middle values
    * when it has an even size: a run that measures two passes reports
    * neither its colder nor its warmer one alone. */
  def median(xs: Iterable[Double]): Double = {
    val sorted = xs.toIndexedSeq.sorted
    require(sorted.nonEmpty, "median of an empty sample")
    val mid = sorted.length / 2
    if (sorted.length % 2 == 1) sorted(mid) else (sorted(mid - 1) + sorted(mid)) / 2
  }

  /** Straggler ratio over the stages that ran two or more tasks: the sum of
    * each stage's slowest task over the sum of its median task. Summing
    * before dividing weights long stages over short ones. 1.0 when no stage
    * had two tasks or every task took 0 ms. */
  def stragglerRatio(stageTaskMs: Iterable[Seq[Long]]): Double = {
    val multi = stageTaskMs.filter(_.size >= 2).map(_.map(_.toDouble).toIndexedSeq.sorted)
    val maxSum = multi.map(_.last).sum
    if (maxSum == 0) 1.0
    else maxSum / math.max(multi.map(percentile(_, 50)).sum, 1.0)
  }

  /** Length of the union of the intervals [start, end), clipped to [lo, hi). */
  def unionLength(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toArray.sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = s
        runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** Time inside [start, end) during which none of `jobs` was running. */
  def idleMs(start: Long, end: Long, jobs: Iterable[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)

  /** Order-independent digest of a multiset of rows: the count and the
    * 128-bit wrapping sum of the rows' MD5s. Equal multisets give equal
    * digests in any order; a changed, missing or repeated row changes it. */
  final class Digest {
    private val md = MessageDigest.getInstance("MD5")
    private var hi = 0L
    private var lo = 0L
    private var n = 0L

    def add(row: String): this.type = {
      val h = ByteBuffer.wrap(md.digest(row.getBytes(UTF_8)))
      val h1 = h.getLong
      val l1 = h.getLong
      val sumLo = lo + l1
      val carry = if (java.lang.Long.compareUnsigned(sumLo, lo) < 0) 1L else 0L
      lo = sumLo
      hi = hi + h1 + carry
      n += 1
      this
    }

    def hex: String = f"$n%d:$hi%016x$lo%016x"
  }

  def digest(rows: Iterable[String]): String = {
    val d = new Digest
    rows.foreach(d.add)
    d.hex
  }
}
