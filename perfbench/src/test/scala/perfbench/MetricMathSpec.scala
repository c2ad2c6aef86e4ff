package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricMathSpec extends AnyFunSuite {
  import MetricMath._

  private val oneToHundred = (1 to 100).map(_.toDouble)

  test("percentile is nearest-rank: the smallest value with p% of the sample at or below it") {
    assert(percentile(oneToHundred, 50) == 50)
    assert(percentile(oneToHundred, 99) == 99)
    assert(percentile(oneToHundred, 100) == 100)
    assert(percentile(oneToHundred, 0) == 1)
    assert(percentile(IndexedSeq(1.0, 2.0, 3.0, 4.0), 50) == 2)
    assert(percentile(IndexedSeq(7.0), 99) == 7)
    assertThrows[IllegalArgumentException](percentile(IndexedSeq.empty, 50))
  }

  test("median is the middle value, or the mean of the two middle values of an even sample") {
    assert(median(Seq(5.0, 1.0, 3.0)) == 3)
    assert(median(Seq(4.0, 2.0)) == 3)
    assert(median(Seq(7.0)) == 7)
    assert(median(Seq(9.0, 1.0, 3.0, 4.0)) == 3.5)
    assertThrows[IllegalArgumentException](median(Nil))
  }

  test("straggler ratio sums stage maxima over stage medians and skips one-task stages") {
    assert(stragglerRatio(Seq(Seq(1L, 2L, 10L))) == 5.0)
    // (10 + 4) / (2 + 4): the long stage dominates
    assert(stragglerRatio(Seq(Seq(2L, 10L, 1L), Seq(4L, 4L))) == 14.0 / 6.0)
    assert(stragglerRatio(Seq(Seq(100L), Seq(3L, 3L))) == 1.0)
    assert(stragglerRatio(Nil) == 1.0)
    assert(stragglerRatio(Seq(Seq(0L, 0L))) == 1.0)
    assert(stragglerRatio(Seq(Seq(0L, 0L, 5L))) == 5.0)
  }

  test("job-interval union merges overlaps, keeps gaps and clips to the call") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(unionLength(Seq((0L, 100L), (10L, 20L)), 0, 100) == 100)
    assert(unionLength(Seq((20L, 30L), (0L, 10L)), 0, 100) == 20)
    assert(unionLength(Seq((10L, 10L)), 0, 100) == 0)
    assert(unionLength(Seq((-50L, 10L), (90L, 200L)), 0, 100) == 20)
    assert(unionLength(Nil, 0, 100) == 0)
    assert(idleMs(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    assert(idleMs(0, 100, Nil) == 100)
    assert(idleMs(0, 100, Seq((0L, 100L))) == 0)
  }

  test("digest ignores row order but not row content or multiplicity") {
    val rows = Seq("a", "b", "c", "a")
    assert(digest(rows) == digest(rows.reverse))
    assert(digest(rows) == digest(Seq("c", "a", "a", "b")))
    assert(digest(rows) != digest(Seq("a", "b", "c")))
    assert(digest(rows) != digest(Seq("a", "b", "c", "b")))
    assert(digest(rows) != digest(Seq("a", "b", "c", "A")))
    assert(digest(Nil) == digest(Nil))
    assert(digest(Seq("x")).startsWith("1:"))
  }
}
