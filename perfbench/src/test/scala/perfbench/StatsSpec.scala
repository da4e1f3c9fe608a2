package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 20.0)
    assert(t.beyond == 10 && t.n == 30)
    assert(math.abs(t.pct - 100.0 * 20 / 30) < 1e-9)
    // one rank higher would leave only nine samples beyond
    assert(xs.count(_ > 21.0) == 9)
    assert(t.label.contains("n=30") && t.label.contains("10 beyond"))
  }

  test("tail needs 21 samples to lie above the median, else it is the maximum") {
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    assert(t21.value == 11.0 && t21.beyond == 10)
    val t20 = Stats.tail((1 to 20).map(_.toDouble))
    assert(t20.value == 20.0 && t20.beyond == 0 && t20.n == 20)
    assert(t20.label.contains("max") && t20.label.contains("n=20"))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("union length counts overlapping and nested intervals once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((4L, 6L), (0L, 1L), (2L, 3L))) == 4L)
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 8L))) == 8L)
  }

  test("self time subtracts the clipped union of overlapping children") {
    // children cover [10, 50] (overlapping) and [90, 100] once clipped
    val self = Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 50L), (90L, 120L)))
    assert(self == 50L)
    // a plain sum of the children would overcount: 20 + 30 + 30 = 80
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((-5L, 200L))) == 0L)
  }
}
