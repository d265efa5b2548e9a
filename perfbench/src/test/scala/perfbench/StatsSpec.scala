package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) === 50.5)
    assert(math.abs(Stats.percentile(xs, 90) - 90.1) < 1e-9)
    assert(Stats.percentile(Seq(3.0), 99) === 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) === 3.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19) === 50) // too small for any: the median
    assert(Stats.tailPercentile(20) === 50)
    assert(Stats.tailPercentile(39) === 50)
    assert(Stats.tailPercentile(40) === 75)
    assert(Stats.tailPercentile(99) === 75)
    assert(Stats.tailPercentile(100) === 90)
    assert(Stats.tailPercentile(199) === 90)
    assert(Stats.tailPercentile(200) === 95)
    assert(Stats.tailPercentile(999) === 95)
    assert(Stats.tailPercentile(1000) === 99)
    assert(Stats.tailPercentile(1000000) === 99)
  }

  test("samplesFor gives the smallest sample at which a percentile becomes the tail") {
    for (p <- Seq(75.0, 90.0, 95.0, 99.0)) {
      val n = Stats.samplesFor(p)
      assert(Stats.tailPercentile(n) === p)
      assert(Stats.tailPercentile(n - 1) < p)
    }
    assert(Stats.samplesFor(90) === 100)
  }

  test("at the chosen percentile at least ten samples lie beyond it") {
    for (n <- Seq(20, 57, 100, 250, 1000, 4321)) {
      val xs = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tail(xs)
      assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
      val next = Stats.tailGrid.find(_ > p)
      next.foreach(q => assert(xs.count(_ > Stats.percentile(xs, q)) < 10, s"n=$n p$q"))
    }
  }
}
