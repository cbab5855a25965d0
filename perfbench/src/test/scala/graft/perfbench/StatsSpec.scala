package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of an odd sample is its middle value, in any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("median of an even sample is the mean of the two middle values") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("percentiles interpolate linearly between closest ranks") {
    val xs = Seq(10.0, 20.0, 30.0, 40.0, 50.0)
    assert(Stats.percentile(xs, 0) == 10.0)
    assert(Stats.percentile(xs, 100) == 50.0)
    assert(Stats.percentile(xs, 25) == 20.0)
    assert(Stats.percentile(xs, 90) == 46.0)
    assert(Stats.percentile(Seq(7.0), 75) == 7.0)
  }

  test("empty samples and out-of-range percentiles are refused") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
