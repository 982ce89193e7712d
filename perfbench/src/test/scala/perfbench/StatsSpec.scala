package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples matches Python's statistics.median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile interpolates between closest ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 11.0)
    assert(Stats.percentile(xs, 50) == 6.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0), 90) - 1.9) < 1e-12)
  }

  test("summary reports its sample count and the samples beyond p90") {
    val s = Stats.summarize((1 to 100).map(_.toDouble))
    assert(s.n == 100)
    assert(s.p50 == 50.5)
    assert(math.abs(s.p90 - 90.1) < 1e-9)
    assert(s.beyondP90 == 10)
    val small = Stats.summarize(Seq(5.0, 1.0, 3.0))
    assert(small.n == 3 && small.p50 == 3.0 && small.beyondP90 == 1)
  }

  test("empty samples are rejected") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }
}
