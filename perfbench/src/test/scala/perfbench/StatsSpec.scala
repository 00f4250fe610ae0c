package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).reverse.map(_.toDouble)

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.percentile(samples(19), 50).isEmpty)
    assert(Stats.percentile(samples(20), 50).contains(10.0))
    assert(Stats.percentile(samples(99), 90).isEmpty)
    assert(Stats.percentile(samples(100), 90).contains(90.0))
    assert(Stats.percentile(samples(200), 90).contains(180.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("driver gap is the span time no job interval covers") {
    // no jobs: all gap
    assert(Stats.driverGap(0, 100, Nil) == 100)
    // overlapping jobs count once
    assert(Stats.driverGap(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 70)
    // nested and touching intervals
    assert(Stats.driverGap(0, 100, Seq((10L, 50L), (20L, 30L), (50L, 70L))) == 40)
    // jobs are clipped to the span; jobs outside it cover nothing
    assert(Stats.driverGap(0, 100, Seq((-10L, 5L), (95L, 120L), (200L, 300L))) == 90)
    // one job covering the whole span
    assert(Stats.driverGap(10, 20, Seq((0L, 30L))) == 0)
  }

  test("interval union") {
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.unionLength(Seq((30L, 40L), (0L, 10L), (5L, 12L))) == 22)
  }
}
