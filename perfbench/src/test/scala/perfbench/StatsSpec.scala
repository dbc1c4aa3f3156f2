package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.5) === 50.0)
    assert(Stats.percentile(xs, 0.9) === 90.0)
    assert(Stats.percentile(xs, 1.0) === 100.0)
    assert(Stats.percentile(Seq(3.0), 0.9) === 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
  }

  test("a p90 rests on ten samples from 100 samples up, a p80 from 50") {
    assert(Stats.beyond(100, 0.9) === 10)
    assert(Stats.beyond(99, 0.9) < 10)
    assert((100 to 1000).forall(n => Stats.beyond(n, 0.9) >= 10))
    assert(Stats.beyond(50, 0.8) === 10 && Stats.beyond(49, 0.8) < 10)
    assert(Stats.beyond(4 * 13, Metrics.TailRank) === 10, "four passes of queries_light")
    // the samples beyond the percentile are exactly those above it
    val xs = (1 to 250).map(_.toDouble)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) === Stats.beyond(xs.size, 0.9))
  }

  test("no samples is an error, not a number, except when reporting") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assert(Stats.quantileOrZero(Nil, 0.8) === 0.0)
  }

  test("Harrell-Davis quantile: exact cases") {
    assert(Stats.quantile(Seq(7.0), 0.5) === 7.0)
    assert(Stats.quantile(Seq(7.0), 0.8) === 7.0)
    assert(math.abs(Stats.quantile(Seq(1.0, 3.0), 0.5) - 2.0) < 1e-12, "two samples: their mean")
    // symmetric samples: the middle, in any order
    assert(math.abs(Stats.quantile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 0.5) - 3.0) < 1e-12)
    val xs = (1 to 40).map(i => math.sqrt(i.toDouble))
    val q = Stats.quantile(xs, 0.8)
    assert(math.abs(Stats.quantile(xs.reverse, 0.8) - q) < 1e-12)
    assert(math.abs(Stats.quantile(xs.map(_ * 3), 0.8) - 3 * q) < 1e-12, "scales with the samples")
    assert(q > Stats.quantile(xs, 0.5) && q > xs.min && q < xs.max)
  }

  test("across a gap between clusters the quantile moves smoothly, the nearest rank jumps") {
    // 13 queries x 4 passes, two latency clusters; one sample crosses the gap
    val fast = Seq.fill(26)(0.25)
    val slow = Seq.fill(25)(0.40)
    val before = fast.init ++ Seq(0.26) ++ slow
    val after = fast.init ++ Seq(0.41) ++ slow
    assert(Stats.median(after) - Stats.median(before) > 0.13)
    val moved = Stats.quantile(after, 0.5) - Stats.quantile(before, 0.5)
    assert(moved > 0 && moved < 0.02, s"moved $moved")
  }
}
