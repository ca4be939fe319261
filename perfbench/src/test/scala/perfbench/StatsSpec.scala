package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(999).contains(0.95))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(199).contains(0.9))
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.samplesBeyond(0.99, 1000) == 10)
  }

  test("a tail the sample count cannot support is refused") {
    val xs = (1 to 199).map(_.toDouble)
    assert(Stats.tail(xs, 0.9) == 180.0)
    assert(Stats.tail(xs, 0.95).isNaN)
    assert(Stats.medianOrNaN(Nil).isNaN)
  }

  test("nearest-rank quantiles and the geometric mean") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.quantile(xs, 0.8) == 4.0)
    assert(Stats.quantile(xs, 1.0) == 5.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }
}
