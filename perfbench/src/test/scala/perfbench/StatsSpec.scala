package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts; the order of samples does not matter") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.supportedPercentile(1).isEmpty)
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(40).contains(75.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(199).contains(90.0))
    assert(Stats.supportedPercentile(200).contains(95.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(10000).contains(99.9))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90.0) == 90.0)
    assert(Stats.percentile(xs, 50.0) == 50.0)
    assert(Stats.percentile(Seq(5.0), 99.0) == 5.0)
  }

  test("describe states the sample count and withholds unsupported percentiles") {
    assert(Stats.describe(Seq(1.0, 2.0, 3.0)).contains("n=3"))
    assert(Stats.describe(Seq(1.0, 2.0, 3.0)).contains("no higher percentile"))
    assert(Stats.describe((1 to 100).map(_.toDouble)).contains("p90.0=90.0000"))
  }
}
