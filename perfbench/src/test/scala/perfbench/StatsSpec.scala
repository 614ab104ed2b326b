package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles are nearest-rank; the median of an even count is the lower middle") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.0)
    assert(Stats.percentile(xs, 75.0) == 3.0)
    assert(Stats.percentile(xs, 100.0) == 4.0)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 99.0) == 990.0)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.beyond(1000, 99.0) == 10)
    assert(Stats.beyond(999, 99.0) == 9)
    assert(Stats.samplesFor(99.0) == 1000)
    assert(Stats.samplesFor(95.0) == 200)
    assert(Stats.samplesFor(50.0) == 20)
    assert(Serve.MinRequests == 200)
  }

  test("medianIndex points at the median sample") {
    val xs = Seq(5.0, 9.0, 1.0, 7.0, 3.0)
    assert(xs(Stats.medianIndex(xs)) == Stats.median(xs))
  }
}
