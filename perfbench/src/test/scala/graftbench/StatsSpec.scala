package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("samplesFor is the smallest sample the tail rule accepts at that percentile") {
    for (p <- Stats.TailCandidates) {
      val n = Stats.samplesFor(p)
      assert(Stats.tailPercentile(n).exists(_ >= p), s"p$p at n=$n")
      assert(!Stats.tailPercentile(n - 1).exists(_ >= p), s"p$p at n=${n - 1}")
    }
    assert(Stats.samplesFor(75) == 40)
    assert(Stats.samplesFor(90) == 100)
  }

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 90) == 4.6)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.median(Nil).isNaN)
  }
}
