package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs.reverse, 10) == 1.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)   // p50 has 9 beyond
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(30).contains(60.0)) // p70 has 9 beyond
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(80.0)) // p90 has 9 beyond
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    (20 to 3000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      Stats.Ladder.filter(_ > p).foreach(q => assert(Stats.beyond(n, q) < 10, s"n=$n q=$q"))
    }
  }
}
