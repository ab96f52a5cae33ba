package medbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(samples(200)) == ("p95" -> 190.0))
    assert(Stats.tail(samples(199)) == ("p90" -> 180.0))
    assert(Stats.tail(samples(1000)) == ("p99" -> 990.0))
    assert(Stats.tail(samples(100)) == ("p90" -> 90.0))
    assert(Stats.tail(samples(40)) == ("p75" -> 30.0))
    assert(Stats.tail(samples(25)) == ("p50" -> 13.0))
  }

  test("too few samples for any percentile report the maximum") {
    assert(Stats.tail(samples(19)) == ("max" -> 19.0))
    assert(Stats.tail(Seq(3.0)) == ("max" -> 3.0))
  }

  test("every reported percentile really has ten samples beyond it") {
    for (n <- 1 to 2000) {
      val (label, v) = Stats.tail(samples(n))
      if (label != "max") assert(samples(n).count(_ > v) >= 10, s"n=$n $label")
    }
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
