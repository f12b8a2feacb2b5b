package graftbench

import org.scalatest.funsuite.AnyFunSuite

class PercentilesSpec extends AnyFunSuite {

  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("p90 needs ten samples beyond it") {
    val e = intercept[IllegalArgumentException](Percentiles.tail(xs(99), 0.9))
    assert(e.getMessage.contains("99 samples leave 9"))
    assert(Percentiles.tail(xs(100), 0.9) == 90.0)
  }

  test("a tail the sample cannot support is refused, not extrapolated") {
    intercept[IllegalArgumentException](Percentiles.tail(xs(5), 0.5))
    intercept[IllegalArgumentException](Percentiles.tail(xs(1000), 0.995))
    assert(Percentiles.tail(xs(1000), 0.99) == 990.0)
  }

  test("the highest supported tail is reported with the median and count") {
    assert(Percentiles.highestTail(xs(30)).isEmpty)
    assert(Percentiles.highestTail(xs(40)).map(_._1).contains(0.75))
    assert(Percentiles.highestTail(xs(200)).map(_._1).contains(0.95))
    val s = Percentiles.summary(xs(100))
    assert(s == Map("median" -> 50.5, "n" -> 100.0, "p90" -> 90.0))
  }

  test("median of odd and even samples") {
    assert(Percentiles.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Percentiles.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
