package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median interpolates between the two middle samples") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("typical pass sums each operation's median over the passes") {
    // The stall in the second pass's first operation does not count.
    val passes = Seq(Seq(1.0, 2.0), Seq(9.0, 2.2), Seq(1.2, 2.4))
    assert(math.abs(Stats.typicalPass(passes) - 3.4) < 1e-12)
    assert(math.abs(Stats.median(passes.map(_.sum)) - 3.6) < 1e-12)
    assert(Stats.typicalPass(Seq(Seq(1.5))) == 1.5)
    assertThrows[IllegalArgumentException](Stats.typicalPass(Seq(Seq(1.0), Seq(1.0, 2.0))))
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 99) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
  }

  test("tail picks the highest rung with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p95 leaves 5 beyond, p90 leaves exactly 10.
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90.0, 10))
    val big = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(big) == Stats.Tail(99.0, 990.0, 10))
    val forty = (1 to 40).map(_.toDouble)
    assert(Stats.tail(forty) == Stats.Tail(75.0, 30.0, 10))
  }

  test("tail counts only samples strictly above the percentile value") {
    // 100 samples, the top 20 tied: p90 and p95 have nothing strictly above.
    val xs = (1 to 80).map(_.toDouble) ++ Seq.fill(20)(1000.0)
    assert(Stats.tail(xs) == Stats.Tail(75.0, 75.0, 25))
  }

  test("too few samples fall back to the median and say how thin the tail is") {
    val xs = Seq(3.0, 1.0, 2.0, 5.0)
    assert(Stats.tail(xs) == Stats.Tail(50.0, 2.0, 2))
    assert(Stats.tail(Seq(7.0)) == Stats.Tail(50.0, 7.0, 0))
  }
}
