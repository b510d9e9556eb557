package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("samples beyond a nearest-rank percentile") {
    assert(Stats.beyond(219, 90) == 21)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(20, 50) == 10)
  }

  test("the highest percentile with ten samples beyond it") {
    assert(Stats.highestSupported(219).contains(95))
    assert(Stats.highestSupported(100).contains(90))
    assert(Stats.highestSupported(20).contains(50))
    assert(Stats.highestSupported(10).isEmpty)
    assert(Stats.supports(100, 90) && !Stats.supports(99, 90))
    Seq(11L, 57L, 219L, 209000L).foreach { n =>
      val p = Stats.highestSupported(n).get
      assert(Stats.beyond(n, p) >= Stats.MinBeyond)
      assert(p == 99 || Stats.beyond(n, p + 1) < Stats.MinBeyond)
    }
  }

  test("nearest-rank percentiles return measured values") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
  }

  test("the geometric mean weighs relative changes equally") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 2.0, 3.0)) - math.cbrt(3.0)) < 1e-12)
    // doubling any one sample scales the mean by the same factor
    val base = Stats.geomean(Seq(0.2, 0.4, 3.0))
    assert(math.abs(Stats.geomean(Seq(0.4, 0.4, 3.0)) / base -
      Stats.geomean(Seq(0.2, 0.4, 6.0)) / base) < 1e-12)
    assert(intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0))) != null)
  }
}
