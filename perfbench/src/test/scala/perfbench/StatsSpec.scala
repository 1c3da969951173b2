package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble).reverse
    // 40 samples: the 30th smallest has exactly 10 above it -> p75
    assert(Stats.tail(xs) == Some((30.0, 75.0)))
    val (v, p) = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(v == 1.0 && math.abs(p - 100.0 / 11) < 1e-12)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "ten samples leave none with ten beyond")
    assert(Stats.tail((1 to 100).map(_.toDouble), beyond = 5) == Some((95.0, 95.0)))
  }

  test("covered length merges overlapping intervals and clips to the window") {
    assert(Stats.covered(Seq((10L, 50L), (30L, 70L)), 0, 100) == 60)
    assert(Stats.covered(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Stats.covered(Seq((-10L, 20L), (90L, 140L)), 0, 100) == 30)
    assert(Stats.covered(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Stats.covered(Nil, 0, 100) == 0)
  }
}
