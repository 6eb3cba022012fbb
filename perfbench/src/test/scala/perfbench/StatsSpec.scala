package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(percentile(xs, 0) == 1.0)
    assert(percentile(xs, 100) == 4.0)
    assert(median(xs) == 2.5)
    assert(math.abs(percentile(xs, 90) - 3.7) < 1e-12)
    assert(median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](percentile(Nil, 50))
    assertThrows[IllegalArgumentException](percentile(xs, 101))
  }

  test("slope is the least-squares fit") {
    assert(math.abs(slope(Seq(0.0 -> 1.0, 1.0 -> 4.0, 2.0 -> 7.0)) - 3.0) <
      1e-12)
    assert(slope(Seq(0.0 -> 5.0, 1.0 -> 5.0, 2.0 -> 5.0)) == 0.0)
    assert(slope(Seq(1.0 -> 5.0)) == 0.0)
    assert(slope(Seq(1.0 -> 5.0, 1.0 -> 9.0)) == 0.0)
    // noise around a flat backlog fits near zero
    assert(math.abs(slope(Seq(0.0 -> 10.0, 1.0 -> 0.0, 2.0 -> 10.0,
      3.0 -> 0.0, 4.0 -> 10.0, 5.0 -> 0.0))) < 3.0)
  }

  test("the sustained rate is the last rung of the unbroken passing run") {
    def rung(offered: Double, p90: Double, slope: Double = 0.0,
        lost: Long = 0L) = Rung(offered, offered * 0.99, p90, slope, lost)
    val ladder = Seq(rung(100, 900), rung(200, 1500), rung(400, 3000),
      rung(800, 1000))
    // the 800 rung passes but sits above a failed one: not sustained
    assert(sustainedRate(ladder, 2500, 0.2) == 198.0)
    assert(sustainedRate(ladder, 500, 0.2) == 0.0)
    assert(sustainedRate(ladder, 5000, 0.2) == 792.0)
    assert(sustainedRate(Seq(rung(100, 900, lost = 1)), 2500, 0.2) == 0.0)
    assert(sustainedRate(Seq(rung(100, 900, slope = 30)), 2500, 0.2) == 0.0)
    assert(sustainedRate(Seq(rung(100, 900, slope = 10)), 2500, 0.2) == 99.0)
    assert(sustainedRate(Nil, 2500, 0.2) == 0.0)
  }
}
