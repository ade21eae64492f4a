package servebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-6

  test("Harrell-Davis quantiles match reference values") {
    assert(near(Stats.pct(Seq(5.0, 1, 4, 2, 3), 0.5), 3.0))
    assert(near(Stats.pct((1 to 20).map(_.toDouble), 0.95), 19.426825724))
    assert(near(Stats.pct((1 to 6).map(_.toDouble), 0.95), 5.903006537))
    assert(Stats.pct(Seq(7.0), 0.5) == 7.0 && Stats.pct(Nil, 0.5) == 0.0)
  }
}
