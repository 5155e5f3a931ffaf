package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def shuffled(n: Int) = new scala.util.Random(n).shuffle((1 to n).map(_.toDouble))

  test("tail returns the highest percentile with at least 10 samples beyond it") {
    for (n <- Seq(11, 31, 50, 100, 137, 1000)) {
      val xs = shuffled(n)
      val Some((pct, v)) = Stats.tail(xs)
      assert(xs.count(_ > v) == 10, s"n=$n")
      assert(pct == 100.0 * (n - 10) / n, s"n=$n")
      // one rank higher would leave only 9 samples beyond
      assert(xs.count(_ > v + 1) == 9, s"n=$n")
    }
  }

  test("tail is p90 at 100 samples and None without more than 10") {
    assert(Stats.tail(shuffled(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(shuffled(10)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
