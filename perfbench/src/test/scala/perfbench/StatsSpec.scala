package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-6

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("Harrell-Davis quantiles of evenly spaced samples") {
    assert(near(Stats.harrellDavis(samples(10), 0.5), 5.5))
    assert(near(Stats.harrellDavis(samples(100), 0.9), 90.5))
    assert(Stats.harrellDavis(Seq(7.0), 0.5) == 7.0)
    assert(near(Stats.harrellDavis(Seq.fill(5)(3.0), 0.9), 3.0))
  }

  test("Harrell-Davis median moves little when one sample crosses a gap") {
    // Two operations' clusters: moving one sample from the fast one to the
    // slow one flips the sample median from 100 to 200.
    val before = Seq.fill(8)(100.0) ++ Seq.fill(7)(200.0)
    val after = Seq.fill(7)(100.0) ++ Seq.fill(8)(200.0)
    assert(Stats.median(before) == 100.0 && Stats.median(after) == 200.0)
    val (hb, ha) = (Stats.harrellDavis(before, 0.5), Stats.harrellDavis(after, 0.5))
    assert(hb > 100.0 && ha < 200.0)
    assert(ha - hb < 25.0, s"$hb -> $ha")
  }

  test("p90 is reported when ten samples sit above it") {
    val t = Stats.tail(samples(100))
    assert(t.p == 0.90 && t.n == 100)
    assert(near(t.value, 90.5))
    assert(samples(100).count(_ > t.value) == 10)
  }

  test("with fewer samples the highest percentile backed by ten is used") {
    val t = Stats.tail(samples(32))
    assert(t.p == 22.0 / 32)
    assert(t.n == 32)
    assert(near(t.value, 22.5))
    assert(samples(32).count(_ > t.value) == 10)
  }

  test("when not even the median has ten above it, the median is reported") {
    for ((n, want) <- Seq(10 -> 5.5, 20 -> 10.5)) {
      val t = Stats.tail(samples(n))
      assert(t.p == 0.5 && t.n == n && near(t.value, want), s"n=$n: $t")
    }
    assert(Stats.tail(Seq(7.0)) == Stats.Tail(7.0, 0.5, 1))
  }

  test("the tail is never below the median") {
    for (n <- 1 to 150) {
      val xs = samples(n)
      assert(Stats.tail(xs).value >= Stats.harrellDavis(xs, 0.5) - 1e-9, s"n=$n")
    }
  }
}
