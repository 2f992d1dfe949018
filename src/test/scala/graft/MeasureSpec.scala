package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement core: the host-ratio arithmetic every harness
  * normalizes by, and the min-of-passes timer. Pure functions — no Spark. */
class MeasureSpec extends AnyFunSuite {

  private val cleanBw = Seq(Measure.BwRefGbps, Measure.BwRefGbps, Measure.BwRefGbps)

  test("spin_ratio uses the fastest spin sample") {
    val h = Measure.hostRatio(Seq(250.0, 150.0, 400.0), cleanBw)
    assert(h.spinRatio === 1.5)
    assert(h.value === 1.5)
  }

  test("bw_ratio uses the true median for odd and even sample counts") {
    val odd = Measure.hostRatio(Seq(100.0), Seq(58.0, 10.0, 40.0))
    assert(odd.bwMedian === 40.0)
    assert(odd.bwRatio === 58.0 / 40.0)
    // even: the mean of the two middle samples, not the upper-middle one
    val even = Measure.hostRatio(Seq(100.0), Seq(58.0, 10.0, 40.0, 50.0))
    assert(even.bwMedian === 45.0)
    assert(even.bwRatio === 58.0 / 45.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Measure.median(Seq(7.0)) === 7.0)
  }

  test("each clamp edge: spin at 3, bandwidth at 2, product at 3, floor at 1") {
    assert(Measure.hostRatio(Seq(500.0), cleanBw).spinRatio === 3.0)
    assert(Measure.hostRatio(Seq(100.0), Seq(10.0)).bwRatio === 2.0)
    val product = Measure.hostRatio(Seq(200.0), Seq(10.0))
    assert(product.spinRatio === 2.0 && product.bwRatio === 2.0)
    assert(product.value === 3.0)
    val fast = Measure.hostRatio(Seq(50.0), Seq(100.0))
    assert(fast.spinRatio === 1.0 && fast.bwRatio === 1.0 && fast.value === 1.0)
  }

  test("Bench's preliminary and final host ratios are one function") {
    // the two formulas Bench carried before they were merged: the
    // band-escape preliminary ratio and the final gate ratio
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def prelim(spins: Seq[Double], bws: Seq[Double]): Double =
      ((spins.min / 100.0).max(1.0).min(3.0) *
        (58.0 / median(bws)).max(1.0).min(2.0)).max(1.0).min(3.0)
    def finalRatio(spins: Seq[Double], bws: Seq[Double]): Double = {
      val spinRatio = (spins.min / 100.0).max(1.0).min(3.0)
      val bwRatio = (58.0 / median(bws)).max(1.0).min(2.0)
      (spinRatio * bwRatio).max(1.0).min(3.0)
    }
    val rnd = new scala.util.Random(7)
    for (n <- Seq(3, 4); _ <- 1 to 200) {
      val spins = Seq.fill(n)(60.0 + rnd.nextDouble() * 300.0)
      val bws = Seq.fill(n)(5.0 + rnd.nextDouble() * 70.0)
      val h = Measure.hostRatio(spins, bws).value
      assert(h === prelim(spins, bws))
      assert(h === finalRatio(spins, bws))
    }
  }

  test("minOfPasses runs before once per pass, the body N times, and returns the min") {
    var befores = 0
    var bodies = 0
    val sleepsMs = Seq(200L, 5L, 200L)
    val out = new java.io.ByteArrayOutputStream()
    val min = Console.withOut(out) {
      Measure.minOfPasses("t", "label", 3, before = () => befores += 1) {
        assert(befores === bodies + 1, "before runs ahead of each pass")
        Thread.sleep(sleepsMs(bodies))
        bodies += 1
      }
    }
    assert(befores === 3 && bodies === 3)
    assert(min >= 0.005 && min < 0.2, s"min $min is not the fastest pass")
    val line = out.toString.trim
    assert(line.matches("""\[t\] label {23} +\d+\.\d\d s  \(passes: \d+\.\d\d/\d+\.\d\d/\d+\.\d\d\)"""), line)
    assert(line.contains(Measure.num(min, 2) + " s"))
  }
}
