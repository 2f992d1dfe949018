package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pass-3 retake pacing: the budget is spread over the whole
  * alphabetical registry, so a noisy prefix cannot starve the tail. */
class BenchRetakeSpec extends AnyFunSuite {

  /** Positions that retake when the queries at `noisy` positions ask,
    * in Bench's alphabetical order. */
  private def retaken(n: Int, noisy: Int => Boolean): Seq[Int] = {
    var retakes = 0
    (0 until n).filter { i =>
      val take = noisy(i) && Bench.mayRetake(i, n, retakes)
      if (take) retakes += 1
      take
    }
  }

  test("with every query noisy the whole budget is spent, the last retake near the end") {
    val r = retaken(213, _ => true)
    assert(r.size === Bench.RetakeBudget)
    assert(r.last >= 209, s"last retake at $r")
  }

  test("when only the last 10 queries are noisy, all 10 retake") {
    assert(retaken(213, _ >= 203) === (203 until 213))
  }

  test("the pace is ceil(budget * (i + 1) / n)") {
    val n = 213
    for (i <- 0 until n; r <- 0 to Bench.RetakeBudget) {
      val allowed = math.ceil(Bench.RetakeBudget.toDouble * (i + 1) / n).toInt
      assert(Bench.mayRetake(i, n, r) === (r < allowed), s"i=$i retakes=$r")
    }
    assert(retaken(10, _ => true) === (0 until 10), "a registry under the budget retakes all")
  }
}
