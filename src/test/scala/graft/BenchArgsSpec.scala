package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's command line is parsed before any session starts: only the
  * registry run and `profile …` are accepted, so a mistyped mode cannot
  * fall through to a full registry run. */
class BenchArgsSpec extends AnyFunSuite {

  test("no argument times the registry; profile takes optional sfDir, query and passes") {
    assert(Bench.parseArgs(Seq()) === Some(Bench.Registry))
    assert(Bench.parseArgs(Seq("profile")) ===
      Some(Bench.Profile(None, "q_percentiles", 6)))
    assert(Bench.parseArgs(Seq("profile", "/d/sf0.001", "q5_region_revenue", "2")) ===
      Some(Bench.Profile(Some("/d/sf0.001"), "q5_region_revenue", 2)))
  }

  test("any other argument list is rejected") {
    Seq(Seq("profle"), Seq("concurrent"), Seq("concurrent", "mixed"),
      Seq("profile", "/d", "q1_pricing_summary", "two")).foreach { a =>
      assert(Bench.parseArgs(a) === None, a.mkString(" "))
    }
  }
}
