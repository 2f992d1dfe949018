package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-query bench regression gate (round-17 verdict task 1) —
  * pure-function pins plus a ledger round-trip, including the verdict's
  * "one simulated regression caught" requirement. */
class BenchGateSpec extends AnyFunSuite {

  private val ref = Map(
    "q_fast" -> 0.050, // micro map-only plan
    "q_mid" -> 0.400,
    "q_heavy" -> 1.500)

  test("a genuine 2x+ regression on a non-micro query is caught") {
    val measured = Map("q_fast" -> 0.060, "q_mid" -> 0.900, "q_heavy" -> 3.400)
    val r = BenchGate.gate(ref, measured, Map.empty[String, Int])
    assert(r.regressions.map(_.query) === Seq("q_heavy"),
      "a heavy (>= SmallRefSec ref) doubling fails immediately")
    assert(r.regressions.head.ratio > 2.0 && r.regressions.head.refSec === 1.500)
    // q_mid's 0.4s reference is INSIDE the measured noise envelope
    // (round-18: a9_funnel ref 0.373 tripped 2.04x on a gc-heavy host
    // with unchanged code) — first trip is a suspect, not a verdict flip
    assert(r.suspects.map(_.query) === Seq("q_mid"))
  }

  test("micro-query jitter below the absolute noise floor is not a regression") {
    // 2.4x ratio but only +0.07 s — the e_knn_ivf 0.37->0.59 s noise
    // class the round-16 audit documented; a ratio-only gate would
    // flip the verdict on scheduler noise
    val regs = BenchGate.trips(ref, Map("q_fast" -> 0.120))
    assert(regs.isEmpty)
  }

  test("just-under-2x on a heavy query passes; just-over fails") {
    assert(BenchGate.trips(ref, Map("q_heavy" -> 2.990)).isEmpty)
    assert(BenchGate.trips(ref, Map("q_heavy" -> 3.010)).nonEmpty)
  }

  test("a query with no reference entry never regresses (first run seeds)") {
    assert(BenchGate.trips(ref, Map("q_new" -> 99.0)).isEmpty)
  }

  // --- Round-18 policy: the sub-0.2s reference class (SmallRefSec) ---

  test("a sub-0.2s-reference first-time trip is a suspect, not a regression (the a15 case)") {
    // the exact round-17 driver numbers that motivated the rule:
    // a15_level_shift ref 0.135, banded-sample norm 0.313 (ratio 2.32,
    // +0.178 s — 28 ms past the old floor)
    val r = BenchGate.gate(Map("a15_level_shift" -> 0.135),
      Map("a15_level_shift" -> 0.313), priorCounts = Map.empty)
    assert(r.regressions.isEmpty,
      "a one-off banded sample must not flip the verdict on a micro plan")
    assert(r.suspects.map(_.query) === Seq("a15_level_shift"))
  }

  test("a repeated trip promotes only with magnitude: >= 3x on the second sample") {
    // persistence alone: q_cdc_apply's envelope (2.2-2.6x on 3 of 4
    // same-binary samples) must stay a suspect forever, never weak
    val persistent = BenchGate.gate(Map("q_cdc_apply" -> 0.174),
      Map("q_cdc_apply" -> 0.449), priorCounts = Map("q_cdc_apply" -> 1))
    assert(persistent.regressions.isEmpty &&
      persistent.suspects.map(_.query) === Seq("q_cdc_apply"),
      "a persistent 2.x-band trip must not promote")
    // persistence + magnitude: a prior-flagged query at >= 3x IS weak
    val real = BenchGate.gate(Map("a15_level_shift" -> 0.135),
      Map("a15_level_shift" -> 0.560),
      priorCounts = Map("a15_level_shift" -> 1))
    assert(real.regressions.map(_.query) === Seq("a15_level_shift"),
      "a flagged query repeating at 4x is a real regression")
    assert(real.suspects.isEmpty)
    // magnitude without persistence stays a suspect (first sighting)
    val firstBig = BenchGate.gate(Map("a15_level_shift" -> 0.135),
      Map("a15_level_shift" -> 0.560), priorCounts = Map.empty)
    assert(firstBig.regressions.isEmpty && firstBig.suspects.nonEmpty)
  }

  // --- Round-19 policy: the third escalation tier (ADVICE r18) ---

  test("the mid-band blind spot closes: a 3rd consecutive 2x+ trip promotes without magnitude") {
    // ref 0.45 regressing steadily to 1.25 s: 2.8x — under PromoteRatio
    // (3.0) and under the 1.0 s hard floor (excess 0.8 s), the exact
    // shape ADVICE r18 showed could stay a suspect forever
    val ref = Map("q_midband" -> 0.450)
    val m = Map("q_midband" -> 1.250)
    // trip 1: fresh suspect at count 1
    val t1 = BenchGate.gate(ref, m, Map.empty[String, Int])
    assert(t1.regressions.isEmpty && t1.suspectCounts === Map("q_midband" -> 1))
    // trip 2: still a suspect (ratio < PromoteRatio), count 2
    val t2 = BenchGate.gate(ref, m, t1.suspectCounts)
    assert(t2.regressions.isEmpty && t2.suspectCounts === Map("q_midband" -> 2))
    // trip 3: promotes on persistence alone
    val t3 = BenchGate.gate(ref, m, t2.suspectCounts)
    assert(t3.regressions.map(_.query) === Seq("q_midband"),
      "a sustained mid-band regression must eventually fail")
    assert(t3.suspects.isEmpty)
  }

  test("suspect counts round-trip through the flags file; pre-r19 files parse at count 1") {
    val p = java.nio.file.Files.createTempFile("bench_flags_c", ".json").toString
    val t0 = 1000000000000L
    val later = t0 + BenchGate.MinSampleGapMs + 1
    BenchGate.saveFlagCounts(p, "sf0.1", Map("q_a" -> 2, "q_b" -> 1), now = t0)
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = later) ===
      Map("q_a" -> 2, "q_b" -> 1))
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = later).keySet === Set("q_a", "q_b"),
      "the set view stays consistent with the counts")
    // a pre-round-19 flags file (suspects array only, no counts) must
    // load each suspect at count 1 — it recorded exactly one trip
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      s"""{"sf":"sf0.1","written_at_ms":$t0,"suspects":["a21_last_touch","q_cdc_apply"]}""")
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = later) ===
      Map("a21_last_touch" -> 1, "q_cdc_apply" -> 1))
  }

  test("regsJson clamps a non-finite ratio to valid JSON (ADVICE r18)") {
    val r = BenchGate.Regression("q_dead", 0.0, 1.0, Double.PositiveInfinity)
    val j = Json.render(BenchGate.regsJson(Seq(r)))
    assert(!j.contains("Infinity") && !j.contains("NaN"), j)
    assert(j.contains("\"q_dead\""))
  }

  test("a prior suspect that measures clean is dropped (flags clear, not accumulate)") {
    val r = BenchGate.gate(Map("a15_level_shift" -> 0.135),
      Map("a15_level_shift" -> 0.150),
      priorCounts = Map("a15_level_shift" -> 1))
    assert(r.regressions.isEmpty && r.suspects.isEmpty)
  }

  test("a sub-0.2s query blowing past the hard floor fails immediately, no free round") {
    // 0.15 -> 1.4 s is >1.0 s absolute excess: an 8x+ blow-up the capped
    // (<=3x) host normalization can never produce — a real scale-killer
    val r = BenchGate.gate(Map("q_fast2" -> 0.150),
      Map("q_fast2" -> 1.400), priorCounts = Map.empty)
    assert(r.regressions.map(_.query) === Seq("q_fast2"))
    assert(r.suspects.isEmpty)
  }

  test("at-or-above-SmallRefSec references keep the immediate-fail rule") {
    val r = BenchGate.gate(Map("q_exact" -> BenchGate.SmallRefSec),
      Map("q_exact" -> (BenchGate.SmallRefSec * 2 + 0.2)), priorCounts = Map.empty)
    assert(r.regressions.map(_.query) === Seq("q_exact"))
    // the a14 calibration case: ref 0.237 is INSIDE the suspect class —
    // the same binary measured 1.8x and 3.1x an hour apart (BASELINE.md)
    val r2 = BenchGate.gate(Map("a14_rolling_dau" -> 0.237),
      Map("a14_rolling_dau" -> 0.731), priorCounts = Map.empty)
    assert(r2.regressions.isEmpty && r2.suspects.map(_.query) === Seq("a14_rolling_dau"))
  }

  test("flags file round-trips, is sf-scoped and age-gated, and loads empty when missing") {
    val p = java.nio.file.Files.createTempFile("bench_flags", ".json").toString
    val t0 = 1000000000000L
    BenchGate.saveFlagCounts(p, "sf0.1", Map("a15_level_shift" -> 1, "q_other" -> 1), now = t0)
    val later = t0 + BenchGate.MinSampleGapMs + 1
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = later).keySet ===
      Set("a15_level_shift", "q_other"))
    // independence gap: a sample inside the same band window must not
    // count as the second of "two consecutive" (round-18 calibration:
    // back-to-back banded samples promoted noise)
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = t0 + 3600 * 1000L).keySet.isEmpty,
      "a young prior sample must not promote")
    assert(BenchGate.loadFlagCounts(p, "sf0.001", now = later).keySet.isEmpty,
      "a local-sf run must not consume sf0.1 flags")
    BenchGate.saveFlagCounts(p, "sf0.1", Map.empty, now = t0)
    assert(BenchGate.loadFlagCounts(p, "sf0.1", now = later).keySet.isEmpty,
      "an empty save must clear stale flags")
    assert(BenchGate.loadFlagCounts("/tmp/definitely-missing-flags.json", "sf0.1").keySet.isEmpty)
  }

  test("merge takes the per-query min and admits new queries") {
    val m = BenchGate.merged(ref,
      Map("q_mid" -> 0.300, "q_heavy" -> 9.000, "q_new" -> 0.700))
    assert(m("q_mid") === 0.300, "an improvement must tighten the ledger")
    assert(m("q_heavy") === 1.500, "a slow run must never loosen the ledger")
    assert(m("q_fast") === 0.050, "an unmeasured query keeps its entry")
    assert(m("q_new") === 0.700, "a new query enters at its first time")
  }

  test("ledger save/load round-trips, including the sf tag") {
    val p = java.nio.file.Files.createTempFile("bench_ref", ".json").toString
    BenchGate.save(p, "sf0.1", ref)
    val back = BenchGate.load(p).get
    assert(back.sf === "sf0.1")
    assert(back.norms === ref.view.mapValues(v =>
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap)
  }

  test("a missing ledger file loads as None, never throws") {
    assert(BenchGate.load("/tmp/definitely-missing-bench-ref.json").isEmpty)
  }

  test("the committed repo ledger parses and covers the registry") {
    val r = BenchGate.load("bench_ref.json")
      .orElse(BenchGate.load("/root/repo/bench_ref.json")).get
    assert(r.sf === "sf0.1")
    // every ledgered query must still exist (renames must prune the
    // ledger), and coverage must stay near-total so the gate means
    // something — new queries are allowed to lag one round
    val registry = SparkEntry.queries.keySet
    val orphans = r.norms.keySet.diff(registry)
    assert(orphans.isEmpty, s"ledger entries for unregistered queries: $orphans")
    assert(r.norms.size >= registry.size - 10,
      s"ledger covers ${r.norms.size} of ${registry.size} queries — refresh it")
    assert(r.norms.values.forall(v => v >= 0.0 && v < 60.0),
      "implausible ledger entry")
  }
}
