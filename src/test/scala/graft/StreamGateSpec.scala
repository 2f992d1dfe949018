package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-cell streaming throughput gate (round-18 verdict task 5) —
  * pure-function pins plus the ledger round-trip, including the
  * verdict's "one simulated regression caught" requirement. */
class StreamGateSpec extends AnyFunSuite {

  private val ref = Map(
    "window_count" -> 80000.0,
    "corpus_capstone" -> 6500.0,
    "ivfpq_maintenance" -> 4000.0)

  test("a genuine throughput collapse is caught (simulated regression)") {
    // a cell at 2.6x below its reference — e.g. a streaming dual that
    // silently fell back to per-row interpretation
    val regs = StreamGate.regressions(ref,
      Map("window_count" -> 30000.0, "corpus_capstone" -> 6000.0))
    assert(regs.map(_.cell) === Seq("window_count"))
    assert(regs.head.ratio > 2.5 && regs.head.refRps === 80000.0)
  }

  test("just-inside the 2.5x band passes; just-outside fails") {
    assert(StreamGate.regressions(ref, Map("corpus_capstone" -> 2610.0)).isEmpty)
    assert(StreamGate.regressions(ref, Map("corpus_capstone" -> 2590.0)).nonEmpty)
  }

  test("a drained-zero-rows cell still renders valid JSON (ADVICE r18)") {
    // rows/s = 0 makes the ratio +Infinity; the gate line must stay
    // parseable precisely when a cell is most broken
    val regs = StreamGate.regressions(ref, Map("window_count" -> 0.0))
    assert(regs.nonEmpty && regs.head.ratio.isPosInfinity)
    val j = Json.render(StreamGate.regsJson(regs))
    assert(!j.contains("Infinity") && !j.contains("NaN"), j)
    assert(j.contains("\"window_count\""))
  }

  test("an unreferenced cell never regresses (first measurement seeds)") {
    assert(StreamGate.regressions(ref, Map("new_cell" -> 1.0)).isEmpty)
  }

  test("merge takes the per-cell max and admits new cells") {
    val m = StreamGate.merged(ref,
      Map("window_count" -> 90000.0, "corpus_capstone" -> 100.0, "new_cell" -> 5.0))
    assert(m("window_count") === 90000.0, "an improvement must raise the bar")
    assert(m("corpus_capstone") === 6500.0, "a slow run must never lower it")
    assert(m("ivfpq_maintenance") === 4000.0, "an unmeasured cell keeps its entry")
    assert(m("new_cell") === 5.0)
  }

  test("ledger save/load round-trips, including the n_events scope") {
    val p = java.nio.file.Files.createTempFile("stream_ref", ".json").toString
    StreamGate.save(p, 200000, ref)
    val back = StreamGate.load(p).get
    assert(back.n === 200000)
    assert(back.rps === ref)
    assert(StreamGate.load("/tmp/definitely-missing-stream-ref.json").isEmpty)
  }

  test("the committed repo ledger (once present) parses and names real cells") {
    StreamGate.load("stream_ref.json")
      .orElse(StreamGate.load("/root/repo/stream_ref.json")) match {
      case None => () // ledger seeds at the first SPARK_GRAFT_UPDATE_REF run
      case Some(r) =>
        assert(r.n > 0)
        assert(r.rps.nonEmpty && r.rps.values.forall(v => v > 0 && v < 1e9))
    }
  }
}
