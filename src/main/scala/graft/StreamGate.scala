package graft

/** Per-cell STREAMING throughput regression gate (round-18 verdict
  * task 5) — [[BenchGate]]'s discipline applied to [[StreamBench]]:
  * batch queries have had a committed per-query ledger since round 17,
  * but the 20+ streaming cells quoted in BASELINE.md every round had no
  * committed reference, so a streaming-dual regression would only be
  * caught by a human reading prose.
  *
  * Ledger contract (`stream_ref.json`):
  *  - records, per cell, the BEST (maximum) host-normalized rows/sec
  *    ever measured at the ledger's event count, plus that count —
  *    throughput is the inverse axis of seconds, so normalization
  *    MULTIPLIES by host_ratio (a slow host deflates measured rows/s;
  *    the divisor Bench applies to seconds becomes a multiplier here)
  *    and the ledger merge takes the max.
  *  - the gate only applies when the run's n_events matches the
  *    ledger's — cells' fixed setup costs (checkpoint restarts,
  *    generation swaps) don't scale linearly, so cross-n comparisons
  *    would grade the protocol, not the pipeline.
  *  - a cell regresses when its normalized rows/s falls below
  *    1/[[RatioLimit]] of its reference. No absolute floor: unlike the
  *    batch registry's 0.03-0.15 s micro plans, every cell pushes
  *    thousands of rows through a full start-drain-stop cycle, so its
  *    noise is proportional, and single-shot cells (no min-of-passes)
  *    get the wider 2.5x band instead.
  *  - `SPARK_GRAFT_UPDATE_REF=1` merges (per-cell max, new cells
  *    added) at the ledger's n_events and refuses any other;
  *    committing the file is a reviewed act.
  */
object StreamGate {

  val RefFile = "stream_ref.json"
  /** A cell fails when normalized rows/s < reference / RatioLimit.
    * 2.5, not the batch gate's 2.0: StreamBench cells are single-shot
    * (one drain per round, no min-of-passes to shed stall hits), so
    * their round-over-round spread is wider by protocol. */
  val RatioLimit = 2.5

  final case class Ref(n: Int, rps: Map[String, Double])
  final case class Regression(
      cell: String, refRps: Double, normRps: Double, ratio: Double)

  /** Cells whose host-normalized throughput fell below 1/RatioLimit of
    * their reference. Unreferenced cells never regress (first
    * measurement seeds at the next ledger update). */
  def regressions(ref: Map[String, Double],
      norm: Map[String, Double]): Seq[Regression] =
    norm.toSeq.sortBy(_._1).flatMap { case (c, m) =>
      ref.get(c).collect {
        case r if r > 0 && m < r / RatioLimit =>
          Regression(c, r, m, if (m > 0) r / m else Double.PositiveInfinity)
      }
    }

  /** Ledger merge: per-cell MAX of reference and this run's normalized
    * throughput; new cells enter at their measurement. */
  def merged(ref: Map[String, Double],
      norm: Map[String, Double]): Map[String, Double] =
    (ref.keySet ++ norm.keySet).map { c =>
      c -> math.max(ref.getOrElse(c, 0.0), norm.getOrElse(c, 0.0))
    }.toMap

  def load(path: String = RefFile): Option[Ref] =
    Json.read(path).map(j => Ref(Json.number(j, "n_events", path).asInt,
      Json.numbers(j, "norm_rps", path)))

  def save(path: String, n: Int, rps: Map[String, Double]): Unit =
    Json.writeLedger(path, Json.obj("n_events" -> n,
      "note" -> s"best host-normalized rows/sec per StreamBench cell (measured_rps * host_ratio); gate = no cell below reference/${RatioLimit}; refresh via SPARK_GRAFT_UPDATE_REF=1",
      "norm_rps" -> Json.sorted(rps, digits = 1)),
      grouped = "norm_rps", perLine = 4)

  /** `SPARK_GRAFT_UPDATE_REF=1`: merges `rps` into the ledger at `path`
    * and rewrites it; returns how many entries it held. A missing ledger
    * is seeded. A ledger that cannot be read, or that holds another
    * n_events than the run's, throws before anything is written. */
  def update(path: String, n: Int, rps: Map[String, Double]): Int = {
    val base = load(path).map { r =>
      if (r.n != n) throw new IllegalStateException(
        s"$path holds n_events ${r.n}; refusing to update it from a run at n_events $n")
      r.rps
    }.getOrElse(Map.empty)
    save(path, n, merged(base, rps))
    base.size
  }

  /** Gate rows for the stdout gate block (capped — the consumer tails
    * the line). */
  def regsJson(regs: Seq[Regression], cap: Int = 8): Seq[Json.Obj] =
    regs.take(cap).map(r => Json.obj("cell" -> r.cell,
      "ref" -> Json.Num(r.refRps, 1), "norm" -> Json.Num(r.normRps, 1),
      "ratio" -> Json.Num(r.ratio, 1)))
}
