package graft

import scala.jdk.CollectionConverters._

/** PER-QUERY bench regression gate (round-17 verdict task 1).
  *
  * Why the fleet-average gate had to go: the old verdict compared mean
  * seconds-per-query against a fixed 0.55 budget, which is MIX-sensitive
  * — every round adds heavier ANN/gram queries, so the average erodes
  * without any plan getting worse, and a single banded driver sample
  * could flip the verdict spuriously (round 16 passed at 0.540 vs 0.55
  * while the judge's per-query audit showed a 0.958 median ratio and
  * zero structural regressions). The verdict is now per-query against a
  * COMMITTED reference ledger (`bench_ref.json`): no query may exceed
  * 2x its own best host-normalized time. The fleet norm_spq stays in
  * the gate JSON as telemetry only.
  *
  * Ledger contract:
  *  - `bench_ref.json` records, per query, the best (minimum)
  *    host-normalized seconds ever measured at the ledger's scale
  *    factor, plus that sf tag. Host normalization is Bench's existing
  *    `measured / host_ratio` (spin x bandwidth divisor), so a slow or
  *    banded host deflates both sides of the comparison the same way.
  *  - The gate only applies when the run's sf matches the ledger's —
  *    a local sf0.001 iteration run must not be graded against sf0.1
  *    references. On mismatch (or missing ledger) Bench falls back to
  *    the fleet-average telemetry verdict and says so in `gate_kind`.
  *  - Queries absent from the ledger (new this round) are reported in
  *    `unref_n`, never failed — their first measured time becomes their
  *    reference at the next ledger update.
  *  - Updating: `SPARK_GRAFT_UPDATE_REF=1` merges the run into the
  *    ledger (per-query min of reference and measured, new queries
  *    added) and rewrites the file; committing it is a reviewed act,
  *    so a one-off fast outlier cannot silently tighten the gate. A run
  *    at another sf than the ledger's refuses to update it.
  *
  * Noise floor: a regression must ALSO exceed the reference by
  * `NoiseFloorSec` absolute — the registry is full of 0.03-0.15 s
  * map-only plans whose round-over-round jitter regularly exceeds 2x
  * (round-16 audit: e_knn_ivf 0.37→0.59 s class), and a ratio-only
  * gate on those would grade scheduler noise. A real plan regression
  * on a sub-0.15 s query either stays invisible (harmless) or grows
  * the query past the floor (caught).
  */
object BenchGate {

  val RefFile = "bench_ref.json"
  /** A query fails when measured > RatioLimit x its reference ... */
  val RatioLimit = 2.0
  /** ... AND exceeds it by this much absolutely (see scaladoc). */
  val NoiseFloorSec = 0.15
  /** Sub-floor reference class (round-18 policy, reviewed): a reference
    * below this is a micro plan whose 2x line sits INSIDE the sandbox's
    * calm-host jitter band, so one banded sample can trip it — exactly
    * what happened to a15_level_shift in the round-17 driver run (ref
    * 0.135, norm 0.313, +0.178 s on the round's most banded sample;
    * three same-round calm samples graded clean, and the r18 receipts in
    * BASELINE.md reproduce ~0.19-0.34 norm on calm hosts — the
    * min-merged ledger entry is simply this class's fast tail, not its
    * typical calm value). A trip on this class therefore needs TWO
    * CONSECUTIVE gated samples (the committed [[FlagsFile]] is the
    * memory) before it grades "weak": host bands don't repeat across
    * rounds, real plan regressions do. Queries at or above this
    * reference keep the immediate-fail rule — a heavyweight doubling is
    * never jitter under the min-of-passes protocol.
    *
    * 0.5, not the 0.2 first proposed: the round-18 calibration ran the
    * SAME binary four times across one day's host weather and measured
    * every false 2x+ trip at references BELOW 0.4 (a14 ref 0.237 read
    * 1.8x and 3.1x an hour apart; the day's worst sample — gc 6.7 s,
    * steal 0.5% — tripped a9_funnel ref 0.373 at 2.04x and
    * d_boilerplate_segments ref 0.361 at 2.01x), while NO query with a
    * reference at or above 0.5 s ever exceeded 1.69x on any sample
    * (BASELINE.md "a15 adjudication"). The immediate-fail line sits
    * where the measured host-noise envelope cannot reach the 2x ratio
    * under the min-of-passes protocol. */
  val SmallRefSec = 0.5
  /** Escape hatch for the two-consecutive rule: a sub-[[SmallRefSec]]
    * query whose ABSOLUTE excess crosses this is failed immediately —
    * a 0.15 s plan measuring past ~1.2 s is an 8x blow-up no host band
    * can produce under the capped (<= 3x) normalization, and a real
    * scale-killer should not get a free round. */
  val HardFloorSec = 1.0
  /** Promotion ratio for the two-consecutive rule: a REPEAT trip only
    * grades "weak" when it is also at least this far above its
    * reference. Persistence alone is not evidence on this class — the
    * round-18 envelope showed q_cdc_apply (ref 0.174, min-merged fast
    * tail) tripping the 2x line on 3 of 4 valid same-binary samples at
    * 2.2-2.6x, so ANY pair of independent samples would promote it
    * forever; magnitude + persistence is outside everything the
    * envelope measured (valid-sample max: 3.08x, once). A real
    * regression (the smallest that matters doubles a query PAST its
    * noise band) clears 3x on every sample and is caught in two
    * rounds; anything smaller on a sub-0.5 s plan is covered by the
    * scale gate's shape check and the hard floor. */
  val PromoteRatio = 3.0
  /** Third escalation tier (round-19, ADVICE r18): persistence alone
    * DOES eventually promote. The two-rule system above left a
    * permanent blind spot — a genuine steady regression in the
    * (2x, PromoteRatio) band on a sub-[[SmallRefSec]] reference (e.g.
    * ref 0.45 s regressing to 1.25 s: 2.8x, but under the 3x ratio and
    * under the 1.0 s hard floor) stayed a "suspect" forever. A query
    * that trips on this many CONSECUTIVE independent gated samples
    * (each pair >= [[MinSampleGapMs]] apart — the flags file carries
    * the count) is a regression regardless of magnitude: the round-18
    * calibration envelope produced banded 2.0-2.6x trips on one or two
    * samples, never three valid samples in a row on calm-verified
    * code, while a real mid-band regression trips every sample. */
  val ConsecutivePromote = 3
  /** Committed one-round memory for the two-consecutive rule: the
    * previous gated run's suspect list ([[saveFlagCounts]]), sf-tagged like
    * the ledger. */
  val FlagsFile = "bench_flags.json"
  /** Independence gap for the two-consecutive rule: a prior suspect
    * only promotes a new trip to a regression when the prior sample is
    * at least this much older — the documented roving host band LASTS
    * HOURS, so two samples inside one band window are one piece of
    * evidence, not two (round-18 calibration: back-to-back banded
    * samples promoted two suspects that a calm sample between them
    * graded clean). In practice promotion therefore happens across
    * ROUND cadence (days), which is the cadence the rule was designed
    * for; a real sub-[[SmallRefSec]] regression persists to the next
    * round's sample and fails there. */
  val MinSampleGapMs: Long = 6L * 3600 * 1000

  final case class Ref(sf: String, norms: Map[String, Double])
  final case class Regression(
      query: String, refSec: Double, normSec: Double, ratio: Double)
  /** Gate outcome: `regressions` flip the verdict to "weak";
    * `suspects` are sub-[[SmallRefSec]] trips that have not yet met a
    * promotion rule — reported and persisted to [[FlagsFile]] with
    * their consecutive-trip count (`suspectCounts`), promoted when a
    * repeat trip clears [[PromoteRatio]] or the count reaches
    * [[ConsecutivePromote]]. */
  final case class GateResult(
      regressions: Seq[Regression], suspects: Seq[Regression],
      suspectCounts: Map[String, Int] = Map.empty)

  /** Raw trips: queries whose host-normalized time exceeds both the
    * 2x ratio and the absolute noise floor vs their own reference.
    * Unreferenced queries never trip (first measurement seeds). */
  private[graft] def trips(ref: Map[String, Double],
      norm: Map[String, Double]): Seq[Regression] =
    norm.toSeq.sortBy(_._1).flatMap { case (q, m) =>
      ref.get(q).collect {
        case r if m > r * RatioLimit && m - r > NoiseFloorSec =>
          Regression(q, r, m, if (r > 0) m / r else Double.PositiveInfinity)
      }
    }

  /** The gate: classify [[trips]] into immediate regressions vs
    * suspects per the [[SmallRefSec]] / [[HardFloorSec]] rules above.
    * `priorCounts` is the previous gated sample's suspect set with each
    * query's consecutive-trip count ([[loadFlagCounts]]). A small trip
    * promotes when it repeats at [[PromoteRatio]]+ magnitude OR when
    * this trip is its [[ConsecutivePromote]]-th consecutive; otherwise
    * it stays a suspect whose count increments in `suspectCounts`. A
    * query that measures clean drops out entirely (counts reset, not
    * accumulate). */
  def gate(ref: Map[String, Double], norm: Map[String, Double],
      priorCounts: Map[String, Int]): GateResult = {
    val (immediate, small) = trips(ref, norm).partition(t =>
      t.refSec >= SmallRefSec || t.normSec - t.refSec > HardFloorSec)
    val (repeat, fresh) = small.partition { t =>
      val prior = priorCounts.getOrElse(t.query, 0)
      (prior >= 1 && t.ratio >= PromoteRatio) ||
        prior + 1 >= ConsecutivePromote
    }
    val counts = fresh.map(t =>
      t.query -> (priorCounts.getOrElse(t.query, 0) + 1)).toMap
    GateResult(immediate ++ repeat, fresh, counts)
  }

  /** Ledger merge: per-query min of reference and this run's
    * normalized time; queries new to the ledger enter at their
    * measured time. */
  def merged(ref: Map[String, Double],
      norm: Map[String, Double]): Map[String, Double] =
    (ref.keySet ++ norm.keySet).map { q =>
      q -> ((ref.get(q), norm.get(q)) match {
        case (Some(r), Some(m)) => math.min(r, m)
        case (Some(r), None) => r
        case (None, Some(m)) => m
        case _ => 0.0 // unreachable: q came from one of the two key sets
      })
    }.toMap

  def load(path: String = RefFile): Option[Ref] =
    Json.read(path).map(j =>
      Ref(Json.get(j, "sf", path).asText, Json.numbers(j, "host_norm_sec", path)))

  def save(path: String, sf: String, norms: Map[String, Double]): Unit =
    Json.writeLedger(path, Json.obj("sf" -> sf,
      "note" -> s"best host-normalized seconds per query (measured_min / host_ratio); gate = no query > ${RatioLimit}x its entry (+${NoiseFloorSec}s floor); refresh via SPARK_GRAFT_UPDATE_REF=1",
      "host_norm_sec" -> Json.sorted(norms, digits = 3)),
      grouped = "host_norm_sec", perLine = 6)

  /** `SPARK_GRAFT_UPDATE_REF=1`: merges `norms` into the ledger at
    * `path` and rewrites it; returns how many entries it held. A missing
    * ledger is seeded. A ledger that cannot be read, or that holds
    * another sf than the run's, throws before anything is written: a
    * local sf0.001 run must not replace the sf0.1 references. */
  def update(path: String, sf: String, norms: Map[String, Double]): Int = {
    val base = load(path).map { r =>
      if (r.sf != sf) throw new IllegalStateException(
        s"$path holds sf ${r.sf}; refusing to update it from a run at sf $sf")
      r.norms
    }.getOrElse(Map.empty)
    save(path, sf, merged(base, norms))
    base.size
  }

  /** Previous gated sample's suspects with their consecutive-trip
    * counts, as PROMOTION INPUT: empty when the file is missing, tagged
    * with a different sf, or YOUNGER than [[MinSampleGapMs]] (same-band
    * samples are not independent evidence — see the field's scaladoc).
    * A file that exists but does not parse throws. Pre-round-19 flags
    * files carry only the `suspects` array — those parse at count 1
    * (they recorded exactly one trip). `now` is injectable for tests. */
  def loadFlagCounts(path: String = FlagsFile, sf: String,
      now: Long = System.currentTimeMillis()): Map[String, Int] =
    Json.read(path).filter { j =>
      val oldEnough = !j.has("written_at_ms") ||
        now - Json.number(j, "written_at_ms", path).asLong >= MinSampleGapMs
      oldEnough && Json.get(j, "sf", path).asText == sf
    }.map { j =>
      if (j.has("suspect_counts"))
        Json.fields(j.get("suspect_counts")).map { case (q, n) => q -> n.asInt }.toMap
      else Json.get(j, "suspects", path).elements.asScala.map(_.asText -> 1).toMap
    }.getOrElse(Map.empty)

  /** Persist THIS gated sample's suspects (possibly none — a calm
    * sample clearing a stale flag is the rule working, not data loss).
    * Committed alongside the round's artifacts, it is the "previous
    * sample" the next round's gate run consults. The `suspects` array
    * stays for readability/compat; `suspect_counts` carries each
    * query's consecutive-trip count toward [[ConsecutivePromote]]. */
  def saveFlagCounts(path: String, sf: String, counts: Map[String, Int],
      now: Long = System.currentTimeMillis()): Unit = {
    val names = counts.keys.toSeq.sorted
    Json.writeLedger(path, Json.obj("sf" -> sf, "written_at_ms" -> now,
      "note" -> s"sub-${SmallRefSec}s-reference gate trips from the latest gated bench sample, with consecutive-trip counts; a flagged query promotes on a >=${PromoteRatio}x repeat or on its ${ConsecutivePromote}th consecutive trip, samples >= ${MinSampleGapMs / 3600000}h apart (BenchGate.scala)",
      "suspects" -> names,
      "suspect_counts" -> Json.Obj(names.map(q => q -> counts(q)))))
  }

  /** Gate rows for the stdout gate object (capped — the consumer tails
    * ~2 kB; the full list goes to BENCH_DETAIL). */
  def regsJson(regs: Seq[Regression], cap: Int = 10): Seq[Json.Obj] =
    regs.take(cap).map(r => Json.obj("q" -> r.query, "ref" -> r.refSec,
      "norm" -> r.normSec, "ratio" -> r.ratio))
}
