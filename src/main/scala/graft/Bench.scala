package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: times every registered query at the driver-supplied
  * scale factor. Materializes each result with the `noop` sink (full
  * computation + row serialization, no disk) — `.count()` would let
  * Catalyst prune every non-aggregated column and under-measure the
  * projection-heavy queries.
  *
  * Each query is timed over TWO full passes and the per-query MINIMUM is
  * reported (steady-state capability, JMH-style). Rationale: this sandbox
  * exhibits roving multi-second JVM/host stalls — the same query measured
  * 0.25 s and 30.0 s in back-to-back identical runs (round-2 driver run:
  * 218 s total; identical re-run minutes later: 54 s) — so single-shot
  * numbers grade host noise, not plan quality.
  *
  * Output discipline: the consumer of this benchmark captures only the
  * LAST ~2000 characters of combined stdout+stderr, and the registry has
  * grown past the point where a full per-query map fits (the round-3 line
  * was ~2.9 kB and was truncated mid-JSON). So the stdout JSON line is kept
  * compact by construction: the total covers ALL queries (comparable
  * round-over-round), the `queries` map carries only the fixed HEADLINE
  * subset below (3-decimal seconds), and a query that threw during timing
  * reports as null plus an entry in `failed` instead of masquerading as a
  * fast success. The FULL per-query map goes to stderr and to
  * `BENCH_DETAIL.json` in the working directory for BASELINE.md upkeep.
  */
object Bench {

  /** Fixed representative subset printed in the stdout JSON — one or two
    * per operator family, chosen to include every heavyweight plan shape
    * (multi-way join, window join, as-of, interval, percentile selection,
    * HLL, LSH, kNN, curation capstone, stateful analogs, multimodal). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q_percentiles", "q_hll_sketch", "q_window_frames", "q_outer_join",
    "a1_window_count_5m", "a2b_running_sum_salted", "a4_user_action_window",
    "w3_session_window", "j1_window_join", "j2_asof_join", "j3_interval_join",
    "x1_double_event_alert", "x2_sessionize", "p1_parse_props",
    "d_exact_dedup", "d_minhash_lsh_pairs", "d_simhash_neardup",
    "d_curate_corpus", "d_dedup_groups", "e_knn_brute", "e_knn_ivf",
    "t_quality_score", "t_langid", "m_media_features",
    // round-4 families
    "q_cms_topk", "q_bloom_semi", "d_weighted_sample", "t_tfidf",
    "a11_peak_concurrency", "e_assign_confusion",
    // round-5 additions
    "d_decontaminate", "d_pack_sequences", "d_ingest_neardup",
    "t_vocab_coverage", "a14_rolling_dau", "e_knn_matryoshka",
    // round-6 additions
    "t_bm25_rank",
    // round-7 additions
    "q_pareto_frontier", "e_centroid_drift",
    // round-8 additions
    "x4_cep_negation",
    // round-15 addition: the persisted-index ANN query (build-once/
    // query-many; min-of-two-passes reports the query-only cost)
    "e_knn_ivfpq_indexed",
    // round-16 additions: the OPQ-rotated persisted index (the same
    // query-many protocol one rotation earlier) and the duplicated-span
    // coverage metric (the exploded-gram family's newest member)
    "e_knn_opq_indexed", "d_dup_span_coverage",
    // round-17 additions: the rank-3 rotation chain, the OPQ-by-residual
    // ordering (in-query and persisted), and the spectrum-decay
    // diagnostic that chooses between them
    "e_knn_opq3", "e_knn_opq_residual", "e_knn_opqres_indexed",
    "e_spectrum_decay",
    // round-18 additions: the perceptual media near-dup rung and the
    // predicate-aware persisted-index probe
    "m_media_neardup", "e_knn_ivfpq_filtered")

  /** Pass-3 retakes per registry run. */
  val RetakeBudget = 64

  /** Whether query `i` (0-based, alphabetical) of `n` may take a pass-3
    * retake after `retakes` have been spent: only while
    * `retakes < ceil(RetakeBudget * (i + 1) / n)`, so a noisy alphabetical
    * prefix cannot spend the whole budget before the tail is reached. */
  def mayRetake(i: Int, n: Int, retakes: Int): Boolean =
    retakes.toLong * n < RetakeBudget.toLong * (i + 1)

  /** What one `Bench` run does: time the whole registry, or profile
    * one query (see [[profile]]). */
  sealed trait Mode
  case object Registry extends Mode
  final case class Profile(sfDir: Option[String], query: String, passes: Int) extends Mode

  private val Usage = "usage: sbt 'runMain graft.Bench' | " +
    "sbt 'runMain graft.Bench profile [sfDir] [query=q_percentiles] [passes=6]'"

  /** No argument times the registry at `SPARK_GRAFT_SF_DIR`;
    * `profile [sfDir] [query] [passes]` profiles one query (sfDir
    * defaults to the registry run's). None for anything else, so a
    * mistyped mode never starts a registry run (which at the ledger's
    * sf rewrites `bench_flags.json`). */
  def parseArgs(args: Seq[String]): Option[Mode] = args match {
    case Seq() => Some(Registry)
    case "profile" +: rest =>
      val passes = rest.lift(2).fold(Option(6))(_.toIntOption.filter(_ > 0))
      passes.map(Profile(rest.lift(0), rest.lift(1).getOrElse("q_percentiles"), _))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val mode = parseArgs(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode match {
      case Profile(_, query, _) => knownQuery(query)
      case Registry =>
    }
    val spark = Sessions.local(Measure.cores(), "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case Profile(dir, query, passes) =>
        profile(spark, dir.getOrElse(sfDir), query, passes); return
      case Registry =>
    }
    // The committed gate files are read before any timing, so one that
    // does not parse stops the run at once (see BenchGate.load).
    val sfName = new java.io.File(sfDir).getName
    val refOpt = BenchGate.load().filter(_.sf == sfName)
    // Two-consecutive rule (round-18): sub-0.2s-reference trips consult
    // the committed previous sample's suspect set and are persisted as
    // this sample's — see BenchGate's SmallRefSec scaladoc for the a15
    // adjudication that motivated it.
    val priorCounts = BenchGate.loadFlagCounts(sf = sfName)
    warmUp(spark, sfDir)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Option.empty = the pass threw; a crash must never report its (fast)
    // elapsed time as a steady-state min.
    def timeOnce(pass: Int, name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { Measure.noop(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] pass$pass $name%-28s $dt%9.3f s${if (ok) "" else "  FAILED"}")
      if (ok) Some(dt) else None
    }
    // --- Host-noise forensics (round-7): the 2x host band has needed a
    // prose explanation every round; these probes let the driver separate
    // host noise from plan regression mechanically: GC wall time over the
    // timed section, hypervisor steal, and the spin + bandwidth samples
    // taken before pass 1, between passes, and after the retakes.
    val gc = Measure.gcWindow()
    val steal0 = Measure.stealTicks()
    val spinSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bwSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sample(): Unit = { spinSamples += Measure.spinMs(); bwSamples += Measure.bwGbps() }
    sample()

    val pass1 = ordered.map { case (name, fn) => name -> timeOnce(1, name, fn) }.toMap
    sample()
    // Adaptive third pass: when the two timings DISAGREE past 1.4x the
    // measurement is stall-contaminated (the roving multi-second host
    // stalls hit one pass, not the query), and when both exceed 1 s the
    // stall may have hit both — either way one more sample tightens the
    // reported min. The retake runs IMMEDIATELY after the query's pass 2
    // (code/data still warm — a round-11 experiment with retakes batched
    // at the end measured them effectively cold and LOOSENED every min
    // despite better base passes). The budget is paced over the
    // alphabet by `mayRetake`: rounds 9/10 exhausted a first-come cap
    // before the alphabet reached q_*, so q_percentiles (a slow JIT
    // converger: 4.1/1.3/0.9/0.9... solo) never got its warm retake, and
    // raising the cap to 64 only moved the cut-off (t_bpe_merges, query
    // 175 of 213, took the last retake on a noisy sf0.001 host).
    var retakes = 0
    val pass2 = scala.collection.mutable.Map.empty[String, Option[Double]]
    val pass3 = scala.collection.mutable.Map.empty[String, Option[Double]]
    val results: Seq[(String, Option[Double])] = ordered.zipWithIndex.map { case ((name, fn), i) =>
      val p2 = timeOnce(2, name, fn)
      pass2(name) = p2
      val min = (pass1(name), p2) match {
        case (Some(a), Some(b)) =>
          val m = math.min(a, b)
          val noisy = math.max(a, b) > m * 1.4 || m > 1.0
          if (noisy && mayRetake(i, ordered.size, retakes)) {
            retakes += 1
            timeOnce(3, name, fn) match {
              case Some(c) => pass3(name) = Some(c); Some(math.min(m, c))
              case None    => Some(m) // a crashed retake keeps the valid min
            }
          } else Some(m)
        case _ => None // either base pass failed
      }
      name -> min
    }
    sample()
    // --- Band-escape retakes (round-19): the roving host band is
    // TEMPORAL — the round-19 gated sample caught it mid-run with its
    // own probe (bw samples 45.2 / 12.2 / 50.6 vs the 58 floor) while
    // 13 of the 14 would-be trips sat in the bench's alphabetical
    // PREFIX (the a-family), whose pass-1, pass-2 AND adaptive pass-3
    // retakes all ran inside the band's wall-clock window; one hour
    // earlier the identical binary measured every one of them clean.
    // A run-level median host_ratio cannot correct a stall localized
    // in time, but wall-clock distance can: any query that would trip
    // the gate under the PRELIMINARY normalization earns exactly one
    // more timing here — after the full fleet has run, minutes away
    // from the band that inflated it — and the min merges before the
    // real gate. A genuine plan regression is immune by construction
    // (no retake makes a real 2x faster); only a band trip clears.
    // Worst ratios retake first; the cap bounds a fully-banded run.
    val bandRetaken: Map[String, Double] =
      refOpt.map { r =>
        val prelimHost = Measure.hostRatio(spinSamples.toSeq, bwSamples.toSeq).value
        val prelimNorm = results.collect {
          case (k, Some(v)) => k -> v / prelimHost }.toMap
        BenchGate.trips(r.norms, prelimNorm).sortBy(-_.ratio).take(24)
          .flatMap { t =>
            SparkEntry.queries.get(t.query)
              .flatMap(fn => timeOnce(4, t.query, fn).map(t.query -> _))
          }.toMap
      }.getOrElse(Map.empty)
    if (bandRetaken.nonEmpty) sample()
    val finalResults: Seq[(String, Option[Double])] = results.map {
      case (k, v) => k -> ((v, bandRetaken.get(k)) match {
        case (Some(a), Some(b)) => Some(math.min(a, b))
        case (a, b) => a.orElse(b)
      })
    }
    // the probe's own collection churn must not masquerade as workload
    // GC in the stall-attribution delta (ADVICE r13) — report it apart
    val probeGc = gc.probeMs
    val gcDelta = gc.workloadMs
    val stealPct: Option[Double] = for {
      (s0, t0) <- steal0; (s1, t1) <- Measure.stealTicks() if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)
    val detail = Json.Obj(finalResults)
    val failed = finalResults.collect { case (k, None) => k }
    val total = finalResults.flatMap(_._2).sum
    val head = Json.Obj(finalResults.filter(r => headline.contains(r._1)))
    // Self-forensics summary: per-pass totals (a clean host shows
    // p1 ≈ p2 ≈ total; a stall-hit run shows one inflated pass), retake
    // count (how often the 1.4x-disagreement tripwire fired), and the
    // plan-independent host probe — GC wall time, hypervisor steal, and
    // the fixed spin workload's [before, mid, after] samples whose spread
    // is the roving-stall band.
    val p1Total = ordered.flatMap { case (n, _) => pass1(n) }.sum
    val p2Total = ordered.flatMap { case (n, _) => pass2(n) }.sum
    val passes = Json.obj("p1" -> p1Total, "p2" -> p2Total, "p3_n" -> pass3.size)
    // --- Band auto-annotation (round 13): the roving host band's
    // fingerprint — established by the round-11/12 forensics — is a
    // memory-bandwidth dip with a FLAT spin probe (a compute-bound probe
    // cannot see a shared-bus effect). BW_REF_GBPS is the clean-host
    // calibration floor of the 8-thread stream-copy probe on this
    // hardware family (~58-68 GB/s clean; see BASELINE.md "Memory-
    // bandwidth probe"). When the dip exceeds 15% below that floor while
    // spin stays flat, consumers should read diffuse per-query inflation
    // as host band, not plan regression — mechanically, not via prose.
    val bandSuspected = spinSamples.min / Measure.SpinRefMs <= 1.15 &&
      bwSamples.min < 0.85 * Measure.BwRefGbps
    val bwRef = Json.Num(Measure.BwRefGbps, 1)
    val probe = Json.obj("gc_ms" -> gcDelta, "probe_gc_ms" -> probeGc,
      "steal_pct" -> stealPct, "spin_ms" -> spinSamples, "bw_gbps" -> bwSamples,
      "bw_ref_gbps" -> bwRef, "band_suspected" -> bandSuspected)
    // --- Normalized gate (round-8, bandwidth term round-14): the raw
    // s/query gate drifts with the host, so the verdict is computed
    // against a host-normalized value (Measure.hostRatio has the
    // divisor's terms and clamps). bw_ratio was added in round 14 after
    // the round-13 driver run graded weak purely on a bandwidth band its
    // own probe flagged (bw 30.9-49.4 vs the 58 calibration floor) while
    // spin_ratio (1.106) captured almost none of it. The 0.55 plan budget
    // is unchanged.
    // Maintenance lane (round 14): q_layout_lifecycle deliberately
    // performs ~20 real parquet WRITES (z-order -> append -> compact ->
    // recluster, each with an atomic swap) — it is the maintenance-path
    // receipt, not a compute plan, and at ~6 s it was ~5% of the round-13
    // bench. Its time is still measured and reported (maint_sec, and it
    // stays inside "value" for round-over-round comparability) but the
    // COMPUTE gate no longer pays for deliberate disk writes.
    val GateSpq = 0.55
    val maintenanceLane = Set("q_layout_lifecycle")
    val maintSec = finalResults.collect {
      case (k, Some(v)) if maintenanceLane(k) => v }.sum
    val maintN = finalResults.count(r => maintenanceLane(r._1))
    val computeN = finalResults.size - maintN
    val rawSpq = if (computeN > 0) (total - maintSec) / computeN else 0.0
    val Measure.HostRatio(spinRatio, bwMedian, bwRatio, hostRatio) =
      Measure.hostRatio(spinSamples.toSeq, bwSamples.toSeq)
    val normSpq = rawSpq / hostRatio
    // --- Per-query regression gate (round-17): the VERDICT is now "no
    // query exceeds 2x its own committed host-normalized reference"
    // (bench_ref.json; see BenchGate's scaladoc for why the fleet
    // average was mix-sensitive and had to become telemetry). The
    // fleet norm_spq / 0.55 check remains REPORTED below for
    // round-over-round comparability, and stays the fallback verdict
    // when no ledger applies (missing file or sf mismatch — e.g. local
    // sf0.001 iteration runs are never graded against sf0.1 entries).
    val fleetVerdict = if (normSpq <= GateSpq) "pass" else "weak"
    val normByQ: Map[String, Double] =
      finalResults.collect { case (k, Some(v)) => k -> v / hostRatio }.toMap
    val gateRes = refOpt.map(r =>
        BenchGate.gate(r.norms, normByQ, priorCounts))
      .getOrElse(BenchGate.GateResult(Nil, Nil))
    val regs = gateRes.regressions
    refOpt.foreach { _ =>
      BenchGate.saveFlagCounts(BenchGate.FlagsFile, sfName,
        gateRes.suspectCounts)
    }
    val refN = refOpt.map(r => normByQ.keysIterator.count(r.norms.contains))
      .getOrElse(0)
    val unrefN = normByQ.size - refN
    // --- Mix-adjusted fleet telemetry (round-19 verdict task 2): the
    // fleet norm_spq drifts upward every round purely because new
    // (often heavier) queries join the registry — r17->r18 moved
    // 0.465 -> 0.553 with zero per-query regressions. To separate
    // composition growth from diffuse slowdown mechanically, compute
    // the same average over ONLY the ledger-referenced compute queries
    // (the subset prior rounds also measured) and put the LEDGER's own
    // mean over that subset beside it: diffuse_ratio =
    // norm_spq_same_subset / ledger_spq_same_subset compares identical
    // query sets in numerator and denominator, so registry growth
    // cannot move it — only genuine fleet-wide slowdown can.
    val sameSubset = refOpt.map(r =>
      normByQ.keySet.intersect(r.norms.keySet) -- maintenanceLane)
      .getOrElse(Set.empty[String])
    val (normSpqSame, ledgerSpqSame, diffuseRatio) =
      if (sameSubset.isEmpty) (None, None, None)
      else {
        val m = sameSubset.toSeq.map(normByQ).sum / sameSubset.size
        val l = refOpt.map(r =>
          sameSubset.toSeq.map(r.norms).sum / sameSubset.size).get
        (Some(m), Some(l), if (l > 0) Some(m / l) else None)
      }
    val (gateKind, verdict) = refOpt match {
      case Some(_) =>
        ("per_query_v2", if (regs.isEmpty) "pass" else "weak")
      case None => ("fleet_fallback", fleetVerdict)
    }
    if (sys.env.get("SPARK_GRAFT_UPDATE_REF").contains("1")) {
      val baseN = BenchGate.update(BenchGate.RefFile, sfName, normByQ)
      System.err.println(s"[bench] ${BenchGate.RefFile} updated (" +
        s"${normByQ.size} measured into $baseN existing entries)")
    }
    val gate = Json.obj("raw_spq" -> rawSpq, "spin_ratio" -> spinRatio,
      "bw_ratio" -> bwRatio, "bw_median_gbps" -> bwMedian, "bw_ref_gbps" -> bwRef,
      "host_ratio" -> hostRatio, "norm_spq" -> normSpq,
      "norm_spq_same_subset" -> normSpqSame, "ledger_spq_same_subset" -> ledgerSpqSame,
      "diffuse_ratio" -> diffuseRatio, "same_subset_n" -> sameSubset.size,
      "threshold" -> Json.Num(GateSpq, 2), "fleet_verdict" -> fleetVerdict,
      "gate_kind" -> gateKind, "ref_n" -> refN, "unref_n" -> unrefN,
      "regressions_n" -> regs.size, "regressions" -> BenchGate.regsJson(regs),
      "suspects_n" -> gateRes.suspects.size,
      "suspects" -> BenchGate.regsJson(gateRes.suspects, 5), "verdict" -> verdict,
      "compute_n" -> computeN, "maint_n" -> maintN, "maint_sec" -> maintSec,
      "maint_lane" -> maintenanceLane.toSeq)
    val line = Json.obj("metric" -> "total", "value" -> total, "unit" -> "sec",
      "n_queries" -> finalResults.size, "failed" -> failed, "passes" -> passes,
      "retakes" -> retakes, "host_probe" -> probe, "gate" -> gate,
      "queries" -> head, "sf" -> sfDir, "cores" -> Measure.cores())
    // Full map for forensics/BASELINE.md (stderr + file — NOT stdout, where
    // it would push the compact line out of the consumer's tail window).
    System.err.println(s"[bench] detail ${Json.render(detail)}")
    def inOrder(m: collection.Map[String, _]): Json.Obj =
      Json.Obj(ordered.collect { case (k, _) if m.contains(k) => k -> m(k) })
    // Maintenance-lane stage receipts (round-19 verdict task 6): the
    // last q_layout_lifecycle pass's per-stage wall times, so a
    // regressing stage is visible INSIDE the ~10 s lane total.
    val layoutStages = Json.Obj(graft.operators.LayoutQueries.lastStageTimings)
    // pass4 = the band-escape retimings (round-19 verdict item 4: a
    // one-sided resampling mechanism must leave its receipts in the
    // artifact it modifies — every min-merged 4th sample is listed here).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      Json.render(Json.obj("total" -> total, "sf" -> sfDir, "cores" -> Measure.cores(),
        "queries" -> detail, "failed" -> failed, "passes" -> passes,
        "retakes" -> retakes, "host_probe" -> probe, "gate" -> gate,
        "layout_stages" -> layoutStages,
        "regressions_full" -> BenchGate.regsJson(regs, Int.MaxValue),
        "pass1" -> inOrder(pass1), "pass2" -> inOrder(pass2),
        "pass3" -> inOrder(pass3), "pass4" -> inOrder(bandRetaken))) + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_DETAIL.json not written: $e")
    }
    // Quiet shutdown so nothing lands after the JSON line but sbt's one
    // [success] trailer.
    spark.sparkContext.setLogLevel("ERROR")
    println(Json.render(line))
    spark.stop()
  }

  /** Untimed warm-up: scan every table once and run one higher-order-
    * function-heavy query so codegen/JIT/interpreted-expression paths are
    * compiled before timing starts — otherwise the alphabetically-first
    * query absorbs ~4 s of one-time cost and round-over-round comparisons
    * drift with query naming. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Measure.warmUp(spark, sfDir)
    SparkEntry.queries.get("d_minhash_sig").foreach { fn =>
      try Measure.noop(fn(spark, sfDir))
      catch { case _: Throwable => }
    }
  }

  /** Fails up front with the closest registered names — a bare
    * NoSuchElementException from the registry lookup is the wrong failure
    * mode for a forensics tool whose whole job is attribution. */
  private def knownQuery(name: String): String = {
    require(SparkEntry.queries.contains(name),
      s"Bench profile: unknown query '$name'. Closest registered: " +
        SparkEntry.queries.keys.toSeq.sorted
          .sortBy(k => -k.zip(name).count { case (a, b) => a == b })
          .take(5).mkString(", "))
    name
  }

  /** Single-query timing forensics (`runMain graft.Bench profile <sfDir>
    * <query> [passes=6]`): run ONE registered query N times back-to-back
    * in one JVM and print every pass beside a spin sample, so a bench
    * swing can be attributed (wide pass spread + spin spread = host band;
    * uniformly slower passes + flat spin = plan or data change) without
    * re-running the whole registry. Each pass also splits off its
    * construction seconds (building the DataFrame, before the action)
    * and the Spark jobs started during construction and during the
    * action, counted by a listener: construction jobs are the fixed
    * per-query floor (schema inference, eager pins, driver-side
    * training). The receipt carries the bandwidth samples and the same
    * host_ratio the per-query gate divides by, so its `norm_min` is
    * directly comparable to a bench_ref.json entry. */
  private def profile(spark: SparkSession, sfDir: String, name: String,
      passes: Int): Unit = {
    warmUp(spark, sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    val jobs = new Measure.JobCounter(spark.sparkContext)
    val spins = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bws = scala.collection.mutable.ArrayBuffer(Measure.bwGbps())
    val runs = (1 to passes).map { i =>
      val s0 = Measure.spinMs(); spins += s0
      val j0 = jobs.count()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val construct = (System.nanoTime() - t0) / 1e9
      val j1 = jobs.count()
      val dt = construct + Measure.seconds(Measure.noop(df))
      val (cj, aj) = (j1 - j0, jobs.count() - j1)
      println(f"[profile] $name%-24s pass$i%-2d $dt%7.3f s   construct $construct%6.3f s" +
        f"   jobs $cj%3d + $aj%-3d   spin $s0%6.1f ms")
      (dt, construct, cj, aj)
    }
    jobs.close()
    bws += Measure.bwGbps()
    val host = Measure.hostRatio(spins.toSeq, bws.toSeq).value
    val times = runs.map(_._1)
    println(Json.render(Json.obj("query" -> name, "sf" -> sfDir,
      "cores" -> Measure.cores(), "passes" -> times, "min" -> times.min,
      "max" -> times.max, "construct_s" -> runs.map(_._2),
      "construct_jobs" -> runs.map(_._3), "action_jobs" -> runs.map(_._4),
      "bw_gbps" -> bws, "host_ratio" -> host, "norm_min" -> times.min / host)))
    spark.stop()
  }
}
