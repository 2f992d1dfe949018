package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The standing scale gate: `sbt 'runMain graft.ScaleSmoke gate [rN]'`.
  *
  * Builds x4 and x100 ORGANIC copies of the sf0.1 fixtures under /tmp
  * (every key family offset per copy, per-copy document vocabulary,
  * perturbed embeddings — so distinct counts, group counts and join
  * build sides grow with the data), times the pinned [[organicSubset]]
  * on both (two passes, min), writes `SCALE_rN.json` in the working
  * directory, and exits 1 if any query breaches the sub-linearity
  * threshold (see [[verdict]]). Any other argument list prints a usage
  * line and exits 2.
  *
  * The receipts of earlier one-off scale experiments (hot-key skew,
  * salted joins, pane and top-k A/Bs, layout, compaction and manifest
  * economics) are in BASELINE.md's "Hot-key skew validation",
  * "Salted-join vs AQE skew-join A/B", "Pane-sharing A/B", "Compaction
  * bin-parallelism receipt" and "Manifest economics at a production
  * file count" sections, among others.
  */
object ScaleSmoke {

  /** Organic-fixture subset — ALSO the standing scale gate's pinned
    * query list (round-9 verdict task 1): the shuffle-heaviest families
    * whose dup-heavy-100x receipts were flagged as flattered (dedup) or
    * understressed (distinct-heavy aggregates), plus each round's new
    * operators. Append new queries; don't remove — removals hide
    * regressions. */
  val organicSubset: Seq[String] = Seq(
    "q_count_distinct", "q_hll_sketch", "q_percentiles", "q_dd_quantiles",
    "q1_pricing_summary", "q5_region_revenue", "q9_product_profit",
    "q18_large_volume", "a2_running_sum", "w3_session_window",
    "d_dedup_groups", "d_minhash_lsh_pairs", "d_curate_corpus",
    "e_knn_brute", "x6_cep_times_range", "x7_cep_one_or_more",
    "t_bpe_merges", "t_bpe_tokenize", "q_dd_quantiles_param",
    // round-10 additions
    "x8_cep_skip_past", "w2b_sliding_dd_pane", "w2c_sliding_hll_pane",
    "w2d_sliding_topk_pane", "q_hll_set_algebra", "q_dd_quantiles_w",
    // round-11 additions
    "x9_cep_skip_to_next", "w2e_sliding_cms_topk", "x10_cep_skip_to_last",
    // round-12 addition: the layout-maintenance lifecycle (z-order write
    // -> manifest -> append -> reconcile -> compact -> pruned scan) —
    // write-dominated, so its ratio prices the one intentionally linear
    // stage (the clustering write) plus the fixed maintenance overhead
    "q_layout_lifecycle",
    // round-13 additions: the IVF+PQ composition (cell-equi candidate
    // join + integer ADC — the production ANN scan shape), the CDC
    // snapshot fold (single keyed agg, no window sort), and last-touch
    // attribution (per-user sequence window, the per-key-sort family)
    "e_knn_ivfpq", "q_cdc_apply", "a21_last_touch",
    // round-14 additions: trained residual IVF-PQ — e_knn_ivfpq's scan
    // shape plus two Lloyd training scans (subspace-exploded corpus vs
    // broadcast 128-row codebook); the ratio prices that training stays
    // scan-bounded, never pairwise. DSIR scoring — one exploded-gram
    // model agg + a broadcast 1024-row scoring join; the ratio prices
    // that the model side never grows past the bucket domain.
    "e_knn_ivfpq_trained", "t_dsir_score",
    // ABTT: two power-iteration scans + bounded 64-row collects
    "e_abtt_project",
    // round-15 additions: binary-Hamming ANN — the pack pass is the
    // family's "cheapest prefilter at 100 TB" claim, now codegen'd
    // (graft_sign_pack); the ratio prices one full-corpus pack + the
    // broadcast XOR/POPCNT candidate scan. Persisted-index ANN — the
    // first pass per fixture pays build (training scans + manifested
    // publish), the second reuses; min-of-two prices the query-many
    // path: one manifest-pruned coded scan + broadcast probe.
    "e_knn_hamming", "e_knn_ivfpq_indexed",
    // per-source KL: one exploded-gram shuffle (the t_dsir_score class),
    // then model-sized math — the ratio prices that the divergence
    // frame never grows past #sources x 1024
    "t_source_kl",
    // round-16 additions: OPQ rotation ahead of trained PQ (three
    // calibration scans + the e_knn_pq_trained shape; the rotation is a
    // pure map) and its PERSISTED composition (the e_knn_ivfpq_indexed
    // build-once/query-many protocol one rotation earlier). Duplicated-
    // span coverage — one exploded-gram shuffle (the t_dsir_score
    // class) + a co-partitioned join-back + one doc_id window; the
    // ratio prices that nothing outgrows the gram count. IVF balance —
    // one assignment scan into a 16-row frame.
    "e_knn_opq", "e_knn_opq_indexed", "d_dup_span_coverage",
    "e_ivf_balance",
    // span-granular dedup rewrite: the coverage op's gram shuffle plus
    // a gh-window (count + first-occurrence rank) and the narrow text
    // rejoin — the ratio prices that the rewrite stays gram-bounded
    "d_dup_span_rewrite",
    // round-17 additions: the rank-3 deflated OPQ chain (e_knn_opq's
    // calibration + two extra pinned-frame power-iteration scans; every
    // rotation is a pure map), OPQ-by-residual (the trained-IVF-PQ
    // shape + one residual power-iteration pass), and its PERSISTED
    // form (the build-once/query-many protocol: min-of-two prices one
    // manifest-pruned coded scan + a rotated broadcast probe)
    "e_knn_opq3", "e_knn_opq_residual", "e_knn_opqres_indexed",
    // spectrum-decay diagnostic: the opq3 chain + one 64-row variance agg
    "e_spectrum_decay",
    // semantic eval decontamination: one documents-to-embeddings equi
    // join + a broadcast-model scoring map — the ratio prices that the
    // model side never grows with the corpus
    "d_embed_decontaminate",
    // round-18 additions: perceptual media near-dup — one fingerprint
    // scan (codegen'd sign-pack) + the capped pigeonhole-band pair
    // shuffle (the d_simhash_neardup shape on the media fingerprint);
    // filtered persisted-index ANN — the e_knn_ivfpq_indexed
    // build-once/query-many protocol plus a candidate-side predicate
    // (min-of-two prices one manifest-pruned, overfetched coded scan)
    "m_media_neardup", "e_knn_ivfpq_filtered",
    // round-19 addition (verdict task 4): the COMPOSED media keeper
    // election — pair stage + pointer-doubling components + keeper
    // join-back. Its parts were both gated (m_media_neardup above,
    // d_dedup_groups' component loop), but compositions have surprised
    // this repo before (d_curate_corpus round 3: a pinned frame
    // re-evaluated under composition), so the composed plan gets its
    // own row rather than an exemption-by-argument.
    "m_media_dedup_groups")

  /** Cost class of each gated query (round-17 verdict task 6): the gate
    * verdict stays per-query, but the artifact also rolls ratios up per
    * family so creep inside a class — the exploded-gram family keeps
    * gaining members — is visible mechanically against the prior
    * round's artifact instead of by reading 45 rows. Classes follow the
    * BASELINE.md cost-class vocabulary; queries under the 2 s exemption
    * floor at x100 are excluded from a family's max (their ratios
    * measure host noise, not scaling shape — same rule as the gate). */
  val costFamily: Map[String, String] = Map(
    // one exploded grams-per-token/doc shuffle dominates
    "t_bpe_merges" -> "exploded_gram", "t_bpe_tokenize" -> "exploded_gram",
    "t_dsir_score" -> "exploded_gram", "t_source_kl" -> "exploded_gram",
    "d_dup_span_coverage" -> "exploded_gram",
    "d_dup_span_rewrite" -> "exploded_gram",
    // the intentionally write-dominated layout-maintenance lifecycle
    "q_layout_lifecycle" -> "write_lifecycle",
    // exact (non-sketch) percentiles: the documented full-sort class
    "q_percentiles" -> "exact_percentile",
    // embedding-corpus scans: ANN probes, PQ/coarse training, power
    // iterations — all scan-plus-broadcast-model shapes
    "e_knn_brute" -> "embedding", "e_knn_ivfpq" -> "embedding",
    "e_knn_ivfpq_trained" -> "embedding", "e_knn_ivfpq_indexed" -> "embedding",
    "e_knn_hamming" -> "embedding", "e_abtt_project" -> "embedding",
    "e_knn_opq" -> "embedding", "e_knn_opq_indexed" -> "embedding",
    "e_knn_opq3" -> "embedding", "e_knn_opq_residual" -> "embedding",
    "e_knn_opqres_indexed" -> "embedding", "e_spectrum_decay" -> "embedding",
    "d_embed_decontaminate" -> "embedding",
    "e_ivf_balance" -> "embedding",
    // mergeable-sketch family (HLL / DDSketch / CMS + pane decomposition)
    "q_count_distinct" -> "sketch", "q_hll_sketch" -> "sketch",
    "q_dd_quantiles" -> "sketch", "q_dd_quantiles_param" -> "sketch",
    "q_dd_quantiles_w" -> "sketch", "q_hll_set_algebra" -> "sketch",
    "w2b_sliding_dd_pane" -> "sketch", "w2c_sliding_hll_pane" -> "sketch",
    "w2d_sliding_topk_pane" -> "sketch", "w2e_sliding_cms_topk" -> "sketch",
    // per-key ordered-sequence state (CEP + attribution)
    "x6_cep_times_range" -> "cep", "x7_cep_one_or_more" -> "cep",
    "x8_cep_skip_past" -> "cep", "x9_cep_skip_to_next" -> "cep",
    "x10_cep_skip_to_last" -> "cep", "a21_last_touch" -> "cep",
    // banded/blocked text dedup shuffles
    "d_dedup_groups" -> "dedup", "d_minhash_lsh_pairs" -> "dedup",
    "d_curate_corpus" -> "dedup",
    // the media fingerprint rides the same capped banded-pair shuffle
    "m_media_neardup" -> "dedup", "m_media_dedup_groups" -> "dedup",
    "e_knn_ivfpq_filtered" -> "embedding"
  ).withDefaultValue("relational")
  /** Gate thresholds. Data grows 25x between the fixtures (100/4), so a
    * linear operator scores ratio ≈ 25. The gate demands ratio ≤ 20
    * (0.8x linear — every operator here does sub-linear work per added
    * row: caps, sketches, broadcast probes; the round-9 worst case was
    * q9 at 12.3). Queries finishing within 2 s at x100 are exempt from
    * the ratio check: at sub-second scales the ratio measures host
    * noise and fixed costs, not scaling shape — but their absolute time
    * still lands in the artifact, so a regression into the tens of
    * seconds can't hide. The x4 time is clamped to 0.05 s in the
    * denominator so a near-zero cell cannot blow the ratio up. */
  val RatioMax = 20.0
  val AbsFloorSec = 2.0
  val LoClampSec = 0.05
  val MultLo = 4
  val MultHi = 100

  private val Usage = "usage: sbt 'runMain graft.ScaleSmoke gate [rN]'"

  private def n(d: Double) = Json.Num(d, 2)

  /** The run's tag from `gate [rN]` (`rX` when omitted); None for any
    * other argument list. */
  def parseArgs(args: Seq[String]): Option[String] = args match {
    case Seq("gate") => Some("rX")
    case Seq("gate", tag) if tag.matches("r\\d+") => Some(tag)
    case _ => None
  }

  /** The prior artifact the family roll-up compares against: the tag of
    * the newest `SCALE_rM.json` among `files` with M < N for tag `rN`
    * (any M for the unnumbered `rX`). Not simply r(N-1): a round that
    * skipped the gate must not blank every `prev_*` field of the next. */
  def priorTag(tag: String, files: Seq[String]): Option[String] = {
    val limit = tag.drop(1).toIntOption.getOrElse(Int.MaxValue)
    val artifact = """SCALE_(r(\d+))\.json""".r
    files.collect { case artifact(t, m) if m.toInt < limit => (m.toInt, t) }
      .maxByOption(_._1).map(_._2)
  }

  /** A gate result: the `SCALE_rN.json` text and the queries that failed. */
  final case class Verdict(json: String, failed: Seq[String]) {
    def pass: Boolean = failed.isEmpty
  }

  /** The gate's verdict from the x4 (`lo`) and x100 (`hi`) min times —
    * None, or a missing key, is a crash at that scale and fails the query
    * outright. `prior` is the (tag, text) of the artifact the family
    * roll-up compares against.
    *
    * Per query: ratio = t_hi / max(t_lo, [[LoClampSec]]); pass when
    * t_hi ≤ [[AbsFloorSec]] or ratio ≤ [[RatioMax]].
    *
    * Per cost family ([[costFamily]]): max ratio over the NON-exempt
    * members (t_hi above the floor), plus the prior artifact's max under
    * the same rule, so class creep is one diff, not 50 rows. The roll-up
    * carries BOTH the ratio trend and the worst member's ABSOLUTE x100
    * time (round-18, the w2d lesson): a ratio whose denominator is a
    * ~1.3 s x4 cell swings ±30% on denominator jitter alone, while t_hi
    * is the stable signal a real scaling change must move. `prev_*` is
    * the prior's max-RATIO member and `prev_max_t_hi` THAT member's own
    * t_hi (ADVICE r18: mixing them compared absolutes of different
    * queries); `prev_worst` names it. `cores` is the run's local[N],
    * recorded because a ratio depends on it as much as on the code. */
  def verdict(lo: Map[String, Option[Double]], hi: Map[String, Option[Double]],
      prior: Option[(String, String)], cores: Int,
      queries: Seq[String] = organicSubset): Verdict = {
    def times(q: String) = (lo.getOrElse(q, None), hi.getOrElse(q, None))
    def ratio(tl: Double, th: Double) = th / math.max(tl, LoClampSec)
    val rows = queries.map { name =>
      times(name) match {
        case (Some(tl), Some(th)) =>
          val r = ratio(tl, th)
          val pass = th <= AbsFloorSec || r <= RatioMax
          (name, Json.obj("t_lo" -> n(tl), "t_hi" -> n(th), "ratio" -> n(r),
            "pass" -> pass), pass)
        case (tl, th) =>
          (name, Json.obj("t_lo" -> tl.map(n), "t_hi" -> th.map(n), "ratio" -> None,
            "pass" -> false), false)
      }
    }
    val failed = rows.collect { case (name, _, false) => name }
    val famRows = queries.flatMap { name =>
      times(name) match {
        case (Some(tl), Some(th)) if th > AbsFloorSec =>
          Some((costFamily(name), name, ratio(tl, th), th))
        case _ => None
      }
    }.groupBy(_._1)
    val prevRatios = prior.map { case (tag, txt) => priorRatios(tag, txt) }
      .getOrElse(Map.empty)
    val families = famRows.toSeq.sortBy(_._1).map { case (fam, qs) =>
      val (_, worst, maxR, worstHi) = qs.maxBy(_._3)
      val prev = queries.filter(q => costFamily(q) == fam)
        .flatMap(q => prevRatios.get(q).map(q -> _)).maxByOption(_._2._1)
      fam -> Json.obj("n" -> qs.size, "max_ratio" -> n(maxR), "worst" -> worst,
        "worst_t_hi" -> n(worstHi), "prev_max_ratio" -> prev.map(p => n(p._2._1)),
        "prev_max_t_hi" -> prev.map(p => n(p._2._2)), "prev_worst" -> prev.map(_._1))
    }
    val json = Json.render(Json.obj("mode" -> "scale_gate", "fixture" -> "organic",
      "mult_lo" -> MultLo, "mult_hi" -> MultHi, "ratio_max" -> Json.Num(RatioMax, 1),
      "abs_floor_sec" -> Json.Num(AbsFloorSec, 1), "cores" -> cores,
      "queries" -> Json.Obj(rows.map { case (k, v, _) => k -> v }),
      "prev_tag" -> prior.map(_._1), "families" -> Json.Obj(families),
      "failed" -> failed, "pass" -> failed.isEmpty))
    Verdict(json, failed)
  }

  /** The timed, non-exempt queries of the artifact `SCALE_<tag>.json`
    * whose text is `text`: name -> (ratio, t_hi). */
  def priorRatios(tag: String, text: String): Map[String, (Double, Double)] = {
    val src = s"SCALE_$tag.json"
    Json.fields(Json.get(Json.parse(text, src), "queries", src)).collect {
      case (q, c) if Seq("t_lo", "t_hi", "ratio").forall(k => c.path(k).isNumber) &&
          c.get("t_hi").asDouble > AbsFloorSec =>
        q -> (c.get("ratio").asDouble, c.get("t_hi").asDouble)
    }.toMap
  }

  /** Builds (or reuses) the x`mult` organic fixture set and returns its
    * directory. The `_SUCCESS_v2` sentinel is written AFTER the last
    * table and holds [[fixtureStamp]], so a run killed mid-generation, a
    * regenerated sf0.1 source, or an older generator's build all
    * regenerate instead of serving stale data. */
  private def ensureFixture(spark: SparkSession, mult: Int): String = {
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_sfbig_x${mult}_organic"
    // Organic offsets: EVERY key family advances per replica (all well
    // past the sf0.1 max of each key), so dims multiply and fact FKs
    // land on the copy-local dim rows. region/nation stay shared — 5/25
    // rows is their real-world cardinality at any scale.
    val organicBig = Map(
      "customer" -> Map("c_custkey" -> 10000000L),
      "orders" -> Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
      "supplier" -> Map("s_suppkey" -> 1000000L),
      "part" -> Map("p_partkey" -> 10000000L),
      "lineitem" -> Map("l_orderkey" -> 100000000L,
        "l_partkey" -> 10000000L, "l_suppkey" -> 1000000L),
      "events" -> Map("event_id" -> 100000000L, "user_id" -> 10000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L))
    val done = Paths.get(s"$dst/_SUCCESS_v2")
    val stamp = fixtureStamp(src, mult)
    val found = Option.when(Files.exists(done))(Files.readString(done, StandardCharsets.UTF_8))
    rebuildReason(found, stamp) match {
      case None => println(s"[scale] reusing fixtures in $dst")
      case Some(why) =>
        println(s"[scale] building x$mult fixtures in $dst: $why")
        Files.deleteIfExists(done)
        Tables.all.foreach { t =>
          val base = Tables.t(spark, src, t)
          // Offset-less tables (region, nation) stay a SINGLE copy —
          // replicating them without key offsets would union mult
          // identical frames, giving the dims duplicate primary keys
          // that fan out every nation/region join by ~mult per hop.
          val out = organicBig.get(t).fold(base) { offs =>
            (0 until mult).map { i =>
              val keyed = offs.foldLeft(base) { case (d, (c, off)) =>
                d.withColumn(c, col(c) + lit(off * i))
              }
              if (i == 0) keyed
              else if (t == "documents")
                // per-copy vocabulary: token-prefix rewrite makes
                // cross-copy shingle sets disjoint (Jaccard 0), so only
                // the fixture's native dup structure survives replication
                keyed
                  .withColumn("text",
                    regexp_replace(col("text"), "([a-z0-9]+)", s"r${i}_$$1"))
                  .withColumn("n_chars", length(col("text")))
              else if (t == "embeddings")
                // deterministic per-copy perturbation: breaks the
                // 99-identical-points geometry without moving vectors far
                keyed.withColumn("embedding", expr(
                  "transform(embedding, (x, j) -> cast(x + 0.001d * sin(vec_id * (j + 1)) AS float))"))
              else keyed
            }.reduce(_ unionByName _)
          }
          out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        }
        Files.writeString(done, stamp, StandardCharsets.UTF_8)
        println(s"[scale] wrote x$mult fixtures to $dst")
    }
    dst
  }

  /** The reuse sentinel's content for an x`mult` organic build of `src`:
    * the generator version, the multiplier, and the relative path, size
    * and mtime of every `*.parquet` file under `src`, sorted. A
    * regenerated source or a changed generator no longer matches. */
  def fixtureStamp(src: String, mult: Int): String = {
    val root = Paths.get(src)
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector
    finally walk.close()
    val lines = files.map { p =>
      s"${root.relativize(p)}\t${Files.size(p)}\t${Files.getLastModifiedTime(p).toMillis}"
    }.sorted
    (s"organic v2 x$mult" +: lines).mkString("", "\n", "\n")
  }

  /** Why a fixture whose sentinel holds `found` must be rebuilt against
    * the `expected` stamp; None when it may be reused. */
  def rebuildReason(found: Option[String], expected: String): Option[String] =
    found match {
      case None => Some("no completed build")
      case Some(s) if s == expected => None
      case Some(s) if s.isEmpty => Some("sentinel predates source fingerprinting")
      case Some(s) =>
        val (was, now) = (s.linesIterator.toVector, expected.linesIterator.toVector)
        val first = was.zipAll(now, "<none>", "<none>").find { case (a, b) => a != b }
        Some(first.fold("source changed") { case (a, b) => s"source changed: '$a' -> '$b'" })
    }

  /** Times [[organicSubset]] on both fixtures, writes `SCALE_<tag>.json`
    * and returns the verdict. A query that throws at either scale is
    * logged and recorded as a crash. */
  private def runGate(spark: SparkSession, tag: String): Verdict = {
    def timings(mult: Int): Map[String, Option[Double]] = {
      val dst = ensureFixture(spark, mult)
      organicSubset.map { name =>
        name -> (try Some(Measure.minOfPasses(s"gate x$mult", name, 2)(
          Measure.noop(SparkEntry.queries(name)(spark, dst))))
        catch { case e: Throwable =>
          System.err.println(s"[gate] $name FAILED at x$mult: ${e.getMessage}")
          None
        })
      }.toMap
    }
    val lo = timings(MultLo)
    val hi = timings(MultHi)
    val prior = priorTag(tag, Option(new java.io.File(".").list()).toSeq.flatten)
      .map(t => t -> Files.readString(Paths.get(s"SCALE_$t.json"), StandardCharsets.UTF_8))
    val v = verdict(lo, hi, prior, Measure.cores())
    Files.writeString(Paths.get(s"SCALE_$tag.json"), v.json + "\n")
    println(v.json)
    v
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case None =>
      System.err.println(Usage)
      sys.exit(2)
    case Some(tag) =>
      val spark = Sessions.local(Measure.cores(), "graft-scale-smoke")
      spark.sparkContext.setLogLevel("WARN")
      val v = try runGate(spark, tag) finally spark.stop()
      if (!v.pass) sys.exit(1)
  }
}
