package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: synthesizes an N-fold copy of the sf0.1 fixtures (fact
  * tables key-offset per copy, dimensions shared) under /tmp, then times a
  * representative query subset against it. Purpose: observe the SCALING
  * SHAPE of the heavy operators — map-heavy queries should scale
  * ~linearly; the LSH pipelines run against deliberately duplicate-heavy
  * data (every document gains N-1 exact copies), which is exactly the
  * degenerate-bucket regime the lshBucketCap bounds. Not a correctness
  * gate (the oracles stay on the driver fixtures) — a perf validation
  * harness for the 100 TB design claims.
  *
  * Usage: sbt 'runMain graft.ScaleSmoke [mult] [skew]'   (default 16,
  * uniform). With `skew`, ~20% of all events are reassigned to ONE hot
  * user (deterministically, event_id % 5 == 0 -> user 7) and the
  * user-keyed query subset runs instead — measuring that the documented
  * skew remedies (a2b salting, AQE skew-join in q_salted_join, bounded
  * per-key frames in a12) actually engage: the salted/bounded shapes
  * should degrade gently vs their unsalted duals, not serialize into one
  * straggler task.
  */
object ScaleSmoke {

  private def replicate(df: DataFrame, mult: Int, offsets: Map[String, Long]): DataFrame =
    (0 until mult).map { i =>
      offsets.foldLeft(df) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + lit(base * i))
      }
    }.reduce(_ unionByName _)

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

  /** Two timed passes (cold scan + warm plan), min — the same protocol
    * as the saltab A/B. */
  private def timeAb(tag: String, label: String)(mk: => DataFrame): Double =
    Measure.minOfPasses(tag, label, 2)(Measure.noop(mk))

  private def n(d: Double): String = Measure.num(d, 2)

  /** Drops the OS page cache before a cold pass; throws where the
    * process may not write it. */
  private def dropPageCache(): Unit = java.nio.file.Files.writeString(
    java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), "3")

  /** Standing scale gate (`runMain graft.ScaleSmoke gate r10`): builds
    * the x4 and x100 ORGANIC fixtures, times the pinned
    * [[organicSubset]] on both (two passes, min), and FAILS (exit 1) if
    * any query's x100/x4 ratio breaches the sub-linearity threshold.
    * Emits SCALE_r{N}.json in the repo root — the per-round artifact
    * the round ledger records.
    *
    * Threshold: data grows 25× between the fixtures (100/4), so a
    * linear operator scores ratio ≈ 25. The gate demands ratio ≤ 20
    * (0.8× linear — every operator here does sub-linear work per added
    * row: caps, sketches, broadcast probes; the round-9 worst case was
    * q9 at 12.3). Queries finishing under 2 s at x100 are exempt from
    * the ratio check: at sub-second scales the ratio measures host
    * noise and fixed costs, not scaling shape — but their absolute
    * time still lands in the artifact, so a regression into the tens
    * of seconds can't hide. A query that CRASHES at either scale fails
    * the gate outright. */
  private def runGate(spark: SparkSession, args: Array[String]): Unit = {
    val tag = args.find(_.matches("r\\d+")).getOrElse("rX")
    val ratioMax = 20.0
    val absFloorSec = 2.0
    val multLo = 4
    val multHi = 100
    def timings(mult: Int): Map[String, Option[Double]] = {
      val dst = ensureFixture(spark, mult, skewed = false,
        constEval = false, saltAb = false, organic = true)
      organicSubset.map { name =>
        name -> (try Some(timeAb(s"gate x$mult", name)(
          SparkEntry.queries(name)(spark, dst)))
        catch { case e: Throwable =>
          System.err.println(s"[gate] $name FAILED at x$mult: ${e.getMessage}")
          None
        })
      }.toMap
    }
    val lo = timings(multLo)
    val hi = timings(multHi)
    val rows = organicSubset.map { name =>
      (lo(name), hi(name)) match {
        case (Some(tl), Some(th)) =>
          val ratio = th / math.max(tl, 0.05)
          val pass = th <= absFloorSec || ratio <= ratioMax
          (name, s"""{"t_lo":${n(tl)},"t_hi":${n(th)},"ratio":${n(ratio)},"pass":$pass}""", pass)
        case (tl, th) =>
          val f = (v: Option[Double]) => v.map(n).getOrElse("null")
          (name, s"""{"t_lo":${f(tl)},"t_hi":${f(th)},"ratio":null,"pass":false}""", false)
      }
    }
    val failed = rows.collect { case (name, _, false) => name }
    // --- per-family roll-up (round-17 verdict task 6): max ratio per
    // cost class over the NON-exempt queries (x100 time above the
    // floor), plus the prior round's max re-derived from its artifact
    // under the same rule, so class creep is one diff, not 45 rows.
    val famRows = organicSubset.flatMap { name =>
      (lo(name), hi(name)) match {
        case (Some(tl), Some(th)) if th > absFloorSec =>
          Some((costFamily(name), name, th / math.max(tl, 0.05), th))
        case _ => None
      }
    }.groupBy(_._1)
    val prevRatios: Map[String, (Double, Double)] = scala.util.Try {
      val prevTag = "r%d".formatLocal(java.util.Locale.ROOT,
        tag.drop(1).toInt - 1)
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"SCALE_$prevTag.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      val re = """"([a-z0-9_]+)":\{"t_lo":[0-9.]+,"t_hi":([0-9.]+),"ratio":([0-9.]+)""".r
      re.findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble))
        .collect { case (q, th, r) if th > absFloorSec => q -> (r, th) }.toMap
    }.getOrElse(Map.empty)
    // The roll-up carries BOTH the ratio trend and the worst member's
    // ABSOLUTE x100 time (round-18, the w2d lesson): a ratio whose
    // denominator is a ~1.3 s x4 cell swings +-30% on denominator
    // jitter alone (r17 measured 5.13 and 6.8 for the same code in one
    // round), while t_hi is the stable signal a real scaling change
    // must move — trend-read max_ratio THROUGH worst_t_hi.
    val famJson = famRows.toSeq.sortBy(_._1).map { case (fam, qs) =>
      val (_, worst, maxR, worstHi) = qs.maxBy(_._3)
      // prev_* is the prior round's max-RATIO family member — and
      // prev_max_t_hi is THAT member's own t_hi, not the family max
      // over all members (ADVICE r18: mixing them compared absolutes
      // of different queries, e.g. e_spectrum_decay's ratio beside
      // e_knn_opq's 18.7 s, reading as a phantom trend). prev_worst
      // names the member so a cross-query comparison is visible.
      val prevPairs = organicSubset.filter(q => costFamily(q) == fam)
        .flatMap(q => prevRatios.get(q).map(q -> _))
      val (prevStr, prevHiStr, prevWorst) =
        if (prevPairs.isEmpty) ("null", "null", "null")
        else {
          val (q, (r, th)) = prevPairs.maxBy(_._2._1)
          (n(r), n(th), s""""$q"""")
        }
      s""""$fam":{"n":${qs.size},"max_ratio":${n(maxR)},"worst":"$worst","worst_t_hi":${n(worstHi)},"prev_max_ratio":$prevStr,"prev_max_t_hi":$prevHiStr,"prev_worst":$prevWorst}"""
    }.mkString(",")
    val json = s"""{"mode":"scale_gate","fixture":"organic","mult_lo":$multLo,"mult_hi":$multHi,""" +
      s""""ratio_max":$ratioMax,"abs_floor_sec":$absFloorSec,""" +
      s""""queries":{${rows.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")}},""" +
      s""""families":{$famJson},""" +
      s""""failed":[${failed.map(f => s""""$f"""").mkString(",")}],"pass":${failed.isEmpty}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"SCALE_$tag.json"), json + "\n")
    println(json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Build (or reuse) the x`mult` fixture set for the given mode flags;
    * returns the fixture directory. Factored out of main so the `gate`
    * mode can build BOTH comparison points (x4 and x100 organic) in one
    * run. */
  def ensureFixture(spark: SparkSession, mult: Int, skewed: Boolean,
      constEval: Boolean, saltAb: Boolean, organic: Boolean): String = {
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_sfbig_x$mult" +
      (if (skewed) "_skew" else if (constEval) "_consteval"
       else if (saltAb) "_saltab" else if (organic) "_organic" else "")

    val big = Map(
      "events" -> Map("event_id" -> 100000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L),
      "lineitem" -> Map("l_orderkey" -> 100000000L),
      "orders" -> Map("o_orderkey" -> 100000000L))
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
    // reuse sentinel = _SUCCESS marker written AFTER the last table — a
    // run killed mid-generation must regenerate, not silently reuse a
    // half-built fixture set. Organic fixtures carry a GENERATION tag:
    // v2 = offset-less dims stay single-copy (round-10 fix) — a fixture
    // built by the earlier dim-duplicating code must regenerate.
    val done = new java.io.File(if (organic) s"$dst/_SUCCESS_v2" else s"$dst/_SUCCESS")
    if (!done.exists()) {
      Tables.all.foreach { t =>
        val base = Tables.t(spark, src, t)
        val rep =
          if (organic) {
            // Offset-less tables (region, nation) stay a SINGLE copy —
            // replicating them without key offsets would union mult
            // identical frames, giving the dims duplicate primary keys
            // that fan out every nation/region join by ~mult per hop.
            // 5/25 rows is their real-world cardinality at any scale.
            if (!organicBig.contains(t)) base
            else {
            val offs = organicBig(t)
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
          } else if (constEval && t == "documents") {
            // copy 0 intact; copies i>0 keep only train docs. Same eval
            // membership predicate as TextOps.contaminationHits (hash32
            // of the string doc_id, mod 4), applied to the offset id.
            val evalPred =
              expr("cast(conv(substring(md5(cast(doc_id AS string)),1,8),16,10) as bigint) % 4 = 0")
            (0 until mult).map { i =>
              val c = base.withColumn("doc_id", col("doc_id") + lit(10000000L * i))
              if (i == 0) c else c.filter(!evalPred)
            }.reduce(_ unionByName _)
          } else big.get(t).map(off => replicate(base, mult, off)).getOrElse(base)
        val out = if (skewed && t == "events")
          rep.withColumn("user_id",
            when(pmod(col("event_id"), lit(5)) === 0, lit(7L)).otherwise(col("user_id")))
        else if (saltAb && t == "lineitem")
          rep.withColumn("l_partkey",
            when(pmod(col("l_orderkey"), lit(5)) === 0, lit(7L)).otherwise(col("l_partkey")))
        else rep
        out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      done.createNewFile()
      println(s"[scale] wrote x$mult fixtures to $dst")
    } else println(s"[scale] reusing fixtures in $dst")
    dst
  }

  /** The shared ~8k-file small-file fixture under `dst` (built once,
    * reused via _SUCCESS) — the production-file-count regime the
    * manifestmany / manifestupd receipts price. Single-key range
    * clustering, NOT z-order: the organic fixture's key domain is 100
    * sparse clusters over ~1B, which the 16-bit equal-width z-rescale
    * collapses to only 386 distinct codes — range partitioning caps at
    * non-empty code count, so a z-layout here cannot exceed 386 files
    * (measured; see the writeZOrderedN scaladoc note on sparse clustered
    * domains). Raw l_partkey has millions of distinct values, so 8192
    * range files materialize, each with a tight partkey box. */
  private def ensureManyFiles(spark: SparkSession, dst: String): String = {
    val mDir = s"$dst/lineitem_manyfiles"
    val fsm = new org.apache.hadoop.fs.Path(mDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsm.exists(new org.apache.hadoop.fs.Path(mDir, "_SUCCESS"))) {
      System.err.println(s"[manyfiles] writing ~8k-file range layout to $mDir")
      Tables.t(spark, dst, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .repartitionByRange(8192, col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"))
        .write.mode("overwrite").parquet(mDir)
    }
    mDir
  }

  def main(args: Array[String]): Unit = {
    // tolerant parse: `ScaleSmoke skew` (flag only) falls back to x16
    // instead of throwing NumberFormatException on the mode word
    val mult = args.headOption.filter(a => a.nonEmpty && a.forall(_.isDigit))
      .map(_.toInt).getOrElse(16)
    val skewed = args.contains("skew")
    // `consteval`: scale the TRAIN side only — replicated document
    // copies drop their would-be eval docs so the eval set stays the
    // original copy's. This is decontamination's production shape
    // (benchmarks are fixed while corpora grow); the default replication
    // grows the eval side with the corpus and so overstates its cost.
    val constEval = args.contains("consteval")
    // `saltab`: the salted-join A/B — lineitem gains a hot JOIN key (~20%
    // of rows reassigned to l_partkey=7) and the same join/agg runs three
    // ways: plain with AQE skew-join ON, plain with it OFF, and the
    // manually salted q_salted_join shape. Broadcast is disabled for all
    // three (the 100 TB regime where the dim side outgrows broadcast —
    // with broadcast allowed there IS no shuffle skew problem and the
    // whole question is moot).
    val saltAb = args.contains("saltab")
    // `organic`: unique-id/content regeneration per replica. The default
    // replication is deliberately dup-heavy (every doc gains mult-1 exact
    // copies; dimension keys shared), which exercises the degenerate LSH
    // regime but FLATTERS dedup and understresses distinct-heavy
    // aggregates (count-distinct cardinalities stay constant as the
    // corpus multiplies). Organic mode salts the replica index into
    // every key family (dims replicated with offset keys, fact FKs
    // re-pointed at the copy-local dims), regenerates document
    // vocabulary per copy (token-prefix rewrite -> cross-copy Jaccard
    // 0, only the fixture's own ~10% dup rate remains), and perturbs
    // embedding coordinates — so distinct counts, group counts, and
    // join build sides all scale WITH the data, the way a real corpus
    // grows.
    val organic = args.contains("organic")
    val spark = Sessions.local(Measure.cores(), "graft-scale-smoke")
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("gate")) { runGate(spark, args); return }

    // `manifest50k`: scanPruned's DRIVER-SIDE economics at production
    // manifest sizes (verdict r12 task 3). At 1M files the worry is the
    // O(kept) collect of kept paths plus the path-list relation
    // resolution (exists-checks, InMemoryFileIndex listing, plan size) —
    // all driver/analysis work that layoutab/manifestmany, which stop at
    // 8k files, cannot expose. The directory is SYNTHESIZED: one tiny
    // parquet seed copied K times (the measured quantities — staleness
    // listing, manifest filter+collect, multi-path resolution, task
    // packing — depend only on file COUNT, not bytes), and manifest rows
    // are synthesized arithmetically with disjoint per-file boxes so a
    // bounds probe keeps an exact fraction. Reports, per K in
    // {5k, 15k, 50k}: construction time (staleness guard + prune +
    // relation resolution) and execution time for a ~1%-kept selective
    // probe and a 100%-kept worst case. The growth curve 5k -> 50k is
    // the receipt: ~10x at 10x files = linear (document the ceiling);
    // materially superlinear = a hierarchical manifest is required.
    if (args.contains("manifest50k")) {
      val root = "/tmp/graft_manifest50k"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val Ks = Seq(5000, 15000, 50000)
      val seedDir = s"$root/seed"
      if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_SEEDED_v1"))) {
        System.err.println(s"[manifest50k] seeding ${Ks.sum} file copies under $root")
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        spark.range(100).selectExpr("id AS k1", "id AS k2").coalesce(1)
          .write.mode("overwrite").parquet(seedDir)
        val seed = new java.io.File(fs.listStatus(new org.apache.hadoop.fs.Path(seedDir))
          .filter(_.getPath.getName.endsWith(".parquet")).head.getPath.toUri)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        try Ks.foreach { k =>
          val dir = java.nio.file.Paths.get(s"$root/files_$k")
          java.nio.file.Files.createDirectories(dir)
          (0 until k).map { i =>
            pool.submit(new Runnable {
              def run(): Unit = java.nio.file.Files.copy(seed.toPath,
                dir.resolve(f"part-$i%06d.parquet"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            })
          }.foreach(_.get())
        } finally pool.shutdown()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(root, "_SEEDED_v1"), "ok")
      }
      val cells = Ks.map { k =>
        val dir = s"$root/files_$k"
        // synthetic manifest: file i owns box [100i, 100i+99] on both keys
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("rows",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("k1_min",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k1_max",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k2_min",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k2_max",
            org.apache.spark.sql.types.LongType)))
        val rows = (0 until k).map { i =>
          org.apache.spark.sql.Row(f"$dir/part-$i%06d.parquet", 100L,
            i * 100L, i * 100L + 99L, i * 100L, i * 100L + 99L)
        }
        val manifest = spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
        val keptTarget = k / 100 // ~1% of files
        val selBounds = Seq(("k1", 0L, keptTarget * 100L - 1L))
        val allBounds = Seq(("k1", 0L, k * 100L))
        def measure(bounds: Seq[(String, Long, Long)], doCount: Boolean,
            expectRows: Long): (Double, Double, Int) = {
          // min of two passes, with Spark's path caches dropped so the
          // resolution cost being measured is actually paid
          val ts = (1 to 2).map { _ =>
            spark.catalog.refreshByPath(dir)
            val t0 = System.nanoTime()
            val df = operators.Layout.scanPruned(spark, dir, manifest, bounds)
            val tC = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            if (doCount) require(df.count() == expectRows,
              s"manifest50k: wrong row count at k=$k $bounds")
            val tX = (System.nanoTime() - t1) / 1e9
            (tC, tX, df.inputFiles.length)
          }
          (ts.map(_._1).min, ts.map(_._2).min, ts.head._3)
        }
        // selective probe keeps exactly keptTarget files, every row of
        // each passes the residual (content k1 in [0,99] (= within
        // bounds)
        val (tcSel, txSel, keptSel) = measure(selBounds, doCount = true,
          keptTarget * 100L)
        require(keptSel == keptTarget, s"kept $keptSel != $keptTarget")
        val (tcAll, txAll, keptAll) = measure(allBounds, doCount = true,
          k * 100L)
        require(keptAll == k)
        println(f"[manifest50k] k=$k%6d selective: construct ${Measure.num(tcSel)}s " +
          f"count ${Measure.num(txSel)}s kept=$keptSel; all: construct ${Measure.num(tcAll)}s " +
          f"count ${Measure.num(txAll)}s")
        s"""{"files":$k,"t_construct_sel":${Measure.num(tcSel)},"t_count_sel":${Measure.num(txSel)},""" +
          s""""kept_sel":$keptSel,"t_construct_all":${Measure.num(tcAll)},"t_count_all":${Measure.num(txAll)}}"""
      }
      println(s"""{"mode":"manifest50k","cells":[${cells.mkString(",")}]}""")
      spark.stop()
      return
    }
    val dst = ensureFixture(spark, mult, skewed, constEval, saltAb, organic)

    // `layoutab`: the layout-stack receipt at organic scale — lineitem
    // from the fixture is written once Z-ordered on (l_partkey,
    // l_suppkey) with a rebuilt manifest (reused across runs via
    // _SUCCESS), then the same filtered aggregate is timed three ways:
    // plain scan of the fixture's own layout, scan of the z-layout
    // (row-group skipping only), and the manifest-pruned scan of the
    // z-layout (file skipping + row-group skipping). Run cold (drop
    // page caches before the JVM) for the IO-bound numbers; results
    // are equality-checked before timing.
    if (args.contains("layoutab")) {
      val zDir = s"$dst/lineitem_zorder"
      val fs = new org.apache.hadoop.fs.Path(zDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(zDir, "_SUCCESS"))) {
        System.err.println(s"[layoutab] writing z-ordered lineitem to $zDir")
        operators.Layout.writeZOrdered(
          Tables.t(spark, dst, "lineitem")
            .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity")),
          "l_partkey", "l_suppkey", zDir, numFiles = 256)
      }
      val manifest = operators.Layout
        .buildManifest(spark, zDir, Seq("l_partkey", "l_suppkey")).cache()
      val nFiles = manifest.count()
      // probe: one clustered-key range, ~1% of the partkey domain
      val (lo, hi) = {
        val r = spark.read.parquet(zDir)
          .agg(min(col("l_partkey")), max(col("l_partkey"))).head()
        val span = r.getLong(1) - r.getLong(0)
        (r.getLong(0) + span / 2, r.getLong(0) + span / 2 + span / 100)
      }
      def agg(df: DataFrame) = df
        .filter(col("l_partkey") >= lo && col("l_partkey") <= hi)
        .agg(sum(col("l_quantity").cast("double")).as("q"))
      val pruned = operators.Layout.scanPruned(spark, zDir, manifest,
        Seq(("l_partkey", lo, hi)))
        .agg(sum(col("l_quantity").cast("double")).as("q"))
      // Cold discipline: drop the OS page cache before EVERY timed pass
      // (this sandbox runs as root; a failed write just means warm
      // numbers, and the flag in the JSON says which you got). The
      // equality check runs AFTER timing — an earlier revision checked
      // first and silently re-warmed everything it was about to time.
      val cold = scala.util.Try(dropPageCache()).isSuccess
      def timeCold(label: String)(mk: => DataFrame): Double =
        Measure.minOfPasses("layoutab", label, 2,
          before = () => if (cold) dropPageCache())(Measure.noop(mk))
      val tPlain = timeCold("plain_scan")(agg(Tables.t(spark, dst, "lineitem")))
      val tZ = timeCold("zorder_scan")(agg(spark.read.parquet(zDir)))
      val tPruned = timeCold("manifest_pruned")(
        operators.Layout.scanPruned(spark, zDir, manifest, Seq(("l_partkey", lo, hi)))
          .agg(sum(col("l_quantity").cast("double")).as("q")))
      // sum(double) is summation-order-dependent, so equality across
      // different plans needs a RELATIVE tolerance (an absolute 1e-6 on
      // an ~1e8-magnitude x100 sum would flag pure reassociation error);
      // and sum over zero rows is NULL, so guard before getDouble
      def sumOf(df: DataFrame): Double = {
        val r = df.head()
        require(!r.isNullAt(0),
          "layoutab probe range matched no rows — receipt would be vacuous")
        r.getDouble(0)
      }
      def close(a: Double, b: Double): Boolean =
        math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.max(math.abs(b), 1.0))
      val expect = sumOf(agg(spark.read.parquet(zDir)))
      require(close(sumOf(pruned), expect) &&
        close(sumOf(agg(Tables.t(spark, dst, "lineitem"))), expect),
        "layouts disagree — receipt would be meaningless")
      val keptFiles = operators.Layout.scanPruned(spark, zDir, manifest,
        Seq(("l_partkey", lo, hi))).inputFiles.length
      println(s"""{"plain_scan":${n(tPlain)},"zorder_scan":${n(tZ)},"manifest_pruned":${n(tPruned)},"files_kept":$keptFiles,"files_total":$nFiles,"cold":$cold,"mult":$mult,"mode":"layoutab"}""")
      spark.stop()
      return
    }

    // `manifestmany`: the manifest's economics at a PRODUCTION file
    // count (verdict r11 task 6). layoutab's 256-file receipt was an
    // honest null (CPU-bound NVMe scan, footer cost invisible); here the
    // same organic lineitem is written as ~8k tiny z-ordered files — the
    // small-file regime a streaming writer leaves behind — and the same
    // ~1%-of-domain probe is timed cold: full scan (8k listings + 8k
    // footer opens + task scheduling) vs the manifest-pruned scan
    // (driver lookup + only intersecting files opened). Alongside wall
    // time, the artifact pins the STRUCTURAL receipt: files opened and
    // scan partitions, both sides.
    if (args.contains("manifestmany")) {
      val mDir = ensureManyFiles(spark, dst)
      // materialize the manifest OUT of the scan lineage (collect +
      // rebuild from local rows): production persists it as its own tiny
      // table, and the refreshByPath below would otherwise invalidate a
      // cached plan over mDir and silently re-scan 497 MB per timed pass
      val manifest = {
        val built = operators.Layout
          .buildManifest(spark, mDir, Seq("l_partkey", "l_suppkey"))
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(built.collect(): _*)),
          built.schema)
      }
      val nFiles = manifest.count()
      val (lo, hi) = {
        val r = spark.read.parquet(mDir)
          .agg(min(col("l_partkey")), max(col("l_partkey"))).head()
        val span = r.getLong(1) - r.getLong(0)
        (r.getLong(0) + span / 2, r.getLong(0) + span / 2 + span / 100)
      }
      def scanFull() = spark.read.parquet(mDir)
        .filter(col("l_partkey") >= lo && col("l_partkey") <= hi)
      def full() = scanFull().agg(sum(col("l_quantity").cast("double")).as("q"))
      def prunedDf() = operators.Layout.scanPruned(spark, mDir, manifest,
        Seq(("l_partkey", lo, hi)))
      val cold = scala.util.Try(dropPageCache()).isSuccess
      def timeCold(label: String)(mk: => DataFrame): Double =
        Measure.minOfPasses("manifestmany", label, 2, labelWidth = 18, before = { () =>
          if (cold) dropPageCache()
          // drop Spark's listing/footer caches too — a warm
          // InMemoryFileIndex would hide exactly the cost being measured
          spark.catalog.refreshByPath(mDir)
        })(Measure.noop(mk))
      val tFull = timeCold("full_scan")(full())
      val tPruned = timeCold("manifest_pruned")(
        prunedDf().agg(sum(col("l_quantity").cast("double")).as("q")))
      def sumOf(df: DataFrame): Double = {
        val r = df.head()
        require(!r.isNullAt(0), "probe matched no rows"); r.getDouble(0)
      }
      val (a, b) = (sumOf(full()), sumOf(prunedDf()
        .agg(sum(col("l_quantity").cast("double")).as("q"))))
      require(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.max(math.abs(b), 1.0)),
        "layouts disagree — receipt would be meaningless")
      val filesKept = prunedDf().inputFiles.length
      // SCAN task counts (pre-aggregation): the schedulable unit a 100k-
      // file table multiplies
      val tasksFull = scanFull().rdd.getNumPartitions
      val tasksPruned = prunedDf().rdd.getNumPartitions
      println(s"""{"full_scan":${n(tFull)},"manifest_pruned":${n(tPruned)},""" +
        s""""files_kept":$filesKept,"files_total":$nFiles,""" +
        s""""tasks_full":$tasksFull,"tasks_pruned":$tasksPruned,""" +
        s""""cold":$cold,"mult":$mult,"mode":"manifestmany"}""")
      spark.stop()
      return
    }

    // `manifestupd`: the INCREMENTAL manifest's economics at the same
    // production file count (follow-on to manifestmany). Scenario: a
    // writer appends k files to an ~8k-file table whose manifest was
    // built at write time; scanPruned's staleness guard trips; the
    // remedy is what this prices — Layout.updateManifest (scans ONLY the
    // k new files plus two bounded name-set collects) vs the naive full
    // buildManifest rebuild (re-scans all ~8k files / ~500 MB). Page
    // cache and Spark listing caches are dropped before every timed
    // pass, as in manifestmany; the incremental result is asserted equal
    // to a fresh rebuild AFTER timing (canonical name-keyed rows), so
    // the speedup cannot come from computing something weaker.
    if (args.contains("manifestupd")) {
      val mDir = ensureManyFiles(spark, dst)
      val keys = Seq("l_partkey", "l_suppkey")
      val dirPath = new org.apache.hadoop.fs.Path(mDir)
      val fsm = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def updFiles() = fsm.listStatus(dirPath)
        .filter(_.getPath.getName.contains("-upd-"))
      // re-runnable: drop appends a previous manifestupd run left behind
      updFiles().foreach(s => fsm.delete(s.getPath, false))
      def freeze(df: DataFrame): DataFrame = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)), df.schema)
      val cold = scala.util.Try(dropPageCache()).isSuccess
      def timed(label: String)(mk: => DataFrame): (DataFrame, Double) = {
        var out: DataFrame = null
        val min = Measure.minOfPasses("manifestupd", label, 2, labelWidth = 14,
          before = { () => if (cold) dropPageCache(); spark.catalog.refreshByPath(mDir) }
        ) { out = mk }
        (out, min)
      }
      // the manifest the table "shipped with" (also prices full_build)
      val (m0, tFullBuild) = timed("full_build")(
        freeze(operators.Layout.buildManifest(spark, mDir, keys)))
      // append k=16 files: a small slice of the fixture written through
      // a staging dir, then renamed in under distinctive -upd- names
      val staging = s"$dst/lineitem_manyfiles_staging"
      Tables.t(spark, dst, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .limit(120000).repartition(16)
        .write.mode("overwrite").parquet(staging)
      val stagingPath = new org.apache.hadoop.fs.Path(staging)
      val appended = fsm.listStatus(stagingPath)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .zipWithIndex.map { case (s, i) =>
          val to = new org.apache.hadoop.fs.Path(dirPath, f"part-upd-$i%04d.parquet")
          require(fsm.rename(s.getPath, to), s"rename ${s.getPath} -> $to failed")
          to
        }
      fsm.delete(stagingPath, true)
      val (m1, tIncr) = timed("incr_update")(
        freeze(operators.Layout.updateManifest(spark, mDir, m0, keys)))
      val (m2, tRebuild) = timed("full_rebuild")(
        freeze(operators.Layout.buildManifest(spark, mDir, keys)))
      def canon(df: DataFrame): Set[Seq[Any]] = df.collect().map { r =>
        val f = r.getString(0)
        f.substring(f.lastIndexOf('/') + 1) +: (1 until r.length).map(r.get)
      }.map(_.toSeq).toSet
      require(canon(m1) == canon(m2),
        "incremental update != full rebuild — receipt would be meaningless")
      val total = m2.count()
      // leave the shared fixture as manifestmany expects it
      updFiles().foreach(s => fsm.delete(s.getPath, false))
      println(s"""{"full_build":${n(tFullBuild)},"incr_update":${n(tIncr)},""" +
        s""""full_rebuild":${n(tRebuild)},"speedup":${n(tRebuild / tIncr)},""" +
        s""""files_total":$total,"files_new":${appended.length},""" +
        s""""cold":$cold,"mult":$mult,"mode":"manifestupd"}""")
      spark.stop()
      return
    }

    // `compactab`: the bin-parallelism receipt behind compactSmallFiles'
    // bounded submitter pool (verdict r11 task 3) — the same 256-file
    // z-layout is compacted twice into ~64 four-file bins, once with
    // maxConcurrentBins=1 (the old serialized driver loop) and once
    // with 8. Each bin is a single-task job over a few MB, so job
    // SUBMISSION is a real fraction of the wall — the regime where a
    // production 100k-file table lives — and the pool should win
    // near-linearly until IO saturates.
    if (args.contains("compactab")) {
      val base = Tables.t(spark, dst, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      def build(tag: String): String = {
        val d = s"$dst/lineitem_compactab_$tag"
        operators.Layout.writeZOrdered(base, "l_partkey", "l_suppkey", d, numFiles = 256)
        d
      }
      def files(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.startsWith("part-"))
      def timeCompact(d: String, pool: Int): (Double, operators.Layout.CompactReceipt) = {
        val target = files(d).map(_.length).sum / 64 + 1
        val t0 = System.nanoTime()
        val r = operators.Layout.compactSmallFiles(spark, d, target, maxConcurrentBins = pool)
        ((System.nanoTime() - t0) / 1e9, r)
      }
      val d1 = build("p1"); val d8 = build("p8")
      val n1 = spark.read.parquet(d1).count()
      val (t1, r1) = timeCompact(d1, 1)
      val (t8, r8) = timeCompact(d8, 8)
      require(spark.read.parquet(d1).count() == n1 &&
        spark.read.parquet(d8).count() == n1, "compaction changed row counts")
      println(s"[compactab] pool=1 ${n(t1)} s $r1")
      println(s"[compactab] pool=8 ${n(t8)} s $r8")
      println(s"""{"pool1_sec":${n(t1)},"pool8_sec":${n(t8)},"speedup":${n(t1 / t8)},""" +
        s""""files_before":${r1.filesBefore},"files_after":${r1.filesAfter},""" +
        s""""bins_rewritten":${r1.binsRewritten},"mult":$mult,"mode":"compactab"}""")
      spark.stop()
      return
    }

    // `zdepthab`: equal-width vs equi-depth z-order on the organic
    // fixture's SPARSE CLUSTERED key domain (the round-12 finding: the
    // equal-width rescale collapses it to ~386 z-codes — a hard cap on
    // file count no budget can raise). Both writers get the same
    // 1024-file budget: equal-width materializes at most its code
    // count (~386), equi-depth (rank space) the full 1024, and with
    // them ~2 extra Morton cut bits. A 2-D mass probe (0.5% of each
    // key's mass, bounds from quantiles so the probe is geometry-
    // independent) measures rows MATERIALIZED by the scan and wall
    // time — the resolution the cap costs, priced at organic x100.
    if (args.contains("zdepthab")) {
      val base = Tables.t(spark, dst, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val ewDir = s"$dst/lineitem_zdepth_ew"
      val edDir = s"$dst/lineitem_zdepth_ed"
      val fs = new org.apache.hadoop.fs.Path(ewDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(ewDir, "_SUCCESS"))) {
        System.err.println(s"[zdepthab] writing equal-width z-layout to $ewDir")
        operators.Layout.writeZOrdered(base, "l_partkey", "l_suppkey", ewDir, numFiles = 1024)
      }
      if (!fs.exists(new org.apache.hadoop.fs.Path(edDir, "_SUCCESS"))) {
        System.err.println(s"[zdepthab] writing equi-depth z-layout to $edDir")
        operators.Layout.writeZOrderedEquiDepth(
          base, Seq("l_partkey", "l_suppkey"), edDir, numFiles = 1024)
      }
      def nFiles(d: String) = new java.io.File(d).listFiles()
        .count(_.getName.endsWith(".parquet"))
      // 0.05%-of-mass probe per key, centered at the median — narrow
      // enough that the layout's minimum addressable unit (rows per
      // file) dominates over the probe's own matching rows. (A fatter
      // probe hides the difference: organic partkey/suppkey are
      // correlated, so a 0.5% 2-D probe already matches ~300k rows and
      // BOTH layouts read near that floor.)
      val qs = base.stat.approxQuantile(
        Array("l_partkey", "l_suppkey"), Array(0.50, 0.5005), 2e-5)
      val (pLo, pHi) = (qs(0)(0).toLong, qs(0)(1).toLong)
      val (sLo, sHi) = (qs(1)(0).toLong, qs(1)(1).toLong)
      val pred = col("l_partkey") >= pLo && col("l_partkey") <= pHi &&
        col("l_suppkey") >= sLo && col("l_suppkey") <= sHi
      def agg(d: String) = spark.read.parquet(d).filter(pred)
        .agg(sum(col("l_quantity").cast("double")).as("q"))
      // rows the parquet reader materialized (scan numOutputRows after
      // row-group skipping) — AQE off so the executed plan is plain
      val aqeOld = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def rowsScanned(d: String): Long = {
        val df = agg(d)
        df.collect()
        df.queryExecution.executedPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
        }.map(_.metrics("numOutputRows").value).sum
      }
      def timeWarm(label: String)(d: String): Double =
        Measure.minOfPasses("zdepthab", label, 3, labelWidth = 18)(Measure.noop(agg(d)))
      // the composed stack: equi-depth buys ADDRESSABILITY (9x fewer
      // rows per probe), the manifest converts it into wall time by
      // not opening the 1000+ non-intersecting footers — time the
      // manifest-pruned probe on both layouts too
      def materializedManifest(d: String) = {
        val built = operators.Layout.buildManifest(
          spark, d, Seq("l_partkey", "l_suppkey"))
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(built.collect(): _*)),
          built.schema)
      }
      val bounds = Seq(("l_partkey", pLo, pHi), ("l_suppkey", sLo, sHi))
      val (manEw, manEd) = (materializedManifest(ewDir), materializedManifest(edDir))
      def pruned(d: String, man: DataFrame) = operators.Layout
        .scanPruned(spark, d, man, bounds)
        .agg(sum(col("l_quantity").cast("double")).as("q"))
      def timePruned(label: String)(d: String, man: DataFrame): Double =
        Measure.minOfPasses("zdepthab", label, 3, labelWidth = 18)(
          Measure.noop(pruned(d, man)))
      try {
        val (rEw, rEd) = (rowsScanned(ewDir), rowsScanned(edDir))
        val (tEw, tEd) = (timeWarm("equal_width")(ewDir), timeWarm("equi_depth")(edDir))
        val tPEw = timePruned("ew_pruned")(ewDir, manEw)
        val tPEd = timePruned("ed_pruned")(edDir, manEd)
        val keptEw = operators.Layout.scanPruned(spark, ewDir, manEw, bounds).inputFiles.length
        val keptEd = operators.Layout.scanPruned(spark, edDir, manEd, bounds).inputFiles.length
        def sumOf(df: DataFrame): Double = {
          val r = df.head()
          require(!r.isNullAt(0), "zdepthab probe matched no rows"); r.getDouble(0)
        }
        val expect = sumOf(agg(ewDir))
        def close(x: Double): Boolean =
          math.abs(x - expect) <= 1e-9 * math.max(math.abs(x), math.max(math.abs(expect), 1.0))
        require(close(sumOf(agg(edDir))) && close(sumOf(pruned(ewDir, manEw))) &&
          close(sumOf(pruned(edDir, manEd))),
          "layouts disagree — receipt would be meaningless")
        println(s"""{"files_ew":${nFiles(ewDir)},"files_ed":${nFiles(edDir)},""" +
          s""""rows_scanned_ew":$rEw,"rows_scanned_ed":$rEd,""" +
          s""""sec_ew":${n(tEw)},"sec_ed":${n(tEd)},""" +
          s""""sec_ew_pruned":${n(tPEw)},"sec_ed_pruned":${n(tPEd)},""" +
          s""""files_kept_ew":$keptEw,"files_kept_ed":$keptEd,""" +
          s""""mult":$mult,"mode":"zdepthab"}""")
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeOld)
      spark.stop()
      return
    }

    // `paneab`: the pane-sharing A/B — the registered pane plans vs
    // their naive row-replicating duals on the same fixture (run with
    // `organic` for the 100x receipt). Same outputs bit-for-bit
    // (PaneSpec), so the delta is pure plan shape: the naive side
    // shuffles k x |rows|, the pane side |rows| + k x |cells|.
    if (args.contains("paneab")) {
      val ev = Tables.t(spark, dst, "events")
      val ddNaive = timeAb("paneab", "dd_naive")(operators.PaneOps.slidingDdQuantilesNaive(ev))
      val ddPane = timeAb("paneab", "dd_pane")(operators.PaneOps.slidingDdQuantilesPane(ev))
      val hllNaive = timeAb("paneab", "hll_naive")(operators.PaneOps.slidingHllDistinctNaive(ev))
      val hllPane = timeAb("paneab", "hll_pane")(operators.PaneOps.slidingHllDistinctPane(ev))
      // k-scaling check (round-10 verdict task 7): the pane win should
      // GROW with k, since the naive side replicates raw rows k× while
      // the pane side's k× applies only to constant-size cells. k=12 =
      // hourly windows sliding every 5 minutes, vs the default k=4.
      val p12 = operators.PaneOps.PaneParams.ofMinutes(60, 5)
      val ddNaive12 = timeAb("paneab", "dd_naive_k12")(
        operators.PaneOps.slidingDdQuantilesNaive(ev, p12))
      val ddPane12 = timeAb("paneab", "dd_pane_k12")(
        operators.PaneOps.slidingDdQuantilesPane(ev, p12))
      // k=24 (2h window / 5-min slide): the trend's third point — the
      // naive side should track k linearly, the pane side stay flat.
      val p24 = operators.PaneOps.PaneParams.ofMinutes(120, 5)
      val ddNaive24 = timeAb("paneab", "dd_naive_k24")(
        operators.PaneOps.slidingDdQuantilesNaive(ev, p24))
      val ddPane24 = timeAb("paneab", "dd_pane_k24")(
        operators.PaneOps.slidingDdQuantilesPane(ev, p24))
      println(s"""{"dd_naive":${n(ddNaive)},"dd_pane":${n(ddPane)},"hll_naive":${n(hllNaive)},"hll_pane":${n(hllPane)},"dd_naive_k12":${n(ddNaive12)},"dd_pane_k12":${n(ddPane12)},"dd_naive_k24":${n(ddNaive24)},"dd_pane_k24":${n(ddPane24)},"mult":$mult,"mode":"paneab"}""")
      spark.stop()
      return
    }

    // Hot-key subset: every query keyed on user_id, paired where possible
    // with its skew remedy (a2 unsalted vs a2b salted is the headline
    // before/after; q_salted_join carries its own salt).
    val skewSubset = Seq(
      "a2_running_sum", "a2b_running_sum_salted", "a4_user_action_window",
      "a12_ewma_smooth", "a13_transition_matrix", "q_salted_join",
      "a8_retention_cohort", "a11_peak_concurrency", "a16_inter_event_gap")
    val uniformSubset = Seq(
      "q1_pricing_summary", "q5_region_revenue", "q_percentiles",
      "q_hll_sketch", "q_count_distinct", "a1_window_count_5m",
      "a2b_running_sum_salted", "w3_session_window", "j3_interval_join",
      "t_simhash", "d_minhash_sig", "d_minhash_lsh_pairs",
      "d_dedup_groups", "d_curate_corpus", "e_knn_brute", "e_knn_lsh",
      "a8_retention_cohort", "a9_funnel", "a10_zscore_outliers",
      "t_lm_score", "t_repetition", "e_knn_rerank", "q_mode_quantity",
      "q_cms_topk", "q_bloom_semi", "d_weighted_sample", "t_tfidf",
      "a11_peak_concurrency", "q_salted_join", "q_unpivot",
      "d_decontaminate", "d_pack_sequences", "d_ingest_neardup",
      "t_vocab_coverage", "a14_rolling_dau")
    // Constant-eval subset: the round-5 newcomers whose 100 TB claims
    // the receipts must back (a14/e_knn ride along — their tables are
    // replicated identically in this fixture).
    val constEvalSubset = Seq(
      "d_decontaminate", "d_contamination_report",
      "a14_rolling_dau", "e_knn_matryoshka")
    // Late-round-6 newcomers: the queries whose 100 TB claims still need
    // a receipt (uniform fixture; the LSH-free subset so the run stays
    // minutes, not the full dup-heavy regime).
    val freshSubset = Seq(
      "d_chunk_overlap", "d_boilerplate_segments", "e_knn_pq",
      "e_dim_stats", "e_recall_eval", "e_ood_score",
      "d_dup_stats_by_source", "d_split_assign", "d_filter_funnel",
      "a15_level_shift", "q10_returned_revenue",
      "d_split_leakage", "q8_market_share", "q14_promo_share",
      "e_cluster_inertia", "t_token_entropy", "d_ngram_novelty",
      "e_kmeans_step", "a16_inter_event_gap")
    // The adapted TPC-H completion batch (TpchOps): every new join/agg
    // family on the uniform fixture — the receipts behind their 100 TB
    // shape claims. Fact keys offset per copy, so per-order and per-part
    // group sizes stay CONSTANT as the corpus multiplies: the correct
    // production analogy (more orders, not deeper orders).
    val tpchSubset = Seq(
      "q2_min_cost_supplier", "q4_priority_count", "q7_volume_shipping",
      "q9_product_profit", "q11_important_parts", "q12_priority_lines",
      "q13_cust_order_dist", "q15_top_supplier", "q16_supplier_variety",
      "q17_small_qty_revenue", "q18_large_volume", "q19_disjunctive_revenue",
      "q20_excess_shippers", "q21_waiting_supplier", "q22_idle_balance")
    // Post-TPC-H additions still needing a receipt.
    val latestSubset = Seq(
      "e_hard_negatives", "d_quality_prune", "a17_mad_outliers",
      "t_gopher_rules", "d_source_quota", "d_cross_source_overlap",
      "e_threshold_sweep", "d_lsh_band_tuning", "m_media_dedup",
      "q22_idle_balance")
    // Round-7: 64x receipts for the calibration batch (previously only
    // 16x) plus the iterative label-propagation convergence receipts —
    // the DEFAULT dup-heavy replication is the point here: every doc
    // gains mult-1 exact copies, so components are mult-sized and the
    // pair/band caps and the pointer-doubling round bound are exercised
    // in their degenerate regime. minLabelComponents logs its converged
    // round count to stderr (the receipt behind its maxIter=20 bound).
    val calib64Subset = Seq(
      "d_cross_source_overlap", "e_threshold_sweep", "d_lsh_band_tuning",
      "d_source_quota", "d_dedup_groups", "e_semantic_dedup")
    // Round-7 operator additions needing their first receipts.
    val r7Subset = Seq(
      "e_centroid_drift", "d_containment_pairs", "d_cluster_size_profile",
      "t_zipf_fit", "q_pareto_frontier",
      "j4_nearest_join", "d_perplexity_band", "e_knn_ivf_mp", "d_epoch_plan",
      "a18_seasonal_anomaly", "q_pagerank", "x3_cep_sequence")
    // Round-8 additions (CEP negation + quantifier) needing receipts.
    val r8Subset = Seq("x4_cep_negation", "x5_cep_times", "x3_cep_sequence")
    // `topkab`: the native graft_topk heap aggregate vs the rank-window
    // shape on q_topk_per_brand's semantics — the FEW-GROUPS × MANY-
    // ROWS-PER-GROUP regime (25 brands × ~80k parts/brand at x100
    // organic) where the window's parallelism collapses to #groups
    // tasks while the heap's partial aggregation stays map-parallel.
    // Both shapes verified row-identical before timing (prices in exact
    // integer cents, same (score desc, id asc) tiebreak).
    if (args.contains("topkab")) {
      val part = Tables.t(spark, dst, "part")
      def viaWindow: DataFrame = SparkEntry.queries("q_topk_per_brand")(spark, dst)
        .select(col("p_brand"), col("p_partkey"), col("rn").cast("long").as("rn"))
      def viaHeap: DataFrame = part
        .select(col("p_brand"),
          expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)").as("score"),
          col("p_partkey"))
        .groupBy("p_brand")
        .agg(graft.functions.GraftFunctions.topK(col("score"), col("p_partkey"), 3).as("top"))
        .select(col("p_brand"), explode(col("top")).as("t"))
        .select(col("p_brand"), col("t.id").as("p_partkey"), col("t.rnk").as("rn"))
      val a = viaWindow.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val b = viaHeap.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      require(a == b && a.nonEmpty, s"shapes disagree: only-window=${(a -- b).take(3)} only-heap=${(b -- a).take(3)}")
      val tw = timeAb("topkab", "rank_window")(viaWindow)
      val th = timeAb("topkab", "graft_topk_heap")(viaHeap)
      println(s"""{"rank_window":${n(tw)},"graft_topk_heap":${n(th)},"mult":$mult,"mode":"topkab"}""")
      spark.stop()
      return
    }

    if (saltAb) {
      // Force the shuffle-join regime (see the saltAb comment above).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // Fixture partitions are tens of MB, far under the 256 MB default
      // skew threshold; scale the trigger to the fixture so the receipt
      // exercises the same AQE mechanism a 100 TB run would.
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      def plainJoin(): DataFrame =
        Tables.t(spark, dst, "lineitem")
          .join(Tables.t(spark, dst, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(1e-9), 2)
              .as("revenue"))
      def time2(label: String)(mk: => DataFrame): Double =
        Measure.minOfPasses("saltab", label, 2, labelWidth = 22)(Measure.noop(mk))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val plainOff = time2("plain_skewjoin_off")(plainJoin())
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val plainOn = time2("plain_skewjoin_on")(plainJoin())
      val salted = time2("manual_salt")(SparkEntry.queries("q_salted_join")(spark, dst))
      println(s"""{"plain_skewjoin_off":${n(plainOff)},"plain_skewjoin_on":${n(plainOn)},"manual_salt":${n(salted)},"mult":$mult,"mode":"saltab"}""")
      spark.stop()
      return
    }
    // `only=a,b,c` profiles an arbitrary query list against the fixture
    // (two passes each, so cold-scan cost and warm plan cost separate).
    val only = args.find(_.startsWith("only=")).map(_.drop(5).split(',').toSeq)
    // `hotq` runs the hot-key subset on the UNIFORM fixture — the
    // before/after baseline for the skew run's numbers.
    val subset = only.getOrElse(
      if (skewed || args.contains("hotq")) skewSubset
      else if (constEval) constEvalSubset
      else if (args.contains("fresh")) freshSubset
      else if (args.contains("tpch")) tpchSubset
      else if (args.contains("latest")) latestSubset
      else if (args.contains("calib64")) calib64Subset
      else if (args.contains("r7")) r7Subset
      else if (args.contains("r8")) r8Subset
      else if (organic) organicSubset
      else uniformSubset)
    val passes = if (only.isDefined) 2 else 1
    val times: Seq[(String, Option[Double])] = subset.map { name =>
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { Measure.noop(SparkEntry.queries(name)(spark, dst)); true }
          catch { case e: Throwable =>
            System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); false }
        (System.nanoTime() - t0) / 1e9 -> ok
      }
      val ok = ts.forall(_._2)
      println("[scale] %-28s %8s s%s".format(name,
        ts.map(t => n(t._1)).mkString("/"), if (ok) "" else "  FAILED"))
      name -> (if (ok) Some(ts.map(_._1).min) else None) // a crash is not a timing
    }
    println("{" + times.map { case (k, v) =>
        "\"" + k + "\":" + v.map(n).getOrElse("null") }
      .mkString(",") + s""","mult":$mult,"skew":$skewed}""")
    spark.stop()
    if (times.exists(_._2.isEmpty)) sys.exit(1)
  }
}
