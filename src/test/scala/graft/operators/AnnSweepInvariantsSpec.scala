package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the IVF-PQ sweep surface (round 14) — the
  * properties behind the RecallSweep receipt that hold by CONSTRUCTION,
  * pinned so a refactor can't silently break them:
  *
  *  - candidates live in exactly ONE cell and a candidate's residual ADC
  *    is computed against its own cell, so growing nprobe only ADDS
  *    candidates with unchanged distances — the sorted ADC list at a
  *    larger nprobe must dominate (element-wise <=) the smaller one at
  *    every rank position, for every query;
  *  - on clustered geometry (the [[graft.RecallSweep]] deterministic
  *    fixture: rows 10..25 are the true centers), residual training must
  *    beat the untrained raw-vector codebook — the measured claim the
  *    operator exists for. Both sweeps are deterministic (seeded fixture,
  *    6dp-pinned training trajectory), so the assertions are exact.
  */
class AnnSweepInvariantsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("trained residual IVF-PQ: growing nprobe weakly improves every rank position") {
    val s = spark
    import s.implicits._
    def ranked(nprobe: Int) =
      EmbeddingOps.ivfPqTrainedResidual(s, sfDir, nprobe, 3)
        .select(col("qid"), col("rnk"), col("approx_d2"))
        .as[(Long, Int, Double)].collect()
        .map { case (q, r, d) => (q, r) -> d }.toMap
    val np = Map(1 -> ranked(1), 2 -> ranked(2), 4 -> ranked(4))
    assert(np(1).nonEmpty, "vacuous — no trained IVF-PQ results at nprobe=1")
    for ((lo, hi) <- Seq((1, 2), (2, 4)); ((q, r), dLo) <- np(lo)) {
      val dHi = np(hi).getOrElse((q, r),
        fail(s"nprobe=$hi lost rank position ($q, $r) that nprobe=$lo had"))
      assert(dHi <= dLo,
        s"qid=$q rnk=$r: ADC worsened $dLo -> $dHi when nprobe grew $lo -> $hi")
    }
  }

  test("residual training lifts recall over the untrained codebook on clustered geometry") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ann-clustered").toString
    graft.AnnFixtures.writeClusteredFixture(s, dir)
    val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
      .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val untrained = recall(EmbeddingOps.ivfPqUntrained(s, dir, 2, 3))
    val trained = recall(EmbeddingOps.ivfPqTrainedResidual(s, dir, 2, 3))
    assert(trained > untrained,
      s"residual training did not lift clustered recall: trained=$trained untrained=$untrained")
    // the untrained raw-vector codebook collapses every same-cell member
    // to (nearly) one code on this geometry, so it cannot exceed the
    // tie-break floor by much; the trained index must clear real ground
    assert(trained >= 0.4, s"trained clustered recall regressed to $trained")
  }

  test("misaligned fixture: residual training carries a noisy-seed coarse codebook; one coarse Lloyd step keeps a working index") {
    // Round-15 task 7 receipt, pinned (all deterministic: seeded fixture,
    // 6dp trajectory). On the MISALIGNED fixture (rows 10..25 are noisy
    // cluster members, not centers — a production sample-seeded coarse
    // quantizer), residual training is what rescues recall: the raw-
    // vector codebook collapses (0.0667) while residual PQ against the
    // SAME noisy seeds reaches 0.4333. The full-FAISS coarse Lloyd step
    // is deliberately ALSO pinned at its measured value: it does NOT
    // lift recall@3 here (0.3667) — recall is nprobe-flat on this
    // geometry, i.e. cell coverage was never the bottleneck; 4-bit ADC
    // resolution is, and re-centering residuals shrinks the codebook's
    // dynamic range along with the signal. The sweep exists to price
    // exactly this: training the coarse quantizer is not automatically
    // a win at fixed PQ resolution (BASELINE.md round-15 lane).
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ann-misaligned").toString
    graft.AnnFixtures.writeMisalignedFixture(s, dir)
    val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
      .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val untrained = recall(EmbeddingOps.ivfPqUntrained(s, dir, 2, 3))
    val residual = recall(EmbeddingOps.ivfPqTrainedResidual(s, dir, 2, 3))
    val coarse1 = recall(EmbeddingOps.ivfPqTrainedResidual(s, dir, 2, 3, coarseSteps = 1))
    assert(residual > untrained + 0.3,
      s"residual training stopped carrying the misaligned seeds: $untrained -> $residual")
    assert(coarse1 >= 0.3,
      s"coarse Lloyd step broke the index outright: recall $coarse1")
    // the documented ADC-resolution ceiling: if a future change makes
    // coarse training suddenly dominate here, the analysis above is
    // stale — revisit the BASELINE.md lane, don't just bump the number
    assert(coarse1 <= residual,
      s"coarse training now BEATS fixed seeds ($coarse1 > $residual) — " +
        "update the round-15 recall-lane analysis in BASELINE.md")
  }

  test("OPQ reflection: decorrelation lifts spanning-dominant recall, never hurts axis-concentrated") {
    // Round-16 task 2 receipt, pinned (deterministic: seeded fixtures,
    // 6dp trajectory). e_knn_opq's Householder maps the dominant
    // principal component onto coordinate 0 — the INDEPENDENCE half of
    // OPQ. On the SPANNING fixture (cluster identity along the all-ones
    // direction: every PQ subspace redundantly encodes a perfectly
    // correlated share of it) the rotation hands the whole identity
    // axis to one codebook: recall@3 0.0667 -> 0.4667 at identical bit
    // budget. On the ANISOTROPIC fixture (identity already confined to
    // subspace 0) it is a no-op by construction: 0.3667 == trained. The
    // REJECTED variant is part of the lesson: a variance-BALANCING
    // reflection (dominant axis -> uniform) measured 0.3667 -> 0.2667
    // on the anisotropic fixture — smearing one direction across all
    // subspaces maximizes exactly the cross-subspace correlation a
    // product quantizer cannot encode (BASELINE.md round-16 lane).
    val s = spark
    def recallOn(dir: String, name: String): Double = {
      val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = graft.SparkEntry.queries(name)(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val spanDir = java.nio.file.Files.createTempDirectory("ann-spanning").toString
    graft.AnnFixtures.writeSpanningFixture(s, spanDir)
    val spanTrained = recallOn(spanDir, "e_knn_pq_trained")
    val spanOpq = recallOn(spanDir, "e_knn_opq")
    assert(spanOpq > spanTrained + 0.25,
      s"OPQ rotation stopped paying on spanning geometry: trained=$spanTrained opq=$spanOpq")
    assert(spanOpq >= 0.4, s"spanning OPQ recall regressed to $spanOpq")
    val anisoDir = java.nio.file.Files.createTempDirectory("ann-aniso").toString
    graft.AnnFixtures.writeAnisotropicFixture(s, anisoDir)
    val anisoTrained = recallOn(anisoDir, "e_knn_pq_trained")
    val anisoOpq = recallOn(anisoDir, "e_knn_opq")
    assert(anisoOpq >= anisoTrained,
      s"OPQ now HURTS axis-concentrated geometry ($anisoTrained -> $anisoOpq) — " +
        "the balancing-variant failure mode is back; revisit opqHouseholder")
  }

  test("OPQ ahead of IVF-PQ: pays on spanning-dominant geometry, harms misaligned-clustered — a knob, not a default") {
    // Round-16 receipt, pinned (deterministic fixtures + 6dp
    // trajectory). Chaining the Householder AHEAD of the whole IVF-PQ
    // composition (e_knn_opq_indexed's trajectory) is geometry-
    // dependent in a way the flat-PQ lane above is not:
    //  - SPANNING (nprobe=2): trained residual 0.0333 -> OPQ 0.2000.
    //    Handing the subspace-spanning identity axis to one codebook
    //    still pays after residual re-centering.
    //  - MISALIGNED (nprobe=2): trained residual 0.4333 -> OPQ 0.2000.
    //    Residual training against the noisy seeds was the rescue
    //    (cell above), and rotating BEFORE coarse assignment reshapes
    //    the cosine cells that rescue depended on — the reflection is
    //    trained on the RAW corpus' dominant component, not the
    //    residuals', so it can disrupt a partition it never saw.
    // The operational rule this pins: OPQ-IVF-PQ is an OPT-IN for
    // corpora with a subspace-spanning dominant direction; it is NOT a
    // safe default the way residual training is (BASELINE.md
    // round-16 lane). If either direction flips, the analysis is
    // stale — revisit the lane, don't just bump numbers.
    val s = spark
    def recallOn(dir: String,
        mk: => org.apache.spark.sql.DataFrame): Double = {
      val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = mk.select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val spanDir = java.nio.file.Files.createTempDirectory("ann-span-ivf").toString
    graft.AnnFixtures.writeSpanningFixture(s, spanDir)
    val spanTrained = recallOn(spanDir, EmbeddingOps.ivfPqTrainedResidual(s, spanDir, 2, 3))
    val spanOpq = recallOn(spanDir, EmbeddingOps.opqIvfPqTrainedResidual(s, spanDir, 2, 3))
    assert(spanOpq >= spanTrained + 0.1,
      s"OPQ-IVF-PQ stopped paying on spanning geometry: trained=$spanTrained opq=$spanOpq")
    val misDir = java.nio.file.Files.createTempDirectory("ann-mis-ivf").toString
    graft.AnnFixtures.writeMisalignedFixture(s, misDir)
    val misTrained = recallOn(misDir, EmbeddingOps.ivfPqTrainedResidual(s, misDir, 2, 3))
    val misOpq = recallOn(misDir, EmbeddingOps.opqIvfPqTrainedResidual(s, misDir, 2, 3))
    assert(misOpq < misTrained,
      s"OPQ-IVF-PQ now WINS on misaligned geometry ($misTrained -> $misOpq) — " +
        "the opt-in-only rule is stale; update the BASELINE.md round-16 lane")
    assert(misOpq >= 0.1,
      s"rotation broke the misaligned index outright: recall $misOpq")
  }

  test("rank-3 deflated OPQ: reflections provably concentrate variance; pays on organic geometry, costs on single-direction synthetics") {
    // Round-17 task 2a receipt, pinned (deterministic fixtures + 6dp
    // trajectory). Two layers:
    //  1. SEMANTICS (construction, not luck): after opq3Rotated on the
    //     multi-spanning fixture, coordinate variances must satisfy
    //     var(c0) > var(c8) > var(c16) > every other coordinate — the
    //     deflated power iterations actually found the three identity
    //     directions and the Householder chain landed each on its
    //     target axis. A silently degenerate stage-2/3 iteration (bad
    //     mask, broken deflation) fails here even if recall happens to
    //     look plausible.
    //  2. GEOMETRY LESSON: on the ORGANIC sf corpus (isotropic-ish,
    //     several comparable moderate principal directions) rank-3
    //     DOUBLES flat-PQ recall over rank-1 (0.1333 -> 0.2667) —
    //     allocating the top three directions to three subspaces pays
    //     when the spectrum decays slowly. On the single-dominant-
    //     direction SPANNING synthetic it is a small COST (0.4667 ->
    //     0.4000): directions 2-3 are noise there, and reflecting noise
    //     onto coordinates 8/16 spends two more codebooks' resolution
    //     on nothing. Match rotation rank to spectrum decay; rank-3 is
    //     not a free upgrade over rank-1. If rank-3 starts BEATING
    //     rank-1 on spanning, the rank-cost analysis is stale.
    val s = spark
    import s.implicits._
    val msDir = java.nio.file.Files.createTempDirectory("ann-multispan").toString
    graft.AnnFixtures.writeMultiSpanningFixture(s, msDir)
    val rotated = EmbeddingOps.opq3Rotated(s, msDir)
      .getOrElse(fail("vacuous — empty multispan calibration"))
    val varByCoord = rotated
      .select(posexplode(col("ed")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("v"))
      .as[(Int, Double)].collect().toMap
    val (v0, v8, v16) = (varByCoord(0), varByCoord(8), varByCoord(16))
    val others = varByCoord.removedAll(Seq(0, 8, 16)).values.max
    assert(v0 > v8 && v8 > v16,
      s"deflation order broken: var(c0)=$v0 var(c8)=$v8 var(c16)=$v16")
    assert(v16 > others * 2,
      s"stage-3 target does not dominate the residual coords: $v16 vs max-other $others")
    def recallOn(dir: String, name: String): Double = {
      val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = graft.SparkEntry.queries(name)(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val isoOpq = recallOn(sfDir, "e_knn_opq")
    val isoOpq3 = recallOn(sfDir, "e_knn_opq3")
    assert(isoOpq3 >= isoOpq + 0.1,
      s"rank-3 stopped paying on organic geometry: opq=$isoOpq opq3=$isoOpq3")
    val spanDir = java.nio.file.Files.createTempDirectory("ann-span-r17").toString
    graft.AnnFixtures.writeSpanningFixture(s, spanDir)
    val spanOpq = recallOn(spanDir, "e_knn_opq")
    val spanOpq3 = recallOn(spanDir, "e_knn_opq3")
    assert(spanOpq3 >= 0.35,
      s"the decorrelation lift no longer survives the rank-3 chain: $spanOpq3")
    assert(spanOpq3 <= spanOpq,
      s"rank-3 now BEATS rank-1 on single-direction geometry ($spanOpq -> $spanOpq3) — " +
        "the rank-cost lesson is stale; update the BASELINE.md round-17 lane")
  }

  test("OPQ-by-residual ordering: best measured index on clustered geometry, shrinks the misaligned harm, still not a default") {
    // Round-17 task 2b receipt, pinned (deterministic fixtures + 6dp
    // trajectory). e_knn_opq_residual trains/applies the reflection on
    // RESIDUALS after coarse assignment, so the partition the
    // misaligned fixture's rescue depends on is untouched by
    // construction. Measured (nprobe=2, recall@3 vs exact L2):
    //  - CLUSTERED: 0.5333 — the best of all five index lanes
    //    (trained residual 0.4667, pre-coarse OPQ 0.4333): clustered
    //    residuals carry cross-subspace structure worth decorrelating.
    //  - MISALIGNED: 0.2667 vs the pre-coarse flavor's pinned 0.2000
    //    harm — the ordering recovers part of what pre-coarse rotation
    //    destroyed, but NOT parity with plain residual training
    //    (0.4333): rotating residuals still re-mixes the subspaces the
    //    codebook had adapted to.
    //  - SPANNING: 0.2000 == the pre-coarse lift, achieved WITHOUT
    //    touching the partition (cells stay the raw-corpus ones).
    //  - ANISOTROPIC: 0.1333 < trained residual 0.2000 — the
    //    counterexample that keeps BOTH rotation orderings opt-in:
    //    identity already axis-aligned means any residual reflection
    //    can only smear it.
    // If residual-OPQ reaches misaligned parity or loses its clustered
    // crown, the round-17 analysis is stale — revisit BASELINE.md.
    val s = spark
    def recallOn(dir: String,
        mk: => org.apache.spark.sql.DataFrame): Double = {
      val truth = graft.SparkEntry.queries("e_knn_l2")(s, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = mk.select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & truth).size.toDouble / truth.size
    }
    val cluDir = java.nio.file.Files.createTempDirectory("ann-clu-r17").toString
    graft.AnnFixtures.writeClusteredFixture(s, cluDir)
    val cluTrained = recallOn(cluDir, EmbeddingOps.ivfPqTrainedResidual(s, cluDir, 2, 3))
    val cluOpqRes = recallOn(cluDir, EmbeddingOps.opqResidualKnn(s, cluDir, 2, 3))
    assert(cluOpqRes > cluTrained,
      s"residual-OPQ lost its clustered crown: trained=$cluTrained opqRes=$cluOpqRes")
    val misDir = java.nio.file.Files.createTempDirectory("ann-mis-r17").toString
    graft.AnnFixtures.writeMisalignedFixture(s, misDir)
    val misTrained = recallOn(misDir, EmbeddingOps.ivfPqTrainedResidual(s, misDir, 2, 3))
    val misOpqPre = recallOn(misDir, EmbeddingOps.opqIvfPqTrainedResidual(s, misDir, 2, 3))
    val misOpqRes = recallOn(misDir, EmbeddingOps.opqResidualKnn(s, misDir, 2, 3))
    assert(misOpqRes > misOpqPre,
      s"residual ordering stopped shrinking the pre-coarse harm: pre=$misOpqPre res=$misOpqRes")
    assert(misOpqRes < misTrained,
      s"residual-OPQ reached misaligned parity ($misTrained -> $misOpqRes) — " +
        "the opt-in rule is stale; update the BASELINE.md round-17 lane")
    val anisoDir = java.nio.file.Files.createTempDirectory("ann-aniso-r17").toString
    graft.AnnFixtures.writeAnisotropicFixture(s, anisoDir)
    val anisoTrained = recallOn(anisoDir, EmbeddingOps.ivfPqTrainedResidual(s, anisoDir, 2, 3))
    val anisoOpqRes = recallOn(anisoDir, EmbeddingOps.opqResidualKnn(s, anisoDir, 2, 3))
    assert(anisoOpqRes < anisoTrained,
      s"residual-OPQ now wins on axis-aligned geometry ($anisoTrained -> $anisoOpqRes) — " +
        "the opt-in counterexample is gone; update the BASELINE.md round-17 lane")
  }

  test("spectrum-decay diagnostic recommends the rank that actually won each recall lane") {
    // e_spectrum_decay exists to CHOOSE the rotation rank before
    // training; its validity claim is agreement with the measured
    // lanes, pinned here on the deterministic fixtures:
    //  - ORGANIC corpus: near-flat spectrum (every frac ~1/64) ->
    //    rec_rank 3, and the lanes measured rank-3 doubling rank-1
    //    (0.1333 -> 0.2667). Flat decay = more reflections pay.
    //  - SPANNING fixture: one dominant direction -> rec_rank 1, and
    //    the lanes measured rank-3 COSTING recall there (0.4667 ->
    //    0.4000). Fast decay = stop at one reflection.
    //  - MULTI-SPANNING fixture: variances 7.2 / 2.56 / 1.44 along the
    //    three planted directions -> lambda2 clears the 0.3 x lambda1
    //    threshold, lambda3 does not -> rec_rank 2.
    // If any of these flips, the 0.3 threshold or the lane analysis is
    // stale — revisit both together (BASELINE.md round-17 lane).
    val s = spark
    import s.implicits._
    def read(dir: String): (Seq[(Int, Double, Double)], Int) = {
      val rows = graft.SparkEntry.queries("e_spectrum_decay")(s, dir)
        .select(col("rnk"), col("lambda"), col("frac"), col("rec_rank"))
        .as[(Int, Double, Double, Int)].collect().sortBy(_._1)
      assert(rows.length === 3, s"expected 3 spectrum rows, got ${rows.length}")
      assert(rows.map(_._4).distinct.length === 1, "rec_rank must be constant")
      (rows.map(r => (r._1, r._2, r._3)).toSeq, rows.head._4)
    }
    val (orgRows, orgRank) = read(sfDir)
    assert(orgRank === 3,
      s"organic spectrum is near-flat; diagnostic must recommend rank 3, got $orgRank")
    assert(orgRows.forall(_._3 < 0.05),
      s"organic fracs should be near-uniform (~1/64): $orgRows")
    val spanDir = java.nio.file.Files.createTempDirectory("spec-span").toString
    graft.AnnFixtures.writeSpanningFixture(s, spanDir)
    val (spanRows, spanRank) = read(spanDir)
    assert(spanRank === 1,
      s"spanning has one dominant direction; diagnostic must recommend rank 1, got $spanRank")
    assert(spanRows.head._3 > 0.5,
      s"spanning lambda1 should dominate the spectrum: $spanRows")
    val msDir = java.nio.file.Files.createTempDirectory("spec-mspan").toString
    graft.AnnFixtures.writeMultiSpanningFixture(s, msDir)
    val (msRows, msRank) = read(msDir)
    assert(msRank === 2,
      s"multispan lambda2/lambda1 ~ 0.36, lambda3/lambda1 ~ 0.2; expected rank 2, got $msRank")
    assert(msRows(0)._2 > msRows(1)._2 && msRows(1)._2 > msRows(2)._2,
      s"multispan eigenvalue estimates must be strictly ordered: $msRows")
  }

  test("ABTT component dominates: explained variance >= best coordinate axis, residuals shrink") {
    // The DuckDB oracle proves CROSS-ENGINE EQUALITY of e_abtt_project,
    // not that the found direction is the right one — a silently
    // degenerate power iteration (wrong sign handling, a dropped scan)
    // could converge to an arbitrary unit vector and still hash-match.
    // Pin the semantics: the variance explained by the component
    // (= mean proj², since proj = x_c · v with x_c centered) must be at
    // least the variance of the single best COORDINATE axis — the
    // dominant eigenvalue of the covariance can never be smaller than
    // its largest diagonal entry, and two power iterations from the
    // all-ones start must already clear that floor — and removing the
    // component must strictly shrink vectors on average.
    val s = spark
    import s.implicits._
    val model = EmbeddingOps.abttCalibrate(s, sfDir)
      .getOrElse(fail("vacuous — empty calibration corpus"))
    val vNorm = math.sqrt(model.component.map(c => c * c).sum)
    assert(math.abs(vNorm - 1.0) < 1e-4,
      s"component is not unit-norm after the 6dp pins: $vNorm")
    val rows = graft.SparkEntry.queries("e_abtt_project")(s, sfDir)
      .select(col("proj"), col("resid_norm")).as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    val explained = rows.map { case (p, _) => p * p }.sum / rows.length
    // per-coordinate variance of the centered data, straight off the table
    val coordVar = graft.Tables.t(s, sfDir, "embeddings")
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      .select(posexplode(col("ed")).as(Seq("i", "x")))
      .groupBy(col("i")).agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("v"))
      .agg(max(col("v"))).head().getDouble(0)
    assert(explained >= coordVar * (1.0 - 1e-6),
      s"component explains $explained < best coordinate axis $coordVar — " +
        "power iteration found a non-dominant direction")
    // mean ||residual|| < mean ||x_c||: the removal actually removes mass
    val meanResid = rows.map(_._2).sum / rows.length
    val meanNorm = rows.map { case (p, r) => math.sqrt(p * p + r * r) }.sum / rows.length
    assert(meanResid < meanNorm,
      s"mean resid $meanResid did not shrink below mean centered norm $meanNorm")
  }

  test("filtered search: scan-side predicate beats post-filtering, deeper nprobe is the overfetch lever (round-18 lane)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("ann-filtered").toString
    graft.AnnFixtures.writeClusteredFixture(s, dir)
    val attr = 7
    val pr = graft.Tables.t(s, dir, "embeddings")
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
    val qs = pr.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("ed").as("qe"))
    val fTruth = pr.filter(col("label") === attr)
      .join(broadcast(qs), col("vec_id") =!= col("qid"))
      .withColumn("d2", graft.functions.GraftFunctions.vecL2Sq(col("qe"), col("ed")))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fTruth.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("ann-filtered-root").toString
    assert(IvfPqIndex.ensure(s, dir, root).contains(1L))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & fTruth).size.toDouble / fTruth.size
    }
    // the measured round-18 lane, pinned on the geometry where IVF works:
    // recall climbs monotonically with nprobe (the selectivity overfetch)
    val byNp = Seq(1, 2, 4, 8).map(np =>
      np -> recall(IvfPqIndex.queryFiltered(s, dir, root, np, 3, attrEq = attr)))
    for (((loN, lo), (hiN, hi)) <- byNp.zip(byNp.tail))
      assert(lo <= hi, s"filtered recall fell $lo -> $hi as nprobe grew $loN -> $hiN")
    assert(byNp.last._2 > byNp.head._2,
      s"deeper probe bought nothing on clustered geometry: $byNp")
    // and the naive post-filter under-returns at the same nprobe
    val labelOf = pr.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val post = IvfPqIndex.query(s, dir, root, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, v) => labelOf.get(v).contains(attr) }.toSet
    val postR = (post & fTruth).size.toDouble / fTruth.size
    assert(recall(IvfPqIndex.queryFiltered(s, dir, root, 2, 3, attrEq = attr)) >= postR,
      "scan-side predicate lost to post-filtering at equal nprobe")
    assert(postR < byNp.last._2,
      "post-filtering matched the overfetched filtered probe — the lane inverted")
  }
}
