package graft

import org.apache.spark.sql.functions._

/** ANN recall/cost frontier receipt (verdict-r13 task 7): recall@3 of the
  * IVF-PQ family vs the exact brute-force top-3, swept over
  * nprobe 1/2/4 x {untrained raw-vector PQ, trained residual PQ} — six
  * cells, ONE table, driven through the exact registered implementations
  * ([[graft.operators.EmbeddingOps.ivfPqUntrained]] /
  * [[graft.operators.EmbeddingOps.ivfPqTrainedResidual]], the same
  * functions behind e_knn_ivfpq / e_knn_ivfpq_trained) so the published
  * frontier can never drift from the operators it grades.
  *
  * `runMain graft.RecallSweep [sfDir]` (default /root/testdata/sf0.1).
  * Prints one JSON line; recorded in BASELINE.md. Cost column: candidate
  * volume is nprobe/16 of the corpus by construction, so the frontier
  * reads as recall-per-candidate-fraction without a timing column.
  */
object RecallSweep {

  /** Deterministic CLUSTERED fixture (seeded, 500 vectors, 16 true
    * clusters): the synthetic sf* embeddings are near-isotropic — the
    * adversarial case where every space-partitioning index is
    * chance-level by information theory (BASELINE.md's round-13
    * argument), so an isotropic-only sweep says nothing about whether
    * residual training WORKS. This fixture has the geometry production
    * embeddings have (mass concentrated around cluster centers) with
    * the operator's model-row convention baked in: rows 10..25 ARE the
    * 16 cluster centers (so the coarse quantizer is exact), rows 0..9
    * are queries near distinct centers, everything else is
    * center + uniform(-0.1, 0.1) noise per dim — residuals ARE the
    * noise, which is exactly what residual PQ exists to code. */
  private[graft] def writeClusteredFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    writeClusterFixture(spark, dir, seed = 20240815L, exactSeeds = true)

  /** Shared writer for both clustered fixtures — one generator, two
    * alignments, so the lanes cannot silently diverge in shape. With
    * `exactSeeds` the seed rows 10..25 ARE the 16 centers (and draw no
    * noise, which the aligned lane's pinned recalls depend on: the RNG
    * sequence is part of the fixture's identity); without it every row
    * is a noisy member. */
  private def writeClusterFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String, seed: Long, exactSeeds: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    def noisy(k: Int): Array[Float] =
      centers(k).map(x => (x + (rnd.nextDouble() * 0.2 - 0.1)).toFloat)
    val rows = (0L until 500L).map { id =>
      val k = (id % 16).toInt
      val emb =
        if (exactSeeds && id >= 10 && id <= 25) centers((id - 10).toInt).map(_.toFloat)
        else noisy(k)
      (id, emb.toSeq, k)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Deterministic MISALIGNED clustered fixture (round-15 task 7): the
    * same 16-cluster geometry as [[writeClusteredFixture]], but NO row
    * is an exact center — rows 10..25 (the operator's coarse seed) are
    * ordinary noisy members of their clusters, so the seed codebook is
    * misaligned with the true geometry the way a production sample-seeded
    * coarse quantizer is. On the aligned clustered fixture coarse
    * training is exact-by-construction (the seeds ARE the centers, a
    * Lloyd step can only hold or perturb them); THIS fixture is where a
    * coarse Lloyd step has real ground to gain, and the sweep's
    * trained-coarse column prices exactly that. */
  private[graft] def writeMisalignedFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    writeClusterFixture(spark, dir, seed = 20250815L, exactSeeds = false)

  /** Deterministic ANISOTROPIC fixture (round-16 task 2): the geometry
    * OPQ exists for. All 16 cluster centers differ ONLY inside the first
    * PQ subspace (dims 0..7, amplitude 1) with tiny energy elsewhere
    * (amplitude 0.05), so a subspace-independent PQ spends one 16-code
    * codebook on ALL of the cluster identity and seven codebooks on
    * noise — ADC resolution binds in exactly the way a rotation that
    * spreads the dominant axis across subspaces is supposed to relieve.
    * Seeds 10..25 are ordinary noisy members (the misaligned
    * convention: production codebooks are sample-seeded). */
  private[graft] def writeAnisotropicFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val rnd = new scala.util.Random(20260815L)
    val centers = Array.fill(16)(Array.tabulate(64)(i =>
      if (i < 8) rnd.nextDouble() * 2 - 1 else (rnd.nextDouble() * 2 - 1) * 0.05))
    def noisy(k: Int): Array[Float] =
      centers(k).map(x => (x + (rnd.nextDouble() * 0.2 - 0.1)).toFloat)
    val rows = (0L until 500L).map { id => (id, noisy((id % 16).toInt).toSeq, (id % 16).toInt) }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Deterministic SPANNING-dominant fixture (round-16 task 2): cluster
    * identity lives along ONE direction that spans ALL 64 dims (the
    * normalized all-ones axis) — after subspace slicing, every one of
    * the 8 PQ codebooks redundantly encodes a perfectly-correlated share
    * of that direction, the independence failure OPQ's rotation exists
    * to fix: the decorrelating reflection maps it onto coordinate 0, so
    * one codebook owns the whole identity axis. Cluster positions are
    * (k−7.5)/4 along the axis, noise ±0.1 per dim, seeds 10..25 noisy
    * members (sample-seeded, the misaligned convention). */
  private[graft] def writeSpanningFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val rnd = new scala.util.Random(20260816L)
    val axis = Array.fill(64)(0.125)
    val rows = (0L until 500L).map { id =>
      val k = (id % 16).toInt
      val pos = (k - 7.5) / 4.0
      val emb = axis.map(a => (a * pos * 8 + (rnd.nextDouble() * 0.2 - 0.1)).toFloat)
      (id, emb.toSeq, k)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Deterministic MULTI-SPANNING fixture (round-17 task 2): cluster
    * identity lives in a THREE-dimensional subspace whose every basis
    * direction spans all 64 dims (all-ones; half +/half −; alternating
    * 16-blocks — mutually orthogonal, equal energy in every PQ
    * subspace), with distinct variances (grid positions scaled 2.4 /
    * 1.6 / 1.2 on a 4×2×2 layout) so deflated power iteration separates
    * them deterministically. A rank-1 rotation can capture only the
    * dominant direction — the other two identity axes stay smeared
    * across all 8 codebooks; the rank-3 chain hands each to its own
    * subspace. This is the geometry that prices e_knn_opq3 against
    * e_knn_opq. Seeds 10..25 are noisy members (sample-seeded
    * convention). */
  private[graft] def writeMultiSpanningFixture(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val rnd = new scala.util.Random(20260817L)
    val a1 = Array.fill(64)(0.125)
    val a2 = Array.tabulate(64)(i => if (i < 32) 0.125 else -0.125)
    val a3 = Array.tabulate(64)(i => if ((i / 16) % 2 == 0) 0.125 else -0.125)
    val rows = (0L until 500L).map { id =>
      val k = (id % 16).toInt
      val p1 = ((k % 4) - 1.5) * 2.4
      val p2 = (((k / 4) % 2) - 0.5) * 2.0 * 1.6
      val p3 = (((k / 8) % 2) - 0.5) * 2.0 * 1.2
      val emb = Array.tabulate(64)(i =>
        (a1(i) * p1 + a2(i) * p2 + a3(i) * p3
          + (rnd.nextDouble() * 0.2 - 0.1)).toFloat)
      (id, emb.toSeq, k)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(Measure.cores(), "graft-recall-sweep")
    spark.sparkContext.setLogLevel("WARN")

    // fresh temp dir per run (ADVICE r14: a fixed /tmp path let two
    // concurrent sweeps overwrite each other's fixture mid-read)
    val clusteredDir = java.nio.file.Files
      .createTempDirectory("graft_recall_clustered").toString
    writeClusteredFixture(spark, clusteredDir)
    val misalignedDir = java.nio.file.Files
      .createTempDirectory("graft_recall_misaligned").toString
    writeMisalignedFixture(spark, misalignedDir)
    val anisotropicDir = java.nio.file.Files
      .createTempDirectory("graft_recall_anisotropic").toString
    writeAnisotropicFixture(spark, anisotropicDir)
    val spanningDir = java.nio.file.Files
      .createTempDirectory("graft_recall_spanning").toString
    writeSpanningFixture(spark, spanningDir)
    val multiSpanDir = java.nio.file.Files
      .createTempDirectory("graft_recall_multispan").toString
    writeMultiSpanningFixture(spark, multiSpanDir)

    def num(d: Double): String = Measure.num(d, 4)

    val fixtures = Seq("isotropic" -> sfDir, "clustered" -> clusteredDir,
      "misaligned" -> misalignedDir, "anisotropic" -> anisotropicDir,
      "spanning" -> spanningDir, "multispan" -> multiSpanDir)
    val blocks = fixtures.map { case (fixName, dir) =>
      // exact truth: brute-force EUCLIDEAN top-3 (e_knn_l2 is top-5) —
      // ADC approximates squared L2, so that is the metric it is graded
      // against (the round-13 characterization table's "L2 (ADC)" row)
      val exact3 = SparkEntry.queries("e_knn_l2")(spark, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nQ = exact3.map(_._1).size
      require(nQ > 0, s"RecallSweep: no query vectors in $dir")

      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val approx = df.select(col("qid"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (approx & exact3).size.toDouble / exact3.size
      }

      // four training depths: untrained (raw-vector PQ, fixed seed
      // coarse), trained residual (fixed seed coarse), trained residual
      // + one coarse Lloyd step (full FAISS-style training — round 15),
      // and OPQ-rotated trained residual (round 16: the e_knn_opq
      // Householder ahead of the whole IVF-PQ composition — whether
      // decorrelation still pays AFTER residual re-centering has already
      // shrunk the codebook's dynamic range is exactly what this column
      // prices)
      val cells = for {
        depth <- Seq("ivfpq_untrained", "ivfpq_trained_residual",
          "ivfpq_trained_coarse1", "ivfpq_opq_trained", "ivfpq_opq_residual")
        nprobe <- Seq(1, 2, 4)
      } yield {
        val df = depth match {
          case "ivfpq_untrained" =>
            operators.EmbeddingOps.ivfPqUntrained(spark, dir, nprobe, 3)
          case "ivfpq_trained_residual" =>
            operators.EmbeddingOps.ivfPqTrainedResidual(spark, dir, nprobe, 3)
          case "ivfpq_trained_coarse1" =>
            operators.EmbeddingOps.ivfPqTrainedResidual(spark, dir, nprobe, 3,
              coarseSteps = 1)
          case "ivfpq_opq_trained" =>
            operators.EmbeddingOps.opqIvfPqTrainedResidual(spark, dir, nprobe, 3)
          case _ =>
            // round-17: rotation trained on/applied to residuals AFTER
            // coarse assignment — the harm-free OPQ ordering
            operators.EmbeddingOps.opqResidualKnn(spark, dir, nprobe, 3)
        }
        val r = recallOf(df)
        System.err.println(f"[recall] $fixName%-10s $depth%-24s nprobe=$nprobe  recall@3 ${r}%.4f")
        s"""{"index":"$depth","nprobe":$nprobe,"cand_frac":${num(nprobe / 16.0)},"recall_at_3":${num(r)}}"""
      }
      // Quantization-axis lane (round 14): the scalar-quantization family
      // ranked against the COSINE truth it approximates — int8
      // (e_knn_quant, 8 bits/dim), sign bits (e_knn_hamming, 1 bit/dim),
      // and 8-hyperplane LSH (1/8 bit/dim) — one row each, so the
      // bits-per-dim vs recall tradeoff is a single table.
      val cosTruth = SparkEntry.queries("e_knn_brute")(spark, dir)
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def cosRecallOf(name: String): Double = {
        val approx = SparkEntry.queries(name)(spark, dir)
          .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (approx & cosTruth).size.toDouble / cosTruth.size
      }
      val quantCells = Seq(
        ("e_knn_quant", 8.0), ("e_knn_hamming", 1.0), ("e_knn_lsh", 0.125))
        .map { case (name, bitsPerDim) =>
          val r = cosRecallOf(name)
          System.err.println(f"[recall] $fixName%-10s $name%-24s bits/dim=$bitsPerDim%5.3f  recall@3(cos) ${r}%.4f")
          s"""{"index":"$name","bits_per_dim":$bitsPerDim,"recall_at_3":${num(r)}}"""
        }
      // PQ-rotation lane (round 16): the flat (no-IVF) PQ family against
      // the same L2 truth — untrained, trained, and OPQ-rotated-then-
      // trained. Centering and the (6dp-orthogonal) reflection preserve
      // L2 distances, so the OPQ column's recall delta isolates what the
      // rotation buys at identical bit budget and candidate volume (all
      // three rank the full corpus).
      val pqCells = Seq("e_knn_pq", "e_knn_pq_trained", "e_knn_opq", "e_knn_opq3")
        .map { name =>
          val approx = SparkEntry.queries(name)(spark, dir)
            .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val r = (approx & exact3).size.toDouble / exact3.size
          System.err.println(f"[recall] $fixName%-10s $name%-24s flat-PQ  recall@3(L2) ${r}%.4f")
          s"""{"index":"$name","recall_at_3":${num(r)}}"""
        }
      // Filtered-ANN lane (round 18): e_knn_ivfpq_filtered's overfetch
      // lever, priced — recall@3 of the persisted index's
      // predicate-thinned probe (attr = 7, the registered query's
      // class) against the exact FILTERED L2 truth, swept over nprobe,
      // beside the naive post-filter baseline (unfiltered top-3 then
      // keep attr matches) whose under-return is the reason the
      // predicate must reach the candidate scan.
      val pr = graft.Tables.t(spark, dir, "embeddings")
        .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      val qs = pr.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ed").as("qe"))
      val fTruth = pr.filter(col("label") === 7)
        .join(org.apache.spark.sql.functions.broadcast(qs), col("vec_id") =!= col("qid"))
        .withColumn("d2", graft.functions.GraftFunctions.vecL2Sq(col("qe"), col("ed")))
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
        .filter(col("rnk") <= 3).select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val labelOf = pr.select(col("vec_id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val idxRoot = java.nio.file.Files
        .createTempDirectory(s"graft_recall_idx_$fixName").toString
      val filteredCells =
        if (fTruth.isEmpty || operators.IvfPqIndex.ensure(spark, dir, idxRoot).isEmpty) Nil
        else {
          def fRecall(df: org.apache.spark.sql.DataFrame): Double = {
            val approx = df.select(col("qid"), col("vec_id"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            (approx & fTruth).size.toDouble / fTruth.size
          }
          val swept = Seq(1, 2, 4, 8).map { np =>
            val r = fRecall(operators.IvfPqIndex.queryFiltered(
              spark, dir, idxRoot, nprobe = np, k = 3, attrEq = 7))
            System.err.println(f"[recall] $fixName%-10s ivfpq_filtered nprobe=$np  recall@3(fL2) ${r}%.4f")
            s"""{"index":"ivfpq_filtered","nprobe":$np,"recall_at_3":${num(r)}}"""
          }
          val postFiltered = operators.IvfPqIndex.query(spark, dir, idxRoot, 2, 3)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .filter { case (_, v) => labelOf.get(v).contains(7) }.toSet
          val pr2 = (postFiltered & fTruth).size.toDouble / fTruth.size
          System.err.println(f"[recall] $fixName%-10s post_filtered  nprobe=2  recall@3(fL2) ${pr2}%.4f")
          swept :+ s"""{"index":"post_filtered","nprobe":2,"recall_at_3":${num(pr2)}}"""
        }
      // Auto lane (round 18, verdict task 4's lane row): what
      // Flavor.Auto RESOLVES to on this geometry and the recall it
      // buys at the standard nprobe=2 — by construction the measured
      // winner of the plain/opqres pair, but the row keeps the
      // auto-chooser itself under the sweep's eyes (a chooser bug
      // shows up here as a sub-winner recall before any spec runs).
      val autoFlavor = operators.IvfPqIndex.chooseFlavor(spark, dir)
      val autoDf = autoFlavor match {
        case operators.IvfPqIndex.OpqResidual =>
          operators.EmbeddingOps.opqResidualKnn(spark, dir, 2, 3)
        case _ =>
          operators.EmbeddingOps.ivfPqTrainedResidual(spark, dir, 2, 3)
      }
      val autoR = recallOf(autoDf)
      System.err.println(f"[recall] $fixName%-10s auto=${autoFlavor.name}%-8s nprobe=2  recall@3 ${autoR}%.4f")
      s""""$fixName":{"n_queries":$nQ,"cells":[${cells.mkString(",")}],""" +
        s""""quant_axis":[${quantCells.mkString(",")}],""" +
        s""""pq_axis":[${pqCells.mkString(",")}],""" +
        s""""filtered_axis":[${filteredCells.mkString(",")}],""" +
        s""""auto":{"flavor":"${autoFlavor.name}","nprobe":2,"recall_at_3":${num(autoR)}}}"""
    }
    println(s"""{"mode":"recall_sweep","sf":"$sfDir",${blocks.mkString(",")}}""")
    spark.stop()
    // per-run temp fixtures: delete on the way out (the per-run-dir
    // concurrency fix must not turn into an unbounded /tmp leak on a
    // long-lived bench host)
    Seq(clusteredDir, misalignedDir, anisotropicDir, spanningDir,
        multiSpanDir).foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(d))
    }
  }
}
