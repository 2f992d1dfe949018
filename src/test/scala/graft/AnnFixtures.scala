package graft

/** The deterministic embedding fixtures the ANN specs grade the IVF-PQ
  * family on: clustered (aligned and misaligned seeds), anisotropic,
  * spanning and multi-spanning geometry, 500 vectors each, written as
  * `embeddings.parquet` under a fixture directory. */
object AnnFixtures {

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
}
