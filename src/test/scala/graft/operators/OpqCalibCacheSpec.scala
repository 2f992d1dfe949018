package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared OPQ calibration cache (round-19 verdict task 3): the three
  * chain consumers (e_spectrum_decay, e_knn_opq3, e_knn_opq_residual)
  * memoize their training trajectory per (session, dir, corpus
  * fingerprint). The cache must change WHEN the work happens, never what
  * any query returns — these pin (a) hit == miss bit-equality and (b)
  * content-keyed invalidation: a regenerated corpus at the SAME path
  * must retrain, exactly the stale-reuse class ADVICE r18 flagged on the
  * index fingerprint. */
class OpqCalibCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("cache hit equals cache miss, row for row, across all three chain consumers") {
    val s = spark
    for (q <- Seq("e_spectrum_decay", "e_knn_opq3", "e_knn_opq_residual")) {
      val first = collected(graft.SparkEntry.queries(q)(s, sfDir))
      val second = collected(graft.SparkEntry.queries(q)(s, sfDir))
      assert(first.nonEmpty, s"vacuous — $q returned nothing")
      assert(first === second, s"$q drifted between miss and hit")
    }
  }

  test("a regenerated corpus at the same path invalidates the cached calibration") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("opq_calib_inval").toString
    graft.AnnFixtures.writeClusteredFixture(s, dir)
    val onClustered = collected(graft.SparkEntry.queries("e_spectrum_decay")(s, dir))
    assert(onClustered.nonEmpty)
    // overwrite the corpus IN PLACE with different content (the sf0.001
    // fixture), then query the same path: a path-keyed cache would serve
    // the clustered calibration; the content-keyed one must retrain and
    // match a fresh computation on the canonical path
    s.read.parquet(s"$sfDir/embeddings.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val onSwapped = collected(graft.SparkEntry.queries("e_spectrum_decay")(s, dir))
    val canonical = collected(graft.SparkEntry.queries("e_spectrum_decay")(s, sfDir))
    assert(onSwapped === canonical,
      "the cache served a stale calibration after the corpus changed in place")
    assert(onSwapped !== onClustered,
      "vacuous — the two corpora produced identical spectra")
  }
}
