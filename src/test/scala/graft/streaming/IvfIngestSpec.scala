package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** Top-level (encoders cannot reach spec-inner classes). */
final case class EmbVec(vec_id: Long, embedding: Seq[Float], label: Int)

/** The streaming IVF ingest side must classify EXACTLY like the batch
  * E-step (same model vectors, same rounded distance, same tiebreak) —
  * otherwise the online index and the offline rebuild silently diverge —
  * and its per-cell drift monitor, fed the whole corpus, must reproduce
  * the batch e_centroid_drift readings. */
class IvfIngestSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def fixture = {
    val s = spark
    import s.implicits._
    graft.Tables.t(s, sfDir, "embeddings")
      .selectExpr("vec_id", "embedding", "label")
      .orderBy("vec_id").as[EmbVec].collect().toSeq
  }

  test("streaming ingest assignment equals the batch E-step confusion matrix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val cells = StreamingPipelines.ivfCellsCalibrate(s, sfDir)
    assert(cells.size == 10 && cells.forall(_._2.size == 64),
      "calibration shape wrong")
    val rows = fixture
    val in = MemoryStream[EmbVec]
    val q = StreamingPipelines.ivfIngestAssign(in.toDF(), cells)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ivf-assign-ck").toString)
      .format("memory").queryName("ivf_assign").start()
    try {
      // two micro-batches: assignment is stateless, so the split must not matter
      val (a, b) = rows.splitAt(rows.size / 2)
      in.addData(a); in.addData(b)
      q.processAllAvailable()
      val stream = s.table("ivf_assign")
        .groupBy("label", "assigned").count()
        .selectExpr("CAST(label AS BIGINT)", "CAST(assigned AS BIGINT)", "count")
        .as[(Long, Long, Long)].collect().toSet
      val batch = SparkEntry.queries("e_assign_confusion")(s, sfDir)
        .selectExpr("CAST(label AS BIGINT)", "CAST(assigned AS BIGINT)", "n")
        .as[(Long, Long, Long)].collect().toSet
      assert(stream === batch,
        s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      assert(batch.nonEmpty, "vacuous — empty confusion matrix")
      // every arriving vector was routed somewhere
      assert(s.table("ivf_assign").count() === rows.size.toLong)
    } finally q.stop()
  }

  test("full-ingest drift equals the batch centroid-drift monitor") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val cells = StreamingPipelines.ivfCellsCalibrate(s, sfDir)
      val in = MemoryStream[EmbVec]
      val q = StreamingPipelines.ivfIngestDrift(in.toDF(), cells)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ivf-drift-ck").toString)
        .format("memory").queryName("ivf_drift").start()
      try {
        // one batch carrying the whole corpus: the running mean after it
        // IS the Lloyd step's new centroid, so drift must equal the
        // batch monitor's reading per cell
        in.addData(fixture)
        q.processAllAvailable()
        val stream = s.table("ivf_drift")
          .selectExpr("CAST(cell AS BIGINT)", "n_members", "drift")
          .as[(Long, Long, Double)].collect().toSet
        val batch = SparkEntry.queries("e_centroid_drift")(s, sfDir)
          .selectExpr("CAST(cluster AS BIGINT)", "n_members", "drift")
          .as[(Long, Long, Double)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "vacuous — no cells")
      } finally q.stop()
    }
  }
}
