package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Continuous top-k retrieval ([[StreamingPipelines.streamingKnn]] /
  * [[StatefulProcessors.TopKProcessor]]): per-query best-k-ever rankings
  * with bounded state, improving monotonically across micro-batches.
  */
case class EmbRow(vec_id: Long, embedding: Array[Float])

class StreamingKnnSpec extends SparkSpec {

  test("rankings improve monotonically across batches with bounded state") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[EmbRow]
    // one query along the x-axis: cosine == normalized first component
    val queries = Seq(7L -> Seq(1.0, 0.0, 0.0))
    val q = StreamingPipelines.streamingKnn(in.toDF(), queries, k = 2)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("knn").start()
    try {
      in.addData(
        EmbRow(1, Array(1f, 1f, 0f)),   // cos ~0.707
        EmbRow(2, Array(0.1f, 1f, 0f))) // cos ~0.0995
      q.processAllAvailable()
      def latest(): Map[Int, Long] = {
        val rows = s.table("knn")
          .selectExpr("vec_id", "rank").as[(Long, Int)].collect()
        // Update mode: later emissions supersede; MemoryStream appends, so
        // take the LAST row per rank
        rows.zipWithIndex.groupBy(_._1._2)
          .map { case (r, vs) => r -> vs.maxBy(_._2)._1._1 }
      }
      assert(latest() === Map(1 -> 1L, 2 -> 2L))

      // batch 2: a better vector displaces rank 1; vec 2 falls off the
      // k=2 ranking entirely (bounded state, monotone improvement)
      in.addData(EmbRow(3, Array(1f, 0.1f, 0f))) // cos ~0.995
      q.processAllAvailable()
      assert(latest() === Map(1 -> 3L, 2 -> 1L))
    } finally q.stop()
    }
  }

  test("re-arrival of the same scored vector does not duplicate ranks") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[EmbRow]
    val q = StreamingPipelines.streamingKnn(in.toDF(), Seq(1L -> Seq(1.0, 0.0)), k = 3)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("knn_dup").start()
    try {
      in.addData(EmbRow(5, Array(1f, 0f)))
      q.processAllAvailable()
      in.addData(EmbRow(5, Array(1f, 0f))) // replayed upstream
      q.processAllAvailable()
      val rows = s.table("knn_dup")
        .selectExpr("vec_id", "rank").as[(Long, Int)].collect()
      // vec 5 must hold exactly rank 1 in the latest emission, never two slots
      assert(rows.count(_ == ((5L, 1))) >= 1)
      assert(!rows.exists(r => r._1 == 5L && r._2 == 2))
    } finally q.stop()
    }
  }

  test("re-arrival with a CHANGED score keeps one slot per vector (best wins)") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[EmbRow]
    val q = StreamingPipelines.streamingKnn(in.toDF(), Seq(1L -> Seq(1.0, 0.0)), k = 3)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("knn_upd").start()
    try {
      in.addData(EmbRow(5, Array(1f, 1f)), EmbRow(6, Array(1f, 2f)))
      q.processAllAvailable()
      // vec 5 re-embedded: better cosine than before AND than vec 6 —
      // it must occupy ONE slot (rank 1), not its old and new score both
      in.addData(EmbRow(5, Array(1f, 0f)))
      q.processAllAvailable()
      val rows = s.table("knn_upd")
        .selectExpr("vec_id", "rank").as[(Long, Int)].collect()
      // latest emission per rank (Update mode over an append table)
      val latest = rows.zipWithIndex.groupBy(_._1._2)
        .map { case (r, vs) => r -> vs.maxBy(_._2)._1._1 }
      assert(latest === Map(1 -> 5L, 2 -> 6L))
    } finally q.stop()
    }
  }
}
