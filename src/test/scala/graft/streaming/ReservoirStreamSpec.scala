package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** [[StatefulProcessors.reservoirStream]]: the distributed reservoir
  * (bottom-k hash priorities per shard, bounded state) converges to
  * EXACTLY the batch `d_reservoir_sample` answer over the same
  * documents — any global bottom-n (n <= per-shard k) is recoverable
  * from the union of shard outputs, because a globally-bottom-n doc is
  * bottom-n within its own shard too.
  */
case class DocRow(doc_id: Long, text: String)

class ReservoirStreamSpec extends SparkSpec {

  private val priExpr =
    "cast(conv(substring(md5(cast(doc_id AS string)),1,12),16,10) AS bigint)"

  test("stream reservoir converges to the batch bottom-k sample") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[DocRow]
    val q = StatefulProcessors.reservoirStream(in.toDF(), k = 8, shards = 4)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("resv").start()
    try {
      in.addData((0L until 40L).map(i => DocRow(i, s"doc $i")): _*)
      q.processAllAvailable()
      in.addData((40L until 100L).map(i => DocRow(i, s"doc $i")): _*)
      q.processAllAvailable()

      // Final per-shard rankings: Update mode re-emits a (shard, rank)
      // slot on change and MemoryStream appends, so the LAST row wins.
      val rows = s.table("resv")
        .selectExpr("qid", "vec_id", "rank").as[(Long, Long, Int)].collect()
      val unionIds = rows.zipWithIndex
        .groupBy { case ((sh, _, r), _) => (sh, r) }
        .map { case (_, vs) => vs.maxBy(_._2)._1._2 }.toSeq

      def bottom8(ids: Seq[Long]): Seq[Long] =
        ids.toDS().toDF("doc_id")
          .selectExpr("doc_id", s"$priExpr AS pri")
          .orderBy(col("pri"), col("doc_id")).limit(8)
          .select("doc_id").as[Long].collect().toSeq

      assert(bottom8(unionIds) === bottom8(0L until 100L))
    } finally q.stop()
    }
  }
}
