package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Online sequence packing ([[StatefulProcessors.packStream]]): first-fit
  * into token-budget bins with O(shards) state, bin fill persisting
  * across micro-batches, oversize docs isolated in their own bins.
  */
class PackStreamSpec extends SparkSpec {

  private def doc(id: Long, nTokens: Int): CurateDoc =
    CurateDoc(id, new Timestamp(id * 1000L),
      (1 to nTokens).map(i => s"t$i").mkString(" "), "en")

  test("bins respect the budget, fill crosses batches, oversize docs isolate") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[CurateDoc]
    // shards=1: every doc through one packer, assignments fully predictable
    val q = StatefulProcessors.packStream(in.toDF(), binTokens = 100, shards = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("packed").start()
    try {
      in.addData(doc(1, 40), doc(2, 40), doc(3, 40))
      q.processAllAvailable()
      in.addData(doc(4, 30), doc(5, 150), doc(6, 10)) // 5 is oversize
      q.processAllAvailable()
      val m = s.table("packed")
        .selectExpr("doc_id", "n_tokens", "bin", "bin_offset")
        .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
      assert(m(1L) === ((1L, 40L, 0L, 0L)))
      assert(m(2L) === ((2L, 40L, 0L, 40L)))
      assert(m(3L) === ((3L, 40L, 1L, 0L)))  // 80+40 > 100 -> new bin
      assert(m(4L) === ((4L, 30L, 1L, 40L))) // state crossed the batch
      assert(m(5L) === ((5L, 150L, 2L, 0L))) // oversize: own bin, offset 0
      assert(m(6L) === ((6L, 10L, 3L, 0L)))  // bin 2 overflowed -> next bin
      // every doc packed exactly once
      assert(s.table("packed").count() === 6)
      } finally q.stop()
    }
  }

  test("sharded bin ids never collide across shards") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[CurateDoc]
    val q = StatefulProcessors.packStream(in.toDF(), binTokens = 50, shards = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("packed_sharded").start()
    try {
      in.addData((1L to 40L).map(i => doc(i, 20)): _*)
      q.processAllAvailable()
      val rows = s.table("packed_sharded")
        .selectExpr("shard", "bin").as[(Int, Long)].collect()
      // interleaved ids: bin mod shards recovers the owning shard
      assert(rows.forall { case (sh, bin) => bin % 4 === sh.toLong })
      assert(s.table("packed_sharded").count() === 40)
      } finally q.stop()
    }
  }
}
