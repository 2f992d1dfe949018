package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

// Top-level so codegen can construct it (Janino cannot see inner classes).
case class QuotaDoc(doc_id: Long, ts: Timestamp, source: String, text: String)

/** Online per-source quota ([[StatefulProcessors.quotaRouteStream]]):
  * first-q admission per source with O(sources) state persisting across
  * micro-batches, over-quota docs emitted (not dropped) with
  * `admitted = false`; plus the stateless streaming Gopher-rule report
  * ([[StreamingPipelines.gopherRules]]) agreeing with the batch rule
  * bounds on crafted documents.
  */
class SourceQuotaSpec extends SparkSpec {

  private def doc(id: Long, source: String, text: String = "x"): QuotaDoc =
    QuotaDoc(id, new Timestamp(id * 1000L), source, text)

  test("quota admits first q per source, counts cross batches, rejects ride along") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[QuotaDoc]
      val q = StatefulProcessors.quotaRouteStream(
          in.toDF().selectExpr("*", "'en' AS lang"), quota = 2L)
        .writeStream.outputMode("append")
        .format("memory").queryName("quota_out").start()
      try {
        in.addData(doc(1, "s1"), doc(2, "s1"), doc(3, "s1"), doc(10, "s2"))
        q.processAllAvailable()
        in.addData(doc(4, "s1"), doc(11, "s2"))
        q.processAllAvailable()
        val m = s.table("quota_out")
          .selectExpr("doc_id", "source", "seq", "admitted")
          .as[(Long, String, Long, Boolean)].collect()
          .map(t => t._1 -> t).toMap
        assert(m(1L) === ((1L, "s1", 1L, true)))
        assert(m(2L) === ((2L, "s1", 2L, true)))
        assert(m(3L) === ((3L, "s1", 3L, false))) // over quota, still emitted
        assert(m(4L) === ((4L, "s1", 4L, false))) // counter crossed the batch
        assert(m(10L) === ((10L, "s2", 1L, true))) // sources independent
        assert(m(11L) === ((11L, "s2", 2L, true)))
        assert(s.table("quota_out").count() === 6) // nothing vanished
      } finally q.stop()
    }
  }

  test("streaming code detection routes code and prose like the batch thresholds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val code = "x = 1;\ny = 2;\nif (x) {\n    z = 3;\n}"
    val prose = "a calm tide rolled in over the stones and nobody minded"
    val in = MemoryStream[QuotaDoc]
    val q = StreamingPipelines.codeDetect(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("code_out").start()
    try {
      in.addData(doc(1, "s1", code), doc(2, "s1", prose))
      q.processAllAvailable()
      val m = s.table("code_out")
        .selectExpr("doc_id", "code_score", "is_code")
        .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
      assert(m(1L)._3, s"code doc not routed as code: ${m(1L)}")
      assert(!m(2L)._3, s"prose doc routed as code: ${m(2L)}")
    } finally q.stop()
  }

  test("streaming gopher rules match the batch rule bounds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // 49 distinct 5-6 char words + 'the': every rule passes
    val good = ((1 to 49).map(i => s"word$i") :+ "the").mkString(" ")
    // 10 copies of 'a': fails length, word-length, and diversity rules
    val bad = Seq.fill(10)("a").mkString(" ")
    val in = MemoryStream[QuotaDoc]
    val q = StreamingPipelines.gopherRules(in.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_out").start()
    try {
      in.addData(doc(1, "s1", good), doc(2, "s1", bad))
      q.processAllAvailable()
      val m = s.table("gopher_out")
        .selectExpr("doc_id", "r_len", "r_wordlen", "r_stop", "r_ttr", "keep")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(t => t._1 -> t).toMap
      assert(m(1L) === ((1L, 1L, 1L, 1L, 1L, 1L)))
      assert(m(2L) === ((2L, 0L, 0L, 1L, 0L, 0L)))
    } finally q.stop()
  }
}
