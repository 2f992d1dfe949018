package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** Online last-touch attribution (streaming twin of a21_last_touch):
  * crafted credit assignment + full-fixture equivalence with the batch
  * report. */
class LastTouchStreamSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String, v: Double): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, v)

  test("purchases credit the latest prior touchpoint, 'none' without one, across batches") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.lastTouchCredits(in.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("touch-ck").toString)
        .format("memory").queryName("touch").start()
      try {
        in.addData(
          // user 1: click then purchase -> click credited; a second
          // purchase with no new touch credits the SAME click
          ev(1, 1000, 1, "click", 0.0), ev(2, 2000, 1, "purchase", 5.0),
          ev(3, 3000, 1, "purchase", 7.0),
          // user 2: cold purchase -> 'none'
          ev(4, 1000, 2, "purchase", 3.0))
        q.processAllAvailable()
        // cross-batch: the open touchpoint survives to a later batch
        in.addData(ev(5, 4000, 1, "view", 0.0))
        in.addData(ev(6, 5000, 1, "purchase", 9.0))
        q.processAllAvailable()
        val got = s.table("touch")
          .selectExpr("purchase_id", "touchpoint", "value")
          .as[(Long, String, Double)].collect().toSet
        assert(got === Set((2L, "click", 5.0), (3L, "click", 7.0),
          (4L, "none", 3.0), (6L, "view", 9.0)))
      } finally q.stop()
    }
  }

  test("stream credit report matches the batch a21_last_touch on the fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.lastTouchCredits(in.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("touch-eq-ck").toString)
        .format("memory").queryName("touch_eq").start()
      try {
        fixture.grouped(math.max(1, fixture.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk)
          q.processAllAvailable()
        }
        val stream = s.table("touch_eq")
          .groupBy("touchpoint")
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_purchases"),
            org.apache.spark.sql.functions.round(
              org.apache.spark.sql.functions.sum("value") +
                org.apache.spark.sql.functions.lit(1e-9), 4).as("attributed_value"))
          .as[(String, Long, Double)].collect().toSet
        val batch = SparkEntry.queries("a21_last_touch")(s, sfDir)
          .as[(String, Long, Double)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      } finally q.stop()
    }
  }
}
