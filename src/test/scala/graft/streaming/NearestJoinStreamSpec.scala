package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** J4 streaming dual: watermark-delayed nearest-purchase alignment via
  * event-time timers, vs crafted cases and vs the batch query.
  */
class NearestJoinStreamSpec extends SparkSpec {

  private def ev(id: Long, sec: Long, user: Long, typ: String): Ev =
    Ev(id, new Timestamp(sec * 1000L), user, typ, 0.0)

  test("nearest within tolerance, tie to earlier purchase, no premature emission") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors
        .nearestJoin(in.toDS(), tolUs = 5000000L, delay = "2 seconds")
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("nj-ck").toString)
        .format("memory").queryName("nj").start()
      try {
        // user 1: purchases 8s and 13s around the 10s click -> 8s is nearer
        // user 2: purchases 7s and 13s, both |3s| -> tie to the EARLIER
        // user 3: click with no purchase anywhere -> silent forever
        in.addData(
          ev(1, 8, 1, "purchase"), ev(2, 10, 1, "click"), ev(3, 13, 1, "purchase"),
          ev(4, 7, 2, "purchase"), ev(5, 10, 2, "click"), ev(6, 13, 2, "purchase"),
          ev(7, 12, 3, "click"))
        q.processAllAvailable()
        // watermark (13s - 2s = 11s) is behind every 15s deadline
        assert(s.table("nj").count() === 0L)

        // user 4: the nearer purchase arrives a BATCH LATER (and ahead of
        // the watermark), before the click's 17s deadline — finalization
        // must still pick it over the earlier-arrived farther one
        in.addData(ev(8, 12, 4, "click"), ev(9, 16, 4, "purchase"))
        q.processAllAvailable()
        in.addData(ev(10, 15, 4, "purchase"))
        q.processAllAvailable()
        assert(s.table("nj").count() === 0L)

        // sentinel advances the watermark past every deadline; extra
        // batch lets the armed timers fire
        in.addData(ev(99, 100, 9, "view"))
        q.processAllAvailable()
        in.addData(ev(100, 101, 9, "view"))
        q.processAllAvailable()

        val rows = s.table("nj")
          .selectExpr("user_id", "click_id", "purchase_us", "dt_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rows === Set(
          (1L, 2L, 8000000L, 2000000L),
          (2L, 5L, 7000000L, 3000000L),
          (4L, 8L, 15000000L, -3000000L)))
      } finally q.stop()
    }
  }

  test("stream matches the batch j4_nearest_join on the fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val maxSec = fixture.map(_.ts.getTime / 1000L).max
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.nearestJoin(in.toDS()) // batch defaults: ±15 min
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("nj-eq-ck").toString)
        .format("memory").queryName("nj_eq").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        in.addData(ev(9000001L, maxSec + 2000, 999999, "view")) // past every deadline
        q.processAllAvailable()
        in.addData(ev(9000002L, maxSec + 2001, 999999, "view")) // fire armed timers
        q.processAllAvailable()
        val stream = s.table("nj_eq")
          .selectExpr("user_id", "click_id", "click_us", "purchase_us", "dt_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("j4_nearest_join")(s, sfDir)
          .selectExpr("user_id", "event_id", "unix_micros(click_ts)",
            "unix_micros(nearest_purchase_ts)", "dt_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      } finally q.stop()
    }
  }
}
