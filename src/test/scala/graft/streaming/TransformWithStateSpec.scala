package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** X1/X2 on the transformWithState API (RocksDB state store) must match
  * the flatMapGroupsWithState semantics exactly.
  */
class TransformWithStateSpec extends SparkSpec {

  private def ev(id: Long, sec: Long, user: Long = 1L, typ: String = "error"): Ev =
    Ev(id, new Timestamp(sec * 1000L), user, typ, 1.0)

  test("X1 via transformWithState: ValueState survives batches, alerts within threshold") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.doubleEventAlerts(in.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_alerts").start()
      try {
        in.addData(ev(1, 3), ev(2, 8), ev(3, 0, user = 2), ev(4, 20, user = 2))
        q.processAllAvailable()
        in.addData(ev(5, 12)) // 4 s after user 1's last error, across batches
        q.processAllAvailable()
        val rows = s.table("tws_alerts")
          .selectExpr("user_id", "event_id", "gap_us").as[(Long, Long, Long)].collect().toSet
        assert(rows === Set((1L, 2L, 5000000L), (1L, 5L, 4000000L)))
      } finally q.stop()
    }
  }

  test("X2 via transformWithState: clearOn wipes the slot") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.sessionizeActions(in.toDS(), clearOn = "logout")
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_durations").start()
      try {
        in.addData(ev(1, 0, typ = "login"), ev(2, 4, typ = "view"), ev(3, 9, typ = "logout"))
        q.processAllAvailable()
        in.addData(ev(4, 15, typ = "login"))
        q.processAllAvailable()
        val rows = s.table("tws_durations")
          .selectExpr("event_id", "prev_action", "duration_us").as[(Long, String, Long)]
          .collect().toSet
        assert(rows === Set(
          (1L, "None", 0L), (2L, "login", 4000000L),
          (3L, "view", 5000000L), (4L, "None", 0L)))
      } finally q.stop()
    }
  }
}
