package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Event-time timers close sessions without further input for the key:
  * the summary emits when the WATERMARK passes last+gap — advanced here by
  * a different user's events.
  */
class SessionTimerSpec extends SparkSpec {

  private def ev(id: Long, sec: Long, user: Long): Ev =
    Ev(id, new Timestamp(sec * 1000L), user, "click", 1.0)

  test("timer emits the session summary once the watermark passes the gap") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors
      .sessionSummaries(in.toDS(), gapMs = 5000L, delay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_sum").start()
    try {
      // user 1: events at 10,12,14 s -> one session [10,14], 3 events.
      in.addData(ev(1, 10, 1), ev(2, 12, 1), ev(3, 14, 1))
      q.processAllAvailable()
      assert(s.table("sess_sum").count() === 0) // watermark at 4 s: open

      // another user's event pushes the watermark to 90 s > 14+5:
      in.addData(ev(4, 100, 9))
      q.processAllAvailable()
      in.addData(ev(5, 101, 9)) // extra batch so the armed timer fires
      q.processAllAvailable()

      val got = s.table("sess_sum")
        .selectExpr("user_id", "cast(start_ts AS long)", "cast(end_ts AS long)", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 10L, 14L, 3L))) // user 9's session still open
    } finally q.stop()
    }
  }

  test("a late-but-within-watermark event before the session start min-updates start_ts") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors
      .sessionSummaries(in.toDS(), gapMs = 5000L, delay = "30 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_sum3").start()
    try {
      // batch 1 opens the session at [12, 14]; watermark stays well behind.
      in.addData(ev(1, 12, 1), ev(2, 14, 1))
      q.processAllAvailable()
      // batch 2: a LATE event at 10 s — within gap of start (12-5=7) and
      // within the 30 s watermark delay. Must extend the session backwards.
      in.addData(ev(3, 10, 1))
      q.processAllAvailable()
      // close it: another user's event drives the watermark past 14+5.
      in.addData(ev(4, 100, 9))
      q.processAllAvailable()
      in.addData(ev(5, 101, 9)) // extra batch so the armed timer fires
      q.processAllAvailable()

      val got = s.table("sess_sum3")
        .selectExpr("user_id", "cast(start_ts AS long)", "cast(end_ts AS long)", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 10L, 14L, 3L))) // start is 10, not 12
    } finally q.stop()
    }
  }

  test("an event more than gap before the open session emits a singleton session") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors
      .sessionSummaries(in.toDS(), gapMs = 5000L, delay = "60 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_sum4").start()
    try {
      in.addData(ev(1, 50, 1), ev(2, 52, 1)) // open session [50, 52]
      q.processAllAvailable()
      in.addData(ev(3, 30, 1)) // 20 s before start: can't merge or reopen
      q.processAllAvailable()
      val got = s.table("sess_sum4")
        .selectExpr("user_id", "cast(start_ts AS long)", "cast(end_ts AS long)", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 30L, 30L, 1L))) // singleton emitted; [50,52] still open
    } finally q.stop()
    }
  }

  test("an in-batch event past the gap closes the previous session inline") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors
      .sessionSummaries(in.toDS(), gapMs = 5000L, delay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_sum2").start()
    try {
      in.addData(ev(1, 10, 1), ev(2, 50, 1)) // 40 s gap inside one batch
      q.processAllAvailable()
      val got = s.table("sess_sum2")
        .selectExpr("user_id", "cast(start_ts AS long)", "cast(end_ts AS long)", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 10L, 10L, 1L))) // first session closed inline
    } finally q.stop()
    }
  }
}
