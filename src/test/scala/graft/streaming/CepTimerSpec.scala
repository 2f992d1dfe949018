package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** The timer-finalized x6/x7/x8 duals: a silent key's run emits once
  * another key's traffic moves the watermark past its horizon, each
  * dual equals its batch twin on the raw fixture after one global
  * watermark advance, and an event older than the watermark is dropped
  * without touching a finalized match. RocksDB provider like every
  * transformWithState spec. */
class CepTimerSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String = "click"): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, 1.0)

  test("a silent key's run emits when ANOTHER key advances the watermark past its horizon") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 5000000L // 5 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors
        .cepOneOrMore(in.toDS(), gapUs = gapUs, delay = "1 second")
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cept-ck"))
        .format("memory").queryName("cep_timer").start()
      try {
        // user 1: a 2-event run, then SILENCE — no later user-1 click
        // will ever close it
        in.addData(ev(1, 1000, 1), ev(2, 3000, 1))
        q.processAllAvailable()
        assert(s.table("cep_timer").count() === 0, "emitted without horizon proof")
        // user 2's traffic advances the GLOBAL watermark past user 1's
        // horizon (1000ms + 5s + 1s delay): user 1 emits with no
        // further user-1 input
        in.addData(ev(10, 60000, 2, "view"))
        q.processAllAvailable()
        val rows = s.table("cep_timer")
          .selectExpr("user_id", "first_id", "n_times", "last_us")
          .as[(Long, Long, Long, Long)].collect()
        // noSkip: BOTH events anchor runs (x7's overlap contract) —
        // event 1's run of 2 and event 2's singleton finalize together
        assert(rows.toSet === Set((1L, 1L, 2L, 3000000L), (1L, 2L, 1L, 3000000L)),
          s"silent-key finalization wrong: ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("x8 timers: the open segment emits via watermark, matching batch x8 on the RAW fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val gapUs = 21600000000L
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val maxMs = fixture.map(_.ts.getTime).max
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipPast(in.toDS(), gapUs = gapUs,
          delay = "1 second")
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepskipt-ck"))
        .format("memory").queryName("cepskip_timer").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        // ONE global advance (sentinel key, non-typ event) — no per-key
        // flush clicks, no batch-side anchor exclusion
        in.addData(ev(9999999L, maxMs + 2 * gapUs / 1000L, -1L, "view"))
        q.processAllAvailable()
        val stream = s.table("cepskip_timer")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = graft.operators.EventOps.cepSkipPastBatch(
            s.createDataset(fixture).toDF(), gapUs)
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"x8 only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "x8 timer equivalence is vacuous — no matches")
      } finally q.stop()
    }
  }

  test("x6 timers: pending range anchors finalize via watermark, matching batch x6 on the raw fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val gapUs = 21600000000L
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val maxMs = fixture.map(_.ts.getTime).max
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepTimesRange(in.toDS(), gapUs = gapUs,
          minTimes = 2, maxTimes = 4, delay = "1 second")
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("ceprt-ck"))
        .format("memory").queryName("ceprange_timer").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        in.addData(ev(9999999L, maxMs + 2 * gapUs / 1000L, -1L, "view"))
        q.processAllAvailable()
        val stream = s.table("ceprange_timer")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = graft.operators.EventOps.cepTimesRangeBatch(
            s.createDataset(fixture).toDF(), gapUs, 2, 4)
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"x6 only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "x6 timer equivalence is vacuous — no matches")
      } finally q.stop()
    }
  }

  test("complete input + one global watermark advance matches the batch x7 exactly") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val maxMs = fixture.map(_.ts.getTime).max
      val in = MemoryStream[Ev]
      val q = StatefulProcessors
        .cepOneOrMore(in.toDS(), delay = "1 second")
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cept-eq-ck"))
        .format("memory").queryName("cep_timer_eq").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        // ONE far-future event (sentinel key, non-typ) flushes every
        // quiet key — no per-key flush click
        in.addData(ev(9999999L, maxMs + 30000000L, -1L, "view"))
        q.processAllAvailable()
        val stream = s.table("cep_timer_eq")
          .selectExpr("user_id", "first_id", "first_us", "n_times", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("x7_cep_one_or_more")(s, sfDir)
          .selectExpr("user_id", "event_id AS first_id",
            "unix_micros(first_ts) AS first_us", "n_times",
            "unix_micros(last_ts) AS last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      } finally q.stop()
    }
  }

  /** User 1's clicks at 1, 3 and 4 s finalize when user 2's view moves
    * the watermark (delay 1 s) to 59 s, past every 5-s horizon. Then two
    * user-1 clicks at 5 and 5.5 s arrive: older than the watermark, so
    * they must be dropped. Admitted, they would form a two-click run of
    * their own that the second advance (to 119 s) finalizes, under every
    * quantifier. */
  private def lateClickCell(name: String,
      cep: Dataset[Ev] => Dataset[StatefulProcessors.CepRangeMatch],
      finalized: Set[(Long, Long, Long, Long)]): Unit =
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = cep(in.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir(s"cep-late-$name-ck"))
        .format("memory").queryName(s"cep_late_$name").start()
      def rows() = s.table(s"cep_late_$name")
        .selectExpr("user_id", "first_id", "n_times", "last_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      try {
        in.addData(ev(1, 1000, 1), ev(2, 3000, 1), ev(3, 4000, 1))
        q.processAllAvailable()
        in.addData(ev(10, 60000, 2, "view"))
        q.processAllAvailable()
        assert(rows() === finalized, s"$name: finalization wrong")
        in.addData(ev(4, 5000, 1), ev(5, 5500, 1))
        q.processAllAvailable()
        in.addData(ev(11, 120000, 2, "view"))
        q.processAllAvailable()
        assert(rows() === finalized, s"$name: a click older than the watermark changed the output")
      } finally q.stop()
    }

  test("x6: a click older than the watermark is dropped and leaves the finalized runs unchanged") {
    lateClickCell("x6",
      StatefulProcessors.cepTimesRange(_, gapUs = 5000000L, delay = "1 second"),
      Set((1L, 1L, 3L, 4000000L), (1L, 2L, 2L, 4000000L)))
  }

  test("x7: a click older than the watermark is dropped and leaves the finalized runs unchanged") {
    lateClickCell("x7",
      StatefulProcessors.cepOneOrMore(_, gapUs = 5000000L, delay = "1 second"),
      Set((1L, 1L, 3L, 4000000L), (1L, 2L, 2L, 4000000L), (1L, 3L, 1L, 4000000L)))
  }

  test("x8: a click older than the watermark is dropped and leaves the finalized segment unchanged") {
    lateClickCell("x8",
      StatefulProcessors.cepSkipPast(_, gapUs = 5000000L, delay = "1 second"),
      Set((1L, 1L, 3L, 4000000L)))
  }
}
