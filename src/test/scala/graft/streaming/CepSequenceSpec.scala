package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** X3 streaming CEP matcher vs crafted sequences and vs its batch dual.
  * RocksDB provider (transformWithState), like the other processors.
  */
class CepSequenceSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, 0.0)

  test("sequence completes within gaps; expired and incomplete partials do not fire") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSequence(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cep-ck").toString)
        .format("memory").queryName("cep").start()
      try {
        in.addData(
          // user 1: clean completion (gaps 5 s each)
          ev(1, 1000, 1, "signup"), ev(2, 6000, 1, "click"), ev(3, 11000, 1, "purchase"),
          // user 2: click too late (11 s > 10 s gap) — no match
          ev(4, 1000, 2, "signup"), ev(5, 12001, 2, "click"), ev(6, 13000, 2, "purchase"),
          // user 3: purchase before click — order violated, no match
          ev(7, 1000, 3, "signup"), ev(8, 2000, 3, "purchase"), ev(9, 3000, 3, "click"))
        q.processAllAvailable()
        val rows = s.table("cep")
          .selectExpr("user_id", "first_id", "second_us", "third_us")
          .as[(Long, Long, Long, Long)].collect()
        assert(rows.toSet === Set((1L, 1L, 6000000L, 11000000L)))

        // cross-batch continuation: user 4's signup in this batch...
        in.addData(ev(10, 1000, 4, "signup"))
        q.processAllAvailable()
        // ...completes from state in later batches
        in.addData(ev(11, 5000, 4, "click"))
        in.addData(ev(12, 9000, 4, "purchase"))
        q.processAllAvailable()
        assert(s.table("cep").where("user_id = 4").count() === 1L)

        // the earliest qualifying second/third win, per the batch analog
        in.addData(
          ev(20, 1000, 5, "signup"), ev(21, 2000, 5, "click"), ev(22, 3000, 5, "click"),
          ev(23, 4000, 5, "purchase"), ev(24, 5000, 5, "purchase"))
        q.processAllAvailable()
        val m5 = s.table("cep").where("user_id = 5")
          .selectExpr("second_us", "third_us").as[(Long, Long)].collect()
        assert(m5.toSeq === Seq((2000000L, 4000000L)))
      } finally q.stop()
    }
  }

  test("stream matches the batch x3_cep_sequence on the fixture (in-order feed)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSequence(in.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cep-eq-ck").toString)
        .format("memory").queryName("cep_eq").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        val stream = s.table("cep_eq")
          .selectExpr("user_id", "first_id", "first_us", "second_us", "third_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("x3_cep_sequence")(s, sfDir)
          .selectExpr("user_id", "event_id", "unix_micros(signup_ts)",
            "unix_micros(click_ts)", "unix_micros(purchase_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      } finally q.stop()
    }
  }
}
