package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** CDC snapshot maintainer (streaming twin of q_cdc_apply): crafted
  * upsert/delete sequences, cross-batch head protection, and full-fixture
  * equivalence with the batch query. RocksDB provider, like every
  * transformWithState spec. */
class CdcStreamSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String, v: Double): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, v)

  /** Update-mode memory sink accumulates every emission; a key's LIVE
    * snapshot row is its emission with the largest op ledger. */
  private def latestRows(table: String): Map[Long, (Long, Double, Long, Long, Boolean)] = {
    val s = spark
    import s.implicits._
    s.table(table)
      .selectExpr("user_id", "last_us", "last_value", "n_ops", "n_deletes", "deleted")
      .as[(Long, Long, Double, Long, Long, Boolean)].collect()
      .groupBy(_._1)
      .map { case (k, rows) =>
        val r = rows.maxBy(_._4) // n_ops is strictly increasing per key
        k -> (r._2, r._3, r._4, r._5, r._6)
      }
  }

  test("upserts advance the head, deletes tombstone it, late ops feed the ledger only") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cdcSnapshot(in.toDS())
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc-ck").toString)
        .format("memory").queryName("cdc").start()
      try {
        in.addData(
          // user 1: two upserts — head is the later one
          ev(1, 1000, 1, "click", 1.5), ev(2, 2000, 1, "view", 2.5),
          // user 2: upsert then delete — tombstoned
          ev(3, 1000, 2, "click", 3.0), ev(4, 2000, 2, "error", 0.0),
          // user 3: delete then upsert — alive again
          ev(5, 1000, 3, "error", 0.0), ev(6, 2000, 3, "purchase", 7.0))
        q.processAllAvailable()
        // cross-batch: a LATE event older than user 1's head must bump
        // the ledger without regressing the head
        in.addData(ev(7, 1500, 1, "error", 9.9))
        q.processAllAvailable()
        val rows = latestRows("cdc")
        assert(rows(1L) === ((2000000L, 2.5, 3L, 1L, false)),
          s"late delete regressed the head: ${rows(1L)}")
        assert(rows(2L)._5 === true, "delete did not tombstone")
        assert(rows(2L) === ((2000000L, 0.0, 2L, 1L, true)))
        assert(rows(3L) === ((2000000L, 7.0, 2L, 1L, false)))
      } finally q.stop()
    }
  }

  test("stream snapshot matches the batch q_cdc_apply on the fixture (3-chunk feed)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cdcSnapshot(in.toDS())
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc-eq-ck").toString)
        .format("memory").queryName("cdc_eq").start()
      try {
        fixture.grouped(math.max(1, fixture.size / 3 + 1)).foreach { chunk =>
          in.addData(chunk)
          q.processAllAvailable()
        }
        val stream = latestRows("cdc_eq").collect {
          case (k, (us, v, ops, dels, false)) => (k, us, v, ops, dels)
        }.toSet
        val batch = SparkEntry.queries("q_cdc_apply")(s, sfDir)
          .selectExpr("user_id", "unix_micros(last_ts)", "last_value",
            "n_ops", "n_deletes")
          .as[(Long, Long, Double, Long, Long)].collect().toSet
        assert(stream === batch,
          s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      } finally q.stop()
    }
  }
}
