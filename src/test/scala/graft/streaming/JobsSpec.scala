package graft.streaming

import graft.SparkSpec

/** End-to-end job wiring: generator -> monitored dir -> parse -> transform
  * -> file sink, the reference's full job shape (generator thread + job,
  * BasicStreamingOperations.java:103-109).
  */
class JobsSpec extends SparkSpec {

  private def tmp(tag: String) = tempDir(tag)

  test("job 1: generated CSV files flow through window count to the file sink") {
    val d = Jobs.Dirs(tmp("j1-in"), tmp("j1-out"), tmp("j1-ckpt"))
    Generators.writeCsvFiles(d.in, seed = 7, files = 4, perFile = 25)
    val q = Jobs.basicStreaming(spark, d)
    try q.processAllAvailable() finally q.stop()
    // 100 seeded events over ~100 s: open windows are withheld by the
    // watermark, but the early ones must have closed and been written.
    val out = spark.read.parquet(d.out)
    assert(out.columns.toSeq === Seq("win_start", "win_end", "cnt"))
    val emitted = out.selectExpr("sum(cnt)").head().getLong(0)
    assert(emitted > 0 && emitted <= 100)
  }

  test("rate-source generator emits schema-correct synthetic events") {
    val q = Generators.rateEvents(spark, rowsPerSecond = 200)
      .writeStream.outputMode("append")
      .format("memory").queryName("rate_events").start()
    try {
      // rate source is wall-clock driven; give it a beat then drain
      Thread.sleep(1500)
      q.processAllAvailable()
      val rows = spark.table("rate_events")
      assert(rows.columns.toSeq === Seq("event_id", "ts", "user_id", "event_type", "value"))
      assert(rows.count() > 0)
      assert(rows.filter("user_id < 1 OR user_id > 10").count() === 0)
      assert(rows.filter(
        s"event_type NOT IN (${Generators.eventTypes.map("'" + _ + "'").mkString(",")})")
        .count() === 0)
    } finally q.stop()
  }

  test("job 6 staircase variant: per-partition staircase drives close/late/idle to the file sink") {
    withRocksDb {
      val d = Jobs.Dirs(tmp("j6s-in"), tmp("j6s-out"), tmp("j6s-ckpt"))
      Generators.writeCsvFiles(d.in, seed = 13, files = 4, perFile = 25)
      // Epoch-adjacent fixture timestamps vs a wall-clock staircase: every
      // event window end sits far behind the first applied watermark, so
      // each event either closes in its arrival batch (floor not yet set)
      // or routes late (a later batch) — the conservation law below holds
      // under ANY file-to-batch split. The query never drains
      // (TimeMode.ProcessingTime runs no-data batches forever) — poll.
      val q = Jobs.eventTimeStaircase(spark, d, nPartitions = 2,
        windowMs = 1000L, advanceMs = 1500L, bufferMs = 100L)
      try {
        def table(): Option[org.apache.spark.sql.DataFrame] =
          scala.util.Try(spark.read.parquet(d.out)).toOption
        def accounted(): Long = table().fold(0L) { t =>
          t.where("kind = 'closed'").selectExpr("coalesce(sum(n), 0)")
            .head().getLong(0) + t.where("kind = 'late'").count()
        }
        val deadline = System.currentTimeMillis() + 60000L
        while (accounted() < 100L) {
          assert(System.currentTimeMillis() < deadline,
            s"timed out: accounted=${accounted()} of 100")
          Thread.sleep(200)
        }
        // Both tagged partitions eventually mark idle after the input dries.
        val idleDeadline = System.currentTimeMillis() + 60000L
        def idleParts(): Set[Int] = table().fold(Set.empty[Int]) {
          _.where("kind = 'idle'").select("partition_id")
            .collect().map(_.getInt(0)).toSet
        }
        while (idleParts() != Set(0, 1)) {
          assert(System.currentTimeMillis() < idleDeadline,
            s"timed out waiting for idle markers: ${idleParts()}")
          Thread.sleep(200)
        }
        val out = table().get
        assert(accounted() === 100L) // every event closed or late, none lost
        assert(out.where("kind = 'closed' AND partition_id != -1").count() === 0L)
      } finally q.stop()
    }
  }

  test("job 8: capstone counts + sessionized durations run off one source") {
    val d = Jobs.Dirs(tmp("j8-in"), tmp("j8-out"), tmp("j8-ckpt"))
    Generators.writeCsvFiles(d.in, seed = 11, files = 2, perFile = 30)
    val (counts, durations) = Jobs.courseUseCase(spark, d)
    try {
      counts.processAllAvailable()
      durations.processAllAvailable()
    } finally { counts.stop(); durations.stop() }
    val dur = spark.read.parquet(s"${d.out}/durations")
    assert(dur.count() === 60) // sessionizer emits once per input event
    assert(dur.filter("prev_action = 'None' AND duration_us = 0").count() > 0)
    assert(dur.filter("duration_us < 0").count() === 0)
  }
}
