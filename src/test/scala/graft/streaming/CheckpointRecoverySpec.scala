package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** T5: a stopped query restarted on the same checkpoint must resume from
  * committed offsets — no reprocessing of consumed files, no duplicate
  * windows in the exactly-once file sink, prior window state recovered.
  */
class CheckpointRecoverySpec extends SparkSpec {

  test("file-sink window query recovers across a stop/start on one checkpoint") {
    val d = Jobs.Dirs(
      tempDir("ckpt-in"),
      tempDir("ckpt-out"),
      tempDir("ckpt-ck"))

    // Phase 1: events at 0..19 s then a watermark push to 100 s.
    Generators.writeCsvFiles(d.in, seed = 3, files = 1, perFile = 20)
    Files.writeString(java.nio.file.Paths.get(d.in, "advance1.csv"),
      "\"900\",\"100000000\",\"1\",\"click\",\"1.0\"\n")
    val q1 = Jobs.basicStreaming(spark, d)
    try q1.processAllAvailable() finally q1.stop()
    val afterPhase1 = spark.read.parquet(d.out).count()
    assert(afterPhase1 > 0)

    // Phase 2: NEW query object, same checkpoint. A later file closes the
    // 100 s window.
    Files.writeString(java.nio.file.Paths.get(d.in, "advance2.csv"),
      "\"901\",\"200000000\",\"1\",\"click\",\"1.0\"\n")
    val q2 = Jobs.basicStreaming(spark, d)
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(d.out)
    // the 100 s single-event window emitted exactly once post-restart
    assert(out.filter("cnt = 1 AND cast(win_start AS long) = 100").count() === 1)
    // no duplicated windows anywhere (exactly-once sink across restart)
    assert(out.groupBy("win_start").count().filter("count > 1").count() === 0)
    // phase-1 rows were not re-emitted
    assert(out.count() === afterPhase1 + 1)
  }

  test("manifested parquet sink recovers across a restart: no dupes, manifest fresh") {
    val in = tempDir("ckpt-msink-in")
    val data = tempDir("ckpt-msink-data")
    val man = tempDir("ckpt-msink-man") + "/m"
    val ck = tempDir("ckpt-msink-ck")
    val sink = new ManifestedParquetSink(data, man, Seq("event_id", "user_id"))
    def run(): Unit = {
      val (good, _) = StreamingPipelines.parseCsvQuarantine(
        spark.readStream.text(in))
      val q = sink.start(good, ck)
      try q.processAllAvailable() finally q.stop()
    }
    // phase 1
    Generators.writeCsvFiles(in, seed = 7, files = 2, perFile = 50)
    run()
    val phase1 = spark.read.parquet(data).count()
    assert(phase1 === 100)
    // phase 2: NEW query object, same checkpoint — StreamExecution may
    // REPLAY the last batch through foreachBatch; the batch-keyed
    // idempotence must absorb it. (New file NAME: the file source tracks
    // seen files by name, so re-writing events-00000.csv would be
    // silently invisible.)
    Files.writeString(java.nio.file.Paths.get(in, "extra.csv"),
      (1001L to 1030L).map(i => line(i, i * 1000000L, 1L + i % 7, "click"))
        .mkString("", "\n", "\n"))
    run()
    val ids = spark.read.parquet(data).select("event_id").distinct().count()
    assert(spark.read.parquet(data).count() === 130, "replay duplicated rows")
    assert(ids === 130, "replay duplicated event ids")
    // the manifest kept up across the restart — fresh and serving scans
    assert(sink.scan(spark, Seq(("event_id", 0L, Long.MaxValue))).count() === 130)
  }

  private def line(id: Long, tsUs: Long, user: Long, typ: String): String =
    s""""$id","$tsUs","$user","$typ","1.0""""

  test("x10 skip-to-last recovers its open-match state across a restart") {
    // verdict r11 task 8: the RECOVER-path coverage for CepSkipToLast.
    // Chains deliberately SPAN the restart: the open anchor+last tuple
    // written before the stop must survive the checkpoint reload and
    // complete against post-restart clicks; the whole run must equal an
    // uninterrupted query AND the batch dual on the same rows.
    withRocksDb {
      val s = spark
      import s.implicits._
      val gapUs = 21600000000L // processor default, 6 h
      // phase 1: mid-chain clicks (user 1 three, user 2 one, user 3 one)
      val p1 = Seq(
        line(1, 1000000L, 1, "click"), line(2, 2000000L, 1, "click"),
        line(3, 3000000L, 1, "click"), line(4, 1000000L, 2, "click"),
        line(7, 1000000L, 3, "click"))
      // phase 2: user 1 continues the SAME chain; user 2 continues; user
      // 3's click lands past the gap (a NEW anchor); flush clicks 2 gaps
      // out close every chain
      val maxUs = gapUs + 5000000L
      val p2 = Seq(
        line(5, 4000000L, 1, "click"), line(6, 2000000L, 2, "click"),
        line(8, maxUs, 3, "click")) ++
        Seq(1L, 2L, 3L).map(u => line(900 + u, maxUs + 2 * gapUs, u, "click"))

      def runStream(in: String, out: String, ck: String): Unit = {
        val q = Sinks.file(StatefulProcessors.cepSkipToLast(
          StreamingPipelines.textFileSource(spark, in).as[Ev]).toDF(), out, ck)
        try q.processAllAvailable() finally q.stop()
      }
      def dirs(tag: String) = (
        tempDir(s"x10rec-in-$tag"),
        tempDir(s"x10rec-out-$tag"),
        tempDir(s"x10rec-ck-$tag"))

      // restarted run: phase 1, stop, phase 2 on the same checkpoint
      val (inR, outR, ckR) = dirs("r")
      Files.writeString(java.nio.file.Paths.get(inR, "p1.csv"),
        p1.mkString("", "\n", "\n"))
      runStream(inR, outR, ckR)
      Files.writeString(java.nio.file.Paths.get(inR, "p2.csv"),
        p2.mkString("", "\n", "\n"))
      runStream(inR, outR, ckR)
      // uninterrupted run: all files up front
      val (inS, outS, ckS) = dirs("s")
      Files.writeString(java.nio.file.Paths.get(inS, "p1.csv"),
        p1.mkString("", "\n", "\n"))
      Files.writeString(java.nio.file.Paths.get(inS, "p2.csv"),
        p2.mkString("", "\n", "\n"))
      runStream(inS, outS, ckS)

      def resultSet(out: String) = spark.read.parquet(out)
        .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val restarted = resultSet(outR)
      val single = resultSet(outS)
      assert(restarted === single,
        s"restart diverged: only-restart=${(restarted -- single).take(3)} " +
          s"only-single=${(single -- restarted).take(3)}")
      // both equal the batch dual (flush-anchored matches excluded by id)
      val batch = graft.operators.EventOps.cepSkipToLastBatch(
          StreamingPipelines.parseCsvLines((p1 ++ p2).toDF("value")), gapUs)
        .where("event_id < 900")
        .selectExpr("user_id", "event_id", "n_times",
          "unix_micros(first_ts)", "unix_micros(last_ts)")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(restarted === batch,
        s"only-stream=${(restarted -- batch).take(3)} only-batch=${(batch -- restarted).take(3)}")
      // the cross-restart chain must be a real match: user 1's anchor
      // (id 1) spans its four clicks, the post-restart one included
      assert(batch.exists { case (u, a, n, _, lus) =>
        u == 1L && a == 1L && n == 4L && lus == 4000000L },
        s"user 1's chain did not span the restart: $batch")
    }
  }

  /** Restart cell shared by the three timer-finalized CEP processors
    * (verdict r13 task 3). The crash point is the dangerous one: timers
    * ARMED (horizon in the future) at the stop, so on recovery the
    * processor's armed-horizon ValueState must agree with Spark's
    * recovered timer registry — the stale-armed/re-arm divergence is
    * exactly the class of bug SessionTimerProcessor's restart pin
    * caught. Phase 2 exercises BOTH recovered-timer paths: user 1 gets
    * a post-restart event INSIDE its horizon (the recovered timer must
    * be deleted and re-armed at the extended horizon), user 2 stays
    * silent (the recovered timer must fire as armed). Then one global
    * watermark advance (sentinel key, non-matching type) finalizes
    * everything; the output must equal an uninterrupted run AND the
    * batch oracle, each match emitted exactly once. */
  private def cepTimerRestartCell(tag: String,
      transform: org.apache.spark.sql.Dataset[Ev] => org.apache.spark.sql.DataFrame,
      batchOracle: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
    withRocksDb {
      val s = spark
      import s.implicits._
      // user 1: run at 1s/2s/3s; user 2: singleton at 1s — with gap 5 s
      // and delay 1 s, every horizon is ahead of phase 1's watermark, so
      // the stop happens with all timers armed and nothing emitted
      val p1 = Seq(
        line(1, 1000000L, 1, "click"), line(2, 2000000L, 1, "click"),
        line(3, 3000000L, 1, "click"), line(4, 1000000L, 2, "click"))
      // user 1 extends its run INSIDE the recovered horizon (4s < 3s+5s);
      // the sentinel (non-click, sentinel key) advances the watermark to
      // ~99s, past every horizon — the only finalization signal
      val p2 = Seq(
        line(5, 4000000L, 1, "click"),
        line(9999, 100000000L, -1, "view"))

      def runStream(in: String, out: String, ck: String): Unit = {
        val q = Sinks.file(
          transform(StreamingPipelines.textFileSource(spark, in).as[Ev]),
          out, ck)
        try q.processAllAvailable() finally q.stop()
      }
      def dirs(sub: String) = (
        tempDir(s"ceptrec-$tag-in-$sub"),
        tempDir(s"ceptrec-$tag-out-$sub"),
        tempDir(s"ceptrec-$tag-ck-$sub"))

      // restarted run: phase 1, stop with timers armed, phase 2 on the
      // same checkpoint
      val (inR, outR, ckR) = dirs("r")
      Files.writeString(java.nio.file.Paths.get(inR, "p1.csv"),
        p1.mkString("", "\n", "\n"))
      runStream(inR, outR, ckR)
      assert(spark.read.parquet(outR).isEmpty,
        s"$tag emitted before any horizon was proven — the stop must land with timers armed")
      Files.writeString(java.nio.file.Paths.get(inR, "p2.csv"),
        p2.mkString("", "\n", "\n"))
      runStream(inR, outR, ckR)
      // uninterrupted run: all files up front
      val (inS, outS, ckS) = dirs("s")
      Files.writeString(java.nio.file.Paths.get(inS, "p1.csv"),
        p1.mkString("", "\n", "\n"))
      Files.writeString(java.nio.file.Paths.get(inS, "p2.csv"),
        p2.mkString("", "\n", "\n"))
      runStream(inS, outS, ckS)

      def rows(out: String) = spark.read.parquet(out)
        .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val restarted = rows(outR)
      val single = rows(outS)
      // exactly once: a stale recovered timer re-firing (or a re-arm
      // emitting twice) would duplicate a match tuple
      assert(restarted.size === restarted.distinct.size,
        s"$tag emitted a match twice after restart: $restarted")
      assert(restarted.toSet === single.toSet,
        s"$tag restart diverged: only-restart=${(restarted.toSet -- single.toSet).take(3)} " +
          s"only-single=${(single.toSet -- restarted.toSet).take(3)}")
      val batch = batchOracle(
          StreamingPipelines.parseCsvLines((p1 ++ p2).toDF("value")))
        .selectExpr("user_id", "event_id", "n_times",
          "unix_micros(first_ts)", "unix_micros(last_ts)")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(restarted.toSet === batch,
        s"$tag only-stream=${(restarted.toSet -- batch).take(3)} only-batch=${(batch -- restarted.toSet).take(3)}")
      // the restart must be load-bearing: user 1's run spans it (the
      // post-restart click extended a recovered match) and user 2's
      // emission (if the semantics emit singletons) came purely from a
      // recovered timer firing
      assert(restarted.exists { case (u, _, _, _, lus) =>
        u == 1L && lus == 4000000L },
        s"$tag: no user-1 match absorbed the post-restart click: $restarted")
      assert(batch.nonEmpty, s"$tag restart equivalence is vacuous")
    }

  test("x7 one-or-more timers recover armed horizons across a restart") {
    cepTimerRestartCell("x7",
      ds => StatefulProcessors.cepOneOrMore(ds, gapUs = 5000000L,
        delay = "1 second").toDF(),
      ev => graft.operators.EventOps.cepOneOrMoreBatch(ev, 5000000L))
  }

  test("x8 skip-past timers recover the open match across a restart") {
    cepTimerRestartCell("x8",
      ds => StatefulProcessors.cepSkipPast(ds, gapUs = 5000000L,
        delay = "1 second").toDF(),
      ev => graft.operators.EventOps.cepSkipPastBatch(ev, 5000000L))
  }

  test("x6 times-range timers recover pending anchors across a restart") {
    cepTimerRestartCell("x6",
      ds => StatefulProcessors.cepTimesRange(ds, gapUs = 5000000L,
        minTimes = 2, maxTimes = 4, delay = "1 second").toDF(),
      ev => graft.operators.EventOps.cepTimesRangeBatch(ev, 5000000L, 2, 4))
  }

  test("w2e CMS top-k dual recovers pane and window cells across a restart") {
    // verdict r11 task 8 (post-task-2): the four chained stateful
    // operators' state — open pane counts, pane candidates, window CMS
    // cells, window collect — must all reload from one checkpoint and
    // finish bit-identical to the batch query on the full fixture.
    withRocksDb {
      val s = spark
      import s.implicits._
      val rnd = new scala.util.Random(7)
      val slideUs = graft.operators.PaneOps.PaneParams.default.slideUs
      // ~4 panes of skewed activity: user u's weight ~ 1/u over 12 users.
      // TIME-ORDERED before the phase split so no phase-2 event is late
      // against the watermark the phase-1 drain left behind (batch input
      // has no watermark and would keep late rows the stream dropped).
      val evs = (1 to 400).map { i =>
        val u = 1 + math.min(11, (12 * math.pow(rnd.nextDouble(), 3)).toInt)
        ((rnd.nextDouble() * 4 * slideUs).toLong, i.toLong, u.toLong)
      }.sortBy(_._1).map { case (ts, id, u) => line(id, ts, u, "click") }
      val (p1, p2base) = evs.splitAt(200)
      val p2 = p2base :+ line(9000L, 30L * 86400000000L, 1L, "click") // flush

      val in = tempDir("w2erec-in")
      val out = tempDir("w2erec-out")
      val ck = tempDir("w2erec-ck")
      def drain(): Unit = {
        val q = Sinks.file(StreamingPipelines.slidingTopkCmsPaneStream(
          StreamingPipelines.textFileSource(spark, in)), out, ck)
        try q.processAllAvailable() finally q.stop()
      }
      Files.writeString(java.nio.file.Paths.get(in, "p1.csv"),
        p1.mkString("", "\n", "\n"))
      drain()
      Files.writeString(java.nio.file.Paths.get(in, "p2.csv"),
        p2.mkString("", "\n", "\n"))
      drain()

      val stream = spark.read.parquet(out)
        .selectExpr("unix_micros(win_start)", "user_id", "est", "rnk")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.operators.PaneOps.slidingTopkCmsPane(
          StreamingPipelines.parseCsvLines((p1 ++ p2base).toDF("value")))
        .selectExpr("unix_micros(win_start)", "user_id", "est", "rnk")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(stream === batch,
        s"only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
      assert(batch.nonEmpty, "vacuous — no finalized windows")
    }
  }
}
