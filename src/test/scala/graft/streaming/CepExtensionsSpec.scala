package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** X4 (notFollowedBy) and X5 (times(3)) streaming CEP vs crafted
  * sequences and vs their batch duals. RocksDB provider, like the
  * other processors. */
class CepExtensionsSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, 0.0)

  /** Event at full MICROSECOND precision: getTime carries the millis,
    * the micros-within-milli ride in getNanos. */
  private def evU(id: Long, tsUs: Long, user: Long, typ: String): Ev = {
    val ms = tsUs / 1000L
    val t = new Timestamp(ms)
    t.setNanos((ms % 1000L).toInt * 1000000 + (tsUs % 1000L).toInt * 1000)
    Ev(id, t, user, typ, 0.0)
  }

  test("within-millisecond events process in microsecond order (ADVICE r9 pin)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSequence(in.toDS(), gapUs = 10000000L)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepus-ck"))
        .format("memory").queryName("cepus").start()
      try {
        // signup and click land in the SAME millisecond; the signup is
        // EARLIER in microseconds but has the LARGER event_id, so a
        // millisecond-granularity sort (ms, event_id) would process the
        // click first — before its anchor exists — and the sequence
        // would never complete. The us-precision sort the batch dual
        // uses must see signup -> click -> purchase and emit the match.
        in.addData(
          evU(1, 1000200L, 1, "click"),
          evU(2, 1000100L, 1, "signup"),
          evU(3, 5000000L, 1, "purchase"))
        q.processAllAvailable()
        val rows = s.table("cepus")
          .selectExpr("user_id", "first_id", "first_us", "second_us", "third_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(rows === Set((1L, 2L, 1000100L, 1000200L, 5000000L)),
          s"us-order processing broken: $rows")
      } finally q.stop()
    }
  }

  test("negation: error between signup and purchase vetoes; error after the match does not") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepNegation(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepneg-ck"))
        .format("memory").queryName("cepneg").start()
      try {
        in.addData(
          // user 1: clean signup -> purchase, no error — match
          ev(1, 1000, 1, "signup"), ev(2, 6000, 1, "purchase"),
          // user 2: error strictly between — veto
          ev(3, 1000, 2, "signup"), ev(4, 3000, 2, "error"), ev(5, 6000, 2, "purchase"),
          // user 3: error AFTER the earliest purchase — match stands
          ev(6, 1000, 3, "signup"), ev(7, 4000, 3, "purchase"), ev(8, 5000, 3, "error"),
          // user 4: purchase past the gap — no match
          ev(9, 1000, 4, "signup"), ev(10, 12001, 4, "purchase"),
          // user 5: error at the SAME microsecond as the purchase — the
          // batch blocker is strict (x.us < p_us), so the match stands
          ev(11, 1000, 5, "signup"), ev(12, 4000, 5, "error"), ev(13, 4000, 5, "purchase"))
        q.processAllAvailable()
        val rows = s.table("cepneg")
          .selectExpr("user_id", "first_id", "last_us")
          .as[(Long, Long, Long)].collect().toSet
        assert(rows === Set((1L, 1L, 6000000L), (3L, 6L, 4000000L), (5L, 11L, 4000000L)))

        // a vetoed anchor stays dead for later purchases
        in.addData(ev(20, 8000, 2, "purchase"))
        q.processAllAvailable()
        assert(s.table("cepneg").where("user_id = 2").count() === 0L)

        // cross-batch: state carries an un-vetoed anchor forward
        in.addData(ev(30, 1000, 6, "signup"))
        q.processAllAvailable()
        in.addData(ev(31, 7000, 6, "purchase"))
        q.processAllAvailable()
        assert(s.table("cepneg").where("user_id = 6").count() === 1L)
      } finally q.stop()
    }
  }

  test("times(3): relaxed contiguity within the substream, span gate, O(1) state") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepTimes(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("ceptimes-ck"))
        .format("memory").queryName("ceptimes").start()
      try {
        in.addData(
          // user 1: 4 clicks -> two overlapping triples; other types interleave
          ev(1, 1000, 1, "click"), ev(2, 2000, 1, "signup"), ev(3, 3000, 1, "click"),
          ev(4, 5000, 1, "click"), ev(5, 7000, 1, "click"),
          // user 2: 3 clicks but the span exceeds the gap — no match
          ev(6, 1000, 2, "click"), ev(7, 5000, 2, "click"), ev(8, 12000, 2, "click"))
        q.processAllAvailable()
        val rows = s.table("ceptimes")
          .selectExpr("user_id", "first_id", "c1_us", "c2_us", "c3_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(rows === Set(
          (1L, 1L, 1000000L, 3000000L, 5000000L),
          (1L, 3L, 3000000L, 5000000L, 7000000L)))

        // cross-batch: the last-two window carries forward
        in.addData(ev(10, 1000, 3, "click"), ev(11, 2000, 3, "click"))
        q.processAllAvailable()
        in.addData(ev(12, 3000, 3, "click"))
        q.processAllAvailable()
        assert(s.table("ceptimes").where("user_id = 3").count() === 1L)
      } finally q.stop()
    }
  }

  test("times(2..4): greedy cap, horizon-close finalization, sub-min runs die") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepTimesRange(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("ceprange-ck"))
        .format("memory").queryName("ceprange").start()
      try {
        in.addData(
          // user 1: 5 clicks in horizon — anchor 1 caps greedily at 4
          // (emits at the 4th member, never grows to 5); other types interleave
          ev(1, 1000, 1, "click"), ev(2, 1500, 1, "signup"), ev(3, 2000, 1, "click"),
          ev(4, 3000, 1, "click"), ev(5, 4000, 1, "click"), ev(6, 5000, 1, "click"),
          // user 2: 2 clicks, then a click past the gap — run of 2 finalizes
          ev(7, 1000, 2, "click"), ev(8, 3000, 2, "click"), ev(9, 12001, 2, "click"),
          // user 3: lone click, then one past the gap — run of 1 < min dies
          ev(10, 1000, 3, "click"), ev(11, 12001, 3, "click"))
        q.processAllAvailable()
        val rows = s.table("ceprange")
          .selectExpr("user_id", "first_id", "n_times", "last_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        // user 1: anchor 1 -> 4 members ending at 4000ms; anchor 3 -> caps
        // at 4 ending 5000ms; anchors 4,5,6 still pending (could grow)
        assert(rows === Set(
          (1L, 1L, 4L, 4000000L), (1L, 3L, 4L, 5000000L),
          (2L, 7L, 2L, 3000000L)))

        // cross-batch growth: a pending anchor finalizes on later evidence
        in.addData(ev(20, 30000, 1, "click")) // far beyond every open horizon
        q.processAllAvailable()
        val u1 = s.table("ceprange").where("user_id = 1")
          .selectExpr("first_id", "n_times").as[(Long, Long)].collect().toSet
        // anchor 4 had members 4,5,6 (n=3); anchor 5 members 5,6 (n=2); 6 alone dies
        assert(u1 === Set((1L, 4L), (3L, 4L), (4L, 3L), (5L, 2L)))
      } finally q.stop()
    }
  }

  test("oneOrMore: every anchor emits its full horizon, noSkip overlapping runs") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepOneOrMore(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepoom-ck"))
        .format("memory").queryName("cepoom").start()
      try {
        in.addData(
          // user 1: 3 clicks in horizon + a flush click far out
          ev(1, 1000, 1, "click"), ev(2, 3000, 1, "click"), ev(3, 5000, 1, "click"),
          ev(4, 30000, 1, "click"))
        q.processAllAvailable()
        val rows = s.table("cepoom")
          .selectExpr("user_id", "first_id", "n_times", "last_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        // noSkip: anchors 1, 2, 3 each emit with their in-horizon tail
        assert(rows === Set(
          (1L, 1L, 3L, 5000000L), (1L, 2L, 2L, 5000000L), (1L, 3L, 1L, 5000000L)))
      } finally q.stop()
    }
  }

  test("times(2..4): pending anchors survive a stop/restart checkpoint cycle") {
    withRocksDb {
      val s = spark
      import s.implicits._
      val in = java.nio.file.Paths.get(tempDir("ceprange-rec-in"))
      val out = tempDir("ceprange-rec-out")
      val ck = tempDir("ceprange-rec-ck")
      def write(name: String, evs: Seq[Ev]): Unit =
        java.nio.file.Files.writeString(in.resolve(name),
          evs.map(Generators.toCsvLine).mkString("", "\n", "\n"))
      def start() = Sinks.file(
        StatefulProcessors.cepTimesRange(
          StreamingPipelines.textFileSource(s, in.toString).as[Ev],
          gapUs = 10000000L).toDF(), out, ck)

      // phase 1: anchor 1 grows to count 2 (still growable), anchor 2 opens
      write("f0.csv", Seq(ev(1, 1000, 1, "click"), ev(2, 3000, 1, "click")))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // phase 2, NEW query on the same checkpoint: one more in-horizon
      // click must grow the RESTORED anchors, then an out-of-horizon
      // click finalizes them. If the ListState had reset, click 3 would
      // be a lone anchor, click 4 would kill it below min, and the
      // output would be EMPTY — restored state is the only way to the
      // expected rows.
      write("f1.csv", Seq(ev(3, 5000, 1, "click"), ev(4, 30000, 1, "click")))
      val q2 = start(); q2.processAllAvailable(); q2.stop()

      val rows = s.read.parquet(out)
        .selectExpr("user_id", "first_id", "n_times", "last_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows === Set((1L, 1L, 3L, 5000000L), (1L, 2L, 2L, 5000000L)),
        s"restored-anchor output wrong: $rows")
    }
  }

  test("stream matches the batch x6/x7 queries on a flushed fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val gapUs = 21600000000L
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      // one flush click per user, two horizons past the fixture end:
      // closes every pending anchor in the stream WITHOUT changing any
      // fixture match (beyond-horizon members never join a run; the
      // flush anchors themselves have no successors, so x6 filters them
      // and x7's flush rows are excluded from the compare by id)
      val maxTs = fixture.map(_.ts.getTime).max
      val maxId = fixture.map(_.event_id).max
      val flush = fixture.map(_.user_id).distinct.sorted.zipWithIndex.map {
        case (u, i) =>
          Ev(maxId + 1 + i, new Timestamp(maxTs + 2 * gapUs / 1000L), u, "click", 0.0)
      }
      val augmented = s.createDataset(fixture ++ flush)

      val inR = MemoryStream[Ev]
      val qR = StatefulProcessors.cepTimesRange(inR.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("ceprange-eq-ck"))
        .format("memory").queryName("ceprange_eq").start()
      val inO = MemoryStream[Ev]
      val qO = StatefulProcessors.cepOneOrMore(inO.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepoom-eq-ck"))
        .format("memory").queryName("cepoom_eq").start()
      try {
        // batch twins, evaluated over the SAME augmented event set by
        // swapping the registered query's source for a temp view
        augmented.toDF().createOrReplaceTempView("events_aug")

        inR.addData(fixture); inR.addData(flush.toSeq)
        qR.processAllAvailable()
        val streamR = s.table("ceprange_eq")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batchR = graft.operators.EventOps.cepTimesRangeBatch(
            s.table("events_aug"), gapUs, 2, 4)
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(streamR === batchR,
          s"x6 only-stream=${(streamR -- batchR).take(3)} only-batch=${(batchR -- streamR).take(3)}")
        assert(batchR.nonEmpty, "x6 fixture equivalence is vacuous — no matches")

        inO.addData(fixture); inO.addData(flush.toSeq)
        qO.processAllAvailable()
        val streamO = s.table("cepoom_eq")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batchO = graft.operators.EventOps.cepOneOrMoreBatch(
            s.table("events_aug"), gapUs)
          .where(s"event_id <= $maxId") // flush anchors close runs; they are not matches
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(streamO === batchO,
          s"x7 only-stream=${(streamO -- batchO).take(3)} only-batch=${(batchO -- streamO).take(3)}")
        assert(batchO.nonEmpty, "x7 fixture equivalence is vacuous — no matches")
      } finally { qR.stop(); qO.stop() }
    }
  }

  test("stream matches the batch x4/x5 queries on the fixture (in-order feed)") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq

      val inNeg = MemoryStream[Ev]
      val qNeg = StatefulProcessors.cepNegation(inNeg.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepneg-eq-ck"))
        .format("memory").queryName("cepneg_eq").start()
      val inTimes = MemoryStream[Ev]
      val qTimes = StatefulProcessors.cepTimes(inTimes.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("ceptimes-eq-ck"))
        .format("memory").queryName("ceptimes_eq").start()
      try {
        inNeg.addData(fixture)
        qNeg.processAllAvailable()
        val streamNeg = s.table("cepneg_eq")
          .selectExpr("user_id", "first_id", "first_us", "last_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        val batchNeg = SparkEntry.queries("x4_cep_negation")(s, sfDir)
          .selectExpr("user_id", "event_id", "unix_micros(signup_ts)", "unix_micros(purchase_ts)")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(streamNeg === batchNeg,
          s"only-stream=${(streamNeg -- batchNeg).take(3)} only-batch=${(batchNeg -- streamNeg).take(3)}")
        assert(batchNeg.nonEmpty, "x4 fixture equivalence is vacuous — no matches")

        inTimes.addData(fixture)
        qTimes.processAllAvailable()
        val streamTimes = s.table("ceptimes_eq")
          .selectExpr("user_id", "first_id", "c1_us", "c2_us", "c3_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batchTimes = SparkEntry.queries("x5_cep_times")(s, sfDir)
          .selectExpr("user_id", "event_id", "unix_micros(c1_ts)",
            "unix_micros(c2_ts)", "unix_micros(c3_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(streamTimes === batchTimes,
          s"only-stream=${(streamTimes -- batchTimes).take(3)} only-batch=${(batchTimes -- streamTimes).take(3)}")
        assert(batchTimes.nonEmpty, "x5 fixture equivalence is vacuous — no matches")
      } finally { qNeg.stop(); qTimes.stop() }
    }
  }

  test("skipPastLastEvent: non-overlapping greedy runs, O(1) state, cross-batch") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipPast(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepskip-ck"))
        .format("memory").queryName("cepskip").start()
      try {
        in.addData(
          // user 1: three clicks inside the first horizon, a fourth past
          // it (closes run 1, anchors run 2), a fifth past THAT (closes
          // run 2, anchors run 3 — pending). Interleaved non-clicks are
          // ignored. vs x7 (noSkip) this must emit exactly ONE run per
          // segment, never the overlapping per-anchor tails.
          ev(1, 1000, 1, "click"), ev(2, 1500, 1, "signup"),
          ev(3, 3000, 1, "click"), ev(4, 5000, 1, "click"),
          ev(5, 12000, 1, "click"), ev(6, 30000, 1, "click"),
          // user 2: lone click — no later click closes it, but the
          // watermark (30 s - 10 s delay) passes its horizon (1 s + 10 s)
          ev(7, 1000, 2, "click"))
        q.processAllAvailable()
        val rows = s.table("cepskip")
          .selectExpr("user_id", "first_id", "n_times", "last_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rows === Set(
          (1L, 1L, 3L, 5000000L), (1L, 5L, 1L, 12000000L), (2L, 7L, 1L, 1000000L)),
          s"skip-past segmentation wrong: $rows")

        // cross-batch: the pending run-3 anchor (click 6) grows with an
        // in-horizon click, then a beyond-horizon click finalizes n=2 —
        // only possible if the single-tuple state survived the batch
        in.addData(ev(10, 35000, 1, "click"))
        q.processAllAvailable()
        in.addData(ev(11, 60000, 1, "click"))
        q.processAllAvailable()
        val u1 = s.table("cepskip").where("user_id = 1")
          .selectExpr("first_id", "n_times").as[(Long, Long)].collect().toSet
        assert(u1 === Set((1L, 3L), (5L, 1L), (6L, 2L)), s"cross-batch wrong: $u1")
      } finally q.stop()
    }
  }

  test("skipPastLastEvent: the open match survives a stop/restart checkpoint cycle") {
    withRocksDb {
      val s = spark
      import s.implicits._
      val in = java.nio.file.Paths.get(tempDir("cepskip-rec-in"))
      val out = tempDir("cepskip-rec-out")
      val ck = tempDir("cepskip-rec-ck")
      def write(name: String, evs: Seq[Ev]): Unit =
        java.nio.file.Files.writeString(in.resolve(name),
          evs.map(Generators.toCsvLine).mkString("", "\n", "\n"))
      def start() = Sinks.file(
        StatefulProcessors.cepSkipPast(
          StreamingPipelines.textFileSource(s, in.toString).as[Ev],
          gapUs = 10000000L).toDF(), out, ck)

      // phase 1: a match opens (anchor 1) and grows to count 2
      write("f0.csv", Seq(ev(1, 1000, 1, "click"), ev(2, 3000, 1, "click")))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // phase 2, NEW query on the same checkpoint: an in-horizon click
      // grows the RESTORED match to 3, then a beyond-horizon click
      // closes it. A reset ValueState would make click 3 a fresh anchor
      // and the emitted match would read (3, n=1) — restored state is
      // the only way to (1, n=3).
      write("f1.csv", Seq(ev(3, 5000, 1, "click"), ev(4, 30000, 1, "click")))
      val q2 = start(); q2.processAllAvailable(); q2.stop()

      val rows = s.read.parquet(out)
        .selectExpr("user_id", "first_id", "n_times", "last_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows === Set((1L, 1L, 3L, 5000000L)),
        s"restored-match output wrong: $rows")
    }
  }

  test("stream matches the batch x8 query on a flushed fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val gapUs = 21600000000L
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      // flush clicks close each user's final open segment in the stream;
      // the flush anchors' own one-click segments (closed by batch
      // end-of-input) are excluded from the batch side by id
      val maxTs = fixture.map(_.ts.getTime).max
      val maxId = fixture.map(_.event_id).max
      val flush = fixture.map(_.user_id).distinct.sorted.zipWithIndex.map {
        case (u, i) =>
          Ev(maxId + 1 + i, new Timestamp(maxTs + 2 * gapUs / 1000L), u, "click", 0.0)
      }
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipPast(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepskip-eq-ck"))
        .format("memory").queryName("cepskip_eq").start()
      try {
        s.createDataset(fixture ++ flush).toDF()
          .createOrReplaceTempView("events_aug_x8")
        in.addData(fixture); in.addData(flush.toSeq)
        q.processAllAvailable()
        val stream = s.table("cepskip_eq")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = graft.operators.EventOps.cepSkipPastBatch(
            s.table("events_aug_x8"), gapUs)
          .where(s"event_id <= $maxId")
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"x8 only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "x8 fixture equivalence is vacuous — no matches")
      } finally q.stop()
    }
  }

  test("skipToLast: chains overlap by one event; singleton advance; cross-batch") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipToLast(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepskiplast-ck"))
        .format("memory").queryName("cepskiplast").start()
      try {
        in.addData(
          // run [1,2,3] closes at click 4 (beyond 1's horizon) and
          // RE-ANCHORS at click 3 — beyond 3's horizon too, so 3 also
          // emits its singleton (overlap-by-one chain, impossible under
          // x8); then [4,5] closes at 6, re-anchors at 5, singleton.
          ev(1, 1000, 1, "click"), ev(2, 3000, 1, "click"),
          ev(3, 5000, 1, "click"), ev(4, 20000, 1, "click"),
          ev(5, 25000, 1, "click"), ev(6, 45000, 1, "click"))
        q.processAllAvailable()
        val rows = s.table("cepskiplast")
          .selectExpr("user_id", "first_id", "n_times", "last_us")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rows === Set(
          (1L, 1L, 3L, 5000000L), (1L, 3L, 1L, 5000000L),
          (1L, 4L, 2L, 25000000L), (1L, 5L, 1L, 25000000L)),
          s"skipToLast chain wrong: $rows")

        // cross-batch: click 6 is the pending anchor; an in-horizon
        // click grows it, then a beyond-horizon click closes [6,7] and
        // re-anchors at 7 — only possible if the 5-field state survived
        in.addData(ev(7, 50000, 1, "click"))
        q.processAllAvailable()
        in.addData(ev(8, 90000, 1, "click"))
        q.processAllAvailable()
        val u1 = s.table("cepskiplast")
          .selectExpr("first_id", "n_times").as[(Long, Long)].collect().toSet
        assert(u1 === Set((1L, 3L), (3L, 1L), (4L, 2L), (5L, 1L),
          (6L, 2L), (7L, 1L)), s"cross-batch wrong: $u1")
      } finally q.stop()
    }
  }

  test("stream matches the batch x10 query on a flushed fixture") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val gapUs = 21600000000L
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      // flush clicks (2 gaps out) close each user's chain: the open
      // match emits, its last member's singleton emits, and the flush
      // anchors' own matches are excluded from the batch side by id
      val maxTs = fixture.map(_.ts.getTime).max
      val maxId = fixture.map(_.event_id).max
      val flush = fixture.map(_.user_id).distinct.sorted.zipWithIndex.map {
        case (u, i) =>
          Ev(maxId + 1 + i, new Timestamp(maxTs + 2 * gapUs / 1000L), u, "click", 0.0)
      }
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipToLast(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepskiplast-eq-ck"))
        .format("memory").queryName("cepskiplast_eq").start()
      try {
        s.createDataset(fixture ++ flush).toDF()
          .createOrReplaceTempView("events_aug_x10")
        in.addData(fixture); in.addData(flush.toSeq)
        q.processAllAvailable()
        val stream = s.table("cepskiplast_eq")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "last_us")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = graft.operators.EventOps.cepSkipToLastBatch(
            s.table("events_aug_x10"), gapUs)
          .where(s"event_id <= $maxId")
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "unix_micros(last_ts)")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"x10 only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "x10 fixture equivalence is vacuous — no matches")
        // distinctness from x8: anchors that are another match's last
        // member must exist (overlap-by-one — skipPast forbids them)
        val anchors = batch.map(_._2)
        val lastsByUser = batch.groupBy(_._1).view.mapValues(_.map(_._5)).toMap
        assert(batch.exists { case (u, a, n, fus, _) =>
          n == 1L && lastsByUser(u).exists(_ == fus) && anchors.contains(a) },
          "no overlap-by-one chains on the fixture — x10 degenerated to a segmentation")
      } finally q.stop()
    }
  }

  test("skipToNext: first match per anchor, overlap allowed, purchase clears pending") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val gapUs = 10000000L // 10 s
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipToNext(in.toDS(), gapUs = gapUs)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepnext-ck"))
        .format("memory").queryName("cepnext").start()
      try {
        in.addData(
          // user 1: two clicks then a purchase — BOTH anchors match the
          // SAME purchase (overlap: the skipToNext signature, impossible
          // under x8's skipPast); then a click whose first purchase is
          // beyond the horizon (fails silently); then a click+purchase
          // pair matching again.
          ev(1, 1000, 1, "click"), ev(2, 3000, 1, "click"),
          ev(3, 5000, 1, "purchase"), ev(4, 7000, 1, "click"),
          ev(5, 20000, 1, "purchase"), ev(6, 25000, 1, "click"),
          ev(7, 26000, 1, "purchase"),
          // user 2: purchase before any click, click with no purchase
          ev(8, 1000, 2, "purchase"), ev(9, 2000, 2, "click"))
        q.processAllAvailable()
        val rows = s.table("cepnext")
          .selectExpr("user_id", "first_id", "n_times", "end_id")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rows === Set(
          (1L, 1L, 2L, 3L), (1L, 2L, 1L, 3L), (1L, 6L, 1L, 7L)),
          s"skipToNext matching wrong: $rows")

        // cross-batch: a pending anchor (click 9, user 2) matches a
        // purchase arriving in a LATER batch — pending list + click
        // counter must both survive
        in.addData(ev(10, 4000, 2, "purchase"))
        q.processAllAvailable()
        val u2 = s.table("cepnext").where("user_id = 2")
          .selectExpr("first_id", "n_times", "end_id")
          .as[(Long, Long, Long)].collect().toSet
        assert(u2 === Set((9L, 1L, 10L)), s"cross-batch wrong: $u2")
      } finally q.stop()
    }
  }

  test("stream matches the batch x9 query on the fixture; matches overlap") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sfDir = "/root/testdata/sf0.001"
      val fixture = graft.Tables.t(s, sfDir, "events")
        .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
        .orderBy("ts", "event_id").as[Ev].collect().toSeq
      // no flush needed: anchors without an in-horizon purchase emit in
      // NEITHER engine (skipToNext matches only on purchase evidence)
      val in = MemoryStream[Ev]
      val q = StatefulProcessors.cepSkipToNext(in.toDS())
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation",
          tempDir("cepnext-eq-ck"))
        .format("memory").queryName("cepnext_eq").start()
      try {
        in.addData(fixture)
        q.processAllAvailable()
        val stream = s.table("cepnext_eq")
          .selectExpr("user_id", "first_id", "n_times", "first_us", "end_id", "end_us")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        val batch = SparkEntry.queries("x9_cep_skip_to_next")(s, sfDir)
          .selectExpr("user_id", "event_id", "n_times",
            "unix_micros(first_ts)", "end_id", "unix_micros(end_ts)")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        assert(stream === batch,
          s"x9 only-stream=${(stream -- batch).take(3)} only-batch=${(batch -- stream).take(3)}")
        assert(batch.nonEmpty, "x9 fixture equivalence is vacuous — no matches")
        // distinctness from x8: at least one end event is shared by two
        // anchors (overlapping matches — skipPast forbids this)
        val sharedEnds = batch.groupBy(_._5).filter(_._2.size >= 2)
        assert(sharedEnds.nonEmpty,
          "fixture produced no overlapping matches — x9 would be indistinguishable from a segmentation")
      } finally q.stop()
    }
  }
}
