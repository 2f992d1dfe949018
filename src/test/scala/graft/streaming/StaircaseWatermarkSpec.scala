package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** T3 (EventTimeOperations.java:96-139): the wall-clock staircase
  * watermark as a stateful operator.
  *
  * Wall-clock-driven by design, so the harness differs from the other
  * streaming specs in two deliberate ways. First, `TimeMode.
  * ProcessingTime` makes the engine construct no-data micro-batches
  * continuously (`shouldRunAnotherBatch` is unconditionally true for
  * that mode), so `processAllAvailable()` NEVER RETURNS — every barrier
  * here polls the sink for the expected outcome under a deadline, and
  * the query runs on a real trigger interval to keep the no-data loop
  * from spinning. Second, assertions are written to hold under
  * arbitrary scheduling stalls: nothing asserts "window still open"
  * (a stalled host may legitimately advance the staircase), only
  * outcomes the policy guarantees eventually.
  */
class StaircaseWatermarkSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long): Ev =
    Ev(id, new Timestamp(tsMs), user, "click", 1.0)

  private def sleepPast(anchorMs: Long, deltaMs: Long): Unit =
    while (System.currentTimeMillis() <= anchorMs + deltaMs) Thread.sleep(25)

  /** Poll until `cond` holds; fail with `what` on deadline. */
  private def eventually(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out waiting for: $what")
      Thread.sleep(100)
    }
  }

  test("staircase advance closes elapsed windows, routes late events, and marks idleness") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext

      val windowMs = 200L
      val in = MemoryStream[Ev]
      val q = StatefulProcessors
        .staircaseWindows(in.toDS(), windowMs = windowMs, advanceMs = 1500L, bufferMs = 100L)
        .writeStream.outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .format("memory").queryName("staircase").start()
      try {
        def closedOldSum(beforeMs: Long): Long = s.table("staircase")
          .where(s"kind = 'closed' AND unix_millis(window_start) < $beforeMs")
          .selectExpr("coalesce(sum(n), 0)").as[Long].head()

        // Two events timestamped "now": their window ends ahead of the
        // effective watermark the first batch can pin, so they open.
        val t0 = System.currentTimeMillis()
        in.addData(ev(1, t0, 1), ev(2, t0 + 1, 1))

        // Past the staircase step, a third event jumps the base; the
        // effective watermark (now - 100ms) passes the first windows'
        // ends and both events close (as one window or two if they
        // straddled a 200ms boundary — the sum is what's guaranteed).
        sleepPast(t0, 2000)
        val t3 = System.currentTimeMillis()
        in.addData(ev(3, t3, 1))
        val e3ws = Math.floorDiv(t3, windowMs) * windowMs
        eventually("batch-1 windows close after the staircase jump") {
          closedOldSum(e3ws) == 2L
        }

        // An event timestamped back in a closed window routes as late:
        // its window end sits behind the applied watermark for certain
        // (closedUpTo >= t3 - 100ms > t0 + 200ms).
        in.addData(ev(4, t0, 1))
        eventually("stale-timestamped event routed late") {
          s.table("staircase").where("kind = 'late'").count() == 1L
        }

        // Silence past the staircase step: the armed processing-time
        // timer plays onPeriodicEmit and marks the key idle. Open
        // windows deliberately do NOT flush — an idle source stalls its
        // watermark (markIdle only releases other sources').
        eventually("idleness marker after a silent staircase step") {
          s.table("staircase").where("kind = 'idle'").count() >= 1L
        }
        val out = s.table("staircase")
          .selectExpr("user_id", "kind").as[(Long, String)].collect()
        assert(out.forall(_._1 == 1L))
        assert(out.map(_._2).toSet.subsetOf(Set("closed", "late", "idle")))
        // Policy invariant under any stall: exactly the two batch-1
        // events ever close before e3's window.
        assert(closedOldSum(e3ws) === 2L)
      } finally q.stop()
    }
  }

  /** Deterministic parity pin for the idle-exclusion fix (Flink
    * `WatermarkOutputMultiplexer`): membership in the channel-min is
    * decided ONLY by the idle mark — the pure policy function has no
    * `now` parameter at all, so an elapsed-time early-exclusion
    * regression cannot be expressed through it. The wall-clock tests
    * below prove the end-to-end release; this pins the policy itself
    * without any scheduler in the loop. */
  test("channel-min parity pin: a quiet channel stays in the min until idle-marked") {
    import StatefulProcessors.channelMin
    val floor = Long.MinValue
    val bases = Seq(0 -> 10000L, 1 -> 1000L) // channel 1 quiet for ages
    // not marked: the stale base still gates the min
    assert(channelMin(floor, bases.iterator, _ => false, 100L) === 900L)
    // marked: markIdle releases the other channels
    assert(channelMin(floor, bases.iterator, _ == 1, 100L) === 9900L)
    // every channel idle: the watermark holds at the applied floor
    assert(channelMin(5000L, bases.iterator, _ => true, 100L) === 5000L)
    // monotone: the combine never regresses below the floor
    assert(channelMin(5000L, Seq(0 -> 1000L).iterator, _ => false, 100L) === 5000L)
  }

  /** T3 at reference scope (per source PARTITION, not per key): two
    * partitions advance at different rates; the operator watermark is the
    * channel MIN over non-idle partitions, and an idle partition is
    * EXCLUDED from the min — without that exclusion the windows below
    * could never close, so the eventual close IS the proof of Flink's
    * markIdle release semantics. Assertions follow this suite's
    * stall-robust discipline: only outcomes the policy guarantees
    * eventually, never "still open right now". */
  test("per-partition staircases: channel-min combine, idle release, late tagging") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext

      val windowMs = 200L
      val in = MemoryStream[StatefulProcessors.PartEv]
      val q = StatefulProcessors
        .staircaseWindowsByPartition(in.toDS(), windowMs = windowMs,
          advanceMs = 1500L, bufferMs = 100L)
        .writeStream.outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .format("memory").queryName("pstaircase").start()
      try {
        def closedOldSum(beforeMs: Long): Long = s.table("pstaircase")
          .where(s"kind = 'closed' AND unix_millis(window_start) < $beforeMs")
          .selectExpr("coalesce(sum(n), 0)").as[Long].head()

        def pev(id: Long, tsMs: Long, part: Int): StatefulProcessors.PartEv =
          StatefulProcessors.PartEv(part, ev(id, tsMs, 1))

        // One event on each partition: both staircases pin, both windows
        // open (or close immediately under a large host stall — either
        // way the eventual sum below is exactly 2).
        val t0 = System.currentTimeMillis()
        in.addData(pev(1, t0, 0), pev(2, t0 + 1, 1))

        // Past the staircase step, partition 0 alone advances; partition
        // 1 has gone quiet. If the stale partition-1 base stayed in the
        // min, the combined watermark could never pass the first windows'
        // ends — the close below happens ONLY because idle channels are
        // excluded (markIdle releases the other sources).
        sleepPast(t0, 2000)
        val t3 = System.currentTimeMillis()
        in.addData(pev(3, t3, 0))
        val e3ws = Math.floorDiv(t3, windowMs) * windowMs
        eventually("idle partition 1 excluded from the min; old windows close") {
          closedOldSum(e3ws) == 2L
        }

        // A stale-timestamped event on partition 1: its window end sits
        // behind the applied watermark for certain, so it routes late,
        // tagged with ITS source partition (and reactivates the channel).
        in.addData(pev(4, t0, 1))
        eventually("stale event routed late with its partition id") {
          s.table("pstaircase").where("kind = 'late' AND partition_id = 1").count() == 1L
        }

        // Silence: each partition's generator is marked idle (final
        // watermark emitted once per quiescence — partition 0 never
        // reactivates after its marker, partition 1 may mark, reactivate
        // on event 4, and mark again).
        eventually("both partitions marked idle") {
          s.table("pstaircase").where("kind = 'idle' AND partition_id = 0").count() >= 1L &&
            s.table("pstaircase").where("kind = 'idle' AND partition_id = 1").count() >= 1L
        }

        val rows = s.table("pstaircase")
          .selectExpr("partition_id", "kind").as[(Int, String)].collect()
        assert(rows.map(_._2).toSet.subsetOf(Set("closed", "late", "idle")))
        // windowAll output belongs to no single partition; idle/late rows
        // carry a real partition id.
        assert(rows.filter(_._2 == "closed").forall(_._1 == -1))
        assert(rows.filter(r => r._2 == "idle" || r._2 == "late").forall(r => r._1 == 0 || r._1 == 1))
        // Policy invariant under any stall: exactly the two first-batch
        // events ever close before e3's window (the late event never
        // re-opens a closed window).
        assert(closedOldSum(e3ws) === 2L)
      } finally q.stop()
    }
  }
}
