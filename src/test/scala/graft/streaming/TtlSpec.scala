package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Round-13 state-lifetime audit pins (see PLANS.md "State-lifetime
  * audit"): the opt-in processing-time TTL on the silent-key processors
  * actually evicts, and a TTL wider than the pattern horizon leaves
  * on-time semantics identical to the `ttl = None` wiring.
  *
  * TTL is wall-clock-driven, so the harness follows the
  * StaircaseWatermarkSpec discipline: `TimeMode.ProcessingTime` makes
  * `processAllAvailable()` unreliable as a barrier (the engine always
  * wants another batch), so every assertion polls the sink for a LATER
  * event's guaranteed emission first — proof the batch under test was
  * fully processed — then asserts on the evicted key's absence.
  * Sleeps only ever need to be LONGER than the TTL, never exact, so the
  * tests hold under arbitrary scheduling stalls. */
class TtlSpec extends SparkSpec {

  private def ev(id: Long, tsMs: Long, user: Long, typ: String): Ev =
    Ev(id, new Timestamp(tsMs), user, typ, 1.0)

  private def eventually(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      assert(System.currentTimeMillis() < deadline, s"timed out waiting for: $what")
      Thread.sleep(100)
    }
  }

  test("a TTL wider than the horizon leaves CEP semantics intact; a narrow one evicts pending anchors") {
    withRocksDb {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = s.sqlContext

      def run(name: String, ttl: Option[Duration]): Set[Long] = {
        val in = MemoryStream[Ev]
        val q = StatefulProcessors
          .cepSequence(in.toDS(), gapUs = 21600000000L, ttl = ttl)
          .writeStream.outputMode("append")
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .format("memory").queryName(name).start()
        try {
          def anchors(): Set[Long] =
            s.table(name).select("first_id").as[Long].collect().toSet
          in.addData(ev(1, 1000L, 9L, "signup"))
          eventually(s"$name batch 1 processed") {
            q.recentProgress.exists(_.numInputRows > 0)
          }
          Thread.sleep(1500L)
          // completes anchor 1 iff it survived; anchor 4's whole sequence
          // arrives in one batch so it ALWAYS completes (the liveness pin
          // that proves the earlier batch finished processing)
          in.addData(ev(2, 2000L, 9L, "click"), ev(3, 3000L, 9L, "purchase"),
            ev(4, 10000L, 9L, "signup"), ev(5, 11000L, 9L, "click"),
            ev(6, 12000L, 9L, "purchase"))
          eventually(s"$name anchor 4 match") { anchors().contains(4L) }
          anchors()
        } finally q.stop()
      }

      assert(run("ttl_cep_narrow", Some(Duration.ofMillis(400))) == Set(4L))
      assert(run("ttl_cep_wide", Some(Duration.ofHours(1))) == Set(1L, 4L))
    }
  }
}
