package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming ordered funnel (the stateful dual of a9_funnel): advances
  * emit in-flight, steps must arrive in order and strictly after the
  * previous advance, and the stage survives across micro-batches.
  */
class FunnelSpec extends SparkSpec {

  private def ev(id: Long, sec: Long, user: Long, typ: String): Ev =
    Ev(id, new Timestamp(sec * 1000L), user, typ, 1.0)

  test("steps advance only in order, across batches, and out-of-order types don't") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors.funnelAdvances(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel1").start()
    try {
      // user 1: signup then a premature purchase (ignored) then view.
      // user 2: starts with view — never advances without a signup.
      in.addData(ev(1, 10, 1, "signup"), ev(2, 11, 1, "purchase"),
        ev(3, 12, 1, "view"), ev(4, 10, 2, "view"))
      q.processAllAvailable()
      // next batch: state carried over — user 1 clicks then purchases;
      // a duplicate signup is ignored (stage already past it).
      in.addData(ev(5, 20, 1, "click"), ev(6, 21, 1, "signup"),
        ev(7, 22, 1, "purchase"))
      q.processAllAvailable()

      val got = s.table("funnel1")
        .selectExpr("user_id", "step", "step_name", "cast(ts AS long)")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(got === Set(
        (1L, 1, "signup", 10L), (1L, 2, "view", 12L),
        (1L, 3, "click", 20L), (1L, 4, "purchase", 22L)))
    } finally q.stop()
    }
  }

  test("a same-timestamp next step does not advance (strictly-after rule)") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val in = MemoryStream[Ev]
    val q = StatefulProcessors.funnelAdvances(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel2").start()
    try {
      in.addData(ev(1, 10, 7, "signup"), ev(2, 10, 7, "view"))
      q.processAllAvailable()
      val got = s.table("funnel2")
        .selectExpr("user_id", "step").as[(Long, Int)].collect().toSet
      assert(got === Set((7L, 1)))
    } finally q.stop()
    }
  }
}
