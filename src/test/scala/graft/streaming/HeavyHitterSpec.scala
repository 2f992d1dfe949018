package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Space-saving heavy hitters: bounded counters, increment-or-inherit
  * eviction, cross-batch state, and the frequent-item guarantee.
  */
class HeavyHitterSpec extends SparkSpec {

  private var nextId = 0L
  private def ev(sec: Long, typ: String): Ev = {
    nextId += 1
    Ev(nextId, new Timestamp(sec * 1000L), 1L, typ, 1.0)
  }

  /** Latest (est, err) per item from the append log — the documented
    * consumer rule: est only grows while an item holds a counter, a
    * re-inserted item's est strictly exceeds its pre-eviction est, and an
    * eviction tombstone (err = -1) carries the est it was evicted at — so
    * the row with lexicographically max (est, err == -1) is the newest,
    * no sink row order needed. err == -1 in the result means "currently
    * untracked". */
  private def latest(rows: Seq[(String, Long, Long)]): Map[String, (Long, Long)] =
    rows.groupBy(_._1)
      .map { case (item, hits) =>
        val r = hits.maxBy(h => (h._2, h._3 == -1L))
        item -> (r._2, r._3)
      }

  test("bounded counters: increment, inherit-on-evict, hot items survive") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[Ev]
    // shards=1 so one processor sees every item; capacity 2 forces
    // eviction as soon as a third distinct item arrives.
    val q = StatefulProcessors.heavyHitters(in.toDS(), capacity = 2, shards = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("hh").start()
    try {
      // batch 1: a dominates, b present — both fit, exact counts
      in.addData(ev(1, "a"), ev(2, "a"), ev(3, "a"), ev(4, "b"))
      q.processAllAvailable()
      var m = latest(s.table("hh")
        .selectExpr("item", "est", "err").as[(String, Long, Long)].collect().toSeq)
      assert(m("a") === ((3L, 0L)))
      assert(m("b") === ((1L, 0L)))

      // batch 2: c arrives at capacity — evicts the min (b, est 1) and
      // inherits its estimate: est 2, err 1. State crossed the batch.
      in.addData(ev(5, "c"), ev(6, "a"))
      q.processAllAvailable()
      m = latest(s.table("hh")
        .selectExpr("item", "est", "err").as[(String, Long, Long)].collect().toSeq)
      assert(m("a") === ((4L, 0L))) // hot item untouched by eviction
      assert(m("c") === ((2L, 1L))) // 1 true + 1 inherited; err bounds it
      // overcount-only invariant: est - err == true count lower bound
      assert(m("c")._1 - m("c")._2 === 1L)
      // eviction emitted a tombstone: b is flagged untracked, not frozen
      // at its stale (1, 0) estimate
      assert(m("b") === ((1L, -1L)))

      // batch 3: b re-enters — evicts c (min, est 2), inherits est 3.
      // Its live row supersedes the tombstone; c gets its own tombstone.
      in.addData(ev(7, "b"))
      q.processAllAvailable()
      m = latest(s.table("hh")
        .selectExpr("item", "est", "err").as[(String, Long, Long)].collect().toSeq)
      assert(m("b") === ((3L, 2L))) // strictly above pre-eviction est 1
      assert(m("c") === ((2L, -1L)))
      } finally q.stop()
    }
  }

  test("sharding splits the domain; per-item counts stay exact within a shard") {
    withRocksDb {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[Ev]
    val q = StatefulProcessors.heavyHitters(in.toDS(), capacity = 4, shards = 8)
      .writeStream.outputMode("append")
      .format("memory").queryName("hh_sharded").start()
    try {
      val data = Seq.fill(5)(ev(1, "x")) ++ Seq.fill(3)(ev(2, "y")) ++ Seq(ev(3, "z"))
      in.addData(data: _*)
      q.processAllAvailable()
      val m = latest(s.table("hh_sharded")
        .selectExpr("item", "est", "err").as[(String, Long, Long)].collect().toSeq)
      // under capacity everywhere -> space-saving degenerates to exact
      assert(m("x") === ((5L, 0L)))
      assert(m("y") === ((3L, 0L)))
      assert(m("z") === ((1L, 0L)))
      // each item reports from exactly one shard
      val shards = s.table("hh_sharded")
        .selectExpr("item", "shard").as[(String, Int)].collect().toSet
      assert(shards.groupBy(_._1).forall(_._2.size === 1))
      } finally q.stop()
    }
  }
}
