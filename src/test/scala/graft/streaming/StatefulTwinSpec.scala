package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, SparkSpec}

/** The X1/X2 streaming duals ([[StatefulOps]]) equal their registered
  * batch twins on the sf0.001 events fixture, whose timestamps carry
  * microseconds: the duals order and subtract full event-time micros,
  * as the twins' `unix_micros` does. The fixture goes in as three
  * ts-ordered micro-batches, so the state crosses batch boundaries. */
class StatefulTwinSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def assertSameRows(dual: DataFrame, twin: DataFrame, what: String): Unit = {
    val onlyDual = dual.except(twin).collect()
    val onlyTwin = twin.except(dual).collect()
    assert(onlyDual.isEmpty && onlyTwin.isEmpty,
      s"$what: only-dual=${onlyDual.take(3).toSeq} only-twin=${onlyTwin.take(3).toSeq}")
    assert(twin.count() > 0, s"$what: vacuous, the twin is empty")
  }

  private def runDual[T](name: String)(dual: Dataset[Ev] => Dataset[T]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val fixture = graft.Tables.t(s, sfDir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "cast(value AS double) AS value")
      .orderBy("ts", "event_id").as[Ev].collect().toSeq
    assert(fixture.exists(_.ts.getNanos % 1000000 != 0), "fixture has no sub-millisecond ts")
    val in = MemoryStream[Ev]
    val q = dual(in.toDS()).toDF().writeStream.outputMode("append")
      .option("checkpointLocation", tempDir(s"$name-ck"))
      .format("memory").queryName(name).start()
    try {
      fixture.grouped((fixture.size + 2) / 3).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.table(name)
  }

  test("X1 dual (doubleEventAlerts) equals x1_double_event_alert on the fixture") {
    val dual = runDual("x1_dual")(
      StatefulOps.doubleEventAlerts(_, watch = "error", thresholdUs = 21600000000L))
    val twin = SparkEntry.queries("x1_double_event_alert")(spark, sfDir)
    assertSameRows(dual.select(twin.columns.map(dual.col): _*), twin, "x1")
  }

  test("X2 dual (sessionizeActions) equals x2_sessionize on the fixture") {
    val dual = runDual("x2_dual")(StatefulOps.sessionizeActions(_, clearOn = "error"))
    val twin = SparkEntry.queries("x2_sessionize")(spark, sfDir)
    assertSameRows(dual.select(twin.columns.map(dual.col): _*), twin, "x2")
  }
}
