package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (local[4], tiny shuffle fan-out) on
  * the harness mains' confs ([[Sessions.tuned]], without the SQL
  * extensions), and a temp root per suite ([[TempRoot]]). */
trait SparkSpec extends AnyFunSuite with TempRoot {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `f` on the RocksDB state store (transformWithState needs it),
    * restoring the session's previous provider afterwards. */
  protected def withRocksDb[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.tuned(SparkSession.builder().master("local[4]").appName("graft-tests"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
