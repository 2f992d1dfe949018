package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.Sessions

/** Command-line arguments run.py passes to the JVM. */
final case class Args(workload: String, work: String, fixture: String, seed: Long,
    seconds: Int, trace: Boolean, digest: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("work"), m.getOrElse("fixture", ""), m("seed").toLong,
      m("seconds").toInt, m("trace") == "1", m("digest"), m("cores").toInt)
  }
}

/** JVM entry of the benchmark: one workload per process. Writes the run
  * record (timings, listener counters, spans) to `<work>/run.json`;
  * run.py turns it into metrics. */
object Main {
  /** Writes the run record: Scala maps and sequences, and Spark's progress
    * events as parsed JSON trees. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    if (a.digest != BuildStamp.digest) {
      System.err.println(s"graftbench: these classes were built from sources with digest " +
        s"${BuildStamp.digest}, but the checkout's sources have digest ${a.digest}; rebuild")
      sys.exit(3)
    }
    val s0 = Clock.nowMs
    val spark = Sessions.local(a.cores)
    val s1 = Clock.nowMs
    val trace = new Trace(a.trace, spark.sparkContext)
    trace.add("Sessions.local", -1, s0, s1, Map("cores" -> a.cores))
    val jobs = if (a.trace) Some(new JobRecorder) else None
    jobs.foreach(spark.sparkContext.addSparkListener)

    val result = a.workload match {
      case "batch_mixed" => BatchRun.run(spark, trace, a)
      case "stream_capstone" => StreamRun.run(spark, trace, a, new ProgressRecorder)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Stopping the context drains the listener bus, so every job and
    // stage event has been delivered before the counters are read.
    spark.stop()
    val groups = jobs.map { j =>
      val spanOfGroup = trace.all.collect { case s if s("group") != "" => s("group").toString -> s("id").asInstanceOf[Int] }.toMap
      j.addSpans(trace, spanOfGroup)
      j.byGroup
    }.getOrElse(Map.empty)

    val record = Map("workload" -> a.workload, "digest" -> a.digest, "cores" -> a.cores,
      "jvm_start_ms" -> Clock.jvmStartMs, "session_start_ms" -> s0, "session_ms" -> (s1 - s0),
      "groups" -> groups, "spans" -> trace.all) ++ result
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, "run.json"), json.writeValueAsString(record))
  }
}
