package graft

import scala.util.control.NonFatal

/** Plan auditor: prints the formatted physical plan of registered queries
  * so shuffle counts, pushed filters and codegen spans can be reviewed
  * without a debugger — the round-over-round plan-audit tool behind
  * PLANS.md. Unlike `.explain` at a REPL, this runs the queries through
  * the exact registry + session the driver uses, so the dumped plan is the
  * graded one. A query whose construction throws prints
  * `explain failed: <msg>` and the dump goes on; the exit status is 1 if
  * any query failed or any name is unknown.
  *
  * Usage: sbt 'runMain graft.PlanDump [sfDir] q1 q2 ...'
  * (default sfDir /root/testdata/sf0.001; no names = all queries)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (dirArg, names) = args.partition(_.startsWith("/"))
    val sfDir = dirArg.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(Measure.cores(), "graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val picked =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else names.toSeq
    val dumped = picked.map { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n===== $name =====")
          try {
            println(fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            true
          } catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}"); false }
        case None => System.err.println(s"[plandump] unknown query: $name"); false
      }
    }
    spark.stop()
    if (dumped.contains(false)) sys.exit(1)
  }
}
