package graftbench

import java.io.{BufferedReader, InputStreamReader}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Sessions
import graft.streaming.Jobs

/** The stream_capstone workload: `Jobs.courseUseCase` (window counts and
  * sessionized durations, two queries off one file source) fed by the
  * benchmark's generator process. The generator owns the input schedule;
  * this side owns the queries and follows run.py's commands on stdin, one
  * per phase boundary, answering each on stdout:
  *
  *   (start)   -> started   each query has committed its first batch, on the
  *                          file that landed before the JVM started; the
  *                          warm-up files follow
  *             -> warmed    each query has committed WarmBatches batches with
  *                          input; the steady files follow
  *   stop      -> stopped   everything written so far is committed; queries stopped
  *   restart   -> restarted (traced runs) restart on the checkpoint, commit the
  *                          probe file that landed meanwhile, stop again
  *   drain     -> done      restart on the checkpoint, commit the backlog and
  *                          write the sinks out for run.py's check
  *
  * Event-to-emit latency, catch-up rate and recovery are computed by run.py
  * from the progress events recorded here and the generator's log. */
object StreamRun {

  /** Batches with input each query commits before the steady phase: the
    * first ones pay for code generation, class loading and JIT, and late
    * events need a watermark that is one batch old before they are dropped.
    * The first batch runs on one pre-landed file before the open-loop
    * warm-up starts, so its cold cost does not pile up a backlog. */
  val WarmBatches = 5

  def run(spark: SparkSession, trace: Trace, a: Args, progress: ProgressRecorder): Map[String, Any] = {
    val dirs = Jobs.Dirs(s"${a.work}/in", s"${a.work}/out", s"${a.work}/ckpt")
    val control = new BufferedReader(new InputStreamReader(System.in))
    val marks = ArrayBuffer.empty[Map[String, Any]]
    val heap = ArrayBuffer.empty[Double]
    val queryNames = scala.collection.mutable.Map.empty[String, String]
    def mark(name: String): Unit = marks += Map("name" -> name, "ms" -> Clock.nowMs)
    def say(s: String): Unit = { println(s"graftbench:$s"); System.out.flush() }
    def await(cmd: String): Unit = {
      val line = control.readLine()
      require(line == cmd, s"expected '$cmd' on stdin, got '$line'")
    }
    def start(s: SparkSession, d: Jobs.Dirs): (StreamingQuery, StreamingQuery) =
      trace.span("streaming.start", group = true) {
        val (c, u) = Jobs.courseUseCase(s, d)
        queryNames(c.id.toString) = "counts"
        queryNames(u.id.toString) = "durations"
        (c, u)
      }
    def drainAndStop(qs: (StreamingQuery, StreamingQuery)): Unit =
      trace.span("streaming.stop") {
        qs._1.processAllAvailable(); qs._2.processAllAvailable()
        qs._1.stop(); qs._2.stop()
      }

    spark.streams.addListener(progress)
    var qs = start(spark, dirs)
    def awaitBatches(n: Int): Unit =
      while (progress.dataBatches(qs._1.id.toString) < n || progress.dataBatches(qs._2.id.toString) < n)
        Thread.sleep(20)
    awaitBatches(1)
    mark("started"); say("started")
    awaitBatches(WarmBatches)
    mark("warmed"); say("warmed")

    await("stop")
    mark("stop")
    qs._1.processAllAvailable(); qs._2.processAllAvailable()
    heap += Clock.liveHeapMb()
    drainAndStop(qs)
    mark("stopped")
    // The single-threaded baseline resumes from copies of the checkpoint
    // and the sinks (whose commit logs the checkpoint's batch ids expect).
    val baseline1 = Jobs.Dirs(dirs.in, s"${a.work}/out_local1", s"${a.work}/ckpt_local1")
    if (trace.on) { copyTree(dirs.ckpt, baseline1.ckpt); copyTree(dirs.out, baseline1.out) }
    say("stopped")

    if (trace.on) (1 to 3).foreach { i =>
      await("restart")
      mark(s"restart$i")
      trace.span("streaming.restart") { drainAndStop(start(spark, dirs)) }
      say("restarted")
    }

    await("drain")
    mark("drain")
    qs = trace.span("streaming.restart") { start(spark, dirs) }
    trace.span("streaming.catchup") { qs._1.processAllAvailable(); qs._2.processAllAvailable() }
    mark("drained")
    heap += Clock.liveHeapMb()
    qs._1.stop(); qs._2.stop()

    // The sinks, read back through their commit logs, for run.py's check.
    Seq("counts", "durations").foreach { q =>
      spark.read.parquet(s"${dirs.out}/$q").coalesce(1).write.parquet(s"${a.work}/verify/$q")
    }

    // Traced runs also drain the same backlog from the pre-backlog
    // checkpoint on one core: the single-threaded baseline.
    val baseline = if (!trace.on) Map.empty[String, Any] else {
      spark.stop()
      val one = Sessions.local(1)
      val t0 = Clock.nowMs
      val b = Jobs.courseUseCase(one, baseline1)
      b._1.processAllAvailable(); b._2.processAllAvailable()
      val t1 = Clock.nowMs
      b._1.stop(); b._2.stop()
      one.stop()
      Map("local1_drain_ms" -> (t1 - t0))
    }
    say("done")

    Map("marks" -> marks.toSeq, "live_heap_mb" -> heap.toSeq, "query_names" -> queryNames.toMap,
      "progress" -> progress.all) ++ baseline
  }

  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file._
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }
}
