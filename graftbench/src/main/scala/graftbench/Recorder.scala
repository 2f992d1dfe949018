package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, so spans and phase
  * marks from one run share a clock with Spark's listener timestamps and
  * the generator's log. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Total GC time of the JVM so far, in ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full collections, in MiB: the live set. The second
    * collection reclaims what Spark's ContextCleaner released in reaction
    * to the first (broadcasts and shuffles whose handles were dropped). */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** In-memory spans around the benchmark's calls into the engine, written
  * out when the run ends. A disabled trace runs each body with no
  * bookkeeping and sets no Spark job group. A span that runs Spark work
  * sets its own job group (`span-<id>`), so [[JobRecorder]] can hang the
  * jobs and stages it launched under it. */
final class Trace(val on: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[(Int, Boolean)] = Nil
  private var nextId = 0

  def span[T](name: String, group: Boolean = false, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, group) :: stack
    if (group) sc.setJobGroup(s"span-$id", name)
    val start = Clock.nowMs
    try body
    finally {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> start,
        "end_ms" -> Clock.nowMs, "group" -> (if (group) s"span-$id" else ""), "attrs" -> attrs)
      stack = stack.tail
      stack.find(_._2) match {
        case Some((g, _)) => sc.setJobGroup(s"span-$g", "")
        case None => if (group) sc.clearJobGroup()
      }
    }
  }

  /** Spans recorded outside a body, e.g. a micro-batch rebuilt from its
    * progress event. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double, attrs: Map[String, Any]): Int = {
    val id = nextId
    nextId += 1
    spans += Map("id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> endMs, "group" -> "", "attrs" -> attrs)
    id
  }

  def all: Seq[Map[String, Any]] = spans.toSeq
}

/** Spark jobs, stages and SQL executions keyed by the job group that
  * launched them. Registered by the benchmark only in traced runs. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  private val jobs = TrieMap.empty[Int, Job]
  private val jobEnds = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stages = TrieMap.empty[(Int, Int), Stage]
  private val execGroup = TrieMap.empty[Long, String]
  private val execPlan = TrieMap.empty[Long, SparkPlanInfo]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs(e.jobId) = Job(groupOf(e.properties), e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds(e.jobId) = e.time

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages((si.stageId, si.attemptNumber())) = Stage(
      stageJob.getOrElse(si.stageId, -1), si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup(s.executionId) = s.jobGroupId.getOrElse("")
      execPlan.putIfAbsent(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execPlan(u.executionId) = u.sparkPlanInfo
    case _ =>
  }

  /** Shuffle exchanges in a plan: AQE's final plan lists each shuffle as
    * an `Exchange` node (broadcasts and reuses have other names). */
  private def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum

  /** Counters per job group. Read after the SparkContext has stopped, so
    * the listener bus has delivered every event. */
  def byGroup: Map[String, Map[String, Double]] = {
    val acc = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, Double]]
    def add(g: String, k: String, v: Double): Unit =
      acc.getOrElseUpdate(g, scala.collection.mutable.Map.empty[String, Double]).updateWith(k)(o => Some(o.getOrElse(0.0) + v))
    jobs.foreach { case (_, j) => add(j.group, "jobs", 1) }
    stages.values.foreach { s =>
      val g = jobs.get(s.job).map(_.group).getOrElse("")
      add(g, "stages", 1); add(g, "tasks", s.tasks); add(g, "executor_run_ms", s.runMs)
      add(g, "shuffle_write_bytes", s.shuffleWrite); add(g, "spill_bytes", s.spill)
    }
    execGroup.foreach { case (id, g) => add(g, "exchanges", execPlan.get(id).map(exchanges(_).toDouble).getOrElse(0.0)) }
    acc.map { case (g, m) => g -> m.toMap }.toMap
  }

  /** Jobs and their stages as child spans of the span whose group ran them. */
  def addSpans(trace: Trace, groupSpan: Map[String, Int]): Unit =
    jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
      groupSpan.get(j.group).foreach { parent =>
        val end = jobEnds.getOrElse(id, j.startMs)
        val js = trace.add("spark.job", parent, j.startMs.toDouble, end.toDouble, Map("job" -> id))
        stages.toSeq.filter(_._2.job == id).sortBy(_._1).foreach { case ((sid, _), s) =>
          trace.add("spark.stage", js, s.submitMs.toDouble, s.endMs.toDouble,
            Map("stage" -> sid, "tasks" -> s.tasks, "executor_run_ms" -> s.runMs,
              "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill))
        }
      }
    }
}

object JobRecorder {
  final case class Job(group: String, startMs: Long)
  final case class Stage(job: Int, submitMs: Long, endMs: Long, tasks: Int, runMs: Long,
      shuffleWrite: Long, spill: Long)
}

/** Every streaming progress event, with the time it arrived. Both stream
  * runs need it: event-to-emit latency is read from batch commits. */
final class ProgressRecorder extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val withData = TrieMap.empty[String, Int]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(Map("recv_ms" -> Clock.nowMs, "id" -> e.progress.id.toString,
      "progress" -> Main.json.readTree(e.progress.json)))
    if (e.progress.numInputRows > 0) withData.updateWith(e.progress.id.toString)(n => Some(n.getOrElse(0) + 1))
  }
  /** Committed micro-batches that read input, for a query id. */
  def dataBatches(id: String): Int = withData.getOrElse(id, 0)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => events.add(Map("recv_ms" -> Clock.nowMs, "id" -> e.id.toString, "error" -> x)))
  def all: Seq[Map[String, Any]] = events.asScala.toSeq
}
