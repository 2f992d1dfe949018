package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.ListenerBusDrain

/** The measurement core every harness `main` shares: the core count, the
  * noop-sink action and wall timer, the fixture warm-up, the min-of-passes
  * timer, and the host probe (a fixed spin workload beside a multi-thread
  * memory-bandwidth copy) with the `host_ratio` divisor it feeds. One copy
  * each, so a Profile receipt, a Bench gate and a StreamBench gate always
  * normalize by the same arithmetic. See BASELINE.md "Bench gate
  * normalization" and "Memory-bandwidth probe" for the calibration.
  */
object Measure {

  /** `SPARK_GRAFT_CPUS`, defaulting to the host's full core count: an
    * unset variable must not quietly run at local[4] on a 32-core box,
    * and every harness must agree on it so their receipts compare. */
  def cores(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fixed-point number text, as [[Json]] writes numbers. Locale.ROOT:
    * the JVM default locale may use a decimal comma, which is not a JSON
    * number. */
  def num(d: Double, digits: Int = 3): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, d)

  /** True median for either parity (ADVICE r14: the upper-middle element
    * alone biases toward the lower sample whenever the count is even). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Materializes `df` with the `noop` sink: full computation and row
    * serialization, no disk. `.count()` would let Catalyst prune every
    * non-aggregated column and under-measure projection-heavy plans. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Spark jobs started in `sc` since registration, counted by a
    * listener. `count()` drains the listener bus first, so every job
    * submitted before the call is in the figure. */
  final class JobCounter(sc: org.apache.spark.SparkContext) extends SparkListener {
    private val started = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    sc.addSparkListener(this)
    def count(): Long = { ListenerBusDrain(sc); started.get }
    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Untimed warm-up: scan every fixture table once so the first timed
    * pass is plan cost, not parquet-footer cost. A table missing from
    * `sfDir` is reported, not swallowed — a misconfigured directory must
    * not silently skip the warm-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Tables.all.foreach { t =>
      try noop(Tables.t(spark, sfDir, t))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warm-up skipping table '$t' in $sfDir: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      }
    }

  /** Runs `body` `passes` times, each after `before` (e.g. a cache
    * drop, which stays outside the timed window), prints
    * `[tag] label  min s  (passes: a/b)` and returns the minimum wall
    * seconds — the steady-state figure under this host's roving stalls. */
  def minOfPasses(tag: String, label: String, passes: Int,
      before: () => Unit = () => (), labelWidth: Int = 28)(body: => Unit): Double = {
    val ts = (1 to passes).map { _ => before(); seconds(body) }
    println(s"[%s] %-${labelWidth}s %8s s  (passes: %s)".format(tag, label,
      num(ts.min, 2), ts.map(num(_, 2)).mkString("/")))
    ts.min
  }

  /** Spin calibration: a fixed single-thread xorshift workload whose
    * nominal time is constant, so the spread of its samples IS the
    * roving-stall band. */
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("") // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** Clean-host calibration constants of the normalization divisor:
    * the spin workload's nominal ms and the bandwidth probe's floor
    * GB/s on this hardware family (~58-68 GB/s clean). */
  val SpinRefMs = 100.0
  val BwRefGbps = 58.0

  /** Multi-thread stream-copy probe: `threads` workers each copy a
    * 64 MiB long array (well past any L3) `reps` times; the aggregate
    * GB/s (read + write) is the host's effective memory bandwidth at the
    * moment of the sample. Motivation (round-11 forensics): the roving
    * host band showed up as a ~7% DIFFUSE inflation on bit-identical
    * plans while the single-thread spin probe read clean — a shared-
    * memory-bus effect a compute-bound probe cannot see. */
  private val bwThreads = 8
  private val bwLongs = (64 << 20) / 8
  // ADVICE r13: the probe buffers are allocated ONCE and reused across
  // every sample — re-allocating 1 GiB of long arrays per sample was
  // itself an OOM risk on smaller heaps and injected allocation+GC churn
  // into the very gc_ms delta the harnesses use for stall attribution
  private lazy val bwPairs = {
    val pairs = Array.fill(bwThreads)(
      (new Array[Long](bwLongs), new Array[Long](bwLongs)))
    pairs.foreach { case (s, d) => s(0) = 1L; d(0) = 1L; s(bwLongs - 1) = 1L }
    pairs
  }

  /** GC wall time this JVM accumulated inside [[bwGbps]] calls (buffer
    * allocation included), so [[GcWindow]] can keep the probe's own
    * collection churn out of the workload's GC delta. */
  private val bwProbeGcMs = new AtomicLong(0L)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def bwGbps(threads: Int = bwThreads): Double = {
    val reps = 4
    val gc0 = gcMs()
    val pairs = bwPairs.take(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val sec = seconds {
      try pairs.map { case (s, d) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var r = 0
            while (r < reps) { System.arraycopy(s, 0, d, 0, bwLongs); r += 1 }
          }
        })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    bwProbeGcMs.addAndGet(math.max(0L, gcMs() - gc0))
    // bytes touched = copies * (read + write)
    threads.toLong * reps * bwLongs * 8L * 2L / sec / 1e9
  }

  /** GC wall time since [[gcWindow]] was opened, split into the
    * bandwidth probe's own share and the rest (the workload's). */
  final class GcWindow private[Measure] (gc0: Long, probe0: Long) {
    def probeMs: Long = bwProbeGcMs.get() - probe0
    def workloadMs: Long = math.max(0L, gcMs() - gc0 - probeMs)
  }
  def gcWindow(): GcWindow = new GcWindow(gcMs(), bwProbeGcMs.get())

  /** Hypervisor steal from /proc/stat: (steal ticks, all ticks) of the
    * aggregate "cpu" line; None where the file is unreadable. */
  def stealTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val toks = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (toks(7), toks.sum)
    }.toOption

  /** The host normalization divisor and its two terms. */
  final case class HostRatio(spinRatio: Double, bwMedian: Double,
      bwRatio: Double, value: Double)

  /** host_ratio = clamp(spin_ratio x bw_ratio, 1, 3), where
    *  - spin_ratio = clamp(min(spins) / SpinRefMs, 1, 3) — MIN, because
    *    stall contamination only inflates a spin sample; a min above 1
    *    means the host is SUSTAINED-slower than the calibration host.
    *  - bw_ratio = clamp(BwRefGbps / median(bws), 1, 2) — MEDIAN, not
    *    min: a stall DEFLATES a bandwidth sample (the copy threads get
    *    starved), so the min would overstate the band. Capped at 2 so
    *    dips deeper than the worst band ever observed (0.53x) stay
    *    visible instead of excused.
    * The two terms measure disjoint effects (the band fingerprint is a
    * bandwidth dip with flat spin); the combined 3x ceiling keeps a
    * doubly-degraded host from excusing an arbitrarily slow run. Seconds
    * divide by `value`; rows/s multiply by it. */
  def hostRatio(spins: Seq[Double], bws: Seq[Double]): HostRatio = {
    val spinRatio = (spins.min / SpinRefMs).max(1.0).min(3.0)
    val bwMedian = median(bws)
    val bwRatio = (BwRefGbps / bwMedian).max(1.0).min(2.0)
    HostRatio(spinRatio, bwMedian, bwRatio, (spinRatio * bwRatio).max(1.0).min(3.0))
  }
}
