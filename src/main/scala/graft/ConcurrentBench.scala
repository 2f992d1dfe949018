package graft

import org.apache.spark.sql.SparkSession

/** Mixed-workload throughput bench — `runMain graft.Bench concurrent
  * [streams,...]` (default 1,4,8). Every number Bench ever recorded is a
  * SOLO query on an idle 32-core host; a 1000-executor cluster runs a
  * mixed workload, where the question is not "how fast is one query"
  * but "how much does query B steal from query A". This runs the TPC-H
  * throughput-test shape over a pinned 20-query subset: N interleaved
  * streams, each executing the full subset once in a rotated order (so
  * no two streams hit the same query — or the same input table — at the
  * same time), against one shared SparkSession (Spark's scheduler is
  * thread-safe; concurrent actions interleave at stage granularity,
  * exactly like concurrent queries on a shared cluster).
  *
  * Reported per N: the aggregate WALL for all N streams, queries/sec,
  * and `throughput_x` = (N × sum-of-solo) / wall — the speedup over
  * running the same N×20 queries serially (1.0 = concurrency bought
  * nothing; N = perfect overlap, impossible once a single query already
  * saturates the cores). The host probes from the solo bench (GC delta
  * net of the bandwidth probe's own collections, multi-thread memory
  * bandwidth) are sampled around every N-run, so a
  * throughput collapse is attributable: flat bw + rising GC = heap
  * contention; collapsing bw = the memory bus, not the scheduler.
  *
  * MIXED mode — `runMain graft.Bench concurrent mixed [streams,...]`
  * (verdict-r12 task 4): a production cluster does not idle its
  * streaming ingest while analysts query; this mode runs ONE continuous
  * streaming ingest (Spark's `rate` source at a pinned rows/sec,
  * through the [[graft.streaming.ManifestedParquetSink]] — staging
  * write + rename + incremental manifest refresh + versioned publish
  * per micro-batch, the heaviest sink in the repo) and drives the same
  * N batch streams against it. Reported side by side, per N: batch
  * `throughput_x` (vs the same solo baseline, so the ingest's tax on
  * batch work is the delta vs plain-concurrent mode) and the ingest's
  * per-micro-batch `triggerExecution` latency — solo median vs
  * under-load median/p95 — plus the achieved ingest rows/sec, so
  * ingest-latency degradation and batch-throughput loss are one table.
  * Progress is collected by a listener, not `recentProgress` (which
  * caps at 100 entries and would silently drop the loaded window). */
object ConcurrentBench {

  /** Pinned subset — one or two per heavyweight family (multi-way join,
    * percentile selection, window suite, sketches, LSH, kNN, curation,
    * CEP, pane windows). Do not reorder: stream rotation assumes this
    * order is the unit of interleave. */
  val subset: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q9_product_profit", "q18_large_volume", "q_percentiles",
    "q_hll_sketch", "q_window_frames", "a1_window_count_5m",
    "a2b_running_sum_salted", "w2b_sliding_dd_pane", "w3_session_window",
    "j2_asof_join", "j3_interval_join", "d_exact_dedup",
    "d_minhash_lsh_pairs", "d_curate_corpus", "e_knn_brute",
    "t_tfidf", "x8_cep_skip_past")

  private def mkExec(spark: SparkSession, sfDir: String)(name: String): Unit =
    Measure.noop(SparkEntry.queries(name)(spark, sfDir))

  /** Untimed warm-up (scans + one full subset pass) and the min-of-2
    * solo baseline — shared by both modes so `throughput_x` is
    * comparable across them. */
  private def warmAndSolo(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val exec = mkExec(spark, sfDir) _
    Measure.warmUp(spark, sfDir, "conc")
    subset.foreach(exec)
    val solo = subset.map { name =>
      name -> (1 to 2).map(_ => Measure.seconds(exec(name))).min
    }
    solo.foreach { case (n, s) => System.err.println(f"[conc] solo $n%-24s $s%7.3f s") }
    solo
  }

  /** Run N rotated streams over the subset; returns (wall, per-stream secs). */
  private def nStreams(spark: SparkSession, sfDir: String, n: Int): (Double, Seq[Double]) = {
    val exec = mkExec(spark, sfDir) _
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val t0 = System.nanoTime()
    val streamSecs =
      try (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = Measure.seconds {
            val off = i * subset.size / math.max(1, n)
            (subset.drop(off) ++ subset.take(off)).foreach(exec)
          }
        })
      }.map(_.get())
      finally pool.shutdown()
    ((System.nanoTime() - t0) / 1e9, streamSecs)
  }

  def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    if (args.headOption.contains("mixed")) { runMixed(spark, sfDir, args.drop(1)); return }
    val streams = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 8))
    val solo = warmAndSolo(spark, sfDir)
    val soloSum = solo.map(_._2).sum

    val runs = streams.map { n =>
      val gc = Measure.gcWindow()
      val bw0 = Measure.bwGbps()
      val (wall, streamSecs) = nStreams(spark, sfDir, n)
      val bw1 = Measure.bwGbps()
      val gcDelta = gc.workloadMs
      val qps = n * subset.size / wall
      val tput = n * soloSum / wall
      System.err.println(f"[conc] n=$n%-2d wall $wall%7.2f s  ${qps}%5.2f q/s  " +
        f"throughput_x $tput%4.2f  stream secs ${streamSecs.map(s => f"$s%.1f").mkString("/")}  " +
        f"bw $bw0%4.1f->$bw1%4.1f GB/s  gc ${gcDelta}ms")
      Json.obj("n" -> n, "wall" -> wall, "qps" -> qps, "throughput_x" -> tput,
        "stream_sec" -> streamSecs, "gc_ms" -> gcDelta, "bw_gbps" -> Seq(bw0, bw1))
    }
    println(Json.render(Json.obj("metric" -> "concurrent", "sf" -> sfDir,
      "cores" -> Measure.cores(), "subset_n" -> subset.size, "solo_sum" -> soloSum,
      "solo" -> Json.Obj(solo), "runs" -> runs)))
    spark.stop()
  }

  /** All micro-batch progress of the session's streaming queries:
    * (wall ms at completion, triggerExecution ms, input rows). */
  private final class ProgressCollector
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val trig: Long =
        if (d.containsKey("triggerExecution")) d.get("triggerExecution").longValue() else 0L
      events.add((System.currentTimeMillis(), trig, e.progress.numInputRows))
    }
    def window(fromMs: Long, toMs: Long): Seq[(Long, Long)] = {
      import scala.jdk.CollectionConverters._
      events.asScala.toSeq.collect {
        case (t, trig, rows) if t >= fromMs && t <= toMs => (trig, rows)
      }
    }
  }

  /** Nearest-rank percentile of the batch latencies (ms); -1 when the
    * window caught no batch. */
  private def pct(xs: Seq[Long], p: Int): Long =
    if (xs.isEmpty) -1L else xs.sorted.apply(math.min(xs.size - 1, xs.size * p / 100))

  private def runMixed(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val streams = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 8))
    val ratePerSec = 20000L
    val triggerMs = 500L

    val solo = warmAndSolo(spark, sfDir)
    val soloSum = solo.map(_._2).sum

    val collector = new ProgressCollector
    spark.streams.addListener(collector)
    val root = "/tmp/graft_conc_mixed"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Start a fresh pinned-rate ingest; returns the query. */
    def startIngest(tag: String): org.apache.spark.sql.streaming.StreamingQuery = {
      fs.delete(new Path(s"$root/$tag"), true)
      val sink = new graft.streaming.ManifestedParquetSink(
        s"$root/$tag/data", s"$root/$tag/manifest", Seq("event_id"))
      val df = spark.readStream.format("rate")
        .option("rowsPerSecond", ratePerSec.toString)
        .option("numPartitions", "4").load()
        .selectExpr("value AS event_id", "timestamp AS ts",
          "pmod(value, 1000) AS user_id",
          "element_at(array('click','view','purchase','error'), cast(pmod(value, 4) AS int) + 1) AS event_type")
      df.writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/$tag/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$triggerMs milliseconds"))
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink.process(b, id))
        .start()
    }

    // Solo ingest baseline: no batch load, steady state after warmup.
    val soloQ = startIngest("solo")
    Thread.sleep(5000L) // warmup: codegen + first manifest versions
    val soloFrom = System.currentTimeMillis()
    Thread.sleep(10000L)
    val soloTo = System.currentTimeMillis()
    soloQ.stop()
    val soloWin = collector.window(soloFrom, soloTo)
    val soloMed = pct(soloWin.map(_._1), 50)
    System.err.println(s"[conc-mixed] ingest solo: ${soloWin.size} batches, " +
      s"median ${soloMed}ms, p95 ${pct(soloWin.map(_._1), 95)}ms")

    val runs = streams.map { n =>
      val q = startIngest(s"n$n")
      Thread.sleep(5000L)
      val gc = Measure.gcWindow()
      val bw0 = Measure.bwGbps()
      val from = System.currentTimeMillis()
      val (wall, streamSecs) = nStreams(spark, sfDir, n)
      val to = System.currentTimeMillis()
      val bw1 = Measure.bwGbps()
      val gcDelta = gc.workloadMs
      Thread.sleep(1500L) // let the last in-flight micro-batch report
      q.stop()
      val win = collector.window(from, to)
      val med = pct(win.map(_._1), 50)
      val p95v = pct(win.map(_._1), 95)
      val rowsDone = win.map(_._2).sum
      val achieved = if (wall > 0) rowsDone / wall else 0.0
      val qps = n * subset.size / wall
      val tput = n * soloSum / wall
      System.err.println(f"[conc-mixed] n=$n%-2d wall $wall%7.2f s  throughput_x $tput%4.2f  " +
        f"ingest med ${med}ms p95 ${p95v}ms (solo ${soloMed}ms)  " +
        f"achieved ${achieved}%.0f rows/s of $ratePerSec  gc ${gcDelta}ms")
      Json.obj("n" -> n, "wall" -> wall, "qps" -> qps, "throughput_x" -> tput,
        "stream_sec" -> streamSecs, "ingest_batches" -> win.size,
        "ingest_ms_median" -> med, "ingest_ms_p95" -> p95v,
        "ingest_rows_per_sec" -> achieved, "gc_ms" -> gcDelta,
        "bw_gbps" -> Seq(bw0, bw1))
    }
    spark.streams.removeListener(collector)
    println(Json.render(Json.obj("metric" -> "concurrent_mixed", "sf" -> sfDir,
      "cores" -> Measure.cores(), "subset_n" -> subset.size, "solo_sum" -> soloSum,
      "rate_rows_per_sec" -> ratePerSec, "trigger_ms" -> triggerMs,
      "ingest_solo_ms_median" -> soloMed,
      "ingest_solo_ms_p95" -> pct(soloWin.map(_._1), 95), "runs" -> runs)))
    spark.stop()
  }
}
