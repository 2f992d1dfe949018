package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.ManifestedParquetSink

/** Manifested-sink soak (verdict-r12 task 5): StateSoak prices stateful
  * operators at 10⁶ keys; this prices the [[ManifestedParquetSink]]'s
  * per-batch O(file-count) manifest reconcile over thousands of batches —
  * the cost that actually bounds how long a live table can run between
  * maintenance passes.
  *
  * `runMain graft.SinkSoak [nBatches] [rowsPerBatch] [reclusterAt]`
  * (defaults 2000 / 100 / nBatches/2). Drives `sink.process(df, id)`
  * directly — the exact foreachBatch body, minus the streaming engine's
  * trigger overhead, so the numbers isolate the sink's own cost. Each
  * batch appends ONE file (worst case for manifest growth: file count ==
  * batch count).
  *
  * Two instruments:
  *  - per-batch `process()` wall time, averaged over 100-batch windows
  *    (write + rename + incremental refresh + versioned publish);
  *  - every 50 batches, one STANDALONE `refreshManifest()` timing — no
  *    new files, so it is the pure reconcile+publish cost at that file
  *    count: the curve whose slope says where refresh crosses a given
  *    micro-batch interval.
  *
  * At `reclusterAt` the soak runs `sink.recluster` (equi-depth Z rewrite
  * + atomic swap + fresh manifest) and keeps going — the file count and
  * both curves must RESET, which is the composition receipt: compaction
  * is not a separate tool, it is what flattens this exact curve.
  *
  * Output: one JSON line (windows, refresh points, recluster receipt,
  * fitted slope sec/1k-files before recluster, projected file count
  * where refresh crosses 1 s). Recorded in BASELINE.md.
  */
object SinkSoak {

  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(2000)
    val rowsPerBatch = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val reclusterAt = args.drop(2).headOption.map(_.toInt).getOrElse(nBatches / 2)

    val spark = Sessions.local(8, "graft-sink-soak")
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.hadoop.fs.Path

    val root = s"/tmp/graft_sink_soak"
    val dataDir = s"$root/data"
    val manifestDir = s"$root/manifest"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)

    // two manifest key columns: recluster's equi-depth Z-order needs a
    // 2..4-column interleave
    val sink = new ManifestedParquetSink(dataDir, manifestDir, Seq("k", "v"))

    def num(d: Double): String = Measure.num(d, 4)
    def fileCount(): Int =
      fs.listStatus(new Path(dataDir))
        .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))

    val batchSec = new Array[Double](nBatches)
    // (batch index, file count, standalone refresh sec): the batch index
    // is recorded so the regime fit below can split the series AT the
    // recluster event — filtering on file count alone re-admitted
    // post-recluster points once compaction reset the count below
    // reclusterAt, contaminating the "pre-recluster" slope (ADVICE r13)
    val refreshPts = Seq.newBuilder[(Int, Int, Double)]
    var reclusterJson = "null"

    (0 until nBatches).foreach { b =>
      val df = spark.range(b.toLong * rowsPerBatch, (b + 1).toLong * rowsPerBatch)
        .selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      val t0 = System.nanoTime()
      sink.process(df, b.toLong)
      batchSec(b) = (System.nanoTime() - t0) / 1e9

      if (b % 50 == 49) {
        val files = fileCount()
        val r0 = System.nanoTime()
        sink.refreshManifest(spark)
        val rSec = (System.nanoTime() - r0) / 1e9
        refreshPts += ((b, files, rSec))
        System.err.println(f"[sinksoak] batch ${b + 1}%5d  files $files%5d  " +
          f"process ${batchSec(b)}%6.3f s  pure refresh $rSec%6.3f s")
      }
      if (b + 1 == reclusterAt) {
        val t1 = System.nanoTime()
        val r = sink.recluster(spark, numFiles = 16, buckets = 256)
        val sec = (System.nanoTime() - t1) / 1e9
        reclusterJson = s"""{"at_batch":${b + 1},"files_before":${r.filesBefore},""" +
          s""""files_after":${r.filesAfter},"rows":${r.rows},"sec":${num(sec)}}"""
        System.err.println(f"[sinksoak] recluster at batch ${b + 1}: " +
          f"${r.filesBefore} -> ${r.filesAfter} files, ${r.rows} rows, $sec%.2f s")
      }
    }

    // 100-batch window means of the full per-batch process cost
    val windows = batchSec.grouped(100).zipWithIndex.map { case (w, i) =>
      s"""{"batches":"${i * 100 + 1}-${i * 100 + w.length}","mean_sec":${num(w.sum / w.length)}}"""
    }.toSeq

    // slope of the PURE refresh cost in the pre-recluster regime (linear
    // in file count by construction: reconcile lists the dir + collects
    // one row per file; publish rewrites the file-count-row manifest).
    // The regime split is on BATCH index, not file count: post-recluster
    // points start back at ~16 files and would otherwise re-enter a
    // file-count window and bias the fit (ADVICE r13).
    val pre = refreshPts.result().collect { case (b, f, s) if b < reclusterAt => (f, s) }
    val slopePer1k =
      if (pre.size >= 2) {
        val n = pre.size.toDouble
        val mx = pre.map(_._1.toDouble).sum / n
        val my = pre.map(_._2).sum / n
        val cov = pre.map { case (x, y) => (x - mx) * (y - my) }.sum
        val vx = pre.map { case (x, _) => (x - mx) * (x - mx) }.sum
        cov / vx * 1000.0
      } else 0.0
    val intercept =
      if (pre.nonEmpty) pre.map(_._2).sum / pre.size - slopePer1k / 1000.0 * (pre.map(_._1).sum.toDouble / pre.size)
      else 0.0
    // file count where a standalone refresh would cost 1 s at this slope
    val filesAt1s = if (slopePer1k > 0) ((1.0 - intercept) / (slopePer1k / 1000.0)).toLong else -1L

    val ptsJson = refreshPts.result()
      .map { case (b, f, s) => s"""[$b,$f,${num(s)}]""" }.mkString(",")
    println(s"""{"mode":"sink_soak","n_batches":$nBatches,"rows_per_batch":$rowsPerBatch,""" +
      s""""windows":[${windows.mkString(",")}],"refresh_points":[$ptsJson],""" +
      s""""recluster":$reclusterJson,"refresh_slope_sec_per_1k_files":${num(slopePer1k)},""" +
      s""""projected_files_at_1s_refresh":$filesAt1s,"final_files":${fileCount()},""" +
      // GC receipt: after nBatches appends (each publishing a version) +
      // nBatches/50 standalone refreshes, the manifest dir must hold
      // exactly the retention window (default 3), not thousands of vN dirs
      s""""retained_manifest_versions":${sink.versions().size},""" +
      s""""manifest_dir_entries":${fs.listStatus(new Path(manifestDir)).length}}""")
    spark.stop()
  }
}
