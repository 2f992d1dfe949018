package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.IvfPqIndex

/** Span-vs-union pruning receipt (round-16 verdict task 4): the r15
  * `IvfPqIndex.query` pruned the coded scan to the probed cells'
  * [min, max] SPAN with a "near-exact post-recluster" argument but no
  * measurement. This prints the measurement: for EVERY distinct pair of
  * coarse cells (the nprobe=2 probe plans), the number of files a
  * span-pruned scan opens vs the union-of-runs scan the query now uses
  * (`scanPrunedAny`), on (a) a fragmented multi-batch pre-recluster
  * index and (b) the same index after recluster-by-cell. Files-opened
  * is exact manifest arithmetic — `scanPrunedAny` reads precisely the
  * kept set.
  *
  * `runMain graft.PruneReceipt [sfDir]` (default sf0.01). One JSON
  * line; recorded in BASELINE.md.
  */
object PruneReceipt {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(Measure.cores(), "graft-prune-receipt")
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "5000")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_prune_receipt").toString
    require(IvfPqIndex.build(spark, sfDir, root).contains(1L),
      s"PruneReceipt: $sfDir cannot carry an index")
    // fragment the way a live ingest does: 12 add batches, each spraying
    // every cell (deterministic nonzero vectors)
    (1L to 12L).foreach { b =>
      val vecs = (1000000L + b * 10000 until 1000256L + b * 10000).map { id =>
        (id, (0 until 64).map(i => (math.sin((id + 1) * 1.3 + i * 2.1)).toFloat))
      }.toDF("vec_id", "embedding")
      IvfPqIndex.addVectors(spark, root, vecs, batchId = b)
    }
    val sink = IvfPqIndex.codedSink(root, 1L)

    def measure(): (Int, Seq[(Int, Int)]) = {
      val boxes = sink.manifest(spark)
        .select(col("cell_min"), col("cell_max")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val cells = (10L to 25L)
      val pairs = for (a <- cells; b <- cells if a < b) yield {
        val span = boxes.count { case (lo, hi) => lo <= b && hi >= a }
        val union = boxes.count { case (lo, hi) =>
          (lo <= a && hi >= a) || (lo <= b && hi >= b) }
        (span, union)
      }
      (boxes.length, pairs.toSeq)
    }
    def stats(pairs: Seq[(Int, Int)]): String = {
      val spans = pairs.map(_._1).sorted
      val unions = pairs.map(_._2).sorted
      def med(xs: Seq[Int]) = xs(xs.size / 2)
      val worstGap = pairs.map { case (s, u) => s - u }.max
      s""""pairs":${pairs.size},"span_median":${med(spans)},"span_max":${spans.last},""" +
        s""""union_median":${med(unions)},"union_max":${unions.last},"worst_gap":$worstGap"""
    }

    val (filesFrag, pairsFrag) = measure()
    sink.recluster(spark, numFiles = 16, buckets = 4096)
    val (filesRe, pairsRe) = measure()
    println(s"""{"mode":"prune_receipt","sf":"$sfDir",""" +
      s""""fragmented":{"files":$filesFrag,${stats(pairsFrag)}},""" +
      s""""reclustered":{"files":$filesRe,${stats(pairsRe)}}}""")
    spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(root))
  }
}
