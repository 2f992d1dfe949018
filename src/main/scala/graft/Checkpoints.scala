package graft

import org.apache.spark.sql.Dataset

/** One switch for every lineage-pin site in the library.
  *
  * The operators pin small or iterative frames (survivor sets, centroid
  * models, per-round component labels) so Catalyst materializes them once
  * instead of re-running the producing subtree per consumer, and so
  * iterative loops don't grow unbounded lineage. In local mode
  * `localCheckpoint()` is the right tool — executor-memory copy, no
  * filesystem. On a real cluster localCheckpoint is NON-REPLAYABLE: lose
  * an executor and every downstream job that needs the pinned blocks
  * fails. For production 100 TB runs flip ONE conf and every pin site in
  * the library writes a reliable `checkpoint(dir)` instead:
  *
  * {{{
  * spark.graft.checkpoint.mode = local | reliable   (default: local)
  * spark.graft.checkpoint.dir  = <fault-tolerant path>  (reliable mode;
  *     ignored if SparkContext.setCheckpointDir was already called)
  * }}}
  *
  * Both confs are runtime-settable (`spark.conf.set`), so a notebook can
  * flip modes between actions. The two modes produce IDENTICAL results —
  * CheckpointModeSpec proves hash-equality on the iterative
  * connected-components query — the only difference is fault-tolerance
  * cost: reliable mode pays one HDFS/S3 write per pin, which is exactly
  * the frames that are orders of magnitude smaller than the corpus.
  */
object Checkpoints {
  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  /** Drop-in for `ds.localCheckpoint(eager)` honoring the mode conf. */
  def pin[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => ds.localCheckpoint(eager)
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption(DirKey).getOrElse(throw new IllegalArgumentException(
            s"$ModeKey=reliable requires $DirKey (or SparkContext.setCheckpointDir) " +
              "to point at a fault-tolerant filesystem path"))
          sc.setCheckpointDir(dir)
        }
        ds.checkpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** Release the executor-memory blocks behind a pinned Dataset NOW
    * instead of waiting for the GC-driven ContextCleaner. A pinned
    * Dataset's plan is a `LogicalRDD` over the checkpointed RDD whose
    * blocks hold the materialized rows; dropping the Dataset reference
    * alone frees them only when the JVM eventually collects the RDD —
    * [[CorpusCache]] invalidation wants it deterministic (round-19
    * verdict item 3). Reliable-mode pins keep their checkpoint FILES
    * (replayability is their point); the unpersist is a no-op there.
    * Best-effort: a Dataset that is not a pin (no LogicalRDD leaf) is
    * left untouched. */
  def unpin(ds: Dataset[_]): Unit =
    try ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
}
