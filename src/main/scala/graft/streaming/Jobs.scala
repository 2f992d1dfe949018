package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The reference's seven streaming jobs (SURVEY.md §0 file inventory),
  * wired end-to-end: source -> transform -> sink with checkpointing.
  * Each returns the started [[StreamingQuery]]; callers own lifecycle.
  * `dirs.in` is the monitored input directory ([[Generators.writeCsvFiles]]
  * feeds it); `dirs.out`/`dirs.ckpt` receive sink output and checkpoints.
  */
object Jobs {

  final case class Dirs(in: String, out: String, ckpt: String)

  private def src(spark: SparkSession, d: Dirs) =
    StreamingPipelines.textFileSource(spark, d.in)

  /** Typed source for the stateful jobs: the quarantine split guarantees
    * no null field reaches `Dataset[Ev]` — one malformed line must not
    * kill a stateful query with a deserialization NPE (the bad rows go to
    * the quarantine side, dropped here; route them to a sink if needed). */
  def typedSource(spark: SparkSession, in: String): org.apache.spark.sql.Dataset[Ev] = {
    import spark.implicits._
    val (good, _) = StreamingPipelines.parseCsvQuarantine(spark.readStream.text(in))
    good.as[Ev]
  }

  /** Job 1 (BasicStreamingOperations.java): file source -> parse ->
    * 5 s tumbling count -> file sink. */
  def basicStreaming(spark: SparkSession, d: Dirs): StreamingQuery =
    Sinks.file(StreamingPipelines.windowCount(src(spark, d)), d.out, d.ckpt)

  /** Job 2 (KeyedStreamOperations.java): keyed running reduce -> console. */
  def keyedStream(spark: SparkSession, d: Dirs): StreamingQuery =
    Sinks.console(StreamingPipelines.runningSum(src(spark, d)), OutputMode.Update, d.ckpt)

  /** Job 3 (StreamSplitAndCombine.java): split by type, tag, re-merge. */
  def splitAndCombine(spark: SparkSession, d: Dirs): StreamingQuery = {
    val events = src(spark, d)
    val merged = StreamingPipelines.tagAndMerge(
      StreamingPipelines.splitMain(events),
      events.filter(org.apache.spark.sql.functions.col("event_type") === "view"))
    Sinks.file(merged, d.out, d.ckpt)
  }

  /** Job 4 (WindowingOperations.java): sliding + session windows — two
    * branches off one source, two queries. */
  def windowing(spark: SparkSession, d: Dirs): (StreamingQuery, StreamingQuery) = {
    val events = src(spark, d)
    val sliding = Sinks.file(
      StreamingPipelines.slidingCount(events), s"${d.out}/sliding", s"${d.ckpt}/sliding")
    val session = Sinks.file(
      StreamingPipelines.sessionCount(events), s"${d.out}/session", s"${d.ckpt}/session")
    (sliding, session)
  }

  /** Job 5 (WindowJoins.java): windowed join of two file streams. */
  def windowJoins(spark: SparkSession, clicksDir: String, purchasesDir: String,
      out: String, ckpt: String): StreamingQuery =
    Sinks.file(
      StreamingPipelines.windowJoin(
        StreamingPipelines.textFileSource(spark, clicksDir),
        StreamingPipelines.textFileSource(spark, purchasesDir)),
      out, ckpt)

  /** Job 6 (EventTimeOperations.java): watermarked event-time window with
    * late-data capture (T4) feeding the on-time branch to a file sink. */
  def eventTime(spark: SparkSession, d: Dirs): StreamingQuery = {
    // batch-keyed overwrite => idempotent replay: a batch re-run after a
    // crash between write and checkpoint commit replaces its own output
    // instead of appending duplicates. Both sides write UNCONDITIONALLY —
    // on replay the restored watermark can reclassify rows, and skipping
    // an empty split would leave the stale opposite-side batch=N
    // directory standing, duplicating its rows across ontime/ and late/.
    // An empty overwrite is one metadata file; correctness over pennies.
    val router = new LateDataRouter(
      delayUs = 10000000L,
      onTime = (b, id) => b.write.mode("overwrite").parquet(s"${d.out}/ontime/batch=$id"),
      late = (b, id) => b.write.mode("overwrite").parquet(s"${d.out}/late/batch=$id"))
    router.start(src(spark, d), d.ckpt)
  }

  /** Job 6, staircase variant (EventTimeOperations.java:96-141, the
    * custom generator actually APPLIED at :141): the per-partition
    * staircase watermark owns the window-close/late/idle decisions
    * end-to-end — file source -> typed parse -> partition tag ->
    * [[StatefulProcessors.staircaseWindowsByPartition]] -> file sink.
    * The partition tag plays Flink's source-subtask assignment (one
    * generator per subtask); a Spark file stream exposes no stable
    * subtask id, so the split-to-subtask map is made deterministic:
    * `partition = event_id % nPartitions`. Needs the RocksDB state
    * store (transformWithState) and runs on an explicit
    * processing-time trigger (see the processor scaladoc). */
  def eventTimeStaircase(spark: SparkSession, d: Dirs, nPartitions: Int = 2,
      windowMs: Long = 1000L, advanceMs: Long = 10000L, bufferMs: Long = 2000L,
      triggerMs: Long = 100L): StreamingQuery = {
    import spark.implicits._
    val tagged = typedSource(spark, d.in)
      .map(e => StatefulProcessors.PartEv((e.event_id % nPartitions).toInt, e))
    Sinks.file(
      StatefulProcessors
        .staircaseWindowsByPartition(tagged, windowMs, advanceMs, bufferMs).toDF(),
      d.out, d.ckpt,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs)))
  }

  /** Job 7 (StatefulOperations.java): double-event alerts -> console. */
  def stateful(spark: SparkSession, d: Dirs): StreamingQuery =
    Sinks.console(
      StatefulOps.doubleEventAlerts(typedSource(spark, d.in)).toDF(),
      OutputMode.Append, d.ckpt)

  /** Job 8 (CourseUseCase.java, capstone): per-(user,action) window counts
    * + sessionized action durations — two queries off one source. */
  def courseUseCase(spark: SparkSession, d: Dirs): (StreamingQuery, StreamingQuery) = {
    val counts = Sinks.file(
      StreamingPipelines.userActionWindowCount(src(spark, d)),
      s"${d.out}/counts", s"${d.ckpt}/counts")
    val durations = Sinks.file(
      StatefulOps.sessionizeActions(typedSource(spark, d.in), clearOn = "error").toDF(),
      s"${d.out}/durations", s"${d.ckpt}/durations")
    (counts, durations)
  }

  /** Document schema for the corpus-pipeline job: epoch-second `ts_s`
    * in the wire format (JSON lines), converted to a timestamp inside. */
  private val docWireSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts_s", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
    // optional provenance; absent in older feeds -> coalesced to 'src0'
    org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType)))

  /** The document stream in directory `in` (JSON lines in the wire
    * format above), with `ts` a timestamp. */
  def docSource(spark: SparkSession, in: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    spark.readStream.schema(docWireSchema).json(in)
      .withColumn("ts", timestamp_seconds(col("ts_s"))).drop("ts_s")
  }

  /** Job 9 (beyond the reference — the LLM-corpus capstone): a streaming
    * training-data pipeline over a monitored directory of JSON document
    * lines: per-source admission quota
    * ([[StatefulProcessors.quotaRouteStream]], over-quota docs spilled
    * for backfill, never dropped) -> quality gate + digest dedup within
    * the watermark ([[StreamingPipelines.curateDocs]]) -> benchmark
    * decontamination against the broadcast eval gram set
    * ([[StreamingPipelines.decontaminate]]) -> online sequence packing
    * ([[StatefulProcessors.packStream]]) into token-budget bins. Clean
    * packed assignments land under `out/packed`; contaminated documents
    * are quarantined under `out/contaminated` and over-quota documents
    * under `out/spill` for audit. Requires the RocksDB state-store
    * provider (transformWithState), like every stateful job here. */
  def corpusPipeline(spark: SparkSession, d: Dirs, evalGrams: Array[Long],
      quota: Long = 8L): (StreamingQuery, StreamingQuery, StreamingQuery) = {
    import org.apache.spark.sql.functions._
    val routed = StatefulProcessors.quotaRouteStream(docSource(spark, d.in), quota).toDF()
    def restore(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), timestamp_micros(col("ts_us")).as("ts"),
      col("lang"), col("text"), col("source"))
    val curated = StreamingPipelines.curateDocs(
      restore(routed.filter(col("admitted"))))
    val (clean, dirty) = StreamingPipelines.decontaminate(curated, evalGrams)
    val packed = Sinks.file(
      StatefulProcessors.packStream(clean).toDF(),
      s"${d.out}/packed", s"${d.ckpt}/packed")
    val quarantine = Sinks.file(
      dirty.select(col("doc_id"), col("ts"), col("text")),
      s"${d.out}/contaminated", s"${d.ckpt}/contaminated")
    val spill = Sinks.file(
      restore(routed.filter(!col("admitted")))
        .select(col("doc_id"), col("ts"), col("source"), col("text")),
      s"${d.out}/spill", s"${d.ckpt}/spill")
    (packed, quarantine, spill)
  }

  /** Job 10 (round-17 verdict task 4): STATS-DRIVEN index maintenance —
    * the persisted ANN index's operational loop (purge backlog, compact
    * ingest debris, hand off on drift) driven end-to-end by the
    * operator report ([[graft.operators.IvfPqIndex.stats]], manifests
    * only, never a data scan) instead of by hand. Each tick polls stats
    * and executes [[graft.operators.IvfPqIndex.maintain]]'s decision
    * table; ticks repeat until one takes no action (the index is
    * quiesced — the normal steady state after at most
    * purge+compact+handoff) or `maxTicks` bounds a pathological loop
    * (e.g. a drift alert whose refreshed corpus itself drifts). Returns
    * the action log for the operator's audit trail. Run it beside a
    * PAUSED ingest stream, then restart the stream on its same
    * checkpoint — the exact choreography
    * [[graft.operators.IvfPqIndex.handoff]] documents and
    * CheckpointRecoverySpec proves. */
  def indexMaintenance(spark: SparkSession, root: String,
      policy: graft.operators.IvfPqIndex.MaintenancePolicy =
        graft.operators.IvfPqIndex.MaintenancePolicy(),
      maxTicks: Int = 4): Seq[String] = {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    var ticks = 0
    var acted = true
    while (acted && ticks < maxTicks) {
      val actions = graft.operators.IvfPqIndex.maintain(spark, root, policy)
      log ++= actions
      acted = actions.nonEmpty
      ticks += 1
    }
    log.toSeq
  }
}
