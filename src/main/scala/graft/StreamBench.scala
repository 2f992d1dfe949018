package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{Generators, Jobs, Sinks, StatefulProcessors, StreamingPipelines}

/** Streaming throughput micro-bench — the streaming counterpart of
  * [[Bench]]: pushes a seeded CSV corpus through the reference-shaped
  * pipelines (file source -> parse -> windowed count / keyed reduce /
  * transformWithState heavy hitters -> file or memory sink) and reports
  * end-to-end rows/second per pipeline. Context for the numbers: the
  * reference's generators emit ~0.5-1 record/second by construction
  * (`FileStreamDataGenerator.java:104` sleeps 1-2000 ms per record), so
  * single-node throughput parity is about the ENGINE's sustainable rate,
  * measured here on the same local[N] session the batch bench uses
  * (`SPARK_GRAFT_CPUS`, default all cores).
  *
  * Usage: sbt 'runMain graft.StreamBench [nEvents]'   (default 200k)
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = Sessions.local(Measure.cores(), "graft-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // read before any cell runs: a ledger that does not parse stops here
    val refOpt = StreamGate.load().filter(_.n == n)
    val in = Files.createTempDirectory("sbench-in").toString
    // 32 files -> 2 micro-batches at the file source's 16-file trigger cap
    Generators.writeCsvFiles(in, seed = 42, files = 32, perFile = n / 32)

    // host probe bracketing the whole cell sequence (round-18 task 5):
    // spin + bandwidth, so the gate normalizes throughput with the SAME
    // divisor the batch gate uses (see StreamGate's scaladoc)
    val spins = scala.collection.mutable.ArrayBuffer(Measure.spinMs())
    val bws = scala.collection.mutable.ArrayBuffer(Measure.bwGbps())

    def run(name: String)(start: Jobs.Dirs => org.apache.spark.sql.streaming.StreamingQuery): (String, Double, Int) = {
      val d = Jobs.Dirs(in,
        Files.createTempDirectory(s"sbench-out-$name").toString,
        Files.createTempDirectory(s"sbench-ck-$name").toString)
      val sec = Measure.seconds {
        val q = start(d)
        try q.processAllAvailable() finally q.stop()
      }
      (name, sec, n)
    }

    /** Like `run`, but the corpus lands in TWO phases with a full query
      * restart between them — RocksDB state recovery and checkpoint
      * catch-up are inside the measured path (the capstone's
      * convention, applied to single-operator cells). Own input dir so
      * the phase-2 files don't retrigger the shared-corpus cells. */
    def runRestart(name: String, users: Int = 100000)(
        start: Jobs.Dirs => org.apache.spark.sql.streaming.StreamingQuery): (String, Double, Int) = {
      val half = n / 32 // 16 files per phase at the shared per-file size
      val d = Jobs.Dirs(
        Files.createTempDirectory(s"sbench-in-$name").toString,
        Files.createTempDirectory(s"sbench-out-$name").toString,
        Files.createTempDirectory(s"sbench-ck-$name").toString)
      Generators.writeCsvFilesWide(d.in, seed = 42, files = 16,
        perFile = half, users = users)
      def drain(): Unit = {
        val q = start(d)
        try q.processAllAvailable() finally q.stop()
      }
      val sec = Measure.seconds {
        drain() // phase 1
        Generators.writeCsvFilesWide(d.in, seed = 43, files = 16,
          perFile = half, users = users, fileOffset = 16,
          idOffset = 16L * half)
        drain() // phase 2: restart on the same checkpoint + catch-up
      }
      (name, sec, 32 * half)
    }

    /** Document-stream cell: its own JSON corpus (the capstone's doc
      * shape), one query drained to completion. For the STATELESS
      * scoring duals no restart phase is needed — dsirScore/codeDetect
      * carry zero state, so a restart would replay nothing and recover
      * nothing; the cell measures the pure map throughput that holds
      * across any checkpoint boundary by construction. */
    def runDocs(name: String, nDocs: Int)(
        start: Jobs.Dirs => org.apache.spark.sql.streaming.StreamingQuery): (String, Double, Int) = {
      val files = 16
      val perFile = math.max(1, nDocs / files)
      val d = Jobs.Dirs(
        Files.createTempDirectory(s"sbench-docs-$name").toString,
        Files.createTempDirectory(s"sbench-out-$name").toString,
        Files.createTempDirectory(s"sbench-ck-$name").toString)
      Generators.writeJsonDocs(d.in, seed = 42, files, perFile)
      val sec = Measure.seconds {
        val q = start(d)
        try q.processAllAvailable() finally q.stop()
      }
      (name, sec, files * perFile)
    }

    /** Job-9 capstone end-to-end: quota admission -> quality gate +
      * dedup-within-watermark -> decontamination -> online packing, ALL
      * THREE sinks (packed/contaminated/spill) drained — then the corpus
      * doubles and every query RESTARTS on the same checkpoints, so
      * RocksDB state recovery is inside the measured path. The per-source
      * quota is set to ~60% of a source's phase-2 total: the spill branch
      * carries real volume instead of being a dead arm. */
    def runCapstone(nDocs: Int): (String, Double, Int) = {
      import spark.implicits._
      val sources = 4
      val files = 16
      val perFile = math.max(1, nDocs / 2 / files) // per phase
      val actual = 2 * files * perFile
      val evalText = (1 to 20).map(i => s"eval$i").mkString(" ")
      val grams = StreamingPipelines.evalGramSet(
        Seq((900L, evalText)).toDF("doc_id", "text"))
      val d = Jobs.Dirs(
        Files.createTempDirectory("sbench-docs-in").toString,
        Files.createTempDirectory("sbench-out-corpus").toString,
        Files.createTempDirectory("sbench-ck-corpus").toString)
      val quota = math.max(4L, (actual / sources) * 6L / 10L)
      Generators.writeJsonDocs(d.in, seed = 42, files, perFile,
        sources = sources, evalText = evalText)
      val sec = Measure.seconds {
        def drain(): Unit = {
          val (p, q, sp) = Jobs.corpusPipeline(spark, d, grams, quota)
          try {
            p.processAllAvailable(); q.processAllAvailable(); sp.processAllAvailable()
          } finally { p.stop(); q.stop(); sp.stop() }
        }
        drain() // phase 1
        Generators.writeJsonDocs(d.in, seed = 43, files, perFile,
          sources = sources, evalText = evalText,
          idOffset = files.toLong * perFile)
        drain() // phase 2: checkpoint-restart + catch-up, same state
      }
      ("corpus_capstone", sec, actual)
    }

    val results = Seq(
      run("window_count") { d =>
        Sinks.file(StreamingPipelines.windowCount(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      run("running_sum") { d =>
        Sinks.memory(StreamingPipelines.runningSum(
          StreamingPipelines.textFileSource(spark, d.in)),
          s"sb_sum_${d.ckpt.hashCode.abs}", OutputMode.Update)
      },
      run("session_window") { d =>
        Sinks.file(StreamingPipelines.sessionCount(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      run("heavy_hitters_tws") { d =>
        StatefulProcessors.heavyHitters(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_hh_${d.ckpt.hashCode.abs}").start()
      },
      // NOTE: staircaseWindows is deliberately absent — its
      // TimeMode.ProcessingTime no-data batches make processAllAvailable
      // non-terminating by construction (see StaircaseWatermarkSpec).
      run("reservoir_sample") { d =>
        val (good, _) = StreamingPipelines.parseCsvQuarantine(
          spark.readStream.text(d.in))
        StatefulProcessors.reservoirStream(
            good.selectExpr("event_id AS doc_id"), k = 64, shards = 8)
          .toDF().writeStream.outputMode(OutputMode.Update)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_rsv_${d.ckpt.hashCode.abs}").start()
      },
      run("cep_sequence") { d =>
        StatefulProcessors.cepSequence(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_cep_${d.ckpt.hashCode.abs}").start()
      },
      run("dd_quantiles_window") { d =>
        Sinks.file(StreamingPipelines.ddQuantilesStream(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      run("cep_one_or_more") { d =>
        StatefulProcessors.cepOneOrMore(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_oom_${d.ckpt.hashCode.abs}").start()
      },
      run("cep_skip_past") { d =>
        StatefulProcessors.cepSkipPast(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_skip_${d.ckpt.hashCode.abs}").start()
      },
      run("cep_skip_to_next") { d =>
        StatefulProcessors.cepSkipToNext(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_next_${d.ckpt.hashCode.abs}").start()
      },
      run("cep_skip_to_last") { d =>
        StatefulProcessors.cepSkipToLast(Jobs.typedSource(spark, d.in))
          .toDF().writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_last_${d.ckpt.hashCode.abs}").start()
      },
      run("sliding_dd_pane") { d =>
        Sinks.file(StreamingPipelines.slidingDdQuantilesPaneStream(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      run("sliding_topk_pane") { d =>
        Sinks.file(StreamingPipelines.slidingTopkPaneStream(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      run("sliding_cms_topk_pane") { d =>
        Sinks.file(StreamingPipelines.slidingTopkCmsPaneStream(
          StreamingPipelines.textFileSource(spark, d.in)), d.out, d.ckpt)
      },
      // IVF ingest: events re-shaped into deterministic 64-dim vectors,
      // routed through the stateless nearest-cell fold against the
      // sf0.001-calibrated model — the per-row cost of the 100 TB/day
      // ingest path (10 cells x 64-dim L2 per row, no state).
      run("ivf_ingest_assign") { d =>
        val cells = StreamingPipelines.ivfCellsCalibrate(spark, "/root/testdata/sf0.001")
        val (good, _) = StreamingPipelines.parseCsvQuarantine(
          spark.readStream.text(d.in))
        val vecs = good.selectExpr("event_id AS vec_id",
          "CAST(user_id % 10 AS INT) AS label",
          "transform(sequence(1, 64), j -> CAST(sin(event_id * j) AS float)) AS embedding")
        StreamingPipelines.ivfIngestAssign(vecs, cells)
          .writeStream.outputMode(OutputMode.Append)
          .option("checkpointLocation", d.ckpt)
          .format("memory").queryName(s"sb_ivf_${d.ckpt.hashCode.abs}").start()
      },
      // Lakehouse-ingest A/B: the same parsed stream landed once through
      // the plain exactly-once file sink and once through
      // ManifestedParquetSink (batch-keyed idempotent renames + an
      // incremental manifest refresh per batch) — the delta is the
      // per-batch price of LIVE data-skipping statistics on the table
      // being written.
      run("parquet_sink_plain") { d =>
        val (good, _) = StreamingPipelines.parseCsvQuarantine(
          spark.readStream.text(d.in))
        Sinks.file(good, d.out, d.ckpt)
      },
      run("manifested_parquet_sink") { d =>
        val (good, _) = StreamingPipelines.parseCsvQuarantine(
          spark.readStream.text(d.in))
        new graft.streaming.ManifestedParquetSink(
            d.out, d.out + "_manifest", Seq("event_id", "user_id"))
          .start(good, d.ckpt)
      },
      // round-14 (verdict-r13 task 6): throughput cells for the round-13
      // processors, restart included. File sink — the memory sink
      // cannot recover from a checkpoint, and the restart IS the point
      // of these cells.
      runRestart("cdc_snapshot") { d =>
        Sinks.file(StatefulProcessors.cdcSnapshot(
          Jobs.typedSource(spark, d.in)).toDF(), d.out, d.ckpt)
      },
      runRestart("last_touch") { d =>
        Sinks.file(StatefulProcessors.lastTouchCredits(
          Jobs.typedSource(spark, d.in)).toDF(), d.out, d.ckpt)
      },
      // round-15 (verdict-r14 task 6): the stateless scoring duals'
      // "wire-rate inline at ingest" claims, measured — each is a pure
      // map (codegen'd graft_dsir_fold / integer densities), zero
      // shuffle, zero state. Doc corpora sized like the capstone's.
      {
        // calibrate OUTSIDE the timed window: the one-off model-training
        // aggregation is the offline half of the split; charging it to
        // the cell would misprice the stateless map the cell exists to
        // measure
        val lam = StreamingPipelines.dsirCalibrate(spark, "/root/testdata/sf0.001")
        runDocs("dsir_score_stateless", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.dsirScore(Jobs.docSource(spark, d.in), lam),
            d.out, d.ckpt)
        }
      },
      runDocs("code_detect_stateless", math.max(2048, n / 10)) { d =>
        Sinks.file(StreamingPipelines.codeDetect(Jobs.docSource(spark, d.in)),
          d.out, d.ckpt)
      },
      // round-17: semantic eval decontamination at ingest — the frozen
      // broadcast eval model (calibrated outside the window, the r15
      // lesson) scoring each arriving doc's embedding through one
      // codegen'd map. The wire has no embedding column, so the cell
      // synthesizes a deterministic 64-dim one per doc — the scoring
      // cost it prices is identical.
      {
        val eval = graft.operators.EmbeddingOps
          .embedEvalModel(spark, "/root/testdata/sf0.001")
        runDocs("embed_decontaminate_stateless", math.max(2048, n / 10)) { d =>
          val withEmb = Jobs.docSource(spark, d.in).withColumn("embedding",
            org.apache.spark.sql.functions.expr(
              "transform(sequence(0, 63), i -> cast(sin(doc_id * 0.37 + i) AS float))"))
          Sinks.file(StreamingPipelines.embedDecontaminate(withEmb, eval),
            d.out, d.ckpt)
        }
      },
      // round-16 (verdict-r15 task 5): the windowed mixture-drift
      // monitor — per-(window, source) KL against the calibrated corpus
      // through the single-stage histogram aggregate. Calibration is the
      // offline half (outside the timed window, the r15 lesson); the
      // cell prices the exploded-gram stateful aggregation at ingest.
      {
        val model = StreamingPipelines.sourceKlCalibrate(spark, "/root/testdata/sf0.001")
        runDocs("source_kl_windowed", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.sourceKl(
              Jobs.docSource(spark, d.in).withWatermark("ts", "1 minute"),
              model, windowDur = "5 minutes"),
            d.out, d.ckpt)
        }
      },
      // round-16: the ingest-side duplicated-span monitor — the batch
      // gram kernel + ONE stream-static left join against the calibrated
      // corpus gram table + ONE windowed per-doc aggregation (position-
      // list state, doc-length-bounded). minDup = 1: the production
      // novel-arrival threshold (an arriving occurrence plus >= 1
      // in-corpus = duplicated). Calibration outside the timed window
      // (the offline half of the split, the r15 lesson).
      {
        // pin EAGERLY: the static side of a stream-static join re-
        // evaluates per micro-batch, so an unmaterialized calibrate
        // would re-run the corpus gram aggregation inside the timed
        // window — the exact mispricing the out-of-window rule exists
        // to prevent (the r15 calibrate-hoisting lesson, lazy edition)
        val gramTable = graft.Checkpoints.pin(
          StreamingPipelines.dupSpanCalibrate(spark, "/root/testdata/sf0.001"))
        runDocs("dup_span_windowed", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.dupSpanStream(
              Jobs.docSource(spark, d.in).withWatermark("ts", "1 minute"),
              gramTable, windowDur = "5 minutes", minDup = 1L),
            d.out, d.ckpt)
        }
      },
      // round-17 (verdict task 3): the EDITING counterpart — arriving
      // docs scored into quarantine reports (removal spans + kept token
      // count) against the calibrated first-occurrence gram table. Same
      // kernel and join shape as dup_span_windowed plus the min(struct)
      // in the calibrate (outside the window, as ever); the apply
      // join-back is priced where it runs — the batch consumer — not
      // the ingest lane.
      {
        val gramTable = graft.Checkpoints.pin(
          StreamingPipelines.dupSpanRewriteCalibrate(spark, "/root/testdata/sf0.001"))
        runDocs("dup_span_rewrite_windowed", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.dupSpanRewriteStream(
              Jobs.docSource(spark, d.in).withWatermark("ts", "1 minute"),
              gramTable, windowDur = "5 minutes", minDup = 1L),
            d.out, d.ckpt)
        }
      },
      // round-18: the ingest-side perceptual media near-dup monitor —
      // fingerprint map (codegen'd sign-pack) + band-keyed stream-static
      // join against the calibrated corpus fingerprints + one windowed
      // per-doc min. Calibration pinned outside the timed window (the
      // r15/r16 lesson for every stream-static cell).
      {
        val banded = graft.Checkpoints.pin(
          StreamingPipelines.mediaNeardupCalibrate(spark, "/root/testdata/sf0.001"))
        runDocs("media_neardup_windowed", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.mediaNeardupStream(
              Jobs.docSource(spark, d.in).withWatermark("ts", "1 minute"),
              banded, windowDur = "5 minutes"),
            d.out, d.ckpt)
        }
      },
      // round-19 (verdict task 5): the ingest-side media KEEPER
      // ELECTION — same fingerprint + band-join shape as
      // media_neardup_windowed plus the canonical-keeper lookup riding
      // the calibrated table (one wider static side, zero extra joins)
      // and the left-outer keep-all so no-match arrivals elect
      // themselves. Calibration (pairs + components) pinned outside
      // the timed window.
      {
        val calib = graft.Checkpoints.pin(
          StreamingPipelines.mediaKeeperCalibrate(spark, "/root/testdata/sf0.001"))
        runDocs("media_keeper_windowed", math.max(2048, n / 10)) { d =>
          Sinks.file(StreamingPipelines.mediaKeeperStream(
              Jobs.docSource(spark, d.in).withWatermark("ts", "1 minute"),
              calib, windowDur = "5 minutes"),
            d.out, d.ckpt)
        }
      },
      // round-16 (verdict-r15 task 1): persisted-index ingest with ONE
      // generation swap inside the measured window — phase 1 lands into
      // g1, handoff retrains g2 and re-codes the whole ledger tail
      // (none of these vectors are in the reference corpus), the stream
      // restarts on ITS SAME CHECKPOINT bound to g2, phase 2 lands into
      // g2. The cell prices the full recovery choreography, not just
      // steady-state ingest; the build (the deployment's offline
      // build-once half) stays outside.
      {
        val sfDir = "/root/testdata/sf0.001"
        val root = Files.createTempDirectory("sbench-ivfpq-root").toString
        graft.operators.IvfPqIndex.build(spark, sfDir, root)
        val half = n / 32
        val d = Jobs.Dirs(
          Files.createTempDirectory("sbench-in-ivfpqswap").toString,
          Files.createTempDirectory("sbench-out-ivfpqswap").toString,
          Files.createTempDirectory("sbench-ck-ivfpqswap").toString)
        Generators.writeCsvFilesWide(d.in, seed = 42, files = 16,
          perFile = half, users = 100000)
        def drain(): Unit = {
          val (good, _) = StreamingPipelines.parseCsvQuarantine(
            spark.readStream.text(d.in))
          // event_id + 1 inside sin: id 0 would emit the all-zero vector,
          // whose cosine assignment is undefined (ANSI divide-by-zero —
          // the corpus contract is nonzero vectors)
          val vecs = good.selectExpr("event_id + 1000000 AS vec_id",
            "transform(sequence(1, 64), j -> CAST(sin((event_id + 1) * j) AS float)) AS embedding")
          val q = graft.operators.IvfPqIndex.startIngest(vecs, root, d.ckpt)
          try q.processAllAvailable() finally q.stop()
        }
        val sec = Measure.seconds {
          drain() // phase 1 -> g1
          graft.operators.IvfPqIndex.handoff(spark, sfDir, root) // swap -> g2
          Generators.writeCsvFilesWide(d.in, seed = 43, files = 16,
            perFile = half, users = 100000, fileOffset = 16, idOffset = 16L * half)
          drain() // same checkpoint, bound to g2, catch-up
        }
        ("ivfpq_ingest_swap", sec, 32 * half)
      },
      // round-17 (verdict task 4): the STATS-DRIVEN maintenance loop
      // inside the measured window — phase-1 ingest lands into g1, the
      // operational events fire (tombstone backlog past policy, then a
      // drift alert), Jobs.indexMaintenance reads stats and executes
      // the decision table (purge, then handoff to g2), and the stream
      // restarts on ITS SAME CHECKPOINT bound to g2 for phase 2. Same
      // choreography as ivfpq_ingest_swap but with the POLICY deciding
      // from the operator report instead of hand-placed calls — the
      // cell prices what a scheduled maintenance tick actually costs.
      {
        val sfDir = "/root/testdata/sf0.001"
        val root = Files.createTempDirectory("sbench-ivfpq-maint").toString
        graft.operators.IvfPqIndex.build(spark, sfDir, root)
        val part = n / 64
        val d = Jobs.Dirs(
          Files.createTempDirectory("sbench-in-ivfpqmaint").toString,
          Files.createTempDirectory("sbench-out-ivfpqmaint").toString,
          Files.createTempDirectory("sbench-ck-ivfpqmaint").toString)
        Generators.writeCsvFilesWide(d.in, seed = 42, files = 16,
          perFile = part, users = 100000)
        def drain(): Unit = {
          val (good, _) = StreamingPipelines.parseCsvQuarantine(
            spark.readStream.text(d.in))
          val vecs = good.selectExpr("event_id + 1000000 AS vec_id",
            "transform(sequence(1, 64), j -> CAST(sin((event_id + 1) * j) AS float)) AS embedding")
          val q = graft.operators.IvfPqIndex.startIngest(vecs, root, d.ckpt)
          try q.processAllAvailable() finally q.stop()
        }
        val sec = Measure.seconds {
          drain() // phase 1 -> g1
          graft.operators.IvfPqIndex.deleteVectors(spark, root,
            (1000001L to 1000064L), batchId = 9000L)
          val purgeLog = Jobs.indexMaintenance(spark, root,
            graft.operators.IvfPqIndex.MaintenancePolicy(purgeBacklog = 16L))
          graft.streaming.FsIo.writeStringAtomic(s"$root/g1/_drift_alert",
            "bench: simulated drift")
          val swapLog = Jobs.indexMaintenance(spark, root,
            graft.operators.IvfPqIndex.MaintenancePolicy(
              refreshedCorpus = Some(sfDir)))
          require(purgeLog.exists(_.startsWith("purge")) &&
            swapLog.exists(_.startsWith("handoff")),
            s"maintenance cell took wrong actions: $purgeLog $swapLog")
          Generators.writeCsvFilesWide(d.in, seed = 43, files = 16,
            perFile = part, users = 100000, fileOffset = 16,
            idOffset = 16L * part)
          drain() // same checkpoint, bound to g2, catch-up
        }
        ("ivfpq_maintenance", sec, 32 * part)
      },
      // docs are ~50 tokens each (vs ~5-field CSV events), so the
      // capstone corpus is n/10 docs for a comparable byte volume
      runCapstone(math.max(2048, n / 10)))

    spins += Measure.spinMs()
    bws += Measure.bwGbps()
    val cells = results.map { case (k, sec, rows) =>
      k -> Json.obj("sec" -> Json.Num(sec, 2), "rows" -> rows,
        "rows_per_sec" -> Json.Num(if (sec > 0) rows / sec else 0.0, 0))
    }
    // --- per-cell regression gate vs the committed stream_ref.json
    // (StreamGate's scaladoc has the contract; throughput normalizes by
    // MULTIPLYING with host_ratio — the seconds divisor, inverted)
    val Measure.HostRatio(spinRatio, _, bwRatio, hostRatio) =
      Measure.hostRatio(spins.toSeq, bws.toSeq)
    val normRps: Map[String, Double] = results.map { case (k, sec, rows) =>
      k -> (if (sec > 0) rows / sec * hostRatio else 0.0)
    }.toMap
    val regs = refOpt.map(r => StreamGate.regressions(r.rps, normRps))
      .getOrElse(Seq.empty)
    val refN = refOpt.map(r => normRps.keysIterator.count(r.rps.contains))
      .getOrElse(0)
    val (gateKind, verdict) = refOpt match {
      case Some(_) => ("per_cell_v1", if (regs.isEmpty) "pass" else "weak")
      case None => ("unreferenced", "pass")
    }
    if (sys.env.get("SPARK_GRAFT_UPDATE_REF").contains("1")) {
      val baseN = StreamGate.update(StreamGate.RefFile, n, normRps)
      System.err.println(s"[stream-bench] ${StreamGate.RefFile} updated " +
        s"(${normRps.size} cells into $baseN existing entries)")
    }
    val gate = Json.obj("spin_ratio" -> spinRatio, "bw_ratio" -> bwRatio,
      "host_ratio" -> hostRatio, "gate_kind" -> gateKind, "ref_n" -> refN,
      "unref_n" -> (normRps.size - refN), "regressions_n" -> regs.size,
      "regressions" -> StreamGate.regsJson(regs), "verdict" -> verdict)
    println(Json.render(Json.Obj(Seq("metric" -> "stream_throughput", "n_events" -> n,
      "cores" -> Measure.cores()) ++ cells :+ ("gate" -> gate))))
    spark.stop()
  }
}
