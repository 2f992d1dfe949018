package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Ev, Generators, Sinks, StatefulProcessors, StreamingPipelines}

/** Streaming state-scale soak — the 10^6-key stress counterpart of
  * [[StreamBench]] (which measures throughput at small key cardinality).
  * Each RocksDB-backed `transformWithState` pipeline is pushed through
  * three phases on a file-source feed of `users`-cardinality events:
  *
  *   1. LOAD: half the corpus drains cold — keyed state fans out to up
  *      to `users` distinct RocksDB rows (quota/sessionize touch every
  *      key; CEP/nearest hold only their in-horizon partials, the
  *      bounded-state contract under high key churn).
  *   2. RECOVER: the query stops and restarts on a one-file backlog —
  *      measured wall time is checkpoint replay + RocksDB state reload
  *      + one small batch, i.e. the restart cost a production operator
  *      pays with state already at full width.
  *   3. SUSTAIN: the second half drains hot (state at full width) —
  *      catch-up throughput with millions of existing keys in the store.
  *
  * Per pipeline the JSON row reports rows/s for load and sustain,
  * recovery seconds, and the state-store telemetry read off
  * StreamingQueryProgress (row count, memory, SST bytes) after each
  * phase — the receipts behind "no unbounded state" (the horizon pruning
  * in [[StatefulProcessors.NearestJoinProcessor]]/`CepProcessor` must
  * hold state rows far below total events) and "no OOM at 10^6 keys".
  *
  * Usage: sbt 'runMain graft.StateSoak [nEvents] [users] [cell,...]'
  * (defaults 4,000,000 events / 1,000,000 users per pipeline; the
  * optional third arg runs only the named cells — the iterate-on-one-
  * pipeline loop)
  */
object StateSoak {

  private final case class Phase(sec: Double, rows: Long,
      stateRows: Long, stateMem: Long, sstBytes: Long)

  /** Latest progress entry that carries state-operator telemetry. */
  private def stateMetrics(q: StreamingQuery): (Long, Long, Long) =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty).map { p =>
      val ops = p.stateOperators
      val rows = ops.map(_.numRowsTotal).sum
      val mem = ops.map(_.memoryUsedBytes).sum
      val sst = ops.map { o =>
        Option(o.customMetrics)
          .flatMap(m => Option(m.get("rocksdbSstFileSize")).map(_.longValue()))
          .getOrElse(0L)
      }.sum
      (rows, mem, sst)
    }.getOrElse((0L, 0L, 0L))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(4000000)
    val users = args.drop(1).headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(1000000)
    val spark = Sessions.local(Measure.cores(), "graft-state-soak")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val filesPerPhase = 32
    val perFile = math.max(1, n / 2 / filesPerPhase)
    val recoverRows = 10000

    def events(in: String): Dataset[Ev] =
      StreamingPipelines.textFileSource(spark, in).as[Ev]

    /** One pipeline through load -> recover -> sustain. `mk` must build a
      * RESTARTABLE query (file sink; memory sinks cannot recover a
      * checkpoint), reading `in` and checkpointing under the given dir. */
    def soak(name: String)(mk: (String, String, String) => StreamingQuery): (String, Json.Obj) = {
      val in = Files.createTempDirectory(s"soak-in-$name").toString
      val out = Files.createTempDirectory(s"soak-out-$name").toString
      val ck = Files.createTempDirectory(s"soak-ck-$name").toString
      def timedPhase(rows: Long)(run: => StreamingQuery): (Phase, StreamingQuery) = {
        val t0 = System.nanoTime()
        val q = run
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val (sr, sm, sst) = stateMetrics(q)
        (Phase(sec, rows, sr, sm, sst), q)
      }
      // LOAD: cold state, first half of the corpus
      Generators.writeCsvFilesWide(in, seed = 42, filesPerPhase, perFile, users)
      val (load, q1) = timedPhase(filesPerPhase.toLong * perFile)(mk(in, out, ck))
      q1.stop()
      // RECOVER: restart on a one-file backlog — replay + state reload
      Generators.writeCsvFilesWide(in, seed = 43, files = 1, perFile = recoverRows,
        users = users, fileOffset = filesPerPhase,
        idOffset = filesPerPhase.toLong * perFile)
      val (rec, q2) = timedPhase(recoverRows.toLong)(mk(in, out, ck))
      q2.stop()
      // SUSTAIN: second half against full-width state
      Generators.writeCsvFilesWide(in, seed = 44, filesPerPhase, perFile, users,
        fileOffset = filesPerPhase + 1,
        idOffset = filesPerPhase.toLong * perFile + recoverRows)
      val (sus, q3) = timedPhase(filesPerPhase.toLong * perFile)(mk(in, out, ck))
      q3.stop()
      def rps(p: Phase) = if (p.sec > 0) p.rows / p.sec else 0.0
      System.err.println(
        f"[soak] $name%-14s load ${load.sec}%6.1f s (${rps(load)}%8.0f r/s)  " +
        f"recover ${rec.sec}%5.1f s  sustain ${sus.sec}%6.1f s (${rps(sus)}%8.0f r/s)  " +
        f"state ${sus.stateRows}%,d rows / ${sus.sstBytes / 1024 / 1024}%,d MB sst")
      name -> Json.obj("load_sec" -> Json.Num(load.sec, 1),
        "load_rps" -> Json.Num(rps(load), 0), "recover_sec" -> Json.Num(rec.sec, 1),
        "sustain_sec" -> Json.Num(sus.sec, 1), "sustain_rps" -> Json.Num(rps(sus), 0),
        "state_rows_load" -> load.stateRows, "state_rows_final" -> sus.stateRows,
        "state_mem_mb" -> sus.stateMem / 1024 / 1024, "sst_mb" -> sus.sstBytes / 1024 / 1024)
    }

    val cells: Seq[(String, (String, String, String) => StreamingQuery)] = Seq(
      // every key accumulates a two-slot session record -> state width = users
      "sessionize" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.sessionizeActions(events(in)).toDF(), out, ck)
      },
      // 10^6 distinct STRING keys, one admission counter each (job-9's gate)
      "quota_route" -> { (in, out, ck) =>
        val docs = events(in).toDF().selectExpr(
          s"concat('s', pmod(user_id, $users)) AS source",
          "event_id AS doc_id", "ts", "'en' AS lang", "event_type AS text")
        Sinks.file(StatefulProcessors.quotaRouteStream(docs, quota = 2L).toDF(), out, ck)
      },
      // gap-horizon partials only: state rows must stay << events seen
      "cep_sequence" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.cepSequence(events(in)).toDF(), out, ck)
      },
      // x8: O(1) state per key BY CONSTRUCTION (a single open-match
      // tuple — skip-past forbids overlap), the cheapest CEP cell;
      // state rows must track active users, never event volume
      "cep_skip_past" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.cepSkipPast(events(in)).toDF(), out, ck)
      },
      // event-time timers at scale + watermark-driven purge of both lists
      "nearest_join" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.nearestJoin(events(in)).toDF(), out, ck)
      },
      // pane-shared sliding sketch: state is (pane x bucket x type)
      // CELLS in two chained operators — bounded by TIME and sketch
      // width, NOT by the 10^6-user key cardinality every other cell
      // here scales with. state_rows must stay orders of magnitude
      // below the user count.
      "sliding_dd_pane" -> { (in, out, ck) =>
        Sinks.file(StreamingPipelines.slidingDdQuantilesPaneStream(
          events(in).toDF()), out, ck)
      },
      // w2d streaming dual: THREE chained stateful ops. EXACT top-k
      // cannot be key-free — stage 1's state is per-(open pane, user)
      // count cells, purged as the watermark finalizes panes: the
      // a2-running-sum contract (active keys inside the horizon), NOT
      // the DD/HLL cells' time×sketch-width bound. The soak pins that
      // state tracks open-horizon activity and collapses on pane
      // finalization instead of accumulating event history.
      "sliding_topk_pane" -> { (in, out, ck) =>
        Sinks.file(StreamingPipelines.slidingTopkPaneStream(
          events(in).toDF()), out, ck)
      },
      // w2e streaming dual: FOUR chained stateful ops. Stage 1 shares
      // w2d's horizon bound (per-(open pane, user) counts, purged on
      // pane finalization); every stage PAST it holds only candidate
      // ids and CMS cells — ≤ m + depth×width rows per open pane or
      // window regardless of the 10^6-user cardinality. The soak pins
      // that total state tracks w2d's stage-1 bound (the shared stage),
      // not a multiple of it: the key-count-free claim, at key scale.
      "sliding_cms_topk" -> { (in, out, ck) =>
        Sinks.file(StreamingPipelines.slidingTopkCmsPaneStream(
          events(in).toDF()), out, ck)
      },
      // x9: pending anchors empty on every end event or horizon expiry
      // -> state is gap-bounded anchor tuples + one counter per key
      "cep_skip_to_next" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.cepSkipToNext(events(in)).toDF(), out, ck)
      },
      // x10: O(1) state per key by construction (anchor + last member of
      // the one open match — overlap is bounded at one event)
      "cep_skip_to_last" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.cepSkipToLast(events(in)).toDF(), out, ck)
      },
      // round 13 — CDC snapshot maintainer: ONE fixed-width record per
      // key (last applied op + the op ledger), Update mode; state rows
      // must equal active keys exactly, never event volume
      "cdc_snapshot" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.cdcSnapshot(events(in)).toDF(), out, ck)
      },
      // round 13 — online last-touch attribution: one (type, µs, id)
      // slot per key, credits emitted at conversion — the same
      // keys-not-events bound as x8, with payload emission
      "last_touch" -> { (in, out, ck) =>
        Sinks.file(StatefulProcessors.lastTouchCredits(events(in)).toDF(), out, ck)
      })

    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val results = cells
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, mk) => soak(name)(mk) }
    require(results.nonEmpty, s"no soak cell matches ${only.getOrElse(Set.empty)}")

    println(Json.render(Json.Obj(Seq("metric" -> "state_soak", "n_events" -> n,
      "users" -> users, "cores" -> Measure.cores()) ++ results)))
    spark.stop()
  }
}
