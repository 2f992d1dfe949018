package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** Every stateful dual keeps its keyed state bounded (the keyed-state
  * contract of the Flink state paper): state tracks the key domain or
  * the event-time horizon, never the events fed. Each cell runs on the
  * RocksDB store through three phases over one input directory and one
  * checkpoint, fed by [[Generators.writeCsvFilesWide]]:
  *
  *   1. load: the first half of the feed, from cold state;
  *   2. restart: a new query on the same checkpoint, with a one-file
  *      backlog (the state reload path);
  *   3. sustain: the second half, against the restored state.
  *
  * After sustain the events fed have doubled, so the total state rows
  * (the state operators' `numRowsTotal`) must stay within
  * [[GrowthFactor]] of their value after load. `numRowsTotal` counts a
  * list-state variable once per key however long its list grows, so the
  * cells that keep lists also read the lists' elements through the state
  * data source, under the same factor. The cells that keep one record
  * per key (one state variable each) must never hold more rows than the
  * distinct keys fed. */
class BoundedStateSpec extends SparkSpec {

  private val Users = 300
  private val FilesPerPhase = 4
  private val PerFile = 2500
  private val RestartRows = 200
  // 10 s of event time per event: a 10,000-event phase spans ~28 h, more
  // than four of the widest default horizon (the 6 h CEP gap) and 55
  // 30-minute panes, so each reading is of a horizon already in steady state.
  private val StepUs = 10000000L

  // An unbounded store grows with the events fed, which double (plus the
  // restart file) between the two readings: it reads near 2x (1.7x for
  // cep_sequence without its prune). Bounded state covers the same key
  // domain and horizon in both phases: ~1x.
  private val GrowthFactor = 1.5

  /** A state-bound cell: `perKey` marks a one-record-per-key cell;
    * `lists` names its list-state variables; `mk` builds a restartable
    * query reading `in`, writing `out`, checkpointing to `ck`. */
  private case class Cell(name: String, perKey: Boolean, lists: Seq[String],
      mk: (Dataset[Ev], String, String) => StreamingQuery)

  private def file(ds: Dataset[_], out: String, ck: String): StreamingQuery =
    Sinks.file(ds.toDF(), out, ck)

  private val cells: Seq[Cell] = Seq(
    // X2's two-slot record, cleared on `error`: at most one row per user
    Cell("sessionize", true, Nil, (ev, out, ck) =>
      file(StatefulOps.sessionizeActions(ev), out, ck)),
    // one admission counter per source; sources map 1:1 onto users
    Cell("quota_route", true, Nil, { (ev, out, ck) =>
      val docs = ev.toDF().selectExpr(s"concat('s', pmod(user_id, $Users)) AS source",
        "event_id AS doc_id", "ts", "'en' AS lang", "event_type AS text")
      file(StatefulProcessors.quotaRouteStream(docs, quota = 2L), out, ck)
    }),
    // gap-horizon partials only
    Cell("cep_sequence", false, Seq("partials"), (ev, out, ck) =>
      file(StatefulProcessors.cepSequence(ev), out, ck)),
    // one open-match tuple and its armed timer per key
    Cell("cep_skip_past", false, Nil, (ev, out, ck) =>
      file(StatefulProcessors.cepSkipPast(ev), out, ck)),
    // pending clicks and reachable purchases, purged by the watermark
    Cell("nearest_join", false, Seq("clicks", "purchases"), (ev, out, ck) =>
      file(StatefulProcessors.nearestJoin(ev), out, ck)),
    // (pane x bucket x type) cells: bounded by time and sketch width
    Cell("sliding_dd_pane", false, Nil, (ev, out, ck) =>
      file(StreamingPipelines.slidingDdQuantilesPaneStream(ev.toDF()), out, ck)),
    // per-(open pane, user) counts, purged as the watermark finalizes panes
    Cell("sliding_topk_pane", false, Nil, (ev, out, ck) =>
      file(StreamingPipelines.slidingTopkPaneStream(ev.toDF()), out, ck)),
    // the same first stage, then candidate ids and CMS cells per window
    Cell("sliding_cms_topk", false, Nil, (ev, out, ck) =>
      file(StreamingPipelines.slidingTopkCmsPaneStream(ev.toDF()), out, ck)),
    // gap-bounded anchors plus one click counter per key
    Cell("cep_skip_to_next", false, Seq("next_pending"), (ev, out, ck) =>
      file(StatefulProcessors.cepSkipToNext(ev), out, ck)),
    // one five-field chain tuple per key
    Cell("cep_skip_to_last", false, Nil, (ev, out, ck) =>
      file(StatefulProcessors.cepSkipToLast(ev), out, ck)),
    // one fixed-width snapshot record per key
    Cell("cdc_snapshot", true, Nil, (ev, out, ck) =>
      file(StatefulProcessors.cdcSnapshot(ev), out, ck)),
    // one (type, us, id) touchpoint slot per key
    Cell("last_touch", true, Nil, (ev, out, ck) =>
      file(StatefulProcessors.lastTouchCredits(ev), out, ck)))

  /** Total state rows of the latest progress that reports state operators. */
  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)

  /** Elements of list-state variable `v` in the checkpoint's latest
    * committed batch (operator 0, one row per element). */
  private def listElements(ck: String, v: String): Long =
    spark.read.format("statestore").option("stateVarName", v).load(ck).count()

  private def distinctUsers(in: String): Long =
    StreamingPipelines.parseCsvLines(spark.read.text(in))
      .select("user_id").distinct().count()

  cells.foreach { cell =>
    test(s"${cell.name}: state stays bounded through load, restart and sustain") {
      withRocksDb {
        val s = spark
        import s.implicits._
        val (in, out, ck) = (tempDir(s"bs-${cell.name}-in"),
          tempDir(s"bs-${cell.name}-out"), tempDir(s"bs-${cell.name}-ck"))
        val perPhase = FilesPerPhase.toLong * PerFile
        /** Drain what is in `in` with a fresh query on the checkpoint;
          * (state rows, list elements, distinct keys fed so far). */
        def phase(): (Long, Long, Long) = {
          val q = cell.mk(StreamingPipelines.textFileSource(s, in).as[Ev], out, ck)
          val rows = try { q.processAllAvailable(); stateRows(q) } finally q.stop()
          (rows, cell.lists.map(listElements(ck, _)).sum, distinctUsers(in))
        }
        Generators.writeCsvFilesWide(in, seed = 42, FilesPerPhase, PerFile, Users,
          stepUs = StepUs)
        val (load, listsLoad, keysLoad) = phase()
        Generators.writeCsvFilesWide(in, seed = 43, files = 1, perFile = RestartRows,
          users = Users, stepUs = StepUs, fileOffset = FilesPerPhase, idOffset = perPhase)
        val (restart, _, keysRestart) = phase()
        Generators.writeCsvFilesWide(in, seed = 44, FilesPerPhase, PerFile, Users,
          stepUs = StepUs, fileOffset = FilesPerPhase + 1, idOffset = perPhase + RestartRows)
        val (sustain, listsSustain, keysSustain) = phase()
        info(s"state rows: load $load, restart $restart, sustain $sustain; keys $keysSustain" +
          (if (cell.lists.isEmpty) "" else s"; list elements: load $listsLoad, sustain $listsSustain"))

        assert(load > 0, "the load phase must leave state to bound")
        assert(sustain <= GrowthFactor * load,
          s"state grew from $load to $sustain rows while the events fed doubled")
        if (cell.lists.nonEmpty) {
          assert(listsLoad > 0, "the load phase must leave list elements to bound")
          assert(listsSustain <= GrowthFactor * listsLoad,
            s"lists grew from $listsLoad to $listsSustain elements while the events fed doubled")
        }
        if (cell.perKey) {
          Seq((load, keysLoad), (restart, keysRestart), (sustain, keysSustain))
            .foreach { case (rows, keys) =>
              assert(rows <= keys, s"$rows state rows for $keys keys fed")
            }
        }
      }
    }
  }
}
