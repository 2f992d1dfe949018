package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorHandle, TimeMode, TimerValues, TTLConfig, ValueState}

/** The streaming duals on Spark 4's `transformWithState` (per-key
  * value, list and timer state; it needs the RocksDB state store). X1
  * and X2, the reference's own keyed-`ValueState` jobs
  * (StatefulOperations.java:87-126, CourseUseCase.java:120-176), are not
  * here: [[StatefulOps]] holds their one dual on `flatMapGroupsWithState`,
  * which also runs on the default HDFS-backed store the jobs use.
  */
object StatefulProcessors {

  /** Full event-time microseconds: getTime is millis, the micros within
    * the milli live in getNanos. Every processor that computes horizons
    * in microseconds must SORT by this derived value too — two events in
    * the same millisecond with different microseconds would otherwise
    * process out of us-order and diverge from the batch duals' strict
    * (us, event_id) window ordering. */
  private[streaming] def evUs(e: Ev): Long =
    e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L

  /** TTL plumbing (round-13 audit). Spark's state TTL is PROCESSING-time
    * based and only legal in `TimeMode.ProcessingTime`, so TTL here is
    * strictly opt-in: `ttl = None` (every registered pipeline) keeps
    * `TimeMode.None` and bit-identical semantics; `ttl = Some(d)` flips
    * the wiring to ProcessingTime and attaches `TTLConfig(d)` to the
    * state handles. TTL is offered ONLY on processors where evicting a
    * silent key loses no owed emission — detector/CEP state whose pending
    * value can never fire again once real time has moved `d` past the
    * pattern horizon (pick `d` >> gap/threshold + max event-time skew).
    * Processors whose expiry must EMIT (the x6/x7/x8 runs the watermark
    * finalizes, x10's finalize-on-evidence runs, the timer sessionizer,
    * the nearest join) or whose state IS the product (top-k, drift sums,
    * quotas, packer fills, space-saving counters — all hard-bounded) do
    * not take the knob; the full per-processor table lives in PLANS.md
    * ("State-lifetime audit"). */
  private def ttlOr(ttl: Option[java.time.Duration]): TTLConfig =
    ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
  private[streaming] def ttlMode(ttl: Option[java.time.Duration]): TimeMode =
    if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()

  /** Delete-before-rearm: move the key's one timer to `want` (ms), or
    * disarm it when `want` < 0. The armed expiry lives in `armed`, so a
    * superseded timer is deleted instead of leaking into the timer store
    * (one per batch per active key) until its natural expiry. */
  private def rearm(h: StatefulProcessorHandle, armed: ValueState[Long], want: Long): Unit = {
    val prev = if (armed.exists()) armed.get() else -1L
    if (prev != want) {
      if (prev >= 0L) h.deleteTimer(prev)
      if (want >= 0L) { h.registerTimer(want); armed.update(want) } else armed.clear()
    }
  }

  /** Watermark on `ts` `delay` behind the newest event, keyed by user,
    * event-time timers: the wiring of every per-user processor whose
    * state the watermark finalizes. Rows older than the watermark are
    * dropped before the processor sees them. */
  private def byUserEventTime[O: org.apache.spark.sql.Encoder](events: Dataset[Ev],
      delay: String, p: StatefulProcessor[Long, Ev, O]): Dataset[O] =
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(p, TimeMode.EventTime(), OutputMode.Append())

  /** Session closed by an event-time timer: per-user summary. */
  final case class SessionSummary(
      user_id: Long, start_ts: Timestamp, end_ts: Timestamp, n_events: Long)

  /** Gap-based sessionization driven by EVENT-TIME TIMERS — the Flink
    * timer-service pattern (and what `session_window` does internally,
    * here exposed as arbitrary state so the summary can carry anything).
    * Each event extends the open session and re-arms a timer at
    * `last + gap`; when the watermark passes it, `handleExpiredTimer`
    * emits the summary and clears state — sessions close with NO further
    * input for that key, which a batch-driven sessionizer cannot do.
    *
    * Cross-batch disorder: a late-but-within-watermark event is merged if
    * it falls within `gap` of EITHER end of the open session, and a
    * pre-start event min-updates `start_ts` (per-batch sorting only fixes
    * in-batch disorder). An event more than `gap` before the session start
    * can no longer reopen anything — it is emitted as its own singleton
    * session. The armed timer's expiry is tracked in state so each re-arm
    * DELETES the superseded timer first — otherwise every batch leaks one
    * timer per active key into the timer store until natural expiry.
    */
  final class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Ev, SessionSummary] {

    // (startMs, lastMs, count)
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    // expiry of the currently armed timer, for delete-before-rearm
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def summary(user: Long, s: (Long, Long, Long)): SessionSummary =
      SessionSummary(user, new Timestamp(s._1), new Timestamp(s._2), s._3)

    private def cur(): Option[(Long, Long, Long)] =
      if (sess.exists()) Some(sess.get()) else None

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessionSummary] = {
      val out = Seq.newBuilder[SessionSummary]
      // sessions are kept in millis; the sort still follows full micros
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val t = e.ts.getTime
        cur() match {
          case Some((start, last, n)) if t >= start - gapMs && t <= last + gapMs =>
            sess.update((math.min(start, t), math.max(last, t), n + 1))
          case Some(old) if t > old._2 + gapMs => // gap exceeded in-batch: close inline
            out += summary(user, old)
            sess.update((t, t, 1L))
          case Some(_) => // > gap BEFORE start: too old to merge or reopen
            out += SessionSummary(user, new Timestamp(t), new Timestamp(t), 1L)
          case None =>
            sess.update((t, t, 1L))
        }
      }
      cur().foreach(s => rearm(getHandle, armed, s._2 + gapMs))
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionSummary] =
      cur() match {
        case Some(s) if expired.getExpiryTimeInMs() >= s._2 + gapMs =>
          sess.clear()
          armed.clear()
          Iterator.single(summary(user, s))
        case _ => Iterator.empty // stale timer from a superseded session
      }
  }

  /** A user advancing to funnel step `step` (1-based) at `ts`. */
  final case class FunnelAdvance(
      user_id: Long, step: Int, step_name: String, ts: Timestamp)

  /** Streaming ordered funnel — the stateful dual of the batch
    * `a9_funnel` query: per user, a monotone stage counter advances when
    * the NEXT expected step type arrives strictly after the previous
    * advance, and each advance is emitted as it happens (a batch funnel
    * can only report converted counts after the fact; the streaming one
    * flags the conversion in-flight). One (Int, Long) slot per user —
    * state is O(1) per key regardless of event volume.
    */
  final class FunnelProcessor(steps: IndexedSeq[String],
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, FunnelAdvance] {

    // (steps completed, micros of the latest advance)
    @transient private var stage: ValueState[(Int, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stage = getHandle.getValueState[(Int, Long)]("stage",
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong), ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[FunnelAdvance] = {
      val out = Seq.newBuilder[FunnelAdvance]
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val (done, lastUs) = if (stage.exists()) stage.get() else (0, Long.MinValue)
        val tUs = evUs(e)
        if (done < steps.length && e.event_type == steps(done) && tUs > lastUs) {
          stage.update((done + 1, tUs))
          out += FunnelAdvance(user, done + 1, steps(done), e.ts)
        }
      }
      out.result().iterator
    }
  }

  private implicit val evEnc = Encoders.product[Ev]
  private implicit val longEnc = Encoders.scalaLong
  private implicit val ssEnc = Encoders.product[SessionSummary]

  private implicit val faEnc = Encoders.product[FunnelAdvance]

  /** `ttl`: a funnel-expiry window — a user silent for `ttl` restarts
    * from step 1 (deliberately visible, the standard "conversion window"
    * semantics of product funnels). */
  def funnelAdvances(events: Dataset[Ev],
      steps: IndexedSeq[String] = IndexedSeq("signup", "view", "click", "purchase"),
      ttl: Option[java.time.Duration] = None): Dataset[FunnelAdvance] =
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(steps, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** Timer-closed sessions; the watermark on `ts` (TimeMode.EventTime)
    * drives timer expiry, so a session closes once event time provably
    * moved past its gap — no further input needed for that key. */
  def sessionSummaries(events: Dataset[Ev], gapMs: Long = 5000L,
      delay: String = "10 seconds"): Dataset[SessionSummary] =
    byUserEventTime(events, delay, new SessionTimerProcessor(gapMs))

  /** One space-saving counter: estimated count and max overestimation. */
  final case class HeavyHitter(shard: Int, item: String, est: Long, err: Long)

  /** Streaming heavy hitters with BOUNDED state — the Metwally
    * space-saving algorithm. Unlike a per-item keyed count (state grows
    * with the item domain), each shard keeps at most `capacity` counters:
    * a known item increments; a new item under capacity inserts at
    * (1, 0); at capacity it REPLACES the minimum counter, inheriting its
    * estimate as the new item's overestimation bound `err`. Guarantees:
    * est >= true count >= est - err, and any item with true count >
    * shardTotal/capacity is guaranteed present — the streaming dual of
    * the batch q_cms_topk (CMS overcounts via collisions; space-saving
    * overcounts via inheritance, but pins the error per item).
    *
    * Sharding: items are partitioned by a hash of the item, so each
    * item's full count lands in exactly one shard and shard summaries
    * CONCATENATE (no cross-shard merge math); top-k = take the k largest
    * over the union.
    *
    * Emission contract: each batch emits the touched counters, and every
    * EVICTION emits a tombstone `(item, est-at-eviction, err = -1)` — a
    * consumer that only kept the latest live row would otherwise retain
    * a frozen estimate for an item the sketch no longer tracks. "Latest"
    * is deterministic without row order: a live item's est only grows,
    * and a re-inserted item's est is STRICTLY greater than its
    * pre-eviction est (it inherits the monotone min counter + 1), so the
    * per-item row with lexicographically max `(est, err == -1)` is the
    * newest; if that row is a tombstone the item is currently untracked.
    */
  final class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[Int, Ev, HeavyHitter] {

    // item -> (est, err); capacity entries max, scanned for the min on
    // eviction (capacity is small by construction — that scan IS the
    // algorithm's O(capacity) bound, not a scale hazard).
    @transient private var counters: org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, (Long, Long)]("counters",
        Encoders.STRING, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(shard: Int, rows: Iterator[Ev],
        tv: TimerValues): Iterator[HeavyHitter] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      val evictedAt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val item = e.event_type
        if (counters.containsKey(item)) {
          val (est, err) = counters.getValue(item)
          counters.updateValue(item, (est + 1, err))
        } else {
          val entries = counters.iterator().toSeq
          if (entries.size < capacity) {
            counters.updateValue(item, (1L, 0L))
          } else {
            val (minItem, (minEst, _)) =
              entries.minBy { case (k, (est, _)) => (est, k) }
            counters.removeKey(minItem)
            counters.updateValue(item, (minEst + 1L, minEst))
            touched -= minItem
            evictedAt.put(minItem, minEst)
          }
        }
        touched += item
        evictedAt.remove(item) // re-entry supersedes an earlier same-batch eviction
      }
      val live = touched.iterator.map { item =>
        val (est, err) = counters.getValue(item)
        HeavyHitter(shard, item, est, err)
      }
      val tombstones = evictedAt.iterator.map { case (item, est) =>
        HeavyHitter(shard, item, est, -1L)
      }
      (live ++ tombstones).toSeq.iterator
    }
  }

  private implicit val hhEnc = Encoders.product[HeavyHitter]
  private implicit val intEnc = Encoders.scalaInt

  /** Heavy hitters over `event_type` with `shards * capacity` total
    * counters of state, regardless of domain size. */
  def heavyHitters(events: Dataset[Ev], capacity: Int = 4,
      shards: Int = 8): Dataset[HeavyHitter] =
    events.groupByKey(e => math.floorMod(e.event_type.hashCode, shards))
      .transformWithState(new SpaceSavingProcessor(capacity),
        TimeMode.None(), OutputMode.Append())

  /** One document's bin assignment from the online packer. */
  final case class PackedDoc(shard: Int, doc_id: Long, n_tokens: Long,
      bin: Long, bin_offset: Long)

  /** Online sequence packing — the streaming dual of the batch
    * `d_pack_sequences` query. Each shard appends arriving documents to
    * its current bin until the token budget would overflow, then opens a
    * new bin; the only state is one (bin, fill) pair per shard, so state
    * is O(shards) forever. Where the batch packer is deterministic in
    * its md5 shuffle order, the online packer is deterministic in
    * ARRIVAL order (within a micro-batch: doc_id order). Global bin ids
    * interleave shards (`shard + shards * localBin`) so shards never
    * coordinate — the concatenable-summary trick again. A document
    * larger than the budget gets a bin of its own (emitted at offset 0,
    * overflowing it), matching how packers handle overlong documents
    * before truncation downstream. */
  final class SequencePackerProcessor(binTokens: Long, nShards: Int)
      extends StatefulProcessor[Int, (Long, Long), PackedDoc] {

    // (current local bin, tokens already packed into it)
    @transient private var fill: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      fill = getHandle.getValueState[(Long, Long)]("fill",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(shard: Int, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[PackedDoc] = {
      var (bin, f) = if (fill.exists()) fill.get() else (0L, 0L)
      val out = rows.toSeq.sortBy(_._1).map { case (docId, n) =>
        if (f > 0 && f + n > binTokens) { bin += 1; f = 0L }
        val p = PackedDoc(shard, docId, n, shard.toLong + nShards.toLong * bin, f)
        f += n
        p
      }
      fill.update((bin, f))
      out.iterator
    }
  }

  /** Bounded top-k state for one key: parallel primitive arrays (cheap
    * to encode, no nested-row overhead), kept sorted (score desc, id). */
  final case class TopKState(scores: Array[Double], ids: Array[Long])

  /** One emitted ranking row. */
  final case class RankedHit(qid: Long, vec_id: Long, score: Double, rank: Int)

  /** Continuous grouped top-k — the streaming dual of the batch kNN
    * family's TakeOrdered stage: per key, a BOUNDED heap of the k best
    * (score, id) pairs ever seen, merged with each micro-batch's
    * arrivals and re-emitted in full (rank 1..k) whenever the batch
    * touched the key. State is O(k) per key forever — no watermark
    * needed because top-k only improves monotonically; ties break on
    * the smaller id, so the ranking is deterministic under any arrival
    * order. Consumers replace a key's previous ranking wholesale on
    * each emission (Update-mode semantics). */
  final class TopKProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Double), RankedHit] {

    @transient private var state: ValueState[TopKState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TopKState]("topk",
        Encoders.product[TopKState], TTLConfig.NONE)

    override def handleInputRows(qid: Long, rows: Iterator[(Long, Long, Double)],
        tv: TimerValues): Iterator[RankedHit] = {
      val prev = if (state.exists()) {
        val s = state.get()
        s.scores.zip(s.ids).map { case (sc, id) => (sc, id) }.toSeq
      } else Seq.empty[(Double, Long)]
      // collapse per vec_id keeping the BEST score (not distinct on the
      // full pair): a re-embedded vector that re-arrives with a changed
      // score must occupy one ranking slot, and top-k semantics here are
      // monotone-improvement, so best-ever wins
      val merged = (prev ++ rows.map { case (_, id, sc) => (sc, id) })
        .groupBy(_._2).iterator
        .map { case (id, hits) => (hits.iterator.map(_._1).max, id) }
        .toSeq
        .sortBy { case (sc, id) => (-sc, id) }
        .take(k)
      state.update(TopKState(merged.map(_._1).toArray, merged.map(_._2).toArray))
      merged.iterator.zipWithIndex.map { case ((sc, id), i) =>
        RankedHit(qid, id, sc, i + 1)
      }
    }
  }

  private implicit val rankedEnc = Encoders.product[RankedHit]
  private implicit val lldEnc =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)

  /** Continuous top-k over a stream of (qid, vec_id, score) triples. */
  def topKPerKey(scored: Dataset[(Long, Long, Double)], k: Int = 5): Dataset[RankedHit] =
    scored.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())

  private implicit val packedEnc = Encoders.product[PackedDoc]
  private implicit val llEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Pack a document stream `(doc_id, text, ...)` into `binTokens`-sized
    * training bins, hash-sharded for parallelism. */
  def packStream(docs: org.apache.spark.sql.DataFrame, binTokens: Long = 2048,
      shards: Int = 8): Dataset[PackedDoc] =
    docs.selectExpr("doc_id", "cast(size(split(text, ' ')) AS bigint) AS n")
      .as[(Long, Long)](llEnc)
      .groupByKey(t => math.floorMod(t._1.hashCode, shards))
      .transformWithState(new SequencePackerProcessor(binTokens, shards),
        TimeMode.None(), OutputMode.Append())

  /** Full document row entering / leaving the routing quota (timestamps
    * as epoch micros so the wire tuple stays primitive). */
  final case class DocIn(source: String, doc_id: Long, ts_us: Long,
      lang: String, text: String)
  final case class RoutedDoc(source: String, doc_id: Long, ts_us: Long,
      lang: String, text: String, seq: Long, admitted: Boolean)

  /** Online per-source quota — the streaming dual of the batch
    * `d_source_quota`. The batch query keeps the top-q documents per
    * source by quality; a stream cannot rank what it has not seen yet,
    * so the streaming semantics are ADMISSION CONTROL: the first
    * `quota` documents of each source pass, later arrivals are emitted
    * with `admitted = false` so a downstream splitter can route them to
    * a spill/backfill path (rather than silently vanishing — the same
    * auditability discipline as the late-data router). Deterministic in
    * arrival order, doc_id order within a micro-batch. The document
    * rides through the decision, so a pipeline splits admitted/spilled
    * rows without a stream-stream join back to the payload (which would
    * need watermark-bounded state of its own). State is ONE counter per
    * source — O(sources) forever, the same bounded-state argument as the
    * online packer; a TTL would turn it into a quota-per-retention-window
    * if sources should refresh. */
  final class QuotaRouteProcessor(quota: Long)
      extends StatefulProcessor[String, DocIn, RoutedDoc] {

    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[DocIn],
        tv: TimerValues): Iterator[RoutedDoc] = {
      var n = if (admitted.exists()) admitted.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        n += 1
        RoutedDoc(d.source, d.doc_id, d.ts_us, d.lang, d.text, n, n <= quota)
      }
      admitted.update(n)
      out.iterator
    }
  }

  private implicit val diEnc = Encoders.product[DocIn]
  private implicit val rdEnc = Encoders.product[RoutedDoc]

  def quotaRouteStream(docs: org.apache.spark.sql.DataFrame,
      quota: Long = 8L): Dataset[RoutedDoc] =
    docs.selectExpr("coalesce(source, 'src0') AS source", "doc_id",
        "unix_micros(ts) AS ts_us", "lang", "text")
      .as[DocIn](diEnc)
      .groupByKey(_.source)(Encoders.STRING)
      .transformWithState(new QuotaRouteProcessor(quota),
        TimeMode.None(), OutputMode.Append())

  /** Streaming dual of the batch `d_reservoir_sample`: a distributed
    * reservoir keeping the k smallest hash priorities per shard —
    * identical priorities (48-bit md5 of the doc id, exact in a double)
    * and identical tiebreak as the batch query, so the stream converges
    * to EXACTLY the batch answer on the same documents
    * (ReservoirStreamSpec proves the equivalence). State is bounded at
    * shards * k entries regardless of stream length; the global sample
    * is the bottom-k of the (tiny) union of shard outputs. */
  def reservoirStream(docs: org.apache.spark.sql.DataFrame, k: Int = 64,
      shards: Int = 8): Dataset[RankedHit] =
    docs.selectExpr(
        "cast(pmod(doc_id, " + shards + ") AS bigint) AS shard",
        "doc_id",
        // negated: TopKProcessor keeps best-score-desc = smallest priority
        "cast(-cast(conv(substring(md5(cast(doc_id AS string)),1,12),16,10) AS bigint) AS double) AS score")
      .as[(Long, Long, Double)](lldEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())

  /** One event-time window closed (or flagged) by the staircase
    * watermark: `kind` is "closed" (watermark passed the window end),
    * "late" (event for an already-closed window), or "idle" (the
    * per-key source went quiet — `window_start` carries the final
    * effective watermark, `n` the count of still-open windows). */
  final case class WmWindow(user_id: Long, window_start: Timestamp, n: Long, kind: String)

  /** T3: the reference's hand-rolled processing-time WatermarkGenerator
    * (EventTimeOperations.java:96-139), re-expressed as a stateful
    * operator that OWNS the window-close/late decision — Structured
    * Streaming exposes no custom-watermark hook, so the faithful move is
    * to take the watermark out of the engine's hands entirely. Policy
    * math is the reference's exactly: the first event pins the staircase
    * base to the current wall clock (`currWaterMark = currentTime`);
    * later events advance the base to `now` only when
    * `now - base > advanceMs` (the 10 s staircase); the effective
    * watermark is always `base - bufferMs` (the -2 s buffer); and a
    * processing-time timer plays `onPeriodicEmit` — when `advanceMs`
    * passes with no input for the key, it emits the final watermark
    * value as an `idle` marker WITHOUT advancing it, so open windows
    * stall exactly as a Flink window operator does over a single idle
    * source (`markIdle` only releases OTHER sources' watermarks).
    * Events whose tumbling window the effective watermark already
    * closed emit with `kind = "late"` — the in-operator analog of the
    * reference's side-output tag (T4 proper is `LateDataRouter`).
    *
    * Documented deviations: the staircase is per KEY, not per source
    * partition (transformWithState state is keyed — strictly finer,
    * same policy math); late routing is an output flag rather than a
    * second DataFrame (split downstream on `kind`).
    *
    * Scale: state per key is two longs plus the OPEN-window map, which
    * is bounded by windows-per-staircase-step (advanceMs / windowMs + 1
    * entries live at once), not by event volume.
    */
  final class StaircaseWatermarkProcessor(
      windowMs: Long, advanceMs: Long, bufferMs: Long)
      extends StatefulProcessor[Long, Ev, WmWindow] {

    @transient private var base: ValueState[Long] = _       // staircase wall-clock base
    @transient private var closedUpTo: ValueState[Long] = _ // effective watermark already applied
    @transient private var armed: ValueState[Long] = _      // expiry of the live idleness timer
    @transient private var open: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      base = getHandle.getValueState[Long]("base", Encoders.scalaLong, TTLConfig.NONE)
      closedUpTo = getHandle.getValueState[Long]("closedUpTo", Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
      open = getHandle.getMapState[Long, Long]("open",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Emit and drop every open window whose END the watermark passed. */
    private def closeReady(user: Long, effective: Long): Seq[WmWindow] = {
      val ready = open.iterator().filter { case (ws, _) => ws + windowMs <= effective }.toSeq
      ready.sortBy(_._1).map { case (ws, n) =>
        open.removeKey(ws)
        WmWindow(user, new Timestamp(ws), n, "closed")
      }
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[WmWindow] = {
      val now = tv.getCurrentProcessingTimeInMs()
      // The staircase: pin on first event, jump only past advanceMs.
      val b0 = if (base.exists()) base.get() else { base.update(now); now }
      val b = if (now - b0 > advanceMs) { base.update(now); now } else b0
      val effective = b - bufferMs
      val floor = if (closedUpTo.exists()) closedUpTo.get() else Long.MinValue
      val out = Seq.newBuilder[WmWindow]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val ws = Math.floorDiv(e.ts.getTime, windowMs) * windowMs
        if (ws + windowMs <= floor) out += WmWindow(user, e.ts, 1L, "late")
        else {
          val n = if (open.containsKey(ws)) open.getValue(ws) else 0L
          open.updateValue(ws, n + 1L)
        }
      }
      out ++= closeReady(user, effective)
      if (effective > floor) closedUpTo.update(effective)
      // Arm/refresh the idleness check (onPeriodicEmit's micro-batch
      // stand-in); delete-before-rearm so one timer is live per key and
      // idleness is marked once, not once per superseded batch.
      rearm(getHandle, armed, now + advanceMs + 1L)
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[WmWindow] = {
      val now = tv.getCurrentProcessingTimeInMs()
      armed.clear()
      if (base.exists() && now - base.get() > advanceMs) {
        // Final watermark + markIdle: re-emit the UNCHANGED effective
        // watermark; open windows deliberately stay open.
        val stillOpen = open.iterator().size.toLong
        Iterator.single(
          WmWindow(user, new Timestamp(base.get() - bufferMs), stillOpen, "idle"))
      } else Iterator.empty // events arrived since; a fresher timer is armed
    }
  }

  private implicit val wmwEnc = Encoders.product[WmWindow]

  /** T3 wiring: tumbling event-time windows closed by the per-key
    * staircase watermark above (defaults = the reference's constants:
    * 1 s windows closed by a 10 s wall-clock staircase minus 2 s).
    *
    * Run the query with an explicit `Trigger.ProcessingTime(...)`: in
    * `TimeMode.ProcessingTime` the engine considers another batch
    * always warranted (that is what fires timers with no input — the
    * periodic-emit channel), so the default as-fast-as-possible trigger
    * busy-loops no-data batches, and `processAllAvailable()` never
    * returns (poll the sink instead — see StaircaseWatermarkSpec). */
  def staircaseWindows(events: Dataset[Ev], windowMs: Long = 1000L,
      advanceMs: Long = 10000L, bufferMs: Long = 2000L): Dataset[WmWindow] =
    events.groupByKey(_.user_id)
      .transformWithState(new StaircaseWatermarkProcessor(windowMs, advanceMs, bufferMs),
        TimeMode.ProcessingTime(), OutputMode.Append())

  /** One finalized nearest-neighbor alignment: the purchase with the
    * smallest |Δt| within the tolerance of a click (dt_us = click − purchase). */
  final case class NearestMatch(
      user_id: Long, click_id: Long, click_us: Long, purchase_us: Long, dt_us: Long)

  /** Streaming dual of the batch `j4_nearest_join`: per user, align each
    * click to the purchase with the smallest |Δt| within ±`tolUs` —
    * ties to the EARLIER purchase, exactly the batch argmin. A click
    * cannot finalize before the watermark passes `click + tol` (a nearer
    * purchase may still arrive), so each click arms an EVENT-TIME timer
    * at its deadline and emits from `handleExpiredTimer` — the
    * watermark-delayed-emission pattern of [[SessionTimerProcessor]].
    * State per key: the pending clicks inside the tolerance horizon and
    * the purchases still inside ANY pending-or-future click's reach —
    * purchases prune once `p + tol` sits behind BOTH the watermark (no
    * future on-time click can reach back) and every pending click;
    * clicks prune at finalization. Unmatched clicks finalize silently
    * (the batch join is inner). Cross-batch late rows follow the suite
    * contract: a click/purchase older than the watermark at arrival may
    * finalize against an incomplete purchase set — the same rows the
    * ts-ordered batch analog would treat as on-time are matched
    * identically. */
  final class NearestJoinProcessor(tolUs: Long)
      extends StatefulProcessor[Long, Ev, NearestMatch] {

    @transient private var clicks: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var purchases: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      clicks = getHandle.getListState[(Long, Long)]("clicks",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      purchases = getHandle.getListState[Long]("purchases",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def us(e: Ev): Long = evUs(e)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[NearestMatch] = {
      var cs = if (clicks.exists()) clicks.get().toVector else Vector.empty
      var psv = if (purchases.exists()) purchases.get().toVector else Vector.empty
      rows.toSeq.sortBy(e => (us(e), e.event_id)).foreach { e =>
        e.event_type match {
          case "click" =>
            val cUs = us(e)
            cs = cs :+ ((e.event_id, cUs))
            // deadline in ms, rounded up: fires once the watermark passes
            // click + tol (duplicate deadlines re-register harmlessly —
            // stale firings find no due clicks and no-op)
            getHandle.registerTimer((cUs + tolUs) / 1000L + 1L)
          case "purchase" => psv = psv :+ us(e)
          case _ => ()
        }
      }
      prune(cs, psv, tv.getCurrentWatermarkInMs() * 1000L)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[NearestMatch] = {
      val wmUs = expired.getExpiryTimeInMs() * 1000L
      var cs = if (clicks.exists()) clicks.get().toVector else Vector.empty
      val psv = if (purchases.exists()) purchases.get().toVector else Vector.empty
      val (due, pending) = cs.partition { case (_, cUs) => cUs + tolUs < wmUs }
      val out = due.sortBy { case (id, cUs) => (cUs, id) }.flatMap { case (id, cUs) =>
        val cands = psv.filter(p => math.abs(p - cUs) <= tolUs)
        if (cands.isEmpty) None
        else {
          // smallest |Δt|, tie -> earlier purchase: the batch argmin
          val best = cands.minBy(p => (math.abs(p - cUs), p))
          Some(NearestMatch(user, id, cUs, best, cUs - best))
        }
      }
      cs = pending
      prune(cs, psv, wmUs)
      out.iterator
    }

    /** Persist state, dropping purchases no pending or future on-time
      * click can reach (p + tol behind both the watermark and every
      * pending click). */
    private def prune(cs: Vector[(Long, Long)], psv: Vector[Long], wmUs: Long): Unit = {
      val minPending = cs.map(_._2).minOption.getOrElse(Long.MaxValue)
      val keepFrom = math.min(wmUs, minPending) - tolUs
      val kept = psv.filter(_ >= keepFrom)
      clicks.clear()
      if (cs.nonEmpty) clicks.put(cs.toArray)
      purchases.clear()
      if (kept.nonEmpty) purchases.put(kept.toArray)
    }
  }

  private implicit val nmEnc = Encoders.product[NearestMatch]

  /** J4 streaming wiring: nearest-purchase alignment with watermark-
    * delayed finalization (event-time timers). */
  def nearestJoin(events: Dataset[Ev], tolUs: Long = 900000000L,
      delay: String = "10 seconds"): Dataset[NearestMatch] =
    byUserEventTime(events, delay, new NearestJoinProcessor(tolUs))

  /** X3 output: one completed first->second->third sequence (event-time
    * microseconds per matched stage). */
  final case class CepMatch(
      user_id: Long, first_id: Long, first_us: Long, second_us: Long, third_us: Long)

  /** X3 streaming dual (beyond the reference — the Flink-CEP sequence
    * pattern): per key, match every `first` event through
    * first -> second -> third with each hop inside `gapUs`, emitting the
    * earliest-qualifying completion per `first` event — exactly the
    * batch x3_cep_sequence semantics for in-order arrivals. State is a
    * ListState of partial matches (first_id, first_us, second_us|-1),
    * bounded by the gap horizon: every arriving event prunes partials
    * whose live hop deadline has passed, so state per key is the number
    * of in-flight sequences inside ~2 gaps, never event history. Events
    * are sorted (ts, event_id) within a batch like the other
    * processors; cross-batch late events are excluded by the same
    * contract (a late `second` can no longer join an already-pruned
    * partial — matching what the ts-ordered batch analog computes for
    * on-time data). */
  final class CepProcessor(first: String, second: String, third: String, gapUs: Long,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, CepMatch] {

    @transient private var partials: org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      partials = getHandle.getListState[(Long, Long, Long)]("partials",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepMatch] = {
      val out = Seq.newBuilder[CepMatch]
      var ps = (if (partials.exists()) partials.get().toVector else Vector.empty)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        // full microsecond precision (ms-only fixtures get + 0)
        val us = evUs(e)
        e.event_type match {
          case `first` => ps = ps :+ ((e.event_id, us, -1L))
          case `second` =>
            // earliest qualifying second wins: events arrive sorted, so
            // only a still-empty slot is filled
            ps = ps.map { case p @ (id, aUs, cUs) =>
              if (cUs < 0L && us > aUs && us <= aUs + gapUs) (id, aUs, us) else p
            }
          case `third` =>
            val (done, rest) = ps.partition { case (_, _, cUs) =>
              cUs > 0L && us > cUs && us <= cUs + gapUs
            }
            done.foreach { case (id, aUs, cUs) =>
              out += CepMatch(user, id, aUs, cUs, us)
            }
            ps = rest
          case _ => ()
        }
        // prune partials whose live hop deadline has passed
        ps = ps.filter { case (_, aUs, cUs) =>
          if (cUs < 0L) us <= aUs + gapUs else us <= cUs + gapUs
        }
      }
      partials.clear()
      if (ps.nonEmpty) partials.put(ps.toArray)
      out.result().iterator
    }
  }

  private implicit val cepEnc = Encoders.product[CepMatch]

  /** X3 wiring: CEP sequence matching over the typed event stream. */
  /** `ttl`: evicts partials of keys silent for `ttl` of real time.
    * Emission-preserving for on-time data when `ttl` >> 2×gap + skew:
    * a partial that old can only complete off an extreme late replay
    * (x3 partials never emit on expiry — they just die). */
  def cepSequence(events: Dataset[Ev], first: String = "signup",
      second: String = "click", third: String = "purchase",
      gapUs: Long = 21600000000L,
      ttl: Option[java.time.Duration] = None): Dataset[CepMatch] =
    events.groupByKey(_.user_id)
      .transformWithState(new CepProcessor(first, second, third, gapUs, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** X4 output: a `first` event matched to its earliest `last` with no
    * intervening `neg` event (event-time microseconds). */
  final case class CepNegMatch(user_id: Long, first_id: Long, first_us: Long, last_us: Long)

  /** X4 streaming dual (Flink-CEP `notFollowedBy`): per key, match each
    * `first` event to its EARLIEST `last` inside `gapUs`, vetoed when a
    * `neg` event lands strictly between the two — exactly the batch
    * x4_cep_negation semantics for in-order arrivals. A partial carries
    * the earliest `neg` timestamp seen after its anchor (-1 = none);
    * completion requires `neg_us >= last_us` — a tie (`neg` at the same
    * microsecond as `last`) does NOT veto, matching the batch's strict
    * `x.us < p_us` blocker no matter how the within-batch sort breaks
    * the tie. A partial whose candidate `last` was vetoed is dropped
    * (every later `last` is blocked by the same `neg` a fortiori), and
    * anchors past their gap horizon prune on every event, so state per
    * key is in-flight anchors within one gap, never event history. */
  final class CepNegationProcessor(first: String, neg: String, last: String, gapUs: Long,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, CepNegMatch] {

    @transient private var partials: org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      partials = getHandle.getListState[(Long, Long, Long)]("neg_partials",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepNegMatch] = {
      val out = Seq.newBuilder[CepNegMatch]
      var ps = (if (partials.exists()) partials.get().toVector else Vector.empty)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val us = evUs(e)
        e.event_type match {
          case `first` => ps = ps :+ ((e.event_id, us, -1L))
          case `neg` =>
            // record the earliest neg STRICTLY after each anchor
            ps = ps.map { case p @ (id, aUs, nUs) =>
              if (nUs < 0L && us > aUs) (id, aUs, us) else p
            }
          case `last` =>
            val (inRange, rest) = ps.partition { case (_, aUs, _) =>
              us > aUs && us <= aUs + gapUs
            }
            inRange.foreach { case (id, aUs, nUs) =>
              if (nUs < 0L || nUs >= us) out += CepNegMatch(user, id, aUs, us)
              // vetoed anchors die: any later `last` is blocked by the
              // same earlier `neg`
            }
            ps = rest
          case _ => ()
        }
        ps = ps.filter { case (_, aUs, _) => us <= aUs + gapUs }
      }
      partials.clear()
      if (ps.nonEmpty) partials.put(ps.toArray)
      out.result().iterator
    }
  }

  private implicit val cepNegEnc = Encoders.product[CepNegMatch]

  /** X4 wiring: negated CEP over the typed event stream. */
  def cepNegation(events: Dataset[Ev], first: String = "signup",
      neg: String = "error", last: String = "purchase",
      gapUs: Long = 21600000000L,
      ttl: Option[java.time.Duration] = None): Dataset[CepNegMatch] =
    events.groupByKey(_.user_id)
      .transformWithState(new CepNegationProcessor(first, neg, last, gapUs, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** X5 output: a completed times(3) run of `typ` events per key. */
  final case class CepTimesMatch(
      user_id: Long, first_id: Long, c1_us: Long, c2_us: Long, c3_us: Long)

  /** X5 streaming dual (Flink-CEP `times(3)` with relaxed contiguity):
    * per key, every run of three consecutive `typ` events IN THE
    * FILTERED SUBSTREAM (other event types interleave freely) whose span
    * fits inside `gapUs` — exactly the batch x5_cep_times two-lead()
    * window for in-order arrivals. The anchor is consumed by its own
    * triple (each anchor emits at most once, with its IMMEDIATE two
    * successors), so the whole state is the last two `typ` events per
    * key: O(1) state, no horizon bookkeeping needed. */
  final class CepTimesProcessor(typ: String, gapUs: Long,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, CepTimesMatch] {

    @transient private var lastTwo: ValueState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTwo = getHandle.getValueState[(Long, Long, Long, Long)]("last_two",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong),
        ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepTimesMatch] = {
      val out = Seq.newBuilder[CepTimesMatch]
      // (id1, us1, id2, us2): the two most recent typ events, -1 = absent
      var st = if (lastTwo.exists()) lastTwo.get() else (-1L, -1L, -1L, -1L)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id))
        .filter(_.event_type == typ).foreach { e =>
          val us = evUs(e)
          val (id1, us1, _, us2) = st
          if (id1 >= 0L && us2 >= 0L && us - us1 <= gapUs)
            out += CepTimesMatch(user, id1, us1, us2, us)
          st = (st._3, st._4, e.event_id, us)
        }
      lastTwo.update(st)
      out.result().iterator
    }
  }

  private implicit val cepTimesEnc = Encoders.product[CepTimesMatch]

  /** X5 wiring: times(3) quantifier over the typed event stream. */
  def cepTimes(events: Dataset[Ev], typ: String = "click",
      gapUs: Long = 21600000000L,
      ttl: Option[java.time.Duration] = None): Dataset[CepTimesMatch] =
    events.groupByKey(_.user_id)
      .transformWithState(new CepTimesProcessor(typ, gapUs, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** X6/X7/X8 output: a finalized quantifier match — anchor, match size,
    * and last member. */
  final case class CepRangeMatch(
      user_id: Long, first_id: Long, first_us: Long, n_times: Long, last_us: Long)

  private implicit val cepRangeEnc = Encoders.product[CepRangeMatch]
  private val pendingEnc = Encoders.tuple(Encoders.scalaLong,
    Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  /** Timer deadline (ms) of a run anchored at `anchorUs`: one past the
    * horizon, so the watermark must strictly pass it. */
  private def horizonMs(anchorUs: Long, gapUs: Long): Long =
    (anchorUs + gapUs) / 1000L + 1L

  /** X6 and X7 streaming dual (Flink-CEP `times(min, max)` range
    * quantifier, greedy, relaxed contiguity; x7's `oneOrMore` with
    * noSkip is the same fold with `minTimes = 1` and no cap): per key,
    * every `typ` event opens an anchor, and each later `typ` event
    * inside the anchor's `gapUs` horizon grows every open anchor by one.
    * An anchor finalizes with its longest run when it reaches `maxTimes`
    * (the greedy cap — the batch x6 CASE ladder's first arm), when a
    * `typ` event beyond its horizon arrives, or when the watermark
    * passes its horizon; runs shorter than `minTimes` die silently.
    *
    * The watermark arm is the Watermarks paper's completeness rule: one
    * event-time timer per key sits at the earliest pending deadline, so
    * a key that goes silent is finalized by ANY key's traffic advancing
    * the global watermark, with no further input of its own. State is
    * the in-horizon pending-anchor list plus the armed expiry — bounded
    * by the live horizon, never event volume. Rows older than the
    * watermark are dropped before the fold (TimeMode.EventTime), so no
    * late event can reopen a finalized anchor. */
  final class CepRangeProcessor(typ: String, gapUs: Long,
      minTimes: Int, maxTimes: Int)
      extends StatefulProcessor[Long, Ev, CepRangeMatch] {

    @transient private var pending: org.apache.spark.sql.streaming.ListState[(Long, Long, Long, Long)] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[(Long, Long, Long, Long)]("ranget_pending",
        pendingEnc, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("ranget_armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def persist(ps: Vector[(Long, Long, Long, Long)]): Unit = {
      pending.clear()
      if (ps.nonEmpty) pending.put(ps.toArray)
      rearm(getHandle, armed, if (ps.isEmpty) -1L else horizonMs(ps.map(_._2).min, gapUs))
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepRangeMatch] = {
      val out = Seq.newBuilder[CepRangeMatch]
      // (first_id, first_us, count, last_us), insertion-ordered
      var ps = (if (pending.exists()) pending.get().toVector else Vector.empty)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id))
        .filter(_.event_type == typ).foreach { e =>
          val us = evUs(e)
          val (dead, live) = ps.partition { case (_, aUs, _, _) => us - aUs > gapUs }
          dead.foreach { case (id, aUs, c, lUs) =>
            if (c >= minTimes) out += CepRangeMatch(user, id, aUs, c, lUs)
          }
          ps = live.flatMap { case (id, aUs, c, _) =>
            val c2 = c + 1
            if (c2 >= maxTimes) { out += CepRangeMatch(user, id, aUs, c2, us); None }
            else Some((id, aUs, c2, us))
          }
          ps = ps :+ ((e.event_id, us, 1L, us))
        }
      persist(ps)
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[CepRangeMatch] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val ps = (if (pending.exists()) pending.get().toVector else Vector.empty)
      val (done, rest) = ps.partition { case (_, aUs, _, _) => wmUs > aUs + gapUs }
      val out = done.sortBy { case (id, aUs, _, _) => (aUs, id) }.collect {
        case (id, aUs, c, lUs) if c >= minTimes => CepRangeMatch(user, id, aUs, c, lUs)
      }
      armed.clear() // the fired timer is gone; persist() re-arms for the rest
      persist(rest)
      out.iterator
    }
  }

  /** X6 wiring: times(2..4) range quantifier over the typed stream;
    * the watermark on `ts` (`delay` behind the newest event) finalizes
    * silent keys. */
  def cepTimesRange(events: Dataset[Ev], typ: String = "click",
      gapUs: Long = 21600000000L, minTimes: Int = 2, maxTimes: Int = 4,
      delay: String = "10 seconds"): Dataset[CepRangeMatch] =
    byUserEventTime(events, delay, new CepRangeProcessor(typ, gapUs, minTimes, maxTimes))

  /** X7 wiring: greedy oneOrMore (noSkip) — the range processor with no
    * lower bound beyond the anchor itself and no cap, so every anchor
    * emits exactly once, carrying every in-horizon member; overlapping
    * runs emit from each start (Flink's default AfterMatchSkipStrategy). */
  def cepOneOrMore(events: Dataset[Ev], typ: String = "click",
      gapUs: Long = 21600000000L, delay: String = "10 seconds"): Dataset[CepRangeMatch] =
    byUserEventTime(events, delay, new CepRangeProcessor(typ, gapUs, 1, Int.MaxValue))

  /** X8 streaming dual (Flink-CEP AfterMatchSkipStrategy
    * `skipPastLastEvent` over oneOrMore): greedy NON-OVERLAPPING runs —
    * exactly one match is open per key at any moment; a `typ` event
    * inside its `gapUs` horizon joins it, and the first event beyond the
    * horizon closes and emits it and anchors the next. State is ONE
    * tuple per key (the open match) plus its armed expiry — O(1),
    * because skip-past forbids overlap by construction. The open match
    * arms a timer at its horizon (re-armed on every re-anchor); the
    * watermark passing it emits and clears with no further input for
    * that key, so the stream matches the batch x8 on the raw fixture off
    * ONE global watermark advance (CepTimerSpec). */
  final class CepSkipPastTimerProcessor(typ: String, gapUs: Long)
      extends StatefulProcessor[Long, Ev, CepRangeMatch] {

    @transient private var cur: ValueState[(Long, Long, Long, Long)] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cur = getHandle.getValueState[(Long, Long, Long, Long)]("skipt_cur",
        pendingEnc, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("skipt_armed", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepRangeMatch] = {
      val out = Seq.newBuilder[CepRangeMatch]
      // (anchor_id, anchor_us, count, last_us); anchor_id = -1 -> none
      var st = if (cur.exists()) cur.get() else (-1L, -1L, -1L, -1L)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id))
        .filter(_.event_type == typ).foreach { e =>
          val us = evUs(e)
          val (id, aUs, c, lUs) = st
          if (id < 0L) st = (e.event_id, us, 1L, us)
          else if (us - aUs <= gapUs) st = (id, aUs, c + 1L, us)
          else {
            out += CepRangeMatch(user, id, aUs, c, lUs)
            st = (e.event_id, us, 1L, us)
          }
        }
      cur.update(st)
      if (st._1 >= 0L) rearm(getHandle, armed, horizonMs(st._2, gapUs))
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[CepRangeMatch] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      armed.clear()
      val st = if (cur.exists()) cur.get() else (-1L, -1L, -1L, -1L)
      if (st._1 >= 0L && wmUs > st._2 + gapUs) {
        cur.clear()
        Iterator.single(CepRangeMatch(user, st._1, st._2, st._3, st._4))
      } else {
        // growable still (a re-anchor raced the fired timer): re-arm
        if (st._1 >= 0L) rearm(getHandle, armed, horizonMs(st._2, gapUs))
        Iterator.empty
      }
    }
  }

  /** X8 wiring: skip-past-last-event segmentation over the typed stream;
    * the watermark on `ts` finalizes the open segment. */
  def cepSkipPast(events: Dataset[Ev], typ: String = "click",
      gapUs: Long = 21600000000L, delay: String = "10 seconds"): Dataset[CepRangeMatch] =
    byUserEventTime(events, delay, new CepSkipPastTimerProcessor(typ, gapUs))

  /** X9 output: one completed click+ -> purchase match (anchor click,
    * click count through the matched end event, end event id/us). */
  final case class CepNextMatch(user_id: Long, first_id: Long,
      first_us: Long, n_times: Long, end_id: Long, end_us: Long)

  private implicit val cepNextEnc = Encoders.product[CepNextMatch]

  /** X9 streaming dual (Flink-CEP AfterMatchSkipStrategy `skipToNext`
    * over the reluctant `typ+ end` pattern): every `typ` event becomes a
    * pending anchor; the next `end` event inside an anchor's `gapUs`
    * horizon completes that anchor's FIRST (and only) match. An `end`
    * event resolves EVERY pending anchor — matched (in horizon, emit) or
    * failed (horizon passed without an end, drop silently) — so pending
    * empties on each `end` and is otherwise pruned on expiry: state per
    * key is the anchors inside one gap horizon plus one running click
    * counter, never event history. Matches overlap (consecutive anchors
    * share clicks and the same end event) but each anchor emits at most
    * once — the skipToNext contract, vs x7's noSkip (no end condition)
    * and x8's skipPast (disjoint segments). */
  final class CepSkipToNextProcessor(typ: String, end: String, gapUs: Long,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, CepNextMatch] {

    @transient private var pending: org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
    @transient private var clicks: ValueState[Long] = _

    private val anchorEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)

    // TTL evicts the whole key's state (anchors AND the crn counter)
    // together, so post-eviction n_times stays consistent: counts are
    // crn DIFFERENCES and both sides reset at once. An expired anchor's
    // loss is silent by x9 semantics (horizon-passed anchors never emit).
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState[(Long, Long, Long)]("next_pending",
        anchorEnc, ttlOr(ttl))
      clicks = getHandle.getValueState[Long]("next_crn", longEnc, ttlOr(ttl))
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepNextMatch] = {
      val out = Seq.newBuilder[CepNextMatch]
      var ps = (if (pending.exists()) pending.get().toVector else Vector.empty)
      var crn = if (clicks.exists()) clicks.get() else 0L
      rows.toSeq.sortBy(e => (evUs(e), e.event_id))
        .filter(e => e.event_type == typ || e.event_type == end)
        .foreach { e =>
          val us = evUs(e)
          if (e.event_type == typ) {
            crn += 1L
            // expired anchors can never match (their first end event
            // would be beyond the horizon) — prune, no emission
            ps = ps.filter { case (_, aUs, _) => us - aUs <= gapUs } :+
              ((e.event_id, us, crn))
          } else {
            ps.foreach { case (id, aUs, aCrn) =>
              if (us - aUs <= gapUs)
                out += CepNextMatch(user, id, aUs, crn - aCrn + 1L, e.event_id, us)
            }
            ps = Vector.empty // every anchor matched or failed here
          }
        }
      pending.clear()
      if (ps.nonEmpty) pending.put(ps.toArray)
      clicks.update(crn)
      out.result().iterator
    }
  }

  /** X9 wiring: skipToNext first-match-per-anchor over the typed stream. */
  def cepSkipToNext(events: Dataset[Ev], typ: String = "click",
      end: String = "purchase", gapUs: Long = 21600000000L,
      ttl: Option[java.time.Duration] = None): Dataset[CepNextMatch] =
    events.groupByKey(_.user_id)
      .transformWithState(new CepSkipToNextProcessor(typ, end, gapUs, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** X10 streaming dual (Flink-CEP AfterMatchSkipStrategy `skipToLast`
    * over oneOrMore, completing the enum beside x7/x8/x9): greedy runs
    * whose next anchor is the previous match's LAST event — consecutive
    * matches overlap by exactly one event; a singleton advances by one
    * like skipToNext. State is ONE five-field tuple per key (anchor +
    * last member of the open match) — the same O(1) contract as x8,
    * because the overlap is bounded at one event by construction. A
    * beyond-horizon `typ` event closes the open match, re-anchors at
    * its last member (which the closing event may immediately extend or
    * close as a singleton — both handled in the same fold step), and
    * the chain's end-of-stream fixpoint stays pending until evidence
    * arrives. Unlike x6/x7/x8 it takes no timer: only a later ARRIVAL
    * can say whether the re-anchored singleton extends, and a timer
    * would have to decide that without evidence. */
  final class CepSkipToLastProcessor(typ: String, gapUs: Long)
      extends StatefulProcessor[Long, Ev, CepRangeMatch] {

    @transient private var cur: ValueState[(Long, Long, Long, Long, Long)] = _

    private val stEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[(Long, Long, Long, Long, Long)]("skiplast_cur",
        stEnc, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CepRangeMatch] = {
      val out = Seq.newBuilder[CepRangeMatch]
      // (anchor_id, anchor_us, n, last_id, last_us); anchor_id = -1 -> none
      var st = if (cur.exists()) cur.get() else (-1L, -1L, -1L, -1L, -1L)
      def emit(): Unit =
        out += CepRangeMatch(user, st._1, st._2, st._3, st._5)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id))
        .filter(_.event_type == typ).foreach { e =>
          val us = evUs(e)
          if (st._1 < 0L) st = (e.event_id, us, 1L, e.event_id, us)
          else if (us - st._2 <= gapUs)
            st = (st._1, st._2, st._3 + 1L, e.event_id, us)
          else {
            emit()
            if (st._4 != st._1) {
              // re-anchor at the last member; e extends or closes it
              st = (st._4, st._5, 1L, st._4, st._5)
              if (us - st._2 <= gapUs)
                st = (st._1, st._2, 2L, e.event_id, us)
              else { emit(); st = (e.event_id, us, 1L, e.event_id, us) }
            } else st = (e.event_id, us, 1L, e.event_id, us)
          }
        }
      cur.update(st)
      out.result().iterator
    }
  }

  /** X10 wiring: skip-to-last overlap-by-one chains over the typed stream. */
  def cepSkipToLast(events: Dataset[Ev], typ: String = "click",
      gapUs: Long = 21600000000L): Dataset[CepRangeMatch] =
    events.groupByKey(_.user_id)
      .transformWithState(new CepSkipToLastProcessor(typ, gapUs),
        TimeMode.None(), OutputMode.Append())

  /** One key's live snapshot row from the CDC maintainer: the last
    * applied op's payload plus the op ledger; `deleted = true` means the
    * key is currently absent from the snapshot (tombstone emitted so a
    * downstream materializer can REMOVE the key — silently dropping the
    * row would leave a stale snapshot entry, the late-data-router
    * auditability rule again). */
  final case class CdcRow(user_id: Long, last_us: Long,
      last_value: Double, n_ops: Long, n_deletes: Long, deleted: Boolean)

  /** CDC maintainer's per-key state record. Public like the other state
    * case classes (CellSums, TopKState): a `private` nested case class
    * makes the encoder's GENERATED deserializer unable to touch the
    * constructor — Janino compile error + silent per-row fallback to
    * interpreted state decode on every batch. */
  final case class CdcState(lastUs: Long, lastId: Long,
      lastOp: String, lastValue: Double, nOps: Long, nDeletes: Long)

  /** Streaming dual of the batch `q_cdc_apply`: maintain the final
    * snapshot of a changelog (every non-`deleteOn` event an UPSERT
    * carrying `value`, every `deleteOn` a DELETE tombstone) as events
    * arrive — per key, fold ops in (event-time µs, event_id) order onto
    * one O(1) state record (last applied op + the op ledger) and emit
    * the key's current snapshot row after every batch that touched it
    * (Update-mode semantics: consumers replace the key's row, or remove
    * it when `deleted`). Cross-batch disorder follows the suite
    * contract: the last-op comparison is on (µs, event_id), so a late
    * event older than the applied head updates the LEDGER but never
    * regresses the head — matching what the ts-ordered batch fold
    * computes. `ttl` (opt-in, processing-time) bounds the key domain for
    * retention-windowed snapshots; eviction forgets the ledger, which is
    * the documented retention semantics, not an accident. */
  final class CdcSnapshotProcessor(deleteOn: String,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, CdcRow] {

    @transient private var st: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("cdc_state",
        Encoders.product[CdcState], ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[CdcRow] = {
      var cur = if (st.exists()) st.get()
        else CdcState(Long.MinValue, Long.MinValue, "", 0.0, 0L, 0L)
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val us = evUs(e)
        val op = if (e.event_type == deleteOn) "D" else "U"
        val newer = us > cur.lastUs || (us == cur.lastUs && e.event_id > cur.lastId)
        cur = CdcState(
          if (newer) us else cur.lastUs,
          if (newer) e.event_id else cur.lastId,
          if (newer) op else cur.lastOp,
          if (newer) e.value else cur.lastValue,
          cur.nOps + 1L,
          cur.nDeletes + (if (op == "D") 1L else 0L))
      }
      st.update(cur)
      // last_us stays epoch-µs (a Timestamp(ms) would drop the micros
      // the (µs, id) head comparison is keyed on)
      Iterator.single(CdcRow(user, cur.lastUs,
        cur.lastValue, cur.nOps, cur.nDeletes, cur.lastOp == "D"))
    }
  }

  private implicit val cdcRowEnc = Encoders.product[CdcRow]

  /** CDC snapshot wiring — the streaming twin of `q_cdc_apply`. */
  def cdcSnapshot(events: Dataset[Ev], deleteOn: String = "error",
      ttl: Option[java.time.Duration] = None): Dataset[CdcRow] =
    events.groupByKey(_.user_id)
      .transformWithState(new CdcSnapshotProcessor(deleteOn, ttl),
        ttlMode(ttl), OutputMode.Update())

  /** One purchase's attribution credit from the online last-touch
    * assigner. */
  final case class TouchCredit(user_id: Long, purchase_id: Long,
      purchase_us: Long, touchpoint: String, value: Double)

  /** Streaming dual of the batch `a21_last_touch`: per user, remember the
    * latest non-`convertOn` event (the open touchpoint, one (type, µs,
    * id) slot — O(1) state forever) and emit a credit row the moment a
    * `convertOn` event arrives — attribution AT conversion time, which a
    * batch report can only produce after the fact. In-order arrivals
    * reproduce the batch window exactly: the slot holds the (µs, id)-max
    * non-purchase seen so far, which IS the batch's
    * last(... ROWS 1 PRECEDING) value at that purchase; a purchase with
    * no prior touchpoint credits 'none'. Cross-batch late touchpoints
    * follow the suite contract: the slot max-updates on (µs, id), so a
    * late event older than the stored touch never regresses it. `ttl`
    * (opt-in) expires abandoned touchpoints — the standard attribution
    * window. */
  final class LastTouchProcessor(convertOn: String,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, Ev, TouchCredit] {

    // (event_type, µs, event_id) of the latest non-convert event
    @transient private var touch: ValueState[(String, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touch = getHandle.getValueState[(String, Long, Long)]("touch",
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong),
        ttlOr(ttl))

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[TouchCredit] = {
      val out = Seq.newBuilder[TouchCredit]
      rows.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
        val us = evUs(e)
        if (e.event_type == convertOn) {
          val tp = if (touch.exists()) touch.get()._1 else "none"
          out += TouchCredit(user, e.event_id, us, tp, e.value)
        } else {
          val newer = !touch.exists() || {
            val (_, pUs, pId) = touch.get()
            us > pUs || (us == pUs && e.event_id > pId)
          }
          if (newer) touch.update((e.event_type, us, e.event_id))
        }
      }
      out.result().iterator
    }
  }

  private implicit val touchCreditEnc = Encoders.product[TouchCredit]

  /** a21 wiring: online last-touch attribution over the typed stream. */
  def lastTouchCredits(events: Dataset[Ev], convertOn: String = "purchase",
      ttl: Option[java.time.Duration] = None): Dataset[TouchCredit] =
    events.groupByKey(_.user_id)
      .transformWithState(new LastTouchProcessor(convertOn, ttl),
        ttlMode(ttl), OutputMode.Append())

  /** An ingested embedding routed to its IVF cell (the drift monitor's
    * input row). */
  final case class AssignedVec(cell: Int, ed: Seq[Double])

  /** Per-cell drift reading: members ingested so far and the running
    * mean's L2 distance from the calibrated centroid. */
  final case class CellDrift(cell: Int, n_members: Long, drift: Double)

  /** Per-cell running sums — the drift monitor's whole state: one count
    * + `dim` doubles per cell, corpus-size-independent. */
  final case class CellSums(n: Long, sums: Array[Double])

  private implicit val cellDriftEnc = Encoders.product[CellDrift]
  private implicit val cellSumsEnc = Encoders.product[CellSums]

  /** Streaming IVF ingest drift monitor
    * ([[graft.streaming.StreamingPipelines.ivfIngestDrift]] wires it):
    * per cell, fold arriving member vectors into (count, per-dimension
    * sums) and emit the running mean's distance from the calibrated
    * centroid after each batch — e_centroid_drift's exact math (6-dp
    * mean pin with the +1e-9 nudge, integer-microdomain deltas, sqrt
    * last), so a full-corpus ingest reproduces the batch monitor's
    * drift bit-for-bit (IvfIngestSpec). */
  final class CellDriftProcessor(model: Map[Int, Array[Double]])
      extends StatefulProcessor[Int, AssignedVec, CellDrift] {

    @transient private var st: ValueState[CellSums] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CellSums]("cell_sums", cellSumsEnc, TTLConfig.NONE)

    private def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    override def handleInputRows(cell: Int, rows: Iterator[AssignedVec],
        tv: TimerValues): Iterator[CellDrift] = {
      val cv = model.getOrElse(cell,
        throw new IllegalStateException(s"unknown cell $cell"))
      val cur = if (st.exists()) st.get() else CellSums(0L, new Array[Double](cv.length))
      var n = cur.n
      val sums = cur.sums.clone()
      rows.foreach { r =>
        var i = 0
        while (i < cv.length) { sums(i) += r.ed(i); i += 1 }
        n += 1L
      }
      st.update(CellSums(n, sums))
      var acc = 0L
      var i = 0
      while (i < cv.length) {
        val mi = round6(sums(i) / n + 1e-9)
        // HALF_UP like the batch round(x, 0) — math.round differs on
        // negative half-way values
        val di = java.math.BigDecimal.valueOf((mi - cv(i)) * 1000000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        acc += di * di
        i += 1
      }
      Iterator.single(CellDrift(cell, n,
        round6(math.sqrt(acc.toDouble) / 1000000.0 + 1e-9)))
    }
  }

  /** An event tagged with its source partition — the unit the reference's
    * watermark generator is instantiated per (one generator per source
    * subtask, EventTimeOperations.java:96-141). */
  final case class PartEv(partition: Int, ev: Ev)

  /** Output of the per-partition staircase: `kind` is "closed" (global
    * window closed; `partition_id` = -1 — windowAll output belongs to no
    * one partition), "late" (event for an already-closed window;
    * `partition_id` = the event's source partition), or "idle" (that
    * partition's generator went quiet — `window_start` carries its final
    * effective watermark, `n` the count of still-open global windows). */
  final case class PartWmWindow(partition_id: Int, window_start: Timestamp, n: Long, kind: String)

  /** T3 at reference scope: one staircase watermark PER SOURCE PARTITION
    * (EventTimeOperations.java:96-141 — Flink instantiates the custom
    * `WatermarkGenerator` per source subtask), combined downstream by the
    * `windowAll` operator's channel-min rule: the operator watermark is
    * the MIN over non-idle partitions' `base − buffer`, idle partitions
    * are excluded from the min (`markIdle` releases the others — Flink's
    * `WatermarkOutputMultiplexer` semantics), and when EVERY partition is
    * idle the watermark holds and open windows stall.
    *
    * Topology note: the reference's downstream window is `windowAll` —
    * parallelism 1 BY CONSTRUCTION (`EventTimeOperations.java:158`), so
    * the single grouping key here is parity, not a scale compromise; the
    * per-KEY variant above is the shape that scales out. State is
    * O(partitions) staircase bases + the open-window map (bounded by
    * windows-per-staircase-step), never event volume.
    *
    * Policy math per partition is the reference's verbatim: first event
    * pins `base = now`; later events jump `base = now` only when
    * `now − base > advanceMs`; effective value is `base − bufferMs`;
    * a partition is idle exactly when `now − base > advanceMs` with no
    * event since (`onPeriodicEmit`'s test), emitting its final watermark
    * once at the moment it is marked. */
  /** Channel-min combine policy, extracted pure for a deterministic
    * regression pin (Flink `WatermarkOutputMultiplexer` parity): the
    * operator watermark is min of `base − buffer` over channels NOT
    * idle-marked, floored monotonically. Membership is decided ONLY by
    * the `idleMarked` predicate — elapsed time never removes a channel
    * here; a quiet channel leaves the min exactly when `markIdle` fires
    * in the timer. (The round-7 advice flagged an early-exclusion
    * variant that closed windows in the quiescence→timer gap; this
    * signature makes that regression impossible to reintroduce
    * silently.) */
  private[streaming] def channelMin(floor: Long, bases: Iterator[(Int, Long)],
      idleMarked: Int => Boolean, bufferMs: Long): Long = {
    val m = bases.filter { case (p, _) => !idleMarked(p) }
      .map(_._2 - bufferMs).reduceOption(_ min _)
    m.fold(floor)(math.max(floor, _))
  }

  final class PartitionStaircaseProcessor(
      windowMs: Long, advanceMs: Long, bufferMs: Long)
      extends StatefulProcessor[Int, PartEv, PartWmWindow] {

    @transient private var bases: org.apache.spark.sql.streaming.MapState[Int, Long] = _
    @transient private var idleMarked: org.apache.spark.sql.streaming.MapState[Int, Long] = _
    @transient private var closedUpTo: ValueState[Long] = _ // applied operator watermark
    @transient private var armed: ValueState[Long] = _      // expiry of the live timer
    @transient private var open: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      bases = getHandle.getMapState[Int, Long]("bases",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      idleMarked = getHandle.getMapState[Int, Long]("idleMarked",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      closedUpTo = getHandle.getValueState[Long]("closedUpTo", Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
      open = getHandle.getMapState[Long, Long]("open",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Channel-min combine — see [[StatefulProcessors.channelMin]] for
      * the policy (and its deterministic regression pin in
      * StaircaseWatermarkSpec): membership is decided by `idleMarked`,
      * never by elapsed time here, so windows can't close in the gap
      * between quiescence and the timer. */
    private def combined(floor: Long): Long =
      channelMin(floor, bases.iterator().map { case (p, b) => (p, b) },
        p => idleMarked.containsKey(p), bufferMs)

    private def closeReady(effective: Long): Seq[PartWmWindow] = {
      val ready = open.iterator().filter { case (ws, _) => ws + windowMs <= effective }.toSeq
      ready.sortBy(_._1).map { case (ws, n) =>
        open.removeKey(ws)
        PartWmWindow(-1, new Timestamp(ws), n, "closed")
      }
    }

    override def handleInputRows(key: Int, rows: Iterator[PartEv],
        tv: TimerValues): Iterator[PartWmWindow] = {
      val now = tv.getCurrentProcessingTimeInMs()
      val floor = if (closedUpTo.exists()) closedUpTo.get() else Long.MinValue
      val out = Seq.newBuilder[PartWmWindow]
      rows.toSeq.sortBy(pe => (pe.ev.ts.getTime, pe.ev.event_id)).foreach { pe =>
        val p = pe.partition
        // Per-partition staircase: pin on first event, jump past advanceMs.
        val b0 = if (bases.containsKey(p)) bases.getValue(p) else { bases.updateValue(p, now); now }
        if (now - b0 > advanceMs) bases.updateValue(p, now)
        if (idleMarked.containsKey(p)) idleMarked.removeKey(p) // reactivated channel
        val ws = Math.floorDiv(pe.ev.ts.getTime, windowMs) * windowMs
        if (ws + windowMs <= floor) out += PartWmWindow(p, pe.ev.ts, 1L, "late")
        else {
          val n = if (open.containsKey(ws)) open.getValue(ws) else 0L
          open.updateValue(ws, n + 1L)
        }
      }
      val effective = combined(floor)
      out ++= closeReady(effective)
      if (effective > floor) closedUpTo.update(effective)
      rearm(getHandle, armed, now + advanceMs + 1L)
      out.result().iterator
    }

    override def handleExpiredTimer(key: Int, tv: TimerValues,
        expired: ExpiredTimerInfo): Iterator[PartWmWindow] = {
      val now = tv.getCurrentProcessingTimeInMs()
      armed.clear()
      val floor = if (closedUpTo.exists()) closedUpTo.get() else Long.MinValue
      val out = Seq.newBuilder[PartWmWindow]
      // Mark each newly idle partition FIRST (this is `markIdle` firing —
      // the one place a channel leaves the min), THEN recombine: excluding
      // the just-marked channels can ADVANCE the combined watermark
      // (markIdle releases the other sources) and close windows NOW.
      val newlyIdle = bases.iterator()
        .filter { case (p, b) => now - b > advanceMs && !idleMarked.containsKey(p) }.toSeq
      newlyIdle.foreach { case (p, b) => idleMarked.updateValue(p, b - bufferMs) }
      val effective = combined(floor)
      out ++= closeReady(effective)
      if (effective > floor) closedUpTo.update(effective)
      val stillOpen = open.iterator().size.toLong
      newlyIdle.sortBy(_._1).foreach { case (p, b) =>
        out += PartWmWindow(p, new Timestamp(b - bufferMs), stillOpen, "idle")
      }
      // Keep the periodic-emit channel alive while any partition is
      // active; once all are idle (and marked) the operator quiesces —
      // the watermark holds and open windows stall, as in Flink when
      // every input channel is idle.
      val anyActive = bases.iterator().exists { case (p, _) => !idleMarked.containsKey(p) }
      if (anyActive) {
        val want = now + advanceMs + 1L
        getHandle.registerTimer(want)
        armed.update(want)
      }
      out.result().iterator
    }
  }

  private implicit val partWmwEnc = Encoders.product[PartWmWindow]
  private implicit val partEvEnc = Encoders.product[PartEv]

  /** T3 wiring at reference scope: per-partition staircases feeding one
    * windowAll-style operator (single key — the reference topology; see
    * the processor scaladoc). Same trigger caveat as [[staircaseWindows]]:
    * run with an explicit `Trigger.ProcessingTime`. */
  def staircaseWindowsByPartition(events: Dataset[PartEv], windowMs: Long = 1000L,
      advanceMs: Long = 10000L, bufferMs: Long = 2000L): Dataset[PartWmWindow] =
    events.groupByKey(_ => 0)
      .transformWithState(new PartitionStaircaseProcessor(windowMs, advanceMs, bufferMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
}
