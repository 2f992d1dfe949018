package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import StatefulProcessors.evUs

/** Typed event record for the stateful streaming operators. */
final case class Ev(
    event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** X1 output: two watched events within the threshold (StatefulOperations.java:106-115). */
final case class Alert(user_id: Long, event_id: Long, ts: Timestamp, gap_us: Long)

/** X2 output: previous action + elapsed time (CourseUseCase.java:143-159). */
final case class ActionDuration(
    user_id: Long, event_id: Long, prev_action: String, duration_us: Long)

/** The two arbitrary-state operators — the only reference semantics that
  * exceed declarative SQL (SURVEY.md §2.9). Implemented with
  * `flatMapGroupsWithState`: state lives in Spark's per-key state store,
  * partitioned by user_id across executors, checkpointed with the query —
  * exactly Flink's keyed ValueState model.
  *
  * Per-trigger input order is not guaranteed, so each batch's events are
  * sorted by (ts, event_id) before the state transition, in full
  * event-time microseconds ([[StatefulProcessors.evUs]]) like the batch
  * twins' `unix_micros` — deterministic
  * replay for the MemoryStream tests. CROSS-batch disorder cannot be
  * sorted away: an event older than the stored state (late beyond the
  * batch boundary) is excluded from the transition — no negative
  * gaps/durations, no state regression — matching what the ts-ordered
  * batch analogs (x1/x2 via lag) would compute for the on-time events.
  */
object StatefulOps {

  private implicit val evEnc: Encoder[Ev] = Encoders.product[Ev]
  private implicit val alertEnc: Encoder[Alert] = Encoders.product[Alert]
  private implicit val adEnc: Encoder[ActionDuration] = Encoders.product[ActionDuration]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val stateEnc: Encoder[(String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaLong)

  /** X1: keyed ValueState double-event detector
    * (StatefulOperations.java:87-126). Per user, remember the timestamp of
    * the last `watch` event; a new one within `thresholdUs` micros emits an
    * alert. The reference's "No-Alerts" sentinel + downstream filter
    * collapses to just not emitting (SURVEY.md §2.9).
    */
  def doubleEventAlerts(
      events: Dataset[Ev],
      watch: String = "error",
      thresholdUs: Long = 10000000L): Dataset[Alert] =
    events
      .filter(_.event_type == watch)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Alert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[Ev], state: GroupState[Long]) =>
          val out = Seq.newBuilder[Alert]
          var last = state.getOption
          batch.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
            val tUs = evUs(e)
            last.foreach { prev =>
              // tUs >= prev guard: a cross-batch late event older than the
              // stored state must not fire a negative-gap alert.
              if (tUs >= prev && tUs - prev < thresholdUs)
                out += Alert(e.user_id, e.event_id, e.ts, tUs - prev)
            }
            last = Some(last.fold(tUs)(math.max(_, tUs)))
          }
          last.foreach(state.update)
          out.result().iterator
      }

  /** X2: keyed two-slot ValueState sessionizer (CourseUseCase.java:120-176).
    * Per user, remember (lastAction, lastStartUs). Each event emits the
    * PREVIOUS action and its elapsed time; the first event per user — and
    * the event right after a `clearOn` (the reference's Logout, which
    * clears state, CourseUseCase.java:163-172) — emits ("None", 0).
    */
  def sessionizeActions(
      events: Dataset[Ev],
      clearOn: String = "error"): Dataset[ActionDuration] =
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(String, Long), ActionDuration](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[Ev], state: GroupState[(String, Long)]) =>
          val out = Seq.newBuilder[ActionDuration]
          var slot: Option[(String, Long)] = state.getOption
          batch.toSeq.sortBy(e => (evUs(e), e.event_id)).foreach { e =>
            val tUs = evUs(e)
            slot match {
              case Some((_, startUs)) if tUs < startUs =>
                // cross-batch late event older than the open slot: excluding
                // it beats emitting a negative duration + regressing state
                ()
              case Some((action, startUs)) =>
                out += ActionDuration(e.user_id, e.event_id, action, tUs - startUs)
                slot = if (e.event_type == clearOn) None else Some((e.event_type, tUs))
              case None =>
                out += ActionDuration(e.user_id, e.event_id, "None", 0L)
                slot = if (e.event_type == clearOn) None else Some((e.event_type, tUs))
            }
          }
          slot match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          out.result().iterator
      }
}
