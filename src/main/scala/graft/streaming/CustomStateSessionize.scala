package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization via `flatMapGroupsWithState` — the custom-state streaming
  * extension point (SURVEY.md §7: "flatMapGroupsWithState for custom state").
  *
  * `session_window` (see [[StreamingSessionize]]) covers plain gap sessions;
  * this shape is for state machines the built-in can't express (per-key
  * custom eviction, session payload accumulation, cross-event logic). The
  * semantics here intentionally mirror the gap-session definition so the
  * parity test can check it against both the built-in and the batch form.
  *
  * Mechanics: per user, events of each microbatch are folded in event-time
  * order into the open session carried in [[GroupState]]; a gap closes and
  * emits the session; the open session registers an event-time timeout at
  * `end + gap`, so it is emitted when the watermark passes it (late events
  * beyond the watermark are dropped by the upstream `withWatermark`).
  *
  * Scale posture: state is one small case class per active user (bounded by
  * timeout eviction), shuffled once on user_id; each microbatch sorts only
  * its own per-user slice.
  */
object CustomStateSessionize {

  /** `ts` duplicates `ms` as a timestamp: the watermarked event-time column
    * must flow into the stateful operator for EventTimeTimeout to engage. */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp, ms: Long, value: Double)
  final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, n_events: Long, start_ms: Long,
      end_ms: Long, sum_value: Double)

  val defaultGapMs: Long = 30L * 60 * 1000

  /** Shared with [[TransformWithStateSessionize]] so both APIs run the
    * SAME state machine — their parity is by construction, not by test
    * luck. */
  private[streaming] def fold(uid: Long, evs: Seq[Ev], st: Option[OpenSession],
      gapMs: Long): (Seq[Session], Option[OpenSession]) = {
    var open = st
    val out = Seq.newBuilder[Session]
    evs.sortBy(_.ms).foreach { e =>
      open match {
        case Some(s) if e.ms - s.end <= gapMs =>
          open = Some(OpenSession(s.start, e.ms, s.n + 1, s.sum + e.value))
        case Some(s) =>
          out += Session(uid, s.n, s.start, s.end, s.sum)
          open = Some(OpenSession(e.ms, e.ms, 1, e.value))
        case None =>
          open = Some(OpenSession(e.ms, e.ms, 1, e.value))
      }
    }
    (out.result(), open)
  }

  /** Streaming transform: Dataset[Ev] (watermarked upstream) → sessions. */
  def sessions(events: Dataset[Ev],
      gapMs: Long = defaultGapMs): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.n, s.start, s.end, s.sum))
          } else {
            val (closed, open) = fold(uid, it.toSeq, state.getOption, gapMs)
            open match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.end + gapMs)
              case None => ()
            }
            closed.iterator
          }
      }
  }

  /** The watermarked raw-events → [[Ev]] projection both session APIs
    * consume. */
  private[streaming] def events(raw: DataFrame): Dataset[Ev] = {
    import raw.sparkSession.implicits._
    raw.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        unix_millis(col("ts")).as("ms"), col("value"))
      .as[Ev]
  }

  /** The raw-events → emitted-sessions transform. An open session whose
    * timeout the final watermark never passed stays in state, exactly as a
    * live job would hold it. */
  def transform(raw: DataFrame): DataFrame = sessions(events(raw)).toDF()
}
