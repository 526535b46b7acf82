package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming session-path ledger — the append-mode twin of batch q70
  * (Relational.scala): per user, every WITHIN-SESSION transition
  * (consecutive events ≤ 30 min apart, q70's exact break rule) emits one
  * finalized `(user_id, from_type, to_type, from_ms)` row; the transition
  * matrix itself is a downstream rollup of the ledger (group by
  * from/to — the x25 ledger-not-aggregate discipline, which keeps the
  * query in APPEND mode where a maintained matrix would re-snapshot per
  * trigger).
  *
  * The completeness argument is StreamTwa's: a transition (a → b) is
  * final exactly when the watermark strictly passes b's event time — no
  * admissible event can still land between a and b, so both the
  * adjacency AND the gap (session membership) are decided. A
  * consecutive pair whose gap exceeds 30 min emits NOTHING (the session
  * break — the predecessor simply retires), which is why this cannot be
  * spelled as a windowed aggregate: the operator's output is conditional
  * on the reconstructed ORDER, not on any key's accumulated state.
  *
  * Mechanics are [[StreamTwa]]'s cut verbatim (sorted buffer per user,
  * merge-inserted batches, strict `<` cut, event-time timer re-armed at
  * the first pending successor); only the emission payload differs
  * (type pair + gap condition instead of value holds). State per user is
  * the observations inside the watermark delay, and — unlike StreamTwa,
  * whose bounded type-keyed state legitimately persists — a lone
  * predecessor EXPIRES once the watermark passes its time plus the gap
  * (any later admissible event breaks the session, so the entry can emit
  * nothing ever again) and its state is removed via a timer at
  * `last + gap`; a churning user population therefore holds state only
  * for users active inside the last watermark-delay-plus-gap.
  *
  * HOT-KEY BOUND (assessed against q78's cap, VERDICT r14 item 2): the
  * per-user buffer is O(that user's arrival rate × watermark delay) —
  * the cut retires everything the watermark passed each trigger — NOT
  * O(the user's full history), so the q78 failure mode (one unbounded
  * in-memory array per hot key) does not apply. A q78-style prefix cap
  * is deliberately NOT added here: truncating the buffer would silently
  * DROP ledger rows (an append ledger has no "n_events tells you it
  * engaged" escape hatch — q78's cap stays honest precisely because the
  * full count rides beside the capped analysis), so the correct 100 TB
  * lever for a key hot enough to overflow one executor's share of a
  * 1-hour window is the watermark delay itself, which this operator
  * inherits from the session config rather than hard-coding.
  */
object StreamPaths {

  /** `ts` duplicates `ms`: the watermarked event-time column must reach
    * the stateful operator for EventTimeTimeout to engage. */
  final case class Obs(user_id: Long, ts: java.sql.Timestamp,
      ms: Long, event_id: Long, event_type: String)
  final case class Buf(obs: Seq[(Long, Long, String)]) // (ms, event_id, type)
  final case class Trans(user_id: Long, from_type: String, to_type: String,
      from_ms: Long)

  private val gapMs = 30L * 60 * 1000

  def transitions(events: Dataset[Obs]): Dataset[Trans] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Buf, Trans](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Obs], state: GroupState[Buf]) =>
          val prior = state.getOption.map(_.obs.toIndexedSeq)
            .getOrElse(IndexedSeq.empty)
          val fresh = it.map(o => (o.ms, o.event_id, o.event_type))
            .toIndexedSeq.sortBy(o => (o._1, o._2))
          val sorted = StreamOrder.merge(prior, fresh)
          val wm = state.getCurrentWatermarkMs()
          // StreamTwa's strict cut: pairs whose SUCCESSOR the watermark
          // strictly passed are decided — emit if within the session gap,
          // retire silently otherwise (the break)
          val k = sorted.count(_._1 < wm)
          val out = (1 until k).flatMap { i =>
            val (pm, _, pt) = sorted(i - 1)
            val (cm, _, ct) = sorted(i)
            if (cm - pm <= gapMs) Some(Trans(uid, pt, ct, pm)) else None
          }
          val keep = sorted.drop(math.max(k - 1, 0))
          // STATE RECLAIM (code-review r11): unlike StreamTwa — whose
          // kept head can anchor a hold arbitrarily far in the future and
          // whose key space (event_type) is bounded — a session-path
          // predecessor EXPIRES: once the watermark passes its time plus
          // the gap, any admissible event (ms >= wm > last + 30 min)
          // necessarily breaks the session and emits nothing, so the
          // entry is dead weight. Without this, every user_id ever seen
          // holds state forever on a churning population.
          val expired = keep.size == 1 && wm > keep.head._1 + gapMs
          if (keep.isEmpty || expired) state.remove()
          else {
            state.update(Buf(keep))
            // wake at the next decision point: the first pending
            // successor, or the lone predecessor's expiry. Both are
            // >= wm here (the cut left keep(1) un-finalized; the expiry
            // check just failed), so the timer is legal.
            if (keep.size >= 2) state.setTimeoutTimestamp(keep(1)._1)
            else state.setTimeoutTimestamp(keep.head._1 + gapMs)
          }
          out.iterator
      }
  }

  /** The raw-events → transition-ledger transform (watermark + state).
    * Pairs whose successor sits inside the final watermark delay stay
    * buffered, exactly as a live job would hold them. */
  def transform(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    transitions(
      raw.withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
        .as[Obs]).toDF()
  }
}
