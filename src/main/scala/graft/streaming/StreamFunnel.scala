package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming first-touch funnel — q42's attribution chaining as per-user
  * custom state (`flatMapGroupsWithState`): the first view, the first click
  * strictly after it within 24 h, the first purchase strictly after that
  * within 24 h, emitted once the user goes quiet.
  *
  * Chaining is order-dependent, so each microbatch's per-user slice is
  * folded in event-time order; because every stage key is a MINIMUM over a
  * window anchored at an earlier minimum, the in-order greedy fold computes
  * exactly q42's min-chaining (the first qualifying event in time order IS
  * the min qualifying event), and state carries the three stage timestamps
  * across batches. A user's funnel can only change when the user emits an
  * event, so the row is final once no more events can arrive: the state
  * registers an event-time timeout at `last event + 6 h`, and the row is
  * emitted when the watermark passes it — x6's eviction discipline with the
  * funnel's own horizon. On a finite replay that is every user whose last
  * event + 6 h lies below the final watermark (max ts − 1 h), the oracle's
  * cutoff clause.
  *
  * Scale posture: state is four longs per active user, shuffled once on
  * user_id, timeout-evicted; the emitted stream is one row per quiesced
  * user.
  *
  * Live-stream note: on an unbounded stream a user quiet for 6 h is
  * emitted and their state dropped, so a LATER return starts a fresh
  * funnel — one row per quiet period, the live semantics a funnel job
  * wants. The batch oracle equivalence stated above holds for a replay
  * whose watermark passes no mid-stream timeout AND whose microbatches
  * arrive in event-time order (both true of the driver's single-file
  * replay): a stage event skipped for lack of an anchor is never
  * revisited, so an out-of-order-but-within-watermark view arriving in a
  * LATER batch than a click would anchor fc differently than the batch
  * min-chaining. StreamingSpec pins the fold's composition property over
  * time-ordered splits — the scope of the guarantee, not beyond it.
  */
object StreamFunnel {

  final case class FEv(user_id: Long, ts: java.sql.Timestamp, ms: Long,
      event_type: String)
  final case class FState(fv: Long, fc: Long, fp: Long, last: Long)
  final case class FRow(user_id: Long, first_view_ms: Option[Long],
      first_click_ms: Option[Long], first_purchase_ms: Option[Long])

  /** Per-stage attribution window (click within 24 h of the first view,
    * purchase within 24 h of the first click) — q42's constant. */
  val windowMs: Long = 86400000L

  /** Inactivity horizon that finalizes a user's funnel row. */
  val quietMs: Long = 6L * 3600 * 1000

  /** In-order greedy fold == q42's min-chaining (see class doc). The
    * event-type tiebreak at equal ms is irrelevant to the result (all
    * chains are strict-> comparisons) but keeps the fold deterministic. */
  private[graft] def fold(evs: Seq[FEv], st: FState): FState = {
    var s = st
    evs.sortBy(e => (e.ms, e.event_type)).foreach { e =>
      if (e.event_type == "view" && s.fv < 0)
        s = s.copy(fv = e.ms)
      else if (e.event_type == "click" && s.fc < 0 && s.fv >= 0 &&
          e.ms > s.fv && e.ms <= s.fv + windowMs)
        s = s.copy(fc = e.ms)
      else if (e.event_type == "purchase" && s.fp < 0 && s.fc >= 0 &&
          e.ms > s.fc && e.ms <= s.fc + windowMs)
        s = s.copy(fp = e.ms)
      s = s.copy(last = math.max(s.last, e.ms))
    }
    s
  }

  /** Streaming transform: Dataset[FEv] (watermarked upstream) → one final
    * funnel row per timed-out user. */
  def funnel(events: Dataset[FEv]): Dataset[FRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FState, FRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[FEv], state: GroupState[FState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            def o(v: Long) = if (v >= 0) Some(v) else None
            Iterator.single(FRow(uid, o(s.fv), o(s.fc), o(s.fp)))
          } else {
            val s = fold(it.toSeq,
              state.getOption.getOrElse(FState(-1L, -1L, -1L, -1L)))
            state.update(s)
            state.setTimeoutTimestamp(s.last + quietMs)
            Iterator.empty
          }
      }
  }

  /** The DataFrame→DataFrame spelling of the whole pipeline (watermark +
    * typed fold). It emits the funnel row of every user the final
    * watermark quiesced. */
  def transform(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    funnel(
      raw.withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
        .as[FEv]).toDF()
  }
}
