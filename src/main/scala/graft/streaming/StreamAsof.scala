package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming nearest-as-of ledger — the append-mode twin of batch q75
  * (Relational.scala): per user, every purchase emits ONE finalized row
  * matching the same user's nearest click within ±30 min, either
  * direction, under q75's (|gap| ASC, c_ms ASC, c_id ASC) total order —
  * or a NULL match (the full asof contract: unmatched purchases are
  * exactly what a reconciler needs to see, so they must not vanish).
  *
  * The finality argument is new relative to StreamTwa/StreamPaths — a
  * BIDIRECTIONAL window: a purchase p is decided only when the watermark
  * strictly passes `p_ms + W` (every admissible future event has
  * ms ≥ wm > p_ms + W, outside p's forward window; the backward window
  * closed with the watermark long before). The backward-only PIT join
  * (x26) is stateless per event; 'nearest' is the form that genuinely
  * needs buffered state, because the decision waits on clicks that may
  * not have arrived yet.
  *
  * Mechanics are StreamTwa's sorted-buffer discipline (merge-inserted
  * batches via [[StreamOrder.merge]], strict `<` cut). STATE BOUND: a
  * decided purchase leaves the buffer at emission; a click is retained
  * only while some purchase could still claim it —
  * `ms ≥ min(wm, oldest pending purchase) − W`, and a pending purchase
  * is itself ≥ wm − W, so the buffer never reaches past `wm − 2W`: state
  * per user is the events inside a 2·W + watermark-delay horizon, and an
  * empty buffer removes the state entry (churning populations reclaim).
  * The event-time timer re-arms at the next decision point: the oldest
  * pending purchase's `p_ms + W + 1`, or (clicks only) the last click's
  * expiry `c_ms + W + 1` so lone clicks cannot pin state forever.
  */
object StreamAsof {

  /** `ts` duplicates `ms`: the watermarked event-time column must reach
    * the stateful operator for EventTimeTimeout to engage. */
  final case class Obs(user_id: Long, ts: java.sql.Timestamp,
      ms: Long, event_id: Long, event_type: String)
  final case class Buf(obs: Seq[(Long, Long, String)]) // (ms, event_id, type)
  final case class Match(p_id: Long, user_id: Long,
      c_id: Option[Long], gap_ms: Option[Long])

  private val W = 1800000L // ±30 min, q75's window verbatim

  def matches(events: Dataset[Obs]): Dataset[Match] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Buf, Match](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Obs], state: GroupState[Buf]) =>
          val prior = state.getOption.map(_.obs.toIndexedSeq)
            .getOrElse(IndexedSeq.empty)
          val fresh = it.map(o => (o.ms, o.event_id, o.event_type))
            .toIndexedSeq.sortBy(o => (o._1, o._2))
          val sorted = StreamOrder.merge(prior, fresh)
          val wm = state.getCurrentWatermarkMs()
          // a purchase is decided when the watermark STRICTLY passes its
          // forward window edge — both directions of ±W have fully arrived
          val (decided, rest) = sorted.partition(o =>
            o._3 == "purchase" && o._1 + W < wm)
          val clicks = sorted.filter(_._3 == "click")
          val out = decided.map { case (pm, pid, _) =>
            val cand = clicks.filter(c => math.abs(c._1 - pm) <= W)
            if (cand.isEmpty) Match(pid, uid, None, None)
            else {
              val best = cand.minBy(c => (math.abs(c._1 - pm), c._1, c._2))
              Match(pid, uid, Some(best._2), Some(best._1 - pm))
            }
          }
          // retention: pending purchases stay; a click stays only while a
          // pending OR future purchase (ms ≥ wm) could reach it
          val pending = rest.filter(_._3 == "purchase").map(_._1)
          val horizon = math.min(wm,
            if (pending.isEmpty) Long.MaxValue else pending.min) - W
          val keep = rest.filter(o => o._3 == "purchase" || o._1 >= horizon)
          if (keep.isEmpty) state.remove()
          else {
            state.update(Buf(keep))
            // the timer sits AT the decision point: Spark fires a timeout
            // when wm > timer, which is exactly `wm > p_ms + W` (decide)
            // resp. `wm > c_ms + W` (click expiry) — a +1 here would miss
            // a decision landing exactly on the final watermark. Both
            // branches are ≥ wm (pending means p_ms + W ≥ wm by the cut;
            // a kept click has c_ms ≥ wm − W), so the timer is legal.
            val timer =
              if (pending.nonEmpty) pending.min + W
              else keep.map(_._1).max + W
            state.setTimeoutTimestamp(timer)
          }
          out.iterator
      }
  }

  /** The raw-events → asof-match-ledger transform (filter + watermark +
    * state). Non-click/purchase event types are dropped BEFORE the
    * watermark, deliberately AND unavoidably: Catalyst pushes a
    * deterministic filter below the EventTimeWatermark node anyway (a
    * watermark-then-filter spelling silently tracks the same filtered
    * max — measured: one purchase 962 s inside the all-events watermark
    * stayed pending at sf0.01), so the DECLARED semantics must match the
    * executed ones — the ledger's clock advances on the event types it
    * processes, and the oracle restates its cut over the same filtered
    * max. Dropped types could never anchor or satisfy a match, so
    * buffering them would be pure state. Purchases whose forward window
    * the final watermark has not strictly passed stay pending, exactly as
    * a live job would keep them — the oracle restates that cut. */
  def transform(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    matches(
      raw.filter(col("event_type").isin("purchase", "click"))
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
        .as[Obs]).toDF()
  }
}
