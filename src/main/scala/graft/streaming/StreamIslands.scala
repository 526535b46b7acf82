package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming GAPS-AND-ISLANDS ledger — the interval-merge twin of batch
  * q68 (Relational.scala), on the event stream: each event carries a
  * DURATION (value seconds as exact micros), spanning
  * `[ts, ts + duration]`; per event_type, overlapping-or-touching spans
  * coalesce into busy "islands" (the service-saturation readout a
  * capacity planner watches live), and the stream emits one finalized
  * `(type, start_us, end_us, n_events)` row per CLOSED island — append
  * mode, the x25 eviction discipline.
  *
  * Closure rule: an island is final exactly when the watermark strictly
  * passes its end — any future admissible event has start ≥ watermark >
  * end, i.e. a strict gap, so nothing can ever extend it. Two paths
  * close an island: a processed successor that broke away from it
  * (its start < watermark and start > end imply watermark > end), or an
  * event-time timer at floor(end_us/1000) (Spark fires timers strictly
  * below the watermark, and wm_ms > floor(end_us/1000) ⇔
  * wm_ms·1000 > end_us exactly — integer ms vs µs). Either way the
  * emitted SET is slicing-invariant: every island whose end the final
  * watermark strictly passed, nothing else.
  *
  * Mechanics: per type, [[GroupState]] holds the one OPEN island plus the
  * raw events not yet safely placeable (an event folds into the island
  * sequence only once no earlier-starting event can arrive, i.e. its
  * event time is below the watermark — the StreamTwa order-completeness
  * contract). The kept raw buffer stays sorted; each batch is
  * merge-inserted (sort the fresh rows only, one linear merge). The fold
  * over the processed prefix is the same strict-after break rule as
  * q68's running-max-end window over the same (ms, event_id) total
  * order, so batch and stream compute the identical island set.
  *
  * Scale posture: state is one open island + the raw events inside the
  * watermark delay per type (the StreamTwa operational bound applies:
  * buffer depth ≈ type_rate × (delay + arrival lag beyond event time)).
  * All arithmetic is exact integers (µs spans from decimal micros, ms
  * watermark compares), so the ledger hash-gates bit-for-bit.
  */
object StreamIslands {

  /** `ts` duplicates `ms`: the watermarked event-time column must reach
    * the stateful operator for EventTimeTimeout to engage. */
  final case class Iv(event_type: String, ts: java.sql.Timestamp,
      ms: Long, event_id: Long, dur_us: Long)
  /** `open`: 0-or-1 × (start_us, end_us, n_events); `raw`: buffered
    * (ms, event_id, dur_us) not yet below the watermark, kept sorted. */
  final case class Buf(open: Seq[(Long, Long, Long)],
      raw: Seq[(Long, Long, Long)])
  final case class Island(event_type: String, start_us: Long, end_us: Long,
      n_events: Long)

  def islands(events: Dataset[Iv]): Dataset[Island] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[Buf, Island](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ty: String, it: Iterator[Iv], state: GroupState[Buf]) =>
          val prior = state.getOption.getOrElse(Buf(Seq.empty, Seq.empty))
          val fresh = it.map(o => (o.ms, o.event_id, o.dur_us))
            .toIndexedSeq.sortBy(o => (o._1, o._2))
          val raw = StreamOrder.merge(prior.raw.toIndexedSeq, fresh)
          val wm = state.getCurrentWatermarkMs()
          // events strictly below the watermark fold in event-time order;
          // the rest stay raw (an earlier event could still arrive)
          val k = raw.count(_._1 < wm)
          var open: Option[(Long, Long, Long)] = prior.open.headOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Island]
          raw.take(k).foreach { case (ms, _, dur) =>
            val s = ms * 1000L; val e = s + dur
            open match {
              case Some((os, oe, n)) if s <= oe =>
                open = Some((os, math.max(oe, e), n + 1)) // overlap/touch
              case Some((os, oe, n)) => // strict gap: predecessor closes
                out += Island(ty, os, oe, n)
                open = Some((s, e, 1L))
              case None => open = Some((s, e, 1L))
            }
          }
          val keepRaw = raw.drop(k)
          open match {
            case Some((os, oe, n)) if wm * 1000L > oe =>
              out += Island(ty, os, oe, n); open = None
            case _ => ()
          }
          if (open.isEmpty && keepRaw.isEmpty) state.remove()
          else {
            state.update(Buf(open.toSeq, keepRaw))
            // wake when the watermark can next change the state: strictly
            // past the open island's end (close it) or past the first raw
            // event's time (fold it). Both candidates are >= wm here —
            // open survived the close check (wm·1000 <= end), raw is the
            // un-foldable suffix — so the timer is legal.
            val t1 = open.map(_._2 / 1000L)
            val t2 = keepRaw.headOption.map(_._1)
            state.setTimeoutTimestamp((t1.toSeq ++ t2.toSeq).min)
          }
          out.iterator
      }
  }

  /** The raw-events → island-ledger transform (watermark + typed state).
    * The trailing island per type stays buffered at the final watermark,
    * exactly as a live job would hold it. */
  def transform(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    islands(
      raw.withWatermark("ts", "1 hour")
        .select(col("event_type"), col("ts"),
          unix_millis(col("ts")).as("ms"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            .as("dur_us"))
        .as[Iv]).toDF()
  }
}
