package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** [[StreamTwa]]'s hold ledger with the per-type serial-state ceiling
  * REMOVED — the (type, epoch-hour) key decomposition q65's batch plan
  * already uses (Relational.scala: corpus-scale work on (type, hour)
  * partitions, a dashboard-sized cross-hour link), spelled for a live
  * stream (VERDICT r10 item 4).
  *
  * Why: StreamTwa keys its GroupState by event_type alone, so every
  * observation of one type funnels through ONE state task per trigger —
  * per-type throughput is single-core no matter how many executors run
  * (the measured 24.9k rows/s vs x27/x28's 72-75k in the 100× replay is
  * that ceiling in action, with only |types|=5 keys). Here the corpus-
  * scale stage is keyed by (type, hour): parallelism is |types|×|active
  * hours| and each shard's state dies at hour close + watermark delay —
  * bounded per key AND reclaimed, where StreamTwa's type keys live
  * forever.
  *
  * Mechanics (two chained append-mode stateful stages — legal since both
  * are append and the query is append):
  *
  *  - **Stage 1**, keyed (type, hour = ms div 3600000): StreamTwa's
  *    sorted-buffer cut restricted to the hour. Emits (a) every
  *    INTRA-hour hold — successor strictly below the watermark, the x25
  *    rule verbatim; (b) the hour's FIRST observation as a boundary row,
  *    once the watermark strictly passes its ms (nothing admissible can
  *    precede it — the same argument x25's cut head rests on); (c) at
  *    hour SEAL (watermark strictly past hour end — nothing admissible
  *    can still land in the hour), the remaining holds, the LAST
  *    observation as a boundary row, and `state.remove()`.
  *  - **Stage 2**, keyed by type alone: hold rows pass through untouched;
  *    boundary rows land in a (ms, event_id, role)-sorted buffer, and
  *    every adjacent (last-of-hour h → first-of-hour h') pair below the
  *    watermark emits the CROSS-hour hold. Per type this buffer holds ≤2
  *    rows per nonempty hour inside the watermark horizon — dashboard-
  *    sized, exactly q65's cross-hour link table. A single-observation
  *    hour emits the same row under both roles; the role in the sort key
  *    orders first-before-last so the f,l,f,l alternation (and therefore
  *    the l→f pairing) is total.
  *
  * The watermark chain: stage-1 outputs carry event time `ts2` =
  * finality ms + 1 — the smallest watermark value under which the row
  * could have been emitted (emission conditions are all STRICT). Prompt
  * emission via timers means a row's ts2 is always at or above the
  * previous batch's watermark, so stage 2 (watermarked on ts2 with zero
  * delay) never filters one as late, and its own watermark — max(ts2)
  * seen — strictly passes a boundary's ms as soon as that boundary is
  * emitted. Net: the union of both stages' emissions equals x25's ledger
  * at every final watermark (parity + 3-slice invariance pinned in
  * StreamingSpec; the oracle is x25's verbatim).
  */
object StreamTwaSharded {
  import StreamTwa.Hold

  private val HourMs = 3600000L

  /** Stage-1 input: [[StreamTwa.Obs]] + the shard hour. */
  final case class Obs2(event_type: String, ts: java.sql.Timestamp, ms: Long,
      event_id: Long, value_micro: Long, hour: Long)

  /** Stage-1 output / stage-2 input. role: 0 = finished hold (start_ms =
    * ms, hold_ms set), 1 = first-of-hour boundary, 2 = last-of-hour
    * boundary. ts2 = finality ms + 1 (the downstream watermark column). */
  final case class Mid(event_type: String, ts2: java.sql.Timestamp, role: Int,
      ms: Long, event_id: Long, value_micro: Long, hold_ms: Long)

  final case class Buf1(obs: Seq[(Long, Long, Long)], firstEmitted: Boolean)
  final case class Buf2(obs: Seq[(Long, Long, Long, Long)]) // ms, eid, role, value

  private def stampOf(finalityMs: Long) = new java.sql.Timestamp(finalityMs + 1)

  private def stage1(key: (String, Long), it: Iterator[Obs2],
      state: GroupState[Buf1]): Iterator[Mid] = {
    val (ty, hour) = key
    val hourEnd = (hour + 1) * HourMs
    val prior = state.getOption.map(_.obs.toIndexedSeq).getOrElse(IndexedSeq.empty)
    val firstDone0 = state.getOption.exists(_.firstEmitted)
    val fresh = it.map(o => (o.ms, o.event_id, o.value_micro))
      .toIndexedSeq.sortBy(o => (o._1, o._2))
    val sorted = StreamOrder.merge(prior, fresh)
    val wm = state.getCurrentWatermarkMs()
    val out = Seq.newBuilder[Mid]
    def hold(i: Int): Mid = {
      val (pm, _, pv) = sorted(i - 1)
      Mid(ty, stampOf(sorted(i)._1), 0, pm, 0L, pv, sorted(i)._1 - pm)
    }
    if (sorted.isEmpty) { state.remove(); return Iterator.empty }
    if (wm > hourEnd) {
      // seal: nothing admissible can still land in this hour — flush
      // every pending hold and both boundaries, then free the shard
      (1 until sorted.size).foreach(out += hold(_))
      if (!firstDone0) {
        val (fm, fe, fv) = sorted.head
        out += Mid(ty, stampOf(fm), 1, fm, fe, fv, 0L)
      }
      val (lm, le, lv) = sorted.last
      out += Mid(ty, stampOf(hourEnd), 2, lm, le, lv, 0L)
      state.remove()
    } else {
      val k = sorted.count(_._1 < wm)
      (1 until k).foreach(out += hold(_))
      var firstDone = firstDone0
      if (!firstDone && sorted.head._1 < wm) {
        val (fm, fe, fv) = sorted.head
        out += Mid(ty, stampOf(fm), 1, fm, fe, fv, 0L)
        firstDone = true
      }
      val keep = sorted.drop(math.max(k - 1, 0))
      state.update(Buf1(keep, firstDone))
      // earliest future finality among: the hour seal (always pending),
      // the un-emitted first, the next pending intra successor — all at
      // or above wm here, so the timer is legal (Spark rejects timers
      // below the current watermark)
      val cands = hourEnd +:
        ((if (!firstDone) Seq(keep.head._1) else Nil) ++
          (if (keep.size >= 2) Seq(keep(1)._1) else Nil))
      state.setTimeoutTimestamp(cands.min)
    }
    out.result().iterator
  }

  private def stage2(ty: String, it: Iterator[Mid],
      state: GroupState[Buf2]): Iterator[Hold] = {
    val out = Seq.newBuilder[Hold]
    val freshB = Vector.newBuilder[(Long, Long, Long, Long)]
    it.foreach { m =>
      if (m.role == 0) out += Hold(ty, m.ms, m.hold_ms, m.value_micro)
      else freshB += ((m.ms, m.event_id, m.role.toLong, m.value_micro))
    }
    val fresh = freshB.result().sortBy(o => (o._1, o._2, o._3))
    val prior = state.getOption.map(_.obs.toIndexedSeq).getOrElse(IndexedSeq.empty)
    val sorted = StreamOrder.merge3(prior, fresh)
    val wm = state.getCurrentWatermarkMs()
    val k = sorted.count(_._1 < wm)
    (1 until k).foreach { i =>
      val p = sorted(i - 1); val s0 = sorted(i)
      // only (last-of-hour → first-of-later-hour) adjacencies are holds;
      // (first, last) of one hour is stage 1's intra territory
      if (p._3 == 2L && s0._3 == 1L) out += Hold(ty, p._1, s0._1 - p._1, p._4)
    }
    val keep = sorted.drop(math.max(k - 1, 0))
    if (keep.isEmpty) state.remove()
    else {
      state.update(Buf2(keep))
      if (keep.size >= 2) state.setTimeoutTimestamp(keep(1)._1)
    }
    out.result().iterator
  }

  def holds(events: Dataset[Obs2]): Dataset[Hold] = {
    import events.sparkSession.implicits._
    val mids = events.groupByKey(o => (o.event_type, o.hour))
      .flatMapGroupsWithState[Buf1, Mid](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stage1)
    mids.toDF()
      .withWatermark("ts2", "0 seconds")
      .as[Mid]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Buf2, Hold](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stage2)
  }

  /** Raw events → the sharded hold ledger (x25's transform contract). */
  def transform(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    holds(
      raw.withWatermark("ts", "1 hour")
        .select(col("event_type"), col("ts"),
          unix_millis(col("ts")).as("ms"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            .as("value_micro"),
          expr("unix_millis(ts) div 3600000").as("hour"))
        .as[Obs2]).toDF()
  }

  def runToCompletion(spark: org.apache.spark.sql.SparkSession,
      dir: String, sinkName: String = "stream-twa-sharded",
      sourceOptions: Map[String, String] = Map.empty,
      sourceGlob: String = "events.parquet"): DataFrame = {
    // Spark's analysis-time check rejects ANY stateful op feeding another
    // (a structural heuristic: arbitrary flatMapGroupsWithState CAN emit
    // rows below the downstream watermark). This pipeline provably cannot:
    // every stage-1 emission is stamped finality+1, emission conditions
    // are strict (> finality), and the seal/first/successor timers force
    // emission at the FIRST batch the watermark allows — so a stamp is
    // always >= the previous batch's watermark, which is exactly the
    // downstream late-record bound (StreamingSpec pins parity + slicing
    // invariance empirically). Scope the override to this query and
    // restore, so no other stream inherits a disabled check.
    // And the watermark POLICY must be max: with min (the default), the
    // query-global watermark is min over BOTH nodes, and the ts2 node
    // starts at 0 and only advances when stage 1 emits — which under min
    // requires the watermark to advance first: a permanent 0-watermark
    // deadlock. Under max the global watermark IS the ts node's (ts2
    // stamps are <= the emitting batch's watermark by construction, so
    // the ts2 node never leads), and both stages see exactly x25's
    // watermark — stage 2 consumes stage-1 output inside the same batch,
    // so every boundary below the cut has provably arrived.
    GraftSession.withConf(spark,
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
        "spark.sql.streaming.multipleWatermarkPolicy" -> "max") {
      StreamingSessionize.runToCompletion(spark, dir, transform,
        outputMode = "append", sinkName = sinkName,
        sourceOptions = sourceOptions, sourceGlob = sourceGlob)
    }
  }
}
