package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Sessionization via `transformWithState` — Spark 4's arbitrary-state API
  * (the successor to `flatMapGroupsWithState`): typed named state slots on
  * the RocksDB state store, explicit event-time TIMERS instead of a single
  * per-key timeout, and per-state TTL. Semantics here are IDENTICAL to
  * [[CustomStateSessionize]] (x6) — both run the same `fold` state machine,
  * and the parity is pinned by StreamingSpec — so the query demonstrates
  * the API migration at equal semantics: ValueState carries the open
  * session, a timer at `end + gap` replaces `setTimeoutTimestamp`, and
  * each batch's re-registration deletes the stale timer (timers are a SET
  * per key here, not one slot — the one real semantic difference from the
  * old API, and the reason the expiry guard re-checks against state).
  *
  * Scale posture: same as x6 — one small state row per active user,
  * evicted by its timer when the watermark passes; one shuffle on user_id.
  * RocksDB keeps state off-heap and incrementally checkpointed, which is
  * the 100 TB-stream default (HDFS-backed stores hold state on-heap).
  */
object TransformWithStateSessionize {
  import CustomStateSessionize.{Ev, OpenSession, Session, defaultGapMs}

  private class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Ev, Session] {
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Session] = {
      val st = if (open.exists()) Some(open.get()) else None
      val (closed, next) = CustomStateSessionize.fold(uid, rows.toSeq, st, gapMs)
      next.foreach { s =>
        // one live timer per key: drop the previous batch's registration
        // before arming the new end+gap (a stale timer would fire early)
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        open.update(s)
        getHandle.registerTimer(s.end + gapMs)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      // guard: only the timer matching the CURRENT open session finalizes
      // it (a racing stale timer must be a no-op)
      if (open.exists()) {
        val s = open.get()
        if (s.end + gapMs == info.getExpiryTimeInMs()) {
          open.clear()
          return Iterator.single(Session(uid, s.n, s.start, s.end, s.sum))
        }
      }
      Iterator.empty
    }
  }

  /** Streaming transform: Dataset[Ev] (watermarked upstream) → sessions. */
  def sessions(events: Dataset[Ev],
      gapMs: Long = defaultGapMs): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[Session](new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run over `dir`/events.parquet to completion. transformWithState
    * requires the RocksDB state store; pin it for this query and restore
    * the session's provider after (same discipline as the harness's
    * shuffle-partition pin). */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      StreamingSessionize.runToCompletion(spark, dir,
        raw => sessions(CustomStateSessionize.events(raw)).toDF(),
        outputMode = "append", sinkName = "tws")
    }
}
