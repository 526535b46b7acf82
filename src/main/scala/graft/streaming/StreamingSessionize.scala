package graft.streaming

import graft.{GraftCkpt, GraftSession}
import graft.io.LocalFs
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Exprs._

/** Structured Streaming sessionization over the `events` table.
  *
  * The reference has no streaming of any kind (SURVEY.md §1 "No streaming …
  * abstractions anywhere in hw4.cc"); this is the §7 extension row
  * "streaming over events": `readStream → session_window(gap) → agg`, the
  * native streaming form of the batch lag+running-sum sessionization (q16).
  *
  * Semantics note: `session_window(ts, gap)` merges an event into a session
  * while the gap to the previous event is strictly < gap; the batch q16
  * breaks on diff > gap. The two differ only for events exactly gap apart —
  * impossible-in-practice with nanosecond timestamps — and the oracle here
  * uses the session_window convention (brk on diff >= gap).
  *
  * Scale posture: session_window is a built-in streaming-stateful aggregate;
  * state is partitioned by (user_id), merged incrementally, and bounded by
  * the watermark (late data beyond 1 hour is dropped, state for closed
  * sessions is evicted). The run-to-completion harness below exists for the
  * correctness gate; a production job would `writeStream` to a real sink.
  */
object StreamingSessionize {

  /** events.parquet raw schema: ts is no-tz TIMESTAMP(MICROS), declared
    * TIMESTAMP_NTZ here and cast to session-tz TimestampType (UTC) after the
    * scan (see Tables.load for the matching batch-side normalization). */
  private[graft] val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The streaming transform: watermark + session window + aggregate. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        dsum(col("value"), 6).as("sum_value"))
      .select("user_id", "n_events", "start_ms", "end_ms", "sum_value")

  /** Stream-stream time-interval join: each click joins every view by the
    * same user in the preceding 30 minutes. Both sides are watermarked so
    * the join state (buffered views awaiting future clicks) is bounded —
    * the canonical two-stream join with a range condition. On a full replay
    * the result equals the batch interval join, which is the oracle. */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    clicks.join(views,
        expr("c_user = v_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("c_user").as("user_id"), col("view_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("v_ts"))).as("ms_gap"))
  }

  /** Stream-stream LEFT OUTER interval join — x3's join with the unmatched
    * clicks kept. Outer results cannot stream eagerly: a click is only
    * provably match-less once no future view can land in its 30-minute
    * lookback, i.e. once the GLOBAL watermark (the min over both sides'
    * watermark nodes — views and clicks track separate max event times)
    * passes the click's timestamp; Spark then evicts the click's state and
    * emits the null-extended row in a no-data microbatch. Clicks above the
    * final watermark stay buffered forever on a finite replay — the oracle
    * restates exactly that emission rule. */
  def clickViewLeftJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    clicks.join(views,
        expr("c_user = v_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("click_id"), col("c_user").as("user_id"), col("view_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("v_ts"))).as("ms_gap"))
  }

  /** Stream-stream FULL OUTER interval join — x8 with the unmatched VIEWS
    * also kept. Each side's null-extension has its own eviction clock: an
    * unmatched click emits once the global watermark passes its timestamp
    * (no future view can precede it — x8's rule); an unmatched view emits
    * once the watermark passes `v_ts + 30 minutes` (no future click can
    * land inside its forward match window). Both rules fall out of the
    * join condition's bounds, and the oracle restates them verbatim. */
  def clickViewFullJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    clicks.join(views,
        expr("c_user = v_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTES"),
        "full_outer")
      .select(col("click_id"),
        coalesce(col("c_user"), col("v_user")).as("user_id"), col("view_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("v_ts"))).as("ms_gap"))
  }

  /** Streaming stateful dedup: first-seen (user_id, event_type) keys via
    * `dropDuplicates` — the streaming twin of exact dedup (d1). State is one
    * entry per DISTINCT KEY (bounded by the key domain, not the stream
    * length; for time-windowed keys put the event time in the key so the
    * watermark evicts, or use dropDuplicatesWithinWatermark). Only the key
    * columns are emitted: which physical row was first-seen is
    * microbatch-order-dependent, but the distinct key set is deterministic
    * and equals batch DISTINCT on a full replay — which is the oracle. */
  def streamDedup(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** x33: exact dedup with BOUNDED state — dropDuplicatesWithinWatermark,
    * the production spelling x4's plain dropDuplicates scaladoc points at:
    * x4's state is one entry per distinct key FOREVER (fine for a small
    * key domain, a leak for an unbounded one), while here the event time
    * joins the key (hour bucket) and the watermark EVICTS state once no
    * duplicate can still arrive — state tracks the horizon, not history.
    * Correctness window: all duplicates of a (user, type, hour) key are
    * at most 59:59 apart, inside the 1 h delay, so Spark's guarantee
    * ("no duplicate emission for records within the delay of the first")
    * makes the emitted key set EXACTLY batch DISTINCT at any slicing —
    * the deterministic contract the oracle states. Only key columns are
    * emitted (which physical row won is order-dependent, x4's argument). */
  private[graft] def streamDedupBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"),
        date_trunc("hour", col("ts")).as("hour"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
      .select(col("user_id"), col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"))

  /** Hourly tumbling-window rollup — the streaming twin of the batch q15:
    * watermark + window() + partial/final streaming aggregate. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** x19's streaming stage: per-(hour, user) event counts — complete-mode
    * state the sink-side rank projects over. Factored so the multi-batch
    * replay spec runs the exact defs spelling. */
  def hourlyUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_ts"), col("user_id"), col("n_events"))

  /** x19's sink-side (batch, per-microbatch) projection: top 3 users per
    * hour, deterministic (count DESC, user) order. */
  def topkProjection(state: DataFrame): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("hour_ts").orderBy(col("n_events").desc, col("user_id"))
    state
      .withColumn("rk", row_number().over(rankW).cast(LongType))
      .filter(col("rk") <= 3)
  }

  /** x23/x23a's static state, batch-built once per run and broadcast into
    * every microbatch: the global bin range, the baseline (first
    * half-month) histogram, and its per-type totals. Checkpointed so no
    * microbatch ever re-aggregates the historical corpus. */
  private def driftStatics(s: SparkSession, dir: String)
      : (DataFrame, Column, DataFrame, DataFrame) = {
    val ev = graft.sources.Tables.load(s, dir, "events")
    val mm = ev.agg(min("value").as("lo"), max("value").as("hi"))
      .graftCkpt()
    val binCol = least(
      floor((col("value") - col("lo")) * 10.0 / (col("hi") - col("lo"))),
      lit(9.0)).cast(LongType)
    val base = ev
      .filter(col("ts") < lit("2024-01-16").cast(TimestampType))
      .crossJoin(broadcast(mm)).withColumn("bin", binCol)
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n_base"))
      .graftCkpt()
    // per-type totals joined on the TYPE key alone — carried on the
    // per-bin row they would go NULL exactly where n_base does (a bin
    // absent from the baseline), nulling the drift
    val baseTotals = base.groupBy("event_type")
      .agg(sum("n_base").cast(LongType).as("t_base"))
      .graftCkpt()
    (mm, binCol, base, baseTotals)
  }

  /** The drift readout shared by x23 (all-time live histogram) and x23a
    * (per-hour live histogram; `liveKeys` carries the extra hour_ts key).
    * Both joins are LEFT (ADVICE r9): a (type, bin) absent from the
    * baseline coalesces to n_base = 0, and a TYPE with no baseline mass at
    * all — first seen after the baseline window, the strongest drift
    * signal — gets the full live share as its sentinel drift instead of
    * being silently dropped by an inner join. The oracle pins both rules. */
  private def driftProjection(base: DataFrame, baseTotals: DataFrame,
      liveKeys: Seq[String])(live: DataFrame): DataFrame = {
    val extraKeys = liveKeys.filterNot(_ == "event_type")
    live
      .withColumn("t_live", sum("n_live").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(liveKeys.map(col): _*)))
      .join(broadcast(base), Seq("event_type", "bin"), "left")
      .join(broadcast(baseTotals), Seq("event_type"), "left")
      .select(extraKeys.map(col) ++ Seq(col("event_type"), col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"), col("n_live"),
        when(col("t_base").isNull,
          col("n_live").cast(DoubleType) / col("t_live"))
          .otherwise(abs(coalesce(col("n_base"), lit(0L))
              .cast(DoubleType) / col("t_base")
            - col("n_live").cast(DoubleType) / col("t_live")))
          .as("drift")): _*)
  }

  /** x24a's streaming stage: watermarked per-(hour, type, user-hash)
    * distinct state — evicted once the hour closes, emitted append-only. */
  private[graft] def hourlyKmvHashes(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        graft.functions.HexPrefixToLong
          .hex8(md5(col("user_id").cast(StringType))).as("hv"))
      .agg(count(lit(1)).as("n_ev"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_ts"), col("event_type"), col("hv"))

  /** x24a's sink-side projection: per finalized (hour, type), the exact
    * distinct count plus the bottom-64 KMV estimate (q36's arithmetic). */
  private[graft] def kmvHourProjection(st: DataFrame): DataFrame = {
    val k = 64
    st.groupBy("hour_ts", "event_type")
      .agg(count(lit(1)).as("n_exact"),
        expr(s"slice(array_sort(collect_list(hv)), 1, $k)").as("bot"))
      .select(col("hour_ts"), col("event_type"), col("n_exact"),
        when(size(col("bot")) === k,
          lit((k - 1).toDouble * 4294967296.0) /
            element_at(col("bot"), k).cast(DoubleType))
          .otherwise(col("n_exact").cast(DoubleType)).as("est_users"))
  }

  /** x23a's (streaming transform, sink projection) pair: the statics are
    * built from `dir`'s batch corpus; the transform maintains the
    * watermark-evicted per-hour live histogram. Factored so the replay
    * spec can stream a SLICED copy against statics from the original dir. */
  private[graft] def hourlyDriftPieces(s: SparkSession, dir: String)
      : (DataFrame => DataFrame, DataFrame => DataFrame) = {
    val (mm, binCol, base, baseTotals) = driftStatics(s, dir)
    val transform = (st: DataFrame) =>
      st.withWatermark("ts", "1 hour")
        .crossJoin(broadcast(mm)).withColumn("bin", binCol)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n_live"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_ts"), col("event_type"), col("bin"), col("n_live"))
    (transform, driftProjection(base, baseTotals, Seq("hour_ts", "event_type")))
  }

  /** x20's chained windowed aggregations: 10-minute counts re-windowed to
    * an hourly sum/peak/slice-count rollup. */
  def windowRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(col("window"), "1 hour"))
      .agg(sum("n10").cast(LongType).as("n_events"),
        max("n10").as("peak_10min"), count(lit(1)).as("n_slices"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_ts"), col("n_events"), col("peak_10min"), col("n_slices"))

  /** Run a streaming transform over `dir`/events.parquet to completion
    * (file source → `foreachBatch` → parquet) and return the result as a
    * FILE-BACKED DataFrame. This is the correctness-gate harness: same
    * result as the batch query, but computed by the streaming engine's
    * incremental state merge.
    *
    * No driver materialization anywhere: each microbatch is written
    * distributed (complete mode delivers the full state per trigger →
    * overwrite; append mode delivers only the new rows → append), which
    * keeps the harness O(1) in driver memory even for x3's unbounded
    * append-mode join output — the scale path a production
    * `writeStream.format("parquet")` job would take. The temp dir lives for
    * the session (the returned frame lazily reads it) and is
    * delete-on-exit. */
  def runToCompletion(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame = sessions(_),
      outputMode: String = "complete",
      sinkName: String = "default",
      sourceOptions: Map[String, String] = Map.empty,
      sourceGlob: String = "events.parquet",
      sourceSchema: StructType = rawSchema,
      sinkTransform: DataFrame => DataFrame = identity,
      tagBatchId: Boolean = false,
      // checkpointLoc + clearSink=false are the KILL-AND-RESUME knobs
      // (StreamingRestartSpec): an explicit checkpoint makes a second
      // invocation resume offsets/state/batch-ids from the first instead
      // of replaying, and the sink must then keep the first run's rows
      checkpointLoc: Option[String] = None,
      clearSink: Boolean = true): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A streaming query fixes its state-store layout at start: with the
    // session's batch-oriented shuffle.partitions (one per core, see
    // GraftSession.builder) every microbatch pays that many state-store
    // checkpoints for a stream whose state is tiny. Pin a small partition
    // count for the stream (a production job sizes this to its state volume
    // instead). The stream also runs with `file:` bound to LocalFs, so its
    // offset/commit logs, state-store files and sink files fork no process
    // even in a session GraftSession did not build. withConf restores the
    // session conf however the run ends: a failure in stream construction,
    // analysis, or start() must not leave the shared session pinned.
    val out = Sink.dirFor(sinkName, clear = clearSink)
    GraftSession.withConf(spark,
        LocalFs.sessionBinding :+ ("spark.sql.shuffle.partitions" -> "4"): _*) {
      // sourceOptions lets tests drive MULTI-microbatch replays
      // (maxFilesPerTrigger=1 over several time-ordered files) — the
      // cross-batch state-merge path a one-file replay never exercises
      val reader = sourceOptions.foldLeft(
        spark.readStream.schema(sourceSchema)
          .option("pathGlobFilter", sourceGlob)) {
        case (r, (k, v)) => r.option(k, v)
      }
      val raw = reader.parquet(dir)
      // only the events source carries an NTZ ts to normalize (session tz is
      // UTC, so the cast preserves the instant); other sources (x12's
      // documents stream) pass through untouched
      val stream =
        if (sourceSchema.fieldNames.contains("ts"))
          raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
        else raw
      val transformed = transform(stream)
      // sinkTransform runs per-microbatch INSIDE foreachBatch — the place a
      // streaming job applies batch-only projections (window rank, joins
      // against the full delivered state) the streaming planner rejects.
      // With complete mode + overwrite, the sink always holds the
      // projection of the CURRENT full state — a maintained materialized
      // view. Its schema comes from an empty analysis-only frame so the
      // read-back below is typed even when zero microbatches fire.
      // tagBatchId threads foreachBatch's batch id into the sink rows —
      // the piece an UPDATE-mode keyed sink needs to resolve "latest
      // upsert per key" from an append-only file sink (x14a)
      val rowSchema =
        if (tagBatchId) transformed.schema.add("batch_id", LongType)
        else transformed.schema
      val schema = sinkTransform(spark.createDataFrame(
        new java.util.ArrayList[Row](), rowSchema)).schema
      val saveMode = if (outputMode == "complete") "overwrite" else "append"
      val writer0 = transformed.writeStream.outputMode(outputMode)
      val q = checkpointLoc.foldLeft(writer0)(
        (w, loc) => w.option("checkpointLocation", loc))
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          val tagged =
            if (tagBatchId) batch.withColumn("batch_id", lit(bid)) else batch
          sinkTransform(tagged).write.mode(saveMode)
            .parquet(out.getAbsolutePath)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val wrote = Option(out.listFiles()).exists(_.exists(_.getName.endsWith(".parquet")))
      if (wrote) spark.read.schema(schema).parquet(out.getAbsolutePath)
      else spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
  }

  /** ONE sink dir per query name, reused across invocations and cleared at
    * the start of each run (ADVICE r4: fresh temp dirs accumulated over a
    * long-lived session — a bench run is 1 warmup + N timed runs per
    * streaming query). A previously returned frame for the same name is
    * invalidated by the reuse; callers (Verify/Bench/tests) fully consume
    * each result before re-running. Dirs are deleted RECURSIVELY by one
    * shutdown hook — `File.deleteOnExit` only removes empty directories,
    * which would leak every part file. */
  private object Sink {
    private val dirs = scala.collection.mutable.HashMap[String, java.io.File]()
    private def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    sys.addShutdownHook {
      dirs.synchronized(dirs.values.foreach(rm))
    }
    def dirFor(name: String, clear: Boolean = true): java.io.File =
      dirs.synchronized {
        val d = dirs.getOrElseUpdate(name,
          Files.createTempDirectory(s"graft-stream-sink-$name-").toFile)
        // clear=false is the resume path: a restarted query must append to
        // the rows its pre-kill run already committed
        if (clear) Option(d.listFiles()).foreach(_.foreach(rm))
        d
      }
  }

  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    "x1_stream_sessionize" -> { (s, dir) =>
      runToCompletion(s, dir, sinkName = "x1")
    },
    "x2_stream_hourly" -> { (s, dir) =>
      runToCompletion(s, dir, hourlyRollup, sinkName = "x2")
    },
    "x3_stream_interval_join" -> { (s, dir) =>
      runToCompletion(s, dir, clickViewJoin, outputMode = "append", sinkName = "x3")
    },
    "x4_stream_dedup" -> { (s, dir) =>
      runToCompletion(s, dir, streamDedup, outputMode = "append", sinkName = "x4")
    },

    // BOUNDED-STATE streaming dedup (see streamDedupBounded): the
    // watermark evicts dedup state, so a year-long stream holds hours of
    // keys, not a year of them — the 100 TB answer to x4's leak caveat
    "x33_stream_dedup_bounded" -> { (s, dir) =>
      runToCompletion(s, dir, streamDedupBounded,
        outputMode = "append", sinkName = "x33")
    },

    // Left-outer stream-stream join: inner matches stream immediately;
    // null-extended rows emit on state eviction as the watermark passes
    // each unmatched click (see clickViewLeftJoin).
    "x8_stream_left_join" -> { (s, dir) =>
      runToCompletion(s, dir, clickViewLeftJoin, outputMode = "append",
        sinkName = "x8")
    },

    // Full-outer stream-stream join: BOTH sides' unmatched rows surface,
    // each on its own watermark-driven eviction schedule (see
    // clickViewFullJoin) — the remaining outer-join mode x3/x8 leave out.
    "x13_stream_full_outer" -> { (s, dir) =>
      runToCompletion(s, dir, clickViewFullJoin, outputMode = "append",
        sinkName = "x13")
    },

    // Stream-static enrichment join — the stateless streaming pattern x1-x4
    // don't cover: each event microbatch joins a STATIC dimension (no
    // watermark, no join state; the dim is broadcast per batch). The
    // canonical "enrich the event stream with its user/customer record"
    // job; on a full replay equals the batch join, which is the oracle.
    "x5_stream_static_enrich" -> { (s, dir) =>
      val cust = graft.sources.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      runToCompletion(s, dir,
        ev => ev.join(broadcast(cust), ev("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("c_mktsegment"), col("value")),
        outputMode = "append", sinkName = "x5")
    },

    // Custom-state sessionize (flatMapGroupsWithState) as a GATE query, not
    // just a parity spec: the emitted set is exactly the batch sessions
    // minus each user's LAST session when the final watermark never passed
    // its `end + gap` event-time timeout (Spark fires a timeout only when
    // timeoutTimestamp < watermark, in a no-data microbatch after the
    // watermark advances) — that exact set is what the oracle restates.
    // Only the deterministic columns are gated: the open-session double sum
    // folds in shuffle-arrival order within equal-ms ties, so sum_value is
    // parity-tested (StreamingSpec, 1e-4) but excluded from the bit-exact
    // hash compare.
    "x6_stream_custom_state" -> { (s, dir) =>
      CustomStateSessionize.runToCompletion(s, dir).drop("sum_value")
    },

    // The SAME sessionization on Spark 4's transformWithState API (typed
    // named state + event-time timers on RocksDB) — x6's state machine,
    // shared fold, identical emissions; the oracle is restated verbatim.
    "x10_transform_with_state" -> { (s, dir) =>
      TransformWithStateSessionize.runToCompletion(s, dir).drop("sum_value")
    },

    // CHAINED stateful operators — hourly distinct users as watermarked
    // dedup → tumbling-window count (the multi-stateful-operator pipeline
    // Spark supports natively since 3.4; x1-x6 each exercise ONE stateful
    // op). `dropDuplicatesWithinWatermark` bounds the dedup state by the
    // watermark delay (a plain dropDuplicates would hold every
    // (user, hour) key forever); (user, hour) duplicates are at most an
    // hour apart in event time, within the 1-hour delay, so the dedup is
    // exact. Append mode emits a window only once the watermark passes its
    // end, so the trailing unfinalized hours stay in state — the oracle
    // restates that cutoff exactly.
    "x7_stream_hourly_users" -> { (s, dir) =>
      runToCompletion(s, dir, ev =>
        ev.withWatermark("ts", "1 hour")
          .withColumn("hour", date_trunc("hour", col("ts")))
          .dropDuplicatesWithinWatermark("user_id", "hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_users"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour_ts"), col("n_users")),
        outputMode = "append", sinkName = "x7")
    },

    // Streaming top-k per window — the trending-now materialized view: the
    // stream maintains per-(hour, user) counts incrementally (complete-mode
    // state, x7's key space), and the top-3-per-hour RANK runs in
    // foreachBatch over each delivered state snapshot — window functions
    // are batch-only, so the sink-side projection is exactly where a
    // production job puts them (the sink always holds the current top-k,
    // overwritten per trigger). On a finite replay the last snapshot equals
    // the batch rank, which is the oracle. At scale the state is bounded by
    // the (window, user) key domain and the rank runs on the aggregate,
    // never the event stream. PRODUCTION FORM: x19a — the same aggregate
    // watermark-evicted and append-mode; this complete-mode spelling is the
    // demo/maintained-view form whose state grows with the all-time key
    // domain (VERDICT r10 item 6's cargo-cult trap).
    "x19_stream_topk" -> { (s, dir) =>
      runToCompletion(s, dir, hourlyUserCounts(_), sinkName = "x19",
        sinkTransform = topkProjection)
    },

    // x19's APPEND-MODE twin (VERDICT r9 item 1): the same per-(hour,
    // user) count aggregate, but a window EMITS once the watermark passes
    // its end and its state is EVICTED — the scale-safe form for an
    // unbounded stream, where complete mode both re-emits the entire
    // all-time snapshot every trigger and holds every (hour, user) key
    // forever. Emission is atomic per window (all of a finalized hour's
    // rows surface in the first microbatch whose watermark passes its
    // end), so the top-3 rank in foreachBatch sees each hour COMPLETE —
    // the sink accumulates exactly one finalized top-k per hour,
    // append-only, never rewritten. Trailing unfinalized hours stay in
    // state (x7's cutoff, restated in the oracle); StreamingSpec pins the
    // 3-slice replay against the complete-mode snapshot restricted to
    // closed hours.
    "x19a_topk_append" -> { (s, dir) =>
      runToCompletion(s, dir, hourlyUserCounts(_), outputMode = "append",
        sinkName = "x19a", sinkTransform = topkProjection)
    },

    // Streaming CONTINUOUS-INTEGRITY checksum — q58's key-set checksum
    // maintained incrementally: the order-independent aggregate hash
    // (decimal sum of 32-bit md5 prefixes) is a commutative monoid, so
    // complete-mode state merges every microbatch in O(1) and the sink
    // always holds the checksum-so-far — the drift monitor a replication
    // pipeline tails to catch divergence without ever re-scanning. On a
    // finite replay the final row equals the batch checksum BY ALGEBRA
    // (arrival slicing is irrelevant to a commutative sum), which is the
    // oracle.
    "x21_stream_checksum" -> { (s, dir) =>
      runToCompletion(s, dir, ev =>
        ev.select(graft.functions.HexPrefixToLong
            .hex8(md5(col("event_id").cast(StringType))).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("h").cast(DecimalType(38, 0))).cast(LongType)
              .as("checksum")),
        sinkName = "x21")
    },

    // CHAINED windowed aggregations — the hierarchical-rollup pipeline
    // (minute-grain counts → hourly summary) as TWO stacked streaming
    // window aggregates: the second groupBy windows over the FIRST's
    // window column (Spark's chained-time-window support, the second
    // multi-stateful shape next to x7's dedup→window). The hourly row
    // carries sum/peak/slice-count of its 10-minute slices — the peak
    // column is why the rollup can't be computed flat (max-of-counts
    // needs the intermediate grain). State per stage is watermark-
    // bounded; the inner agg shrinks the stream by the slice width
    // before the outer ever sees it — at 100 TB the second shuffle
    // carries per-slice partials, never events. Append emission: an hour
    // surfaces once the watermark passes its end (x7's rule, restated in
    // the oracle's cutoff).
    "x20_stream_window_rollup" -> { (s, dir) =>
      runToCompletion(s, dir, windowRollup(_),
        outputMode = "append", sinkName = "x20")
    },

    // Sliding-window aggregate — the overlapping-window form x2's tumbling
    // rollup doesn't cover: every event lands in window/slide = 6 windows
    // (60 min length, 10 min slide, epoch-aligned starts). Spark expands
    // each row to its 6 window assignments BEFORE the shuffle and partial-
    // aggregates per (window) inside the map side, so the shuffle carries
    // per-window partials, not the 6× row expansion. Append mode: a window
    // emits once the watermark passes its end; on a finite replay that is
    // every window with end <= max(ts) - 1 h (the oracle's cutoff clause,
    // x7's rule).
    "x9_stream_sliding" -> { (s, dir) =>
      runToCompletion(s, dir, ev =>
        ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "60 minutes", "10 minutes"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("sum_value"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("w_start"), col("n_events"), col("sum_value")),
        outputMode = "append", sinkName = "x9")
    },

    // Streaming first-touch funnel (q42's attribution chaining as per-user
    // custom state): the in-order fold reproduces the batch min-chaining,
    // rows emitted on 6 h-inactivity timeout — see streaming/StreamFunnel.
    "x11_stream_funnel" -> { (s, dir) =>
      StreamFunnel.runToCompletion(s, dir)
    },

    // Streaming incremental dedup — d18's admission check as the online job
    // it really is: new documents ARRIVE (the doc_id%10==7 slice read as a
    // documents-schema file stream) and are classified against the STATIC
    // corpus LSH index (d18's bucketed tables, joined + capped batch-side
    // and checkpointed ONCE — microbatches re-scan nothing). Per arriving
    // doc: signature → 8 band keys (explode_outer keeps shingle-less docs)
    // → stream-static LEFT equi-join on the band index → per-row exact
    // Jaccard (native merge-walk intersect) → ONE complete-mode aggregate
    // (count band hits, max Jaccard). Streaming-legal by construction: the
    // static joins are stateless, the single stateful op is the final agg —
    // counting (band, candidate) HITS rather than distinct candidates is
    // the honest one-stateful-op spelling (pair-distinct would chain a
    // second stateful dedup, and the hit count is the ops metric a stream
    // admission job alarms on anyway; the verdict comes from max_jaccard,
    // which multiplicity cannot change). 100 TB posture: state is one row
    // per in-flight doc; the band join partitions the stream by band key
    // against a corpus index that lives as a table, never in memory. A
    // doc's band hits all land in its arrival trigger (the index is
    // static), so its verdict is final immediately — production emits
    // x14a's update-mode deltas rather than this gate's complete
    // snapshots, which hold one row per doc ever scored.
    "x12_stream_incremental_dedup" -> { (s, dir) =>
      runToCompletion(s, dir, incrementalDedup(s, dir),
        outputMode = "complete", sinkName = "x12",
        sourceGlob = "documents.parquet", sourceSchema = docSchema)
    },

    // The reference's entire pipeline — WordCount (SURVEY §2.1 #3-#10) — as
    // an INCREMENTAL streaming job: documents arrive as files, the running
    // (word, cnt) state merges per microbatch (partial-agg map-side, state
    // keyed by word — the same shuffle key as the batch job), and complete
    // mode emits the current full vocabulary each trigger. This is the
    // canonical "batch job that never finishes ingesting": where the
    // reference re-runs from scratch per corpus drop, the streaming twin
    // pays only the new files' tokens per trigger. Oracle = w1's batch
    // wordcount (the final watermarkless state IS the batch answer);
    // StreamingSpec replays a 3-slice copy to pin that cross-batch state
    // merge == one-shot. State at 100 TB: one long per vocabulary word,
    // hash-partitioned — the vocab (~millions) is state-store-sized, and a
    // production job would emit update mode to a keyed sink instead of
    // complete-mode rewrites.
    "x14_stream_wordcount" -> { (s, dir) =>
      runToCompletion(s, dir, streamWordcount, outputMode = "complete",
        sinkName = "x14", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    },

    // x14's UPDATE-MODE twin — the "production would emit update-mode
    // deltas to a keyed sink" caveat in x14's own scaladoc, now code: per
    // trigger the stream emits ONLY the words whose counts changed (the
    // arriving slice's vocabulary), tagged with the microbatch id, and the
    // keyed sink resolves each word to its LATEST upsert — so per-trigger
    // sink volume is |touched vocab| where complete mode rewrites the
    // whole dictionary every time. State is the same vocab-bounded count
    // table as x14; what eviction is to x19a, delta emission is to x14a.
    // The resolved sink state equals batch w1 on any replay slicing
    // (StreamingSpec pins per-batch emissions == each slice's exact
    // vocabulary).
    "x14a_wordcount_update" -> { (s, dir) =>
      val upserts = runToCompletion(s, dir, streamWordcount,
        outputMode = "update", sinkName = "x14a",
        sourceGlob = "documents.parquet", sourceSchema = docSchema,
        tagBatchId = true)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("word").orderBy(col("batch_id").desc)
      upserts.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1)
        .select("word", "cnt")
    },

    // t16's mixture resampling as the online admission job: the weight
    // table is learned batch-side from the static corpus (one aggregate,
    // checkpointed), and each arriving microbatch maps through the same
    // broadcast join + md5-Bernoulli copy-count projection — completely
    // STATELESS streaming (append mode, no watermark, no state store), so
    // the manifest rows a doc gets are identical whether it arrives in one
    // batch or fifty (determinism by construction: copy counts depend only
    // on doc_id and the static weights — the reproducibility-across-retries
    // property t16 exists for, now load-bearing across triggers too).
    "x15_stream_mixture" -> { (s, dir) =>
      runToCompletion(s, dir, streamMixture(s, dir), outputMode = "append",
        sinkName = "x15", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    },

    // t17's LM fluency scoring as the online admission scorer: the bigram
    // model + prefix marginals are trained batch-side from the static
    // corpus (checkpointed — the stream must never re-aggregate them), and
    // each arriving doc's bigram pairs probe the model through TWO
    // stream-static equi-joins — corpus-scale static tables joined on the
    // shuffle key, NOT broadcast literals (a vocab² model outgrows any
    // broadcast) — before the single stateful per-doc mean aggregate
    // (complete mode, one row per scored doc). The scores are x14's
    // wordcount discipline applied to model INFERENCE: integer-ppm floor
    // arithmetic, so the streamed state merges to exactly the batch t17
    // row set. Unbounded-stream posture: a doc's pairs all arrive inside
    // its own row, so its mean is FINAL from its first trigger —
    // production emits x14a's update-mode deltas (one row per newly
    // scored doc) instead of this gate's complete snapshots; x17a's
    // in-row collapse does NOT apply because the vocab² model must stay
    // a joined table, never a broadcastable array.
    "x16_stream_lm_score" -> { (s, dir) =>
      runToCompletion(s, dir, streamLmScore(s, dir), outputMode = "complete",
        sinkName = "x16", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    },

    // d12's decontamination check as the ONLINE admission probe — the gate
    // that runs where contamination actually enters: at ingest, before a
    // scraped doc reaches the training corpus. The benchmark shingle-hash
    // index is built batch-side from the static held-out docs (tiny —
    // BROADCAST into every microbatch, never re-aggregated), each arriving
    // doc explodes to its distinct shingle hashes (the factored
    // Dedup.hashSetsOf — x17 and d12 share one spelling, so the streamed
    // verdicts merge to exactly the batch rows), and the only stateful
    // operator is the per-doc hit-count aggregate (complete mode, one row
    // per scored doc; a doc's shingles arrive inside its own row, so
    // per-doc state is two longs). At 100 TB-stream: benchmark indexes are
    // |benchmarks|-bounded (always broadcastable); per-batch cost is the
    // batch's own shingle pass.
    "x17_stream_decontam" -> { (s, dir) =>
      runToCompletion(s, dir, streamDecontam(s, dir), outputMode = "complete",
        sinkName = "x17", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    },

    // x17's ZERO-STATE twin: the same verdicts with NO stateful operator
    // at all. x17's complete-mode per-doc aggregate holds one row per doc
    // EVER SCORED — bounded per doc, unbounded over stream lifetime (the
    // x19/x23/x24 pattern on the doc axis). But a doc's shingles arrive
    // inside its own row, so the contamination count never needed a
    // re-aggregate: hashSetsOf's distinct hash set intersects the
    // broadcast benchmark array IN-ROW (array_intersect on two sorted
    // distinct arrays), making the whole pipeline a stateless append
    // stream — per-row pure function of (text, static index), slicing-
    // invariant by construction (x15/x18's argument), sink grows only
    // with scored docs. Shingle-less docs (< 3 tokens) are filtered, as
    // x17's explode-then-group silently does. The benchmark array is
    // |benchmarks|-bounded — the same broadcastability x17 relies on.
    "x17a_decontam_stateless" -> { (s, dir) =>
      runToCompletion(s, dir, statelessDecontam(s, dir),
        outputMode = "append", sinkName = "x17a",
        sourceGlob = "documents.parquet", sourceSchema = docSchema)
    },

    // d24's bloom admission as the online gate it's designed to be — and
    // the pack's ZERO-state streaming dedup: the corpus bitset and fp set
    // are built batch-side (checkpointed), each microbatch's fingerprints
    // probe the broadcast bitset, and only possibly-dup rows take the
    // stream-static residual equi-join (the definitely-novel branch skips
    // every join — at a real ingest rate that is almost all of the
    // stream). Verdicts are per-row pure functions of (fp, static state),
    // so arrival slicing can't change them (append mode, no watermark, no
    // state store — x15's determinism-by-construction argument with a
    // JOIN in the pipeline). The factored Dedup.bloomVerdicts is shared
    // with batch d24 — one spelling, replay-pinned.
    "x18_stream_bloom_admission" -> { (s, dir) =>
      runToCompletion(s, dir, streamBloomAdmission(s, dir), outputMode = "append",
        sinkName = "x18", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    },

    // The MAINTAINED audience-size dashboard — q36's KMV distinct
    // estimate as a streaming view: the stream keeps per-(type, user-hash)
    // counts (ONE stateful complete-mode agg — state bounded by the key
    // domain, x4's argument), and the sketch math — bottom-64 ranks →
    // (k−1)·2³²/u_k — runs per snapshot in the sink projection next to
    // the exact count it estimates. Deterministic md5 ranks make the
    // ESTIMATE itself hash-gate on replay (q36's property). A production
    // O(k)-state variant folds the sketch inside transformWithState —
    // plumbing x10 already proves — at the cost of losing the exact
    // column this gate rides on. PRODUCTION FORM: x24a — the hourly
    // re-keyed sketch, watermark-evicted and append-mode; this
    // complete-mode spelling holds the all-time (type, hash) domain.
    "x24_stream_kmv_users" -> { (s, dir) =>
      val k = 64
      runToCompletion(s, dir, ev =>
        ev.select(col("event_type"),
            graft.functions.HexPrefixToLong
              .hex8(md5(col("user_id").cast(StringType))).as("hv"))
          .groupBy("event_type", "hv").agg(count(lit(1)).as("n_ev")),
        sinkName = "x24",
        sinkTransform = st => st
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_exact"),
            expr(s"slice(array_sort(collect_list(hv)), 1, $k)").as("bot"))
          .select(col("event_type"), col("n_exact"),
            when(size(col("bot")) === k,
              lit((k - 1).toDouble * 4294967296.0) /
                element_at(col("bot"), k).cast(DoubleType))
              .otherwise(col("n_exact").cast(DoubleType)).as("est_users")))
    },

    // x24's APPEND-MODE twin (VERDICT r9 item 1): the audience sketch
    // re-keyed by HOUR. The (window, type, user-hash) distinct state is
    // watermark-EVICTED once its hour closes, so state holds only the
    // open hours' keys instead of the all-time (type, hash) domain, and
    // each trigger appends only newly finalized hours instead of
    // rewriting the dashboard — the unbounded-stream-safe form. The KMV
    // rank arithmetic runs per finalized hour in the sink (per-window
    // emission is atomic, so the batch-side groupBy sees each hour's
    // full hash set); unfinalized trailing hours stay in state (x7's
    // cutoff, restated in the oracle).
    "x24a_kmv_append" -> { (s, dir) =>
      runToCompletion(s, dir, hourlyKmvHashes(_), outputMode = "append",
        sinkName = "x24a", sinkTransform = kmvHourProjection)
    },

    // Watermark-ORDERED hold ledger — batch q65's TWA on a live stream:
    // per event_type, each observation's value holds until the series'
    // next observation, and a hold emits (append mode) exactly when the
    // watermark strictly passes its successor — the point past which no
    // in-contract event can land between the pair. The shape x1-x24
    // don't cover: reconstructing a total EVENT-TIME order (batch lead())
    // from unordered arrival via buffered custom state + event-time
    // timers. See StreamTwa.scala for the cut/timer mechanics.
    "x25_stream_twa" -> { (s, dir) => StreamTwa.runToCompletion(s, dir) },

    // x25's ledger with the per-type serial-state ceiling removed: the
    // corpus-scale stage keyed by (type, epoch-hour) — q65's batch
    // decomposition live — with a dashboard-sized per-type boundary
    // stitch downstream. Two chained append-mode stateful stages; the
    // emitted set is provably x25's (parity + slicing pinned, oracle
    // shared verbatim). See StreamTwaSharded.scala.
    "x29_stream_twa_sharded" -> { (s, dir) =>
      StreamTwaSharded.runToCompletion(s, dir) },

    // GAPS-AND-ISLANDS live — q68's interval merge on the event stream
    // (events as duration-carrying spans, merged per type into busy
    // islands that close when the watermark strictly passes their end).
    // x25's buffered-state + event-time-timer discipline on INTERVAL
    // state instead of a hold series. See StreamIslands.scala.
    "x27_stream_islands" -> { (s, dir) =>
      StreamIslands.runToCompletion(s, dir) },

    // SESSION-PATH ledger live — q70's within-session transitions as an
    // append stream (the matrix is a downstream rollup). StreamTwa's cut
    // mechanics keyed by user; a pair beyond the 30-min gap retires
    // silently (the session break). See StreamPaths.scala.
    "x28_stream_paths" -> { (s, dir) =>
      StreamPaths.runToCompletion(s, dir) },

    // NEAREST-AS-OF ledger live — q75's bidirectional ±30 min match as an
    // append stream: a purchase is decided only when the watermark
    // strictly passes its FORWARD window edge (the backward-only PIT join
    // x26 is stateless; 'nearest' genuinely waits on clicks still to
    // come). NULL-preserving like the batch twin. See StreamAsof.scala.
    "x30_stream_asof_nearest" -> { (s, dir) =>
      StreamAsof.runToCompletion(s, dir) },

    // CDC APPLY live — q77's last-writer-wins compaction as a maintained
    // UPDATE-mode table (x14a's pattern: per-trigger the stream emits
    // only TOUCHED keys; the keyed sink resolves latest-upsert per key by
    // batch id). The running agg carries max(struct(ms, event_id, type,
    // value)) — the (ms, event_id) total order as one orderable struct —
    // plus the change count; TOMBSTONE filtering happens AFTER the
    // latest-per-key resolution, batch-side, because a key whose final
    // change is a delete must OVERRIDE its earlier upserts in the sink
    // (filtering inside the stream would leave the stale upsert standing
    // — the delete/update distinction q77's scaladoc pins, live). State
    // is one row per live key — which IS the materialized table, the
    // honest cost of CDC materialization (x14's complete-mode argument);
    // no watermark, so arrival order and slicing provably cannot change
    // the final state (max and count are commutative monoids).
    // MALFORMED-PAYLOAD AUDIT LIVE — t38's ingest-health contract at the
    // place it runs in production (the stream): every arriving record
    // carries an opaque line, PERMISSIVE from_json classifies it
    // (corrupt iff _corrupt_record set — partial-results-proof), and the
    // complete-mode sink maintains the running totals dashboard. Torn
    // lines are COUNTED the moment they arrive, never silently dropped —
    // on a stream there is no second pass to notice the loss. State is
    // one 5-long row; the oracle is t38's verbatim (the totals must not
    // depend on whether the audit ran batch or streaming).
    "x32_stream_malformed_audit" -> { (s, dir) =>
      val stage = malformedStage(s, dir)
      runToCompletion(s, stage, malformedAudit,
        outputMode = "complete", sinkName = "x32", sourceGlob = "*.parquet",
        sourceSchema = StructType(Seq(StructField("value", StringType))))
    },

    // ENCODING-HEALTH on the stream — t42's Unicode-NFC audit live,
    // completing the hostile-input pair beside x32 (torn records / broken
    // encoding forms are the two ways crawl bytes lie): per trigger the
    // sink holds the running per-source non-NFC exposure, computed by the
    // same native NfcNormalize the batch audit uses, so the dashboard and
    // the batch number can never disagree (shared oracle = the proof).
    // On a stream there is no second pass — normalization debt must be
    // seen at arrival, before fingerprints diverge downstream.
    "x34_stream_unicode_audit" -> { (s, dir) =>
      val stage = unicodeStage(s, dir)
      runToCompletion(s, stage, unicodeAudit,
        outputMode = "complete", sinkName = "x34", sourceGlob = "*.parquet",
        sourceSchema = StructType(Seq(StructField("doc_id", LongType),
          StructField("source", StringType), StructField("text", StringType))))
    },

    // SCHEMA-DRIFT AUDIT LIVE — t43's declared-superset classification at
    // the place drift actually arrives (the stream), completing the
    // hostile-arrival triple beside x32 (torn records) and x34 (broken
    // encoding): a streaming source fixes its schema at start and cannot
    // re-infer per trigger, so when a producer adds or renames a column
    // mid-stream the superset contract is the ONLY posture that keeps
    // consuming — old shards read with nulls in the new columns, drifted
    // shards classify and recover at arrival, and the complete-mode sink
    // holds the running per-class conformance dashboard. Shards arrive
    // under their gen=N hive dirs (t43's lake layout — the provenance
    // the all-null-drift tiebreak needs); the oracle is t43's restated
    // per class, so batch and stream can never disagree.
    "x35_stream_schema_drift" -> { (s, dir) =>
      val stage = schemaDriftStage(s, dir)
      runToCompletion(s, stage, schemaDriftAudit,
        outputMode = "complete", sinkName = "x35", sourceGlob = "*.parquet",
        sourceSchema = driftSupersetSchema)
    },

    // LIVE QUANTILE DASHBOARD — q79's mergeable sketch at the place a
    // latency/length distribution is actually watched (the stream):
    // per-type decile cutpoints maintained in complete mode, with the
    // sample buffer itself as the state (≤512 pairs per type — see
    // quantileLive). The sketch's determinism is the gate: bottom-k by
    // hash is merge-order independent, so the converged cutpoints equal
    // batch q79's exactly (shared oracle prefix), where any order-
    // dependent sketch (KLL/GK) would emit arrival-history-dependent
    // state that can never hash-gate or replay.
    "x36_stream_quantile" -> { (s, dir) =>
      runToCompletion(s, dir, quantileLive,
        outputMode = "complete", sinkName = "x36",
        sinkTransform = quantileCuts)
    },

    // LIVE EVAL-QUEUE SAMPLER — t44's weighted exact-n draw at the place
    // a sample manifest is actually maintained (ingest): as documents
    // arrive, each language's exactly-50 mass-weighted sample updates in
    // complete mode, and the state IS the sample (≤50 payload structs
    // per language — the TopKAgg buffer under the (hmin, doc_id) order,
    // spelled as (-hmin DESC, id) on the exact integer key). The
    // per-doc key — min of w salted md5-32 uniforms — is a STATELESS
    // scalar fold (array_min over the sequence, no pre-aggregation), so
    // the one streaming aggregate is the whole state. Stream-safety is
    // t44's determinism: bottom-n of a multiset under a total order is
    // merge-order independent, so the converged manifest equals batch
    // t44 at ANY arrival slicing — where a reservoir sampler's state is
    // arrival-history-dependent and can never hash-gate or replay.
    // Shared oracle CTEs with t44 (TextOps.weightedSampleSqlCtes): one
    // spelling of the selection law for both consumers.
    "x37_stream_weighted_sample" -> { (s, dir) =>
      runToCompletion(s, dir, weightedSampleLive,
        outputMode = "complete", sinkName = "x37",
        sourceGlob = "documents.parquet", sourceSchema = docSchema,
        sinkTransform = weightedSampleRank)
    },

    "x31_stream_cdc_apply" -> { (s, dir) =>
      val upserts = runToCompletion(s, dir, streamCdcApply,
        outputMode = "update", sinkName = "x31", tagBatchId = true)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("batch_id").desc)
      upserts.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1 && col("last_type") =!= "error")
        .select("user_id", "last_value", "last_ms", "n_changes")
    },

    // POINT-IN-TIME stream enrichment — q64 at the place a PIT join runs
    // in production (ingest): each arriving event picks the dimension
    // VERSION valid at its EVENT time, not the current row (which would
    // back-date attributes the moment the dimension churns mid-stream).
    // The q62-merged SCD2 dimension is batch-built static state
    // (checkpointed once, broadcast into every microbatch — x17's
    // discipline); the join is equi on the customer key with the
    // validity range as a residual inside the broadcast probe, fan-out
    // ≤ versions/key. ZERO streaming state: verdicts are pure functions
    // of (event, static dimension), so arrival slicing can't change the
    // output (x15's argument) — pinned by a 3-slice replay.
    "x26_stream_pit_enrich" -> { (s, dir) =>
      runToCompletion(s, dir, pitEnrich(s, dir),
        outputMode = "append", sinkName = "x26")
    },

    // The MAINTAINED drift dashboard — q60's monitor as a streaming view:
    // the baseline histogram (first half-month) and the global bin range
    // are batch-built STATIC state; the stream maintains the live
    // histogram incrementally (complete-mode (type, bin) counts, bins
    // from the broadcast range so live and baseline always bin
    // identically), and the drift projection — live shares vs baseline
    // shares — runs in foreachBatch over each delivered snapshot (x19's
    // sinkTransform pattern: the sink always holds the CURRENT drift
    // table). On a finite replay the live histogram is the full-corpus
    // histogram, which is the oracle. Every bin with baseline mass has
    // live mass (the replay is a superset), so the per-bin left join is
    // total; the TYPE join is left too (ADVICE r9): a type first seen
    // AFTER the baseline window — the strongest drift signal there is —
    // has no t_base row, and an inner join would silently drop it from
    // the dashboard. Its sentinel drift is the full live share (baseline
    // share ≡ 0), pinned identically in the oracle. PRODUCTION FORM:
    // x23a — per-closed-hour drift, watermark-evicted and append-mode;
    // this complete-mode spelling re-emits the whole dashboard per
    // trigger and holds the all-time (type, bin) domain.
    "x23_stream_drift" -> { (s, dir) =>
      val (mm, binCol, base, baseTotals) = driftStatics(s, dir)
      runToCompletion(s, dir, st =>
        st.crossJoin(broadcast(mm)).withColumn("bin", binCol)
          .groupBy("event_type", "bin").agg(count(lit(1)).as("n_live")),
        sinkName = "x23",
        sinkTransform = driftProjection(base, baseTotals, Seq("event_type")))
    },

    // x23's APPEND-MODE twin (VERDICT r9 item 1): the live histogram
    // re-keyed by HOUR — each closed hour's bin distribution compared to
    // the static baseline shares. The (hour, type, bin) state is
    // watermark-EVICTED once its hour finalizes, so state holds only the
    // open hours instead of the all-time (type, bin) domain growing with
    // stream lifetime, and each trigger APPENDS only newly finalized
    // hours instead of rewriting the whole dashboard — the scale-safe
    // form for an unbounded production stream. Per-window emission is
    // atomic, so the sink-side share/drift projection sees each hour
    // complete; the trailing unfinalized hours stay in state (x7's
    // cutoff, restated in the oracle).
    "x23a_drift_append" -> { (s, dir) =>
      val (transform, sink) = hourlyDriftPieces(s, dir)
      runToCompletion(s, dir, transform, outputMode = "append",
        sinkName = "x23a", sinkTransform = sink)
    },

    // INGEST-TIME chunking — t27's RAG manifest as the streaming stage a
    // retrieval pipeline actually runs (chunk on arrival, not in a
    // nightly batch): the chunker is a per-row pure generator, so this is
    // zero-state append streaming (x18's determinism-by-construction —
    // no watermark, no state store, arrival slicing cannot change a
    // chunk). The factored TextOps.ragChunks is the same code batch t27
    // ships; the oracle is batch t27's, verbatim.
    "x22_stream_rag_chunks" -> { (s, dir) =>
      runToCompletion(s, dir,
        graft.operators.TextOps.ragChunks(_), outputMode = "append",
        sinkName = "x22", sourceGlob = "documents.parquet",
        sourceSchema = docSchema)
    }
  )

  /** x16's transform: static (model, prefix) built once batch-side; the
    * per-batch probe is t17's, verbatim (TextOps.lmScoreProbe). */
  private[graft] def streamLmScore(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    val (model, prefix) = graft.operators.TextOps.lmModel(s, indexDir)
    stream => graft.operators.TextOps.lmScoreProbe(stream, model, prefix)
  }

  /** x17a's transform: the benchmark index folded into ONE sorted array
    * (|benchmarks|-bounded, checkpointed), intersected IN-ROW with each
    * arriving doc's distinct hash set — a per-row pure function, so the
    * stream needs no stateful operator at all. The size(hs) > 0 filter
    * reproduces x17's explode-then-group behavior of dropping
    * shingle-less docs (and dodges the 0/0 ratio both engines would
    * spell differently). */
  private[graft] def statelessDecontam(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    val benchArr = graft.operators.Dedup.benchIndex(s, indexDir)
      .agg(sort_array(collect_list(col("h"))).as("bench_hs"))
      .graftCkpt()
    st =>
      graft.operators.Dedup.hashSetsOf(st.filter(col("doc_id") >= 10))
        .filter(size(col("hs")) > 0)
        .withColumn("_k", lit(1))
        .join(broadcast(benchArr.withColumn("_k", lit(1))), "_k").drop("_k")
        .select(col("doc_id"),
          size(col("hs")).cast(LongType).as("n_shingles"),
          size(array_intersect(col("hs"), col("bench_hs"))).cast(LongType)
            .as("n_contaminated"))
        .withColumn("ratio",
          col("n_contaminated").cast(DoubleType) / col("n_shingles"))
  }

  /** x17's transform: the static benchmark index built once batch-side
    * (checkpointed), the per-batch probe d12's, verbatim
    * (Dedup.contaminationCounts over Dedup.hashSetsOf). */
  private[graft] def streamDecontam(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    import graft.operators.Dedup
    val bench = Dedup.benchIndex(s, indexDir).graftCkpt()
    stream => Dedup.contaminationCounts(
      Dedup.hashSetsOf(stream.filter(col("doc_id") >= 10)), bench)
  }

  /** x18's transform: the corpus bitset + fp set built once batch-side
    * (checkpointed), the per-batch verdict pipeline d24's, verbatim
    * (Dedup.bloomVerdicts over Dedup.fpOf). */
  private[graft] def streamBloomAdmission(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    import graft.operators.Dedup
    val corpus = Dedup.fpOf(
        graft.sources.Tables.load(s, indexDir, "documents")
          .filter(col("doc_id") % 10 =!= 7))
      .graftCkpt()
    val bloom = Dedup.bloomBitset(corpus).graftCkpt()
    val corpusFp = corpus.select("fp").distinct().graftCkpt()
    stream => Dedup.bloomVerdicts(
      Dedup.fpOf(stream.filter(col("doc_id") % 10 === 7)), bloom, corpusFp)
  }

  /** x15's transform: batch-learned weights (checkpointed — the stream must
    * not re-aggregate the corpus per microbatch), per-batch stateless
    * manifest projection. */
  private[graft] def streamMixture(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    import graft.operators.TextOps
    val w = TextOps.mixtureWeights(
      graft.sources.Tables.load(s, indexDir, "documents")).graftCkpt()
    stream => TextOps.mixtureManifest(
      stream.select(col("doc_id"), col("lang")), w)
  }

  /** x26's transform: the q62-merged SCD2 dimension built once batch-side
    * (checkpointed — the stream must not re-derive the merge per
    * microbatch), broadcast-probed by each arriving event with the
    * validity range as a residual predicate. Factored so the replay spec
    * drives it over a sliced stream with the same static dimension. */
  private[graft] def pitEnrich(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    val dim = graft.operators.Relational.defs("q62_scd2_merge")(s, indexDir)
      .select(col("c_custkey"), col("segment"), col("valid_from"),
        coalesce(col("valid_to"), lit("9999-12-31")).as("valid_to"))
      .graftCkpt()
    stream => stream
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
      .join(broadcast(dim), col("user_id") === col("c_custkey")
        && col("d") >= col("valid_from") && col("d") < col("valid_to"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("segment"), col("value"))
  }

  /** x14's transform, factored for the multi-batch replay spec: w1's exact
    * tokenize → count over a streaming source. */
  private[graft] def streamWordcount(stream: DataFrame): DataFrame =
    stream
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** x31's running per-key CDC state: the (ms, event_id) total order as
    * ONE orderable struct, so the last-writer max and the change count
    * are both commutative monoids — arrival slicing provably cannot
    * change the converged state. The tombstone STAYS in the emitted row
    * (`last_type`): the sink resolution must see a final delete to
    * override earlier upserts. */
  private[graft] def streamCdcApply(stream: DataFrame): DataFrame =
    stream
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(max(struct(col("ms"), col("event_id"), col("event_type"),
          col("value"))).as("last"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("last.event_type").as("last_type"),
        col("last.value").as("last_value"), col("last.ms").as("last_ms"),
        col("n_changes"))

  /** x32's staging: the documents corpus as raw JSONL-payload rows with
    * t38's deterministic corruption (doc_id % 7 == 3 torn to half length),
    * written as a one-string-column parquet so the standard stream harness
    * replays it — the unit under test is malformed PAYLOAD handling
    * in-stream (the message-queue arrival shape, where each record carries
    * an opaque line), not the text container t38 already gates. Keyed per
    * corpus dir under [[graft.TempRoot]], like TextOps' staging. */
  private def malformedStage(s: SparkSession, dir: String): String = {
    val stage = graft.TempRoot.stageDir(dir, "x32")
    graft.sources.Tables.load(s, dir, "documents")
      .withColumn("js", to_json(struct(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))))
      .select(when(col("doc_id") % 7 === 3,
          expr("substr(js, 1, greatest(length(js) div 2, 1))"))
        .otherwise(col("js")).as("value"))
      .write.mode("overwrite").parquet(stage)
    stage
  }

  /** x34's staged corpus: the t42 injection (decomposed suffix on
    * doc_id%13==5) materialized as a (doc_id, source, text) stream source
    * — the same rule the shared oracle restates, keyed beside x32's stage
    * so the two hostile-input streams never collide. */
  private def unicodeStage(s: SparkSession, dir: String): String = {
    val stage = graft.TempRoot.stageDir(dir, "x34")
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" cafe\u0301")))
          .otherwise(col("text")).as("text"))
      .write.mode("overwrite").parquet(stage)
    stage
  }

  /** x35's staged corpus: t43's three schema generations as three
    * single-schema stream files under one watched dir (a real feed ships
    * one schema per shard; drift happens ACROSS arrivals): gen0 the
    * baseline contract, gen1 with the added `quality` column, gen2 with
    * `lang` renamed to `language` — each under its `gen=N/` hive subdir,
    * the free provenance t43's lake layout carries (the superset read
    * surfaces it, and the audit's all-null-drift tiebreak needs it —
    * ADVICE r15). Keyed beside x32/x34's stages. */
  private def schemaDriftStage(s: SparkSession, dir: String): String = {
    val stage = new java.io.File(graft.TempRoot.stageDir(dir, "x35"))
    stage.mkdirs()
    val d = graft.sources.Tables.load(s, dir, "documents")
    def writeGen(df: org.apache.spark.sql.DataFrame, g: Int): Unit = {
      val tmp = new java.io.File(stage, s"gen$g-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val genDir = new java.io.File(stage, s"gen=$g")
      genDir.mkdirs()
      val dst = new java.io.File(genDir, s"gen$g.parquet")
      if (dst.exists()) dst.delete(): Unit
      Files.move(part.toPath, dst.toPath)
      Option(tmp.listFiles()).foreach(_.foreach(f => f.delete(): Unit))
      tmp.delete(): Unit
      // arrival order = generation order (the drift unfolds mid-stream)
      require(dst.setLastModified(1700000000000L + g * 60000L))
    }
    writeGen(d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")), 0)
    writeGen(d.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), (col("n_chars") % 100).as("quality")), 1)
    writeGen(d.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"), col("lang").as("language"),
        col("source"), col("n_chars")), 2)
    stage.getAbsolutePath
  }

  /** x35's declared SUPERSET contract (t43's posture on the stream — a
    * streaming source cannot re-infer per trigger AT ALL, so
    * schema-on-read with the superset is not just the 100 TB answer but
    * the only one): contract columns plus every known drift column. */
  private[graft] val driftSupersetSchema: StructType =
    graft.operators.TextOps.crawlSchema
      .add("quality", LongType).add("language", StringType)
      .add("gen", LongType) // populated from the hive dir by the source

  /** x35's transform: t43's classification + recovery at arrival — per
    * trigger each row classifies from OBSERVED values (never from file
    * provenance) and the renamed contract column recovers via coalesce;
    * complete-mode per-class totals (counts/sums are commutative
    * monoids, so the converged table equals the batch audit at any
    * slicing). State is |classes| rows of five longs. */
  private[graft] def schemaDriftAudit(stream: DataFrame): DataFrame =
    stream
      .select(
        when(col("language").isNotNull, "renamed")
          .when(col("quality").isNotNull, "extended")
          // all-null drift columns are value-indistinguishable (a gen-2
          // row with a null corpus lang reads like a null-lang baseline
          // row); the hive provenance key breaks the tie — observed
          // values first, gen fallback only for the all-null residue
          // (t43's rule, shared — ADVICE r15)
          .when(col("gen") === 2, "renamed")
          .when(col("gen") === 1, "extended")
          .otherwise("baseline").as("drift_class"),
        col("lang"), col("language"), col("doc_id"), col("n_chars"))
      .groupBy("drift_class")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang").isNull, 1L).otherwise(0L))
          .as("n_contract_nulled"),
        sum(when(coalesce(col("lang"), col("language")).isNotNull, 1L)
          .otherwise(0L)).as("n_recovered"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("id_sum"))

  /** x36's transform: q79's mergeable quantile sketch at arrival — the
    * QuantileSampleAgg buffer IS the streaming state (≤512 (hv, value)
    * pairs per event type serialized into the state store between
    * triggers — the bounded-state form x24's scaladoc wished for), and
    * because the retained set is a pure function of the DATA (bottom-k
    * of a multiset — merge-order independent), the converged complete-
    * mode sample equals the batch sample at ANY arrival slicing: the
    * property that makes this sketch stream-safe where KLL/GK's
    * order-dependent compactions would emit trigger-history-dependent
    * cutpoints. */
  private[graft] def quantileLive(stream: DataFrame): DataFrame =
    stream
      // the sketch's non-null input contract (q79's filter, shared
      // oracle predicate — ADVICE r16)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        graft.functions.HexPrefixToLong
          .hex8(md5(col("event_id").cast(StringType))).as("hv"))
      .groupBy("event_type")
      .agg(graft.functions.QuantileSampleAgg.qsample(512)(
        col("hv"), col("value")).as("smp"))

  /** x36's sink projection: decile cutpoints off the sorted sample (the
    * q79 integer cut index), run per snapshot inside foreachBatch. */
  private[graft] def quantileCuts(st: DataFrame): DataFrame =
    st.select(col("event_type"),
        size(col("smp")).cast(LongType).as("sample_n"),
        posexplode(expr("transform(sequence(1, 9), i -> element_at(smp," +
          " greatest(1, CAST((i * size(smp) + 9) div 10 AS INT))))")))
      .select(col("event_type"),
        (col("pos") + 1).cast(LongType).as("decile"),
        col("col").as("cut_value"), col("sample_n"))

  /** x37's transform: t44's weighted exact-n sample at arrival. The
    * selection key is computed per row (min of w salted md5-32 hashes —
    * array_min over a generated sequence, the registered md5_hash32
    * expression inside the lambda), so the ONLY stateful operator is the
    * per-language TopKAgg holding the ≤50 best (-hmin, doc_id) payloads:
    * (-hmin DESC, id ASC) ≡ (hmin ASC, doc_id ASC), t44's exact order,
    * and hmin < 2³² rides the double payload exactly. No survivor
    * cutoff on the stream — the aggregate IS the bound (50 structs per
    * language at any volume); the cutoff is t44's batch-side shuffle
    * optimization, lossless by the OperatorSpec pin, so both paths gate
    * on the same rows. */
  private[graft] def weightedSampleLive(stream: DataFrame): DataFrame =
    stream
      .select(col("lang"), col("doc_id"),
        // Column-DSL lambda (not SQL text) so the expression resolves
        // without the session-extension function registry
        array_min(transform(
          sequence(lit(0L), expr("least(64, 1 + (n_chars div 256)) - 1")),
          j => graft.functions.Md5Hash32.hash32(
            concat(col("doc_id").cast(StringType), lit(":"),
              j.cast(StringType))))).as("hmin"))
      .groupBy("lang")
      .agg(graft.functions.TopKAgg.topK(50)(
        -col("hmin").cast("double"), col("doc_id")).as("tk"))

  /** x37's sink projection: the rank-ordered manifest rows. */
  private[graft] def weightedSampleRank(st: DataFrame): DataFrame =
    st.select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast(LongType).as("rk"),
        col("col.id").as("doc_id"))

  /** x34's transform: t42's NFC audit at the place it runs in production
    * (arrival) — per trigger, one codegen'd NfcNormalize projection (the
    * already-NFC fast path makes clean batches near-free) into
    * complete-mode per-source totals. Counts are commutative monoids, so
    * the converged totals equal batch t42 at any arrival slicing (shared
    * oracle); state is |sources| rows of four longs. */
  private[graft] def unicodeAudit(stream: DataFrame): DataFrame =
    stream
      .select(col("source"), col("doc_id"), col("text"),
        graft.functions.NfcNormalize.nfc(col("text")).as("nt"))
      // ONE byte-compare per row, not one per aggregate term: the agg
      // below references the precomputed flag, so a clean document pays
      // exactly one NFC fast-path scan + one equality scan per trigger
      // (profiled in the r15 x34 100x re-measurement)
      .select(col("source"), col("doc_id"),
        (col("nt") =!= col("text")).as("nonnfc"),
        (length(col("text")) - length(col("nt"))).as("saved"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nonnfc"), 1L).otherwise(0L)).as("n_nonnfc"),
        sum(when(col("nonnfc"), col("saved")).otherwise(0))
          .cast(LongType).as("chars_saved"),
        sum(when(col("nonnfc"), col("doc_id")).otherwise(0L))
          .as("nonnfc_id_sum"))

  /** x32's transform: t38's PERMISSIVE from_json classification as a
    * complete-mode global aggregate — per trigger the sink holds the
    * running (lines, valid, corrupt, checksums) totals, i.e. the live
    * ingest-health dashboard. Corrupt iff _corrupt_record is set (t38's
    * partial-results-proof rule); state is ONE row of five longs, so the
    * aggregate is as cheap as streaming state gets. */
  private[graft] def malformedAudit(stream: DataFrame): DataFrame = {
    val parseSchema = graft.operators.TextOps.crawlSchema
      .add("_corrupt_record", StringType)
    stream
      .select(from_json(col("value"), parseSchema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("r._corrupt_record").isNull, 1L).otherwise(0L))
          .as("n_valid"),
        sum(when(col("r._corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col("r._corrupt_record").isNull, col("r.n_chars"))
          .otherwise(0L)).as("valid_chars"),
        sum(when(col("r._corrupt_record").isNull, col("r.doc_id"))
          .otherwise(0L)).as("valid_id_sum"))
  }

  /** x12's stream transform, factored so the multi-batch replay spec can
    * drive it over a SLICED copy of the stream while the static corpus
    * index still comes from `indexDir`. Builds the index once (batch-side,
    * d18's bucketed tables, capped + joined + checkpointed) and returns
    * the per-stream closure. */
  private[graft] def incrementalDedup(
      s: SparkSession, indexDir: String): DataFrame => DataFrame = {
    import graft.operators.Dedup
    val okb = Dedup.corpusIndexTables(s, indexDir) match {
      case (cSets, cBands) =>
        cBands
          .withColumn("bsz", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("band")))
          .filter(col("bsz") <= Dedup.maxBucket)
          .select(col("doc_id").as("d2"), col("band"))
          .join(cSets.select(col("doc_id").as("d2"), col("hs").as("hs2")), "d2")
          .select("band", "d2", "hs2")
          .graftCkpt()
    }
    stream => {
      val withBands = Dedup.sigsFromHv(stream.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id"),
            graft.functions.ShingleHash32.set(col("text")).as("hv")),
          Seq("doc_id", "hv"))
        .select(col("doc_id"), col("hv").as("hs1"),
          explode_outer(Dedup.bandKeys).as("band"))
      withBands.join(okb, Seq("band"), "left")
        .withColumn("ic", graft.functions.IntersectCountSorted
          .intersectCount(col("hs1"), col("hs2")))
        .withColumn("j", col("ic").cast(DoubleType) /
          (size(col("hs1")) + size(col("hs2")) - col("ic")))
        .groupBy("doc_id")
        .agg(count(col("d2")).as("n_band_hits"),
          coalesce(max(col("j")), lit(0.0)).as("max_jaccard"))
        .select(col("doc_id"), col("n_band_hits"), col("max_jaccard"),
          when(col("max_jaccard") >= 0.5, "near").otherwise("novel")
            .as("verdict"))
    }
  }

  /** documents.parquet raw schema (no timestamp rebuild needed). */
  private[graft] val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Batch-SQL restatement of session_window semantics (brk on diff >= gap;
    * see the class doc for the strict-< merge convention). */
  /** Shared by x6 and x10 — both run CustomStateSessionize.fold. */
  private val customStateOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
      |), b AS (
      |  SELECT user_id, event_id, ms,
      |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
      |         WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
      |), sn AS (
      |  SELECT user_id, ms,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM b
      |), sess AS (
      |  SELECT user_id, sid, count(*) AS n_events,
      |    min(ms) AS start_ms, max(ms) AS end_ms,
      |    max(sid) OVER (PARTITION BY user_id) AS last_sid
      |  FROM sn GROUP BY user_id, sid
      |)
      |SELECT user_id, n_events, start_ms, end_ms
      |FROM sess
      |WHERE sid < last_sid
      |   OR end_ms + 1800000 < (SELECT max(ms) - 3600000 FROM e)""".stripMargin

  /** w1's batch wordcount — the shared truth for x14 (complete snapshot)
    * and x14a (latest-upsert resolution of the update deltas). */
  private val wordcountOracleSql: String =
    """SELECT w AS word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |WHERE w <> '' GROUP BY w""".stripMargin

  /** d12's contamination verdicts — the shared truth for x17 (stateful
    * per-doc aggregate) and x17a (in-row zero-state intersect). */
  private val decontamOracleSql: String =
    s"""WITH ${graft.operators.Dedup.hashSetSqlCte},
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 10),
       |corpus AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 10)
       |SELECT c.doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS ratio
       |FROM corpus c LEFT JOIN bench b ON c.h = b.h
       |GROUP BY c.doc_id""".stripMargin

  /** batch q65's lead() spelling restricted to holds whose successor the
    * final watermark (max event ms − 1 h) STRICTLY passed — the x25
    * emission rule restated; the tail inside the delay stays buffered.
    * Shared verbatim by x25 and its sharded twin x29. */
  private val twaHoldLedgerSql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_ms(ts) AS ms,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |      AS value_micro
      |  FROM events),
      |x AS (
      |  SELECT event_type, ms AS start_ms, value_micro,
      |    lead(ms) OVER (PARTITION BY event_type ORDER BY ms, event_id)
      |      AS next_ms
      |  FROM e)
      |SELECT event_type, start_ms, next_ms - start_ms AS hold_ms,
      |  value_micro
      |FROM x
      |WHERE next_ms IS NOT NULL
      |  AND next_ms < (SELECT max(ms) - 3600000 FROM e)""".stripMargin

  val oracles: Map[String, String] = Map(
    // d24's oracle verbatim — per-row verdicts are pure functions of the
    // static corpus state, so the streamed rows ARE the batch rows
    "x18_stream_bloom_admission" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) AS fp
        |  FROM documents),
        |c AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 7)
        |SELECT b.doc_id, (c.fp IS NOT NULL) AS exact_dup
        |FROM d b LEFT JOIN c ON b.fp = c.fp
        |WHERE b.doc_id % 10 = 7""".stripMargin,

    // d12's oracle verbatim — the streamed state must merge to exactly the
    // batch verdicts (shared probe spelling makes it so by construction)
    "x17_stream_decontam" -> decontamOracleSql,

    // the in-row intersect computes the identical distinct-hash counts
    // (hs is already distinct), so the zero-state twin shares the oracle
    "x17a_decontam_stateless" -> decontamOracleSql,

    "x1_stream_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events
         |), b AS (
         |  SELECT user_id, event_id, value, ms,
         |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
         |         WHEN ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
         |), sn AS (
         |  SELECT user_id, value, ms,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM b)
         |SELECT user_id, count(*) AS n_events, min(ms) AS start_ms,
         |  max(ms) AS end_ms, ${dsumSql("value", 6)} AS sum_value
         |FROM sn GROUP BY user_id, session_id""".stripMargin,

    "x2_stream_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
         |  event_type, count(*) AS n_events, ${dsumSql("value", 6)} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    // the final complete-mode snapshot equals the batch rank
    "x19_stream_topk" ->
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |    user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_ts, user_id, n_events, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY hour_ts
        |    ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
        |  FROM c) r
        |WHERE rk <= 3""".stripMargin,

    // x19's rank restricted to CLOSED hours: append mode only emits a
    // window once the final watermark (max event ms - 1 h) passes its end
    // (x7's cutoff rule)
    "x19a_topk_append" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, user_id,
        |  n_events, rk
        |FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY h
        |    ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
        |  FROM c, wm WHERE epoch_ms(h) + 3600000 <= w) r
        |WHERE rk <= 3""".stripMargin,

    "x3_stream_interval_join" ->
      """SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
        |  epoch_ms(c.ts) - epoch_ms(v.ts) AS ms_gap
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'""".stripMargin,

    "x4_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // the bounded variant's emitted key set is exactly batch DISTINCT
    // (every duplicate of an hour-bucketed key arrives inside the delay)
    "x33_stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts
        |FROM events""".stripMargin,

    // Inner matches = the batch join; null-extended rows = unmatched clicks
    // STRICTLY below the final global watermark (min over the two sides'
    // watermark nodes — views and clicks track separate max event times —
    // minus the 1 h delay; eviction is strict like x6's timeout rule).
    // Clicks at/above it are still buffered when the replay ends.
    "x8_stream_left_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM v),
        |                    (SELECT max(epoch_ms(ts)) FROM c)) - 3600000 AS w),
        |j AS (
        |  SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
        |    epoch_ms(c.ts) - epoch_ms(v.ts) AS ms_gap, epoch_ms(c.ts) AS c_ms
        |  FROM c LEFT JOIN v
        |    ON c.user_id = v.user_id AND c.ts >= v.ts
        |   AND c.ts <= v.ts + INTERVAL '30 minutes')
        |SELECT click_id, user_id, view_id, ms_gap
        |FROM j, wm WHERE view_id IS NOT NULL OR c_ms < w""".stripMargin,

    // x8's rule on the click side (c_ms < w) plus the view side's own
    // eviction clock: an unmatched view emits once the watermark passes
    // v_ts + 30 min (the forward bound of the join condition — no future
    // click can still land in its window). Unmatched rows at/above their
    // side's cutoff are still buffered when the replay ends.
    "x13_stream_full_outer" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM v),
        |                    (SELECT max(epoch_ms(ts)) FROM c)) - 3600000 AS w),
        |j AS (
        |  SELECT c.event_id AS click_id, c.user_id AS c_user, v.event_id AS view_id,
        |    v.user_id AS v_user,
        |    epoch_ms(c.ts) - epoch_ms(v.ts) AS ms_gap,
        |    epoch_ms(c.ts) AS c_ms, epoch_ms(v.ts) AS v_ms
        |  FROM c FULL OUTER JOIN v
        |    ON c.user_id = v.user_id AND c.ts >= v.ts
        |   AND c.ts <= v.ts + INTERVAL '30 minutes')
        |SELECT click_id, coalesce(c_user, v_user) AS user_id, view_id, ms_gap
        |FROM j, wm
        |WHERE (click_id IS NOT NULL AND view_id IS NOT NULL)
        |   OR (view_id IS NULL AND c_ms < w)
        |   OR (click_id IS NULL AND v_ms + 1800000 < w)""".stripMargin,

    "x5_stream_static_enrich" ->
      """SELECT event_id, user_id, event_type, c_mktsegment, value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,

    // Mirrors CustomStateSessionize.fold (merge while diff <= gap, so brk on
    // diff > gap — the built-in session_window breaks on >=; the two differ
    // only at an exact-gap tie) and the timeout-emission rule: a user's last
    // session surfaces only if end + gap < (max event ms - 1h watermark).
    "x6_stream_custom_state" -> customStateOracleSql,

    // x10 runs x6's exact state machine (shared fold) on the
    // transformWithState API — same emissions, same oracle.
    "x10_transform_with_state" -> customStateOracleSql,

    // Distinct (user, hour) then count per hour; append mode only emits
    // windows whose end the final watermark (max event ms - 1h) passed.
    "x7_stream_hourly_users" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events),
        |agg AS (SELECT h, count(*) AS n_users FROM d GROUP BY h),
        |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, n_users
        |FROM agg, wm
        |WHERE epoch_ms(h) + 3600000 <= w""".stripMargin,

    // x36: q79's shared cutpoint prefix (one spelling for the batch
    // sketch and its live twin), minus the batch-side rank audit —
    // the stream emits the cutpoints a dashboard serves
    "x36_stream_quantile" ->
      s"""WITH ${graft.operators.Relational.quantileCutsSql}
         |SELECT event_type, CAST(decile AS BIGINT) AS decile, cut_value,
         |  CAST(ns AS BIGINT) AS sample_n
         |FROM cuts""".stripMargin,

    // x37: t44's shared selection-law CTEs (one spelling for the batch
    // sampler and the live manifest — the converged state is batch t44
    // without the w readout column)
    "x37_stream_weighted_sample" ->
      s"""WITH ${graft.operators.TextOps.weightedSampleSqlCtes}
         |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
         |FROM ranked WHERE rk <= 50""".stripMargin,

    // q36's rank arithmetic over the replayed distinct-hash set
    "x24_stream_kmv_users" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""WITH h AS (SELECT DISTINCT event_type, $hexToInt AS hv
         |           FROM (SELECT event_type,
         |                   md5(CAST(user_id AS VARCHAR)) AS m FROM events) t),
         |rk AS (SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n_exact
         |       FROM h)
         |SELECT event_type, CAST(max(n_exact) AS BIGINT) AS n_exact,
         |  CASE WHEN max(n_exact) >= 64
         |       THEN 63.0 * 4294967296.0 / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
         |       ELSE CAST(max(n_exact) AS DOUBLE) END AS est_users
         |FROM rk GROUP BY event_type""".stripMargin
    },

    // batch q65's lead() spelling restricted to holds whose successor the
    // final watermark (max event ms − 1 h) STRICTLY passed — the x25
    // emission rule restated; the tail inside the delay stays buffered
    "x25_stream_twa" -> twaHoldLedgerSql,

    // x29 emits exactly x25's ledger (the sharding is a physical
    // decomposition; StreamingSpec pins set equality) — ONE oracle
    // spelling, so the two can never drift
    "x29_stream_twa_sharded" -> twaHoldLedgerSql,

    // x27: q68's running-max-end window spelling over the same
    // (ms, event_id) total order; islands whose end the final watermark
    // (max event ms − 1 h delay) strictly passed are the closed ledger
    "x27_stream_islands" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ms,
        |    epoch_ms(ts) * 1000 AS s_us,
        |    epoch_ms(ts) * 1000
        |      + CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS e_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN pm IS NULL OR s_us > pm THEN 1 ELSE 0 END
        |        AS opens
        |      FROM (SELECT *, max(e_us) OVER (PARTITION BY event_type
        |              ORDER BY ms, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |            FROM e) t),
        |g AS (SELECT *, sum(opens) OVER (PARTITION BY event_type
        |        ORDER BY ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM f),
        |i AS (SELECT event_type, island, min(s_us) AS start_us,
        |        max(e_us) AS end_us, count(*) AS n_events
        |      FROM g GROUP BY 1, 2)
        |SELECT event_type, start_us, end_us,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM i
        |WHERE end_us < (SELECT (max(ms) - 3600000) * 1000 FROM e)""".stripMargin,

    // x28: the global per-user successor (adjacency is session-invariant),
    // q70's gap rule, the x25 emission cutoff on the SUCCESSOR's time
    "x28_stream_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |           FROM events),
        |x AS (SELECT user_id, event_type AS from_type, ms AS from_ms,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ms, event_id) AS to_type,
        |        lead(ms) OVER (PARTITION BY user_id
        |          ORDER BY ms, event_id) AS to_ms
        |      FROM e)
        |SELECT user_id, from_type, to_type, from_ms
        |FROM x
        |WHERE to_ms IS NOT NULL AND to_ms - from_ms <= 1800000
        |  AND to_ms < (SELECT max(ms) - 3600000 FROM e)""".stripMargin,

    // x30: q75's nearest match verbatim, cut to purchases whose FORWARD
    // window edge (p_ms + W) the final watermark strictly passed; the
    // watermark max is over the FILTERED (click/purchase) stream — the
    // clock the operator actually runs on (see StreamAsof.transform)
    "x30_stream_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |           FROM events
        |           WHERE event_type IN ('purchase', 'click')),
        |p AS (SELECT event_id AS p_id, user_id, ms AS p_ms FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ms AS c_ms FROM e
        |      WHERE event_type = 'click'),
        |m AS (SELECT p.p_id, c.c_id, c.c_ms - p.p_ms AS gap_ms,
        |        row_number() OVER (PARTITION BY p.p_id
        |          ORDER BY abs(c.c_ms - p.p_ms), c.c_ms, c.c_id) AS rn
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND abs(c.c_ms - p.p_ms) <= 1800000)
        |SELECT p.p_id, p.user_id, m.c_id, m.gap_ms
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON m.p_id = p.p_id
        |WHERE p.p_ms + 1800000 < (SELECT max(ms) - 3600000 FROM e)""".stripMargin,

    // x31: the converged CDC state is exactly batch q77 — a running
    // max/count has no watermark cutoff to restate
    "x31_stream_cdc_apply" ->
      graft.operators.Relational.oracles("q77_cdc_apply"),

    // x32: the converged totals are exactly batch t38 — count monoids
    // have no cutoff, and batch-vs-stream must not change the audit
    "x32_stream_malformed_audit" ->
      graft.operators.TextOps.oracles("t38_malformed_audit"),

    // x34: the converged per-source totals are exactly batch t42 — the
    // same injection, the same NFC computation, monoid counts
    "x34_stream_unicode_audit" ->
      graft.operators.TextOps.oracles("t42_unicode_audit"),

    // x35: t43's generations restated per class (gen dropped — on the
    // stream, provenance IS the arrival); monoid counts, no cutoff
    "x35_stream_schema_drift" ->
      """WITH g AS (SELECT doc_id, lang, n_chars, doc_id % 3 AS gen
        |           FROM documents)
        |SELECT CASE gen WHEN 2 THEN 'renamed' WHEN 1 THEN 'extended'
        |       ELSE 'baseline' END AS drift_class,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN gen = 2 OR lang IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contract_nulled,
        |  CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_recovered,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM g GROUP BY 1""".stripMargin,

    // x26: q64's PIT join, row-level — the stream is stateless so the
    // oracle is exactly the batch join (no emission cutoff to restate)
    "x26_stream_pit_enrich" -> {
      val dimSql = graft.operators.Relational.oracles("q62_scd2_merge")
      s"""WITH dim AS ($dimSql)
         |SELECT event_id, user_id, event_type, dim.segment, value
         |FROM events e JOIN dim ON e.user_id = dim.c_custkey
         |  AND strftime(e.ts, '%Y-%m-%d') >= dim.valid_from
         |  AND strftime(e.ts, '%Y-%m-%d')
         |      < coalesce(dim.valid_to, '9999-12-31')""".stripMargin
    },

    // x24's rank arithmetic per (closed hour, type): distinct hashes
    // within the hour, emission cutoff as in x7/x19a
    "x24a_kmv_append" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""WITH hh AS (SELECT DISTINCT h, event_type, $hexToInt AS hv
         |            FROM (SELECT date_trunc('hour', ts) AS h, event_type,
         |                    md5(CAST(user_id AS VARCHAR)) AS m FROM events) t),
         |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events),
         |rk AS (SELECT h, event_type, hv,
         |         row_number() OVER (PARTITION BY h, event_type ORDER BY hv) AS rn,
         |         count(*) OVER (PARTITION BY h, event_type) AS n_exact
         |       FROM hh, wm WHERE epoch_ms(h) + 3600000 <= w)
         |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type,
         |  CAST(max(n_exact) AS BIGINT) AS n_exact,
         |  CASE WHEN max(n_exact) >= 64
         |       THEN 63.0 * 4294967296.0 / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
         |       ELSE CAST(max(n_exact) AS DOUBLE) END AS est_users
         |FROM rk GROUP BY 1, 2""".stripMargin
    },

    // live = the full corpus on a finite replay; baseline and bins as in
    // q60's period-a side; bt joins LEFT with the full-live-share
    // sentinel for baseline-absent types (the Spark side's ADVICE r9 fix)
    "x23_stream_drift" ->
      """WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
        |b AS (SELECT event_type,
        |        CAST(least(floor((value - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin
        |      FROM events, mm WHERE ts < TIMESTAMP '2024-01-16'),
        |base AS (SELECT event_type, bin, count(*) AS n_base FROM b GROUP BY 1, 2),
        |bt AS (SELECT event_type, CAST(sum(n_base) AS BIGINT) AS t_base
        |       FROM base GROUP BY event_type),
        |l AS (SELECT event_type,
        |        CAST(least(floor((value - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin
        |      FROM events, mm),
        |live AS (SELECT event_type, bin, count(*) AS n_live FROM l GROUP BY 1, 2),
        |lt AS (SELECT event_type, CAST(sum(n_live) AS BIGINT) AS t_live
        |       FROM live GROUP BY event_type)
        |SELECT live.event_type, live.bin,
        |  CAST(coalesce(base.n_base, 0) AS BIGINT) AS n_base, live.n_live,
        |  CASE WHEN bt.t_base IS NULL
        |       THEN CAST(live.n_live AS DOUBLE) / lt.t_live
        |       ELSE abs(CAST(coalesce(base.n_base, 0) AS DOUBLE) / bt.t_base
        |         - CAST(live.n_live AS DOUBLE) / lt.t_live) END AS drift
        |FROM live
        |LEFT JOIN base ON live.event_type = base.event_type AND live.bin = base.bin
        |LEFT JOIN bt ON live.event_type = bt.event_type
        |JOIN lt ON live.event_type = lt.event_type""".stripMargin,

    // x23's readout per CLOSED hour: live histogram keyed by hour with
    // x7's emission cutoff; baseline CTEs, left joins, and the
    // no-baseline-mass sentinel exactly as in x23
    "x23a_drift_append" ->
      """WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
        |b AS (SELECT event_type,
        |        CAST(least(floor((value - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin
        |      FROM events, mm WHERE ts < TIMESTAMP '2024-01-16'),
        |base AS (SELECT event_type, bin, count(*) AS n_base FROM b GROUP BY 1, 2),
        |bt AS (SELECT event_type, CAST(sum(n_base) AS BIGINT) AS t_base
        |       FROM base GROUP BY event_type),
        |l AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |        CAST(least(floor((value - lo) * 10.0 / (hi - lo)), 9.0) AS BIGINT) AS bin
        |      FROM events, mm),
        |wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS w FROM events),
        |live AS (SELECT h, event_type, bin, count(*) AS n_live
        |         FROM l, wm WHERE epoch_ms(h) + 3600000 <= w GROUP BY 1, 2, 3),
        |lt AS (SELECT h, event_type, CAST(sum(n_live) AS BIGINT) AS t_live
        |       FROM live GROUP BY 1, 2)
        |SELECT strftime(live.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
        |  live.event_type, live.bin,
        |  CAST(coalesce(base.n_base, 0) AS BIGINT) AS n_base, live.n_live,
        |  CASE WHEN bt.t_base IS NULL
        |       THEN CAST(live.n_live AS DOUBLE) / lt.t_live
        |       ELSE abs(CAST(coalesce(base.n_base, 0) AS DOUBLE) / bt.t_base
        |         - CAST(live.n_live AS DOUBLE) / lt.t_live) END AS drift
        |FROM live
        |LEFT JOIN base ON live.event_type = base.event_type AND live.bin = base.bin
        |LEFT JOIN bt ON live.event_type = bt.event_type
        |JOIN lt ON live.h = lt.h AND live.event_type = lt.event_type""".stripMargin,

    // per-row pure generator: the replay IS batch t27
    "x22_stream_rag_chunks" ->
      s"""WITH ${graft.operators.TextOps.ragChunkSqlCte}
         |SELECT doc_id, chunk_id, tok_start, chunk_len, chunk_fp FROM ch""".stripMargin,

    // commutative sum: the replayed checksum equals the batch checksum
    "x21_stream_checksum" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""SELECT count(*) AS n_rows, CAST(sum($hexToInt) AS BIGINT) AS checksum
         |FROM (SELECT md5(CAST(event_id AS VARCHAR)) AS m FROM events) t""".stripMargin
    },

    // 10-min slots nest exactly in hours (6 per hour); emission cutoff
    // as in x7 — an hour emits once the final watermark passes its end
    "x20_stream_window_rollup" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms FROM events),
        |s AS (SELECT ms // 600000 AS slot, count(*) AS n10 FROM e GROUP BY 1),
        |h AS (SELECT slot // 6 AS hr, CAST(sum(n10) AS BIGINT) AS n_events,
        |        max(n10) AS peak_10min, count(*) AS n_slices
        |      FROM s GROUP BY 1),
        |wm AS (SELECT max(ms) - 3600000 AS w FROM e)
        |SELECT strftime(make_timestamp(hr * 3600000000), '%Y-%m-%d %H:%M:%S')
        |    AS hour_ts,
        |  n_events, peak_10min, n_slices
        |FROM h, wm
        |WHERE hr * 3600000 + 3600000 <= w""".stripMargin,

    // Each event belongs to the 6 epoch-aligned 10-min slots covering it
    // (slot = window start / 600000); emission cutoff as in x7.
    "x9_stream_sliding" ->
      s"""WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events),
         |s AS (SELECT ms, value,
         |        unnest(generate_series(ms // 600000 - 5, ms // 600000)) AS slot
         |      FROM e),
         |agg AS (SELECT slot, count(*) AS n_events,
         |          ${dsumSql("value", 6)} AS sum_value
         |        FROM s GROUP BY slot),
         |wm AS (SELECT max(ms) - 3600000 AS w FROM e)
         |SELECT strftime(make_timestamp(slot * 600000000), '%Y-%m-%d %H:%M:%S') AS w_start,
         |  n_events, sum_value
         |FROM agg, wm
         |WHERE slot * 600000 + 3600000 <= w""".stripMargin,

    // q42's stage chaining per user (same 24 h windows), emitted only for
    // users the final watermark (max ts - 1 h) quiesced: timeout fires when
    // last event + 6 h < watermark — x6's eviction rule with the funnel's
    // horizon
    "x11_stream_funnel" ->
      s"""WITH ${graft.operators.Relational.funnelChainSql},
        |u AS (SELECT user_id, max(fv) AS fv, max(fc) AS fc, max(fp) AS fp,
        |        max(ms) AS last_ms
        |      FROM w3 GROUP BY user_id),
        |wm AS (SELECT max(ms) - 3600000 AS w FROM e)
        |SELECT user_id, fv AS first_view_ms, fc AS first_click_ms,
        |       fp AS first_purchase_ms
        |FROM u, wm WHERE last_ms + 21600000 < w""".stripMargin,

    // d18's index build CTEs verbatim (sigs/bands/sh from Dedup); hits
    // keep band multiplicity — the Spark side counts (band, candidate)
    // matches, so the oracle must too
    "x12_stream_incremental_dedup" ->
      s"""WITH ${graft.operators.Dedup.sigSqlCte},
         |${graft.operators.Dedup.hashSetSqlCte},
         |bb AS (SELECT doc_id AS d1, band FROM bands WHERE doc_id % 10 = 7),
         |cb0 AS (SELECT doc_id AS d2, band FROM bands WHERE doc_id % 10 <> 7),
         |okc AS (SELECT band FROM cb0 GROUP BY band
         |        HAVING count(*) <= ${graft.operators.Dedup.maxBucket}),
         |hits AS (SELECT bb.d1, cb0.d2 FROM bb JOIN cb0 USING (band)
         |         WHERE band IN (SELECT band FROM okc)),
         |jac AS (SELECT d1, d2,
         |          CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
         |            / len(list_distinct(x.hs || y.hs)) AS j
         |        FROM hits JOIN sh x ON hits.d1 = x.doc_id
         |                  JOIN sh y ON hits.d2 = y.doc_id),
         |agg AS (SELECT d1 AS doc_id, count(*) AS n_band_hits,
         |          max(j) AS max_jaccard
         |        FROM jac GROUP BY d1)
         |SELECT b.doc_id,
         |  CAST(coalesce(agg.n_band_hits, 0) AS BIGINT) AS n_band_hits,
         |  coalesce(agg.max_jaccard, 0.0) AS max_jaccard,
         |  CASE WHEN coalesce(agg.max_jaccard, 0.0) >= 0.5 THEN 'near'
         |       ELSE 'novel' END AS verdict
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) b
         |LEFT JOIN agg ON b.doc_id = agg.doc_id""".stripMargin,

    // the final complete-mode state == the batch wordcount (w1's oracle)
    "x14_stream_wordcount" -> wordcountOracleSql,

    // latest-upsert-per-word resolution of the update deltas == the same
    // batch wordcount (the last batch that touched a word carried its
    // final count)
    "x14a_wordcount_update" -> wordcountOracleSql,

    // stateless per-batch projection over static weights: the streamed
    // manifest is row-for-row the batch manifest (t16's oracle verbatim)
    "x15_stream_mixture" ->
      graft.operators.TextOps.oracles("t16_mixture_sample"),

    // the final complete-mode state == batch t17 (its oracle verbatim:
    // same model, same probe, same floor arithmetic)
    "x16_stream_lm_score" ->
      graft.operators.TextOps.oracles("t17_lm_likelihood")
  )
}
