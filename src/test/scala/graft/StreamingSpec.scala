package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.{CustomStateSessionize, StreamingSessionize}

/** Streaming sessionization parity vs the batch lag+running-sum form (q16):
  * identical (user_id, start, end, n_events, sum_value) session sets on real
  * testdata (SURVEY.md §7 extension row; VERDICT r1 item 10). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("session_window stream equals batch sessionization on sf0.001 events") {
    val streamed = StreamingSessionize.runToCompletion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet

    // q16 columns: user_id, session_id, n_events, start_ms, end_ms, sum_value
    val batchKeyed = Relational.defs("q16_sessionize")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet

    assert(streamed.nonEmpty)
    assert(streamed.map(s => (s._1, s._3, s._4)) ==
      batchKeyed.map(b => (b._1, b._3, b._4)),
      "session (user, start, end) sets diverge")
    assert(streamed == batchKeyed, "session aggregate values diverge")
  }

  /** Split events into `slices` contiguous event-time files, written in
    * order with strictly increasing modtimes, so a maxFilesPerTrigger=1
    * stream replays them as that many watermark-advancing microbatches. */
  private def timeSlicedDir(slices: Int): String = {
    import org.apache.spark.sql.functions._
    val d = TestSpark.tempDir("graft-multibatch").toFile
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val n = raw.count()
    val ranked = raw.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
    for (i <- 0 until slices) {
      val sd = new java.io.File(d, s"slice$i")
      ranked.filter(col("rn") > i * n / slices && col("rn") <= (i + 1) * n / slices)
        .drop("rn").coalesce(1)
        .write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"events$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    d.getAbsolutePath
  }

  test("five time-ordered microbatches merge cross-batch session state to the one-batch result") {
    // every other streaming gate replays ONE file as ONE microbatch — this
    // is the only place a session whose events straddle a microbatch
    // boundary must be stitched together by the state store across
    // triggers. The slice boundaries are cut INSIDE four known multi-event
    // sessions (1 ms after each session's first event), so cross-batch
    // merging is exercised by construction, not by luck.
    import org.apache.spark.sql.functions._
    val batchRows = Relational.defs("q16_sessionize")(spark, dir).collect()
    val batchKeyed = batchRows
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    val spanned = batchRows.filter(r => r.getLong(4) > r.getLong(3))
      .sortBy(_.getLong(3))
    assert(spanned.length >= 8, "test premise: enough multi-event sessions to cut")
    val cutsMs = (1 to 4).map(i => spanned(i * spanned.length / 5).getLong(3) + 1L)
      .distinct.sorted
    // slice on epoch-ms of the NTZ ts (session tz is UTC) so the written
    // files keep the source schema the streaming reader declares
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ms", expr("unix_millis(CAST(ts AS TIMESTAMP))"))
    val d = TestSpark.tempDir("graft-mb-sess").toFile
    val ranges = (Long.MinValue +: cutsMs) :+ Long.MaxValue
    for (i <- 0 until ranges.length - 1) {
      val sd = new java.io.File(d, s"slice$i")
      raw.filter(col("ms") >= ranges(i) && col("ms") < ranges(i + 1))
        .drop("ms").coalesce(1)
        .write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"events$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val streamed = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.sessions(_), "complete", "multibatch",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // the cut sessions really do straddle: start strictly below a cut, end at/above it
    assert(batchKeyed.exists(s => cutsMs.exists(b => s._3 < b && b <= s._4)),
      "test premise: some session must straddle a microbatch boundary")
    assert(streamed == batchKeyed,
      "multi-batch streamed sessions diverge from the batch result")
  }

  test("multi-batch stateful dedup emits exactly the batch-distinct key set") {
    val mb = timeSlicedDir(4)
    val streamed = StreamingSessionize.runToCompletion(spark, mb,
        StreamingSessionize.streamDedup(_), "append", "multibatch-dedup",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(streamed.length == streamed.distinct.length,
      "a key must be emitted by exactly one microbatch (state suppresses re-emission)")
    assert(streamed.toSet == batch.toSet, "dedup key set diverges from batch DISTINCT")
  }

  test("x36 quantile sketch over 4 sliced microbatches equals the batch cutpoints") {
    // the sketch's stream-safety claim, exercised: the QuantileSampleAgg
    // buffer is the streaming state, and because bottom-k-by-hash is
    // merge-order independent, the converged cutpoints must equal the
    // one-batch (and so the batch-q79) result at ANY arrival slicing —
    // the property an order-dependent sketch (KLL/GK) would fail here
    val mb = timeSlicedDir(4)
    val streamed = StreamingSessionize.runToCompletion(spark, mb,
        StreamingSessionize.quantileLive(_), "complete", "multibatch-quant",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet",
        sinkTransform = StreamingSessionize.quantileCuts)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val oneShot = StreamingSessionize
      .defs("x36_stream_quantile")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // sub-k groups keep their WHOLE multiset (exact deciles) — sf0.001's
    // ~200 events/type sit below k=512, so this exercises the unsaturated
    // path; the saturated path is the sf0.01+ gate's
    assert(streamed.length == 45 && streamed.forall(_._4 > 0),
      s"test premise: 5 types x 9 deciles with non-empty samples: ${streamed.length}")
    assert(streamed.toSet == oneShot.toSet,
      "sliced-arrival cutpoints diverge from the one-batch sketch")
  }

  test("x19 top-k over 3 sliced microbatches equals the batch per-hour rank") {
    import org.apache.spark.sql.functions._
    val mb = timeSlicedDir(3)
    val streamed = StreamingSessionize.runToCompletion(spark, mb,
        StreamingSessionize.hourlyUserCounts(_), "complete", "multibatch-topk",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet",
        sinkTransform = StreamingSessionize.topkProjection)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch twin: same count + same rank projection over the full table
    val batch = StreamingSessionize.topkProjection(
        graft.sources.Tables.load(spark, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour_ts"), col("user_id"), col("n_events")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.exists(_._4 == 3L),
      "test premise: some hour must have >= 3 active users")
    assert(streamed.toSet == batch.toSet,
      "final complete-mode top-k snapshot diverges from the batch rank")
  }

  test("x19a append top-k over 3 slices == complete snapshot restricted to closed hours") {
    import org.apache.spark.sql.functions._
    val mb = timeSlicedDir(3)
    val appended = StreamingSessionize.runToCompletion(spark, mb,
        StreamingSessionize.hourlyUserCounts(_), "append", "x19a-mb",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet",
        sinkTransform = StreamingSessionize.topkProjection)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val complete = StreamingSessionize.runToCompletion(spark, dir,
        StreamingSessionize.hourlyUserCounts(_), "complete", "x19a-snap",
        sinkTransform = StreamingSessionize.topkProjection)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // closed = the final watermark (max event ms - 1 h) passed the hour's end
    val wm = graft.sources.Tables.load(spark, dir, "events")
      .agg(max(unix_millis(col("ts")))).head.getLong(0) - 3600000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def closed(hourTs: String) = fmt.parse(hourTs).getTime + 3600000L <= wm
    assert(complete.exists(t => !closed(t._1)),
      "test premise: at least one trailing hour must still be open")
    assert(appended.length == appended.distinct.length,
      "a finalized hour's top-k must be appended exactly once")
    assert(appended.toSet == complete.filter(t => closed(t._1)).toSet,
      "append-mode finalized rows diverge from the complete snapshot's closed hours")
  }

  test("x25 hold ledger over 3 slices == one-shot replay (order reconstructed across triggers)") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          graft.streaming.StreamTwa.transform, "append", sink, opts, glob)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sliced = run(mb, "x25-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x25-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some hold must finalize")
    // a hold whose two observations land in DIFFERENT slices must emit
    // exactly once with the exact duration — the buffered predecessor
    // survived the trigger boundary and met its successor in order
    assert(sliced.length == sliced.distinct.length,
      "a hold must be emitted by exactly one microbatch")
    assert(sliced.toSet == oneShot.toSet,
      "hold emissions diverge between sliced and one-shot replays")
  }

  test("x29 sharded TWA == x25 ledger (one-shot AND 3-slice; cross-hour holds stitched)") {
    // VERDICT r10 item 4: the (type, hour) decomposition must be a pure
    // physical rewrite — same emitted set as the type-keyed original,
    // under any arrival slicing. The fixture premise matters: at least
    // one hold must CROSS an hour boundary (start and successor in
    // different hours), or the stage-2 stitch is untested.
    val mb = timeSlicedDir(3)
    def rows(d: String, tr: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d, tr, "append", sink, opts, glob)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def shardedRows(d: String, sink: String, opts: Map[String, String],
        glob: String) =
      graft.streaming.StreamTwaSharded.runToCompletion(spark, d, sink, opts, glob)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val unsharded = rows(dir, graft.streaming.StreamTwa.transform,
      "x29-base", Map.empty, "events.parquet")
    val shardedOne = shardedRows(dir, "x29-one", Map.empty, "events.parquet")
    val shardedSliced = shardedRows(mb, "x29-mb",
      Map("maxFilesPerTrigger" -> "1"), "events*.parquet")
    assert(unsharded.nonEmpty, "test premise: some hold must finalize")
    val cross = unsharded.count(t => t._2 / 3600000L != (t._2 + t._3) / 3600000L)
    assert(cross > 0, "test premise: fixture must contain cross-hour holds")
    assert(shardedOne.length == shardedOne.distinct.length,
      "a hold must be emitted by exactly one stage, once")
    assert(shardedOne.toSet == unsharded.toSet,
      "sharded one-shot ledger diverges from the unsharded ledger")
    assert(shardedSliced.toSet == unsharded.toSet,
      "sharded sliced ledger diverges from the unsharded ledger")
  }

  test("x25 drains per watermark: per-batch emissions successor-ordered, never overlapping") {
    // VERDICT r10 item 1's prose-to-measurement conversion, spec side: a
    // hold emits in the FIRST batch whose watermark strictly passes its
    // successor (cut emits successor < wm; kept holds have successor >= wm
    // and a timer armed at it), so across emitting batches the successor
    // ranges must be disjoint and increasing — the buffer drains with the
    // watermark instead of accumulating the corpus. STREAMSCALE_FULL.json
    // holds the matching memory bound from a 100× replay (max state ~5 MB
    // for a 1M-row replay).
    val mb = timeSlicedDir(6)
    val rows = StreamingSessionize.runToCompletion(spark, mb,
        graft.streaming.StreamTwa.transform, "append", "x25-drain",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet",
        tagBatchId = true)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("batch_id")),
        r.getLong(r.fieldIndex("start_ms")) + r.getLong(r.fieldIndex("hold_ms"))))
    val byBatch = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, hs) => (b, hs.map(_._2).min, hs.map(_._2).max) }
    assert(byBatch.size >= 3,
      s"continuous drain expected, got ${byBatch.size} emitting batches")
    byBatch.sliding(2).foreach {
      case Seq((b1, _, max1), (b2, min2, _)) =>
        assert(max1 < min2,
          s"batch $b1 (max successor $max1) overlaps batch $b2 (min $min2): " +
            "a hold outlived the watermark that finalized it")
      case _ =>
    }
  }

  test("x27 island ledger over 3 slices == one-shot replay (interval merge across triggers)") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          graft.streaming.StreamIslands.transform, "append", sink, opts, glob)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sliced = run(mb, "x27-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x27-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some island must close")
    // an island whose member intervals straddle slice boundaries must
    // emit exactly once with the merged extent — the open island survived
    // the trigger boundary in state and kept absorbing
    assert(sliced.length == sliced.distinct.length,
      "an island must be emitted by exactly one microbatch")
    assert(sliced.toSet == oneShot.toSet,
      "island emissions diverge between sliced and one-shot replays")
  }

  test("x28 transition ledger over 3 slices == one-shot replay (session breaks respected)") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          graft.streaming.StreamPaths.transform, "append", sink, opts, glob)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val sliced = run(mb, "x28-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x28-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some transition must finalize")
    // a transition whose endpoints land in DIFFERENT slices must emit
    // exactly once; a super-gap pair must emit in NEITHER replay
    assert(sliced.length == sliced.distinct.length,
      "a transition must be emitted by exactly one microbatch")
    assert(sliced.toSet == oneShot.toSet,
      "transition emissions diverge between sliced and one-shot replays")
  }

  test("x30 asof ledger over 3 slices == one-shot replay (bidirectional window decided once)") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          graft.streaming.StreamAsof.transform, "append", sink, opts, glob)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val sliced = run(mb, "x30-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x30-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some purchase must be decided")
    // a purchase whose backward click arrived in an earlier slice and
    // whose forward window closed in a later one must emit exactly once,
    // with the same nearest click either way — the bidirectional buffer
    // survived the trigger boundary
    assert(sliced.length == sliced.distinct.length,
      "a purchase must be decided by exactly one microbatch")
    assert(sliced.toSet == oneShot.toSet,
      "asof matches diverge between sliced and one-shot replays")
    // the NULL-preserving contract must survive slicing too
    assert(sliced.exists(_._3.isEmpty) == oneShot.exists(_._3.isEmpty))
  }

  test("x31 CDC state over 3 slices == one-shot replay (tombstones override across batches)") {
    val mb = timeSlicedDir(3)
    import org.apache.spark.sql.functions.col
    def run(d: String, sink: String, opts: Map[String, String], glob: String) = {
      val upserts = StreamingSessionize.runToCompletion(spark, d,
        StreamingSessionize.streamCdcApply, "update", sink, opts, glob,
        tagBatchId = true)
      StreamingSessionize.latestUpserts(upserts, "user_id")
        .filter(col("last_type") =!= "error")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3), r.getLong(4)))
    }
    val sliced = run(mb, "x31-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x31-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some key must survive compaction")
    // a key upserted in slice 1 and tombstoned in slice 3 must be ABSENT
    // (the later batch's emission overrides at resolution); counts must
    // accumulate across batches
    assert(sliced.toSet == oneShot.toSet,
      "CDC final state diverges between sliced and one-shot replays")
  }

  test("x33 bounded dedup over 4 slices emits exactly the batch-distinct hour-keyed set") {
    // the state-evicting variant must keep x4's exactness contract: every
    // (user, type, hour) key emitted by exactly one microbatch, and the
    // union equals batch DISTINCT — the watermark bounds STATE, never the
    // answer (all duplicates of an hour key arrive inside the 1 h delay)
    val mb = timeSlicedDir(4)
    val streamed = StreamingSessionize.runToCompletion(spark, mb,
        StreamingSessionize.streamDedupBounded(_), "append", "multibatch-x33",
        Map("maxFilesPerTrigger" -> "1"), "events*.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"),
          date_format(date_trunc("hour", expr("CAST(ts AS TIMESTAMP)")),
            "yyyy-MM-dd HH:mm:ss").as("h"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    }
    assert(streamed.length == streamed.distinct.length,
      "a key must be emitted by exactly one microbatch")
    assert(streamed.toSet == batch.toSet,
      "bounded dedup key set diverges from batch DISTINCT")
  }

  test("x32 streaming malformed audit converges to batch t38's exact totals") {
    // counts and checksums are commutative monoids: whether the torn
    // corpus arrives as one batch (t38) or a stream of triggers (x32),
    // the final totals must be identical — and non-trivial (some lines
    // really are torn, some really parse)
    val streamRow = StreamingSessionize.defs("x32_stream_malformed_audit")(spark, dir)
      .collect().head
    val batchRow = graft.operators.TextOps.defs("t38_malformed_audit")(spark, dir)
      .collect().head
    val s5 = (0 until 5).map(streamRow.getLong)
    val b5 = (0 until 5).map(batchRow.getLong)
    assert(s5 == b5, s"stream totals $s5 diverge from batch totals $b5")
    assert(s5(2) > 0 && s5(1) > 0, "test premise: both torn and valid lines exist")
  }

  test("x34 streaming unicode audit converges to batch t42's per-source rows") {
    // the same NFC computation (native NfcNormalize) on both sides: the
    // stream's converged per-source totals must equal the batch audit
    // row-for-row, and the injection must be live (some docs non-NFC)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val stream = StreamingSessionize.defs("x34_stream_unicode_audit")(spark, dir)
      .collect().map(key).toSet
    val batch = graft.operators.TextOps.defs("t42_unicode_audit")(spark, dir)
      .collect().map(key).toSet
    assert(stream == batch, s"stream rows diverge from batch: " +
      s"${(stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    assert(stream.exists(_._3 > 0), "test premise: some doc must be non-NFC")
    assert(stream.exists(t => t._2 > t._3), "test premise: some docs stay NFC")
  }

  test("x35 streaming schema-drift audit converges to batch t43's per-class rows") {
    // classification, recovery, and checksums are all computed from
    // observed values on both sides; the stream's converged per-class
    // totals must equal the batch audit with the generation key dropped
    // (gen <-> class is a bijection by construction), and the drift must
    // be live (a renamed class whose contract column really nulled)
    def key(r: org.apache.spark.sql.Row, off: Int) =
      (r.getString(off), r.getLong(off + 1), r.getLong(off + 2),
        r.getLong(off + 3), r.getLong(off + 4), r.getLong(off + 5))
    val stream = StreamingSessionize.defs("x35_stream_schema_drift")(spark, dir)
      .collect().map(key(_, 0)).toSet
    val batch = graft.operators.TextOps
      .defs("t43_schema_evolution_audit")(spark, dir)
      .collect().map(key(_, 1)).toSet // drop the leading gen column
    assert(stream == batch, s"stream rows diverge from batch: " +
      s"${(stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    assert(stream.exists(t => t._1 == "renamed" && t._3 == t._2 && t._2 > 0),
      "test premise: the renamed class nulls its contract column")
    assert(stream.exists(t => t._1 == "baseline" && t._3 == 0),
      "test premise: the baseline class conforms")
  }

  test("x26 PIT enrichment over 3 slices == one-shot replay (stateless, static dim)") {
    val mb = timeSlicedDir(3)
    val enrich = StreamingSessionize.pitEnrich(spark, dir)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d, enrich, "append", sink,
          opts, glob)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getDouble(4)))
    val sliced = run(mb, "x26-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x26-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some event must enrich")
    assert(sliced.toSet == oneShot.toSet,
      "stateless PIT enrichment diverged across arrival slicings")
  }

  test("x24a hourly KMV over 3 slices == one-shot replay (evicted window state merges)") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          StreamingSessionize.hourlyKmvHashes(_), "append", sink, opts, glob,
          sinkTransform = StreamingSessionize.kmvHourProjection)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val sliced = run(mb, "x24a-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x24a-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some hour must finalize")
    // a (window, type, hash) key whose events straddle a slice boundary
    // must still count ONCE — identical emissions prove the distinct
    // state merged across triggers before eviction
    assert(sliced.toSet == oneShot.toSet,
      "hourly KMV emissions diverge between sliced and one-shot replays")
  }

  test("x23a hourly drift over 3 slices == one-shot replay, statics never restream") {
    val mb = timeSlicedDir(3)
    def run(srcDir: String, sink: String, opts: Map[String, String], glob: String) = {
      // statics always come from the ORIGINAL corpus dir — the baseline is
      // batch state, independent of how the live stream is sliced
      val (transform, sinkT) = StreamingSessionize.hourlyDriftPieces(spark, dir)
      StreamingSessionize.runToCompletion(spark, srcDir, transform, "append",
          sink, opts, glob, sinkTransform = sinkT)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))
    }
    val sliced = run(mb, "x23a-mb", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "x23a-oneshot", Map.empty, "events.parquet")
    assert(sliced.nonEmpty, "test premise: some hour must finalize")
    assert(sliced.toSet == oneShot.toSet,
      "hourly drift emissions diverge between sliced and one-shot replays")
  }

  test("x20 chained rollup over 3 sliced microbatches equals the one-shot stream") {
    val mb = timeSlicedDir(3)
    def run(d: String, sink: String, opts: Map[String, String], glob: String) =
      StreamingSessionize.runToCompletion(spark, d,
          StreamingSessionize.windowRollup(_), "append", sink, opts, glob)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sliced = run(mb, "multibatch-rollup", Map("maxFilesPerTrigger" -> "1"),
      "events*.parquet")
    val oneShot = run(dir, "oneshot-rollup", Map.empty, "events.parquet")
    assert(sliced.nonEmpty && sliced.exists(_._3 > 1),
      "test premise: some hour must have a >1-event peak slice")
    // peak-of-slices requires cross-batch merging of the INNER window state;
    // identical final emissions prove both stacked states merged correctly
    assert(sliced.toSet == oneShot.toSet,
      "chained-window emissions diverge between sliced and one-shot replays")
  }

  test("x12 over three sliced microbatches equals the one-shot stream, verdicts non-degenerate") {
    // documents sliced by doc_id into 3 files replayed one per trigger:
    // each arriving doc's band rows land in one microbatch, and the
    // complete-mode aggregate must merge batches into exactly the one-shot
    // result (same static corpus index both ways)
    val d = TestSpark.tempDir("graft-x12-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids((ids.length / 3).toInt), ids((2 * ids.length / 3).toInt))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def run(srcDir: String, sink: String, glob: String) =
      StreamingSessionize.runToCompletion(spark, srcDir,
          StreamingSessionize.incrementalDedup(spark, dir), "complete", sink,
          if (glob.contains("*")) Map("maxFilesPerTrigger" -> "1") else Map.empty,
          glob, StreamingSessionize.docSchema)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getString(3))))
        .toMap
    val multi = run(d.getAbsolutePath, "x12-multibatch", "documents*.parquet")
    val oneShot = run(dir, "x12-oneshot", "documents.parquet")
    assert(multi == oneShot, s"${multi.size} vs ${oneShot.size} admission rows")
    val verdicts = multi.values.map(_._3).toSet
    assert(verdicts == Set("near", "novel"),
      s"admission stream must classify both ways at sf0.001: $verdicts")
  }

  test("x14 streaming wordcount over three sliced microbatches equals batch w1") {
    // the reference's pipeline as an incremental job: documents split into 3
    // time-ordered files, one per trigger — the running (word, cnt) state
    // must merge across microbatches into exactly the batch wordcount
    val d = TestSpark.tempDir("graft-x14-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamWordcount, "complete", "x14-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.TextOps.defs("w1_wordcount")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(multi == batch,
      s"incremental state (${multi.size} words) must equal batch (${batch.size})")
  }

  test("x37 weighted sample over three sliced microbatches equals batch t44") {
    // the sampler's stream-safety claim, exercised: the TopKAgg buffer
    // is the streaming state, and because bottom-n by the (hmin, doc_id)
    // total order is merge-order independent, the converged manifest
    // must equal the batch draw at ANY arrival slicing — the property a
    // reservoir sampler (arrival-history-dependent state) would fail
    val d = TestSpark.tempDir("graft-x37-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.weightedSampleLive, "complete", "x37-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema,
        sinkTransform = StreamingSessionize.weightedSampleRank)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.TextOps
      .defs("t44_weighted_exact_sample")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(multi.nonEmpty && multi == batch,
      s"sliced-arrival manifest diverges from batch t44: " +
        s"${(multi diff batch).take(3)} / ${(batch diff multi).take(3)}")
  }

  test("x14a update deltas: each batch emits exactly its slice's vocabulary; latest upsert == batch wordcount") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.tempDir("graft-x14a-mb").toFile
    // the sf0.001 corpus has a 31-word vocabulary every third covers, which
    // would make the delta property vacuous — plant a word that exists ONLY
    // in slice 0, so later triggers provably do NOT re-emit untouched keys
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val synth = raw.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        ids.min - 1L, "uniqzeroword uniqzeroword", "en", "synthetic", 25L)),
      raw.schema)
    val all = raw.unionByName(synth)
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val sliceVocab = (0 until 3).map { i =>
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      val slice = all.filter(all("doc_id") >= lo && all("doc_id") < hi)
      slice.coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
      slice.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").select("w").distinct()
        .collect().map(_.getString(0)).toSet
    }
    assert(sliceVocab(0).contains("uniqzeroword")
      && !sliceVocab(1).contains("uniqzeroword")
      && !sliceVocab(2).contains("uniqzeroword"),
      "test premise: the planted word must live only in slice 0")
    val upserts = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamWordcount, "update", "x14a-mb",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema, tagBatchId = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byBatch = upserts.groupBy(_._3)
    assert(byBatch.keySet == Set(0L, 1L, 2L), "three triggers expected")
    // THE delta property: a trigger emits exactly the words its slice
    // touched — complete mode would re-emit the whole dictionary (and in
    // particular batches 1/2 must NOT re-emit the untouched planted word)
    for (i <- 0 until 3)
      assert(byBatch(i.toLong).map(_._1).toSet == sliceVocab(i),
        s"batch $i must emit exactly its slice's vocabulary")
    // keyed-sink resolution (the x14a def spelling): latest upsert per word
    val resolved = upserts.groupBy(_._1).map { case (w, rs) =>
      w -> rs.maxBy(_._3)._2
    }
    val batch = all.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resolved == batch,
      s"resolved update state (${resolved.size} words) must equal the batch wordcount (${batch.size})")
  }

  test("x17a zero-state decontam == stateful x17 verdicts, sliced or not") {
    val d = TestSpark.tempDir("graft-x17a-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    // the benchmark statics always come from the original corpus dir
    val sliced = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.statelessDecontam(spark, dir), "append",
        "x17a-mb", Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(key).toSet
    val stateful = StreamingSessionize.defs("x17_stream_decontam")(spark, dir)
      .collect().map(key).toSet
    assert(sliced.nonEmpty && sliced == stateful,
      s"zero-state verdicts (${sliced.size}) must equal x17's (${stateful.size})")
  }

  test("x15 streamed mixture manifest is row-for-row the batch manifest across 3 slices") {
    // stateless admission: copy counts depend only on doc_id + the static
    // weight table, so slicing the arrival order must change nothing
    val d = TestSpark.tempDir("graft-x15-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamMixture(spark, dir), "append", "x15-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    val batch = graft.operators.TextOps.defs("t16_mixture_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(multi == batch,
      s"streamed manifest (${multi.size}) must equal batch t16 (${batch.size})")
  }

  test("x16 streamed LM scores over 3 slices equal batch t17 (static model, merged state)") {
    val d = TestSpark.tempDir("graft-x16-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamLmScore(spark, dir), "complete", "x16-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.operators.TextOps.defs("t17_lm_likelihood")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(multi == batch,
      s"streamed scores (${multi.size}) must equal batch t17 (${batch.size})")
  }

  test("x17 streamed contamination verdicts over 3 slices equal batch d12") {
    // the benchmark index is static (built from `dir`); each doc's shingles
    // arrive inside its own row, so slicing the arrivals must merge to the
    // batch verdict set exactly (shared hashSetsOf/contaminationCounts
    // spelling — parity by construction, pinned here end-to-end)
    val d = TestSpark.tempDir("graft-x17-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamDecontam(spark, dir), "complete", "x17-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.operators.Dedup.defs("d12_contamination")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(multi == batch,
      s"streamed verdicts (${multi.size}) must equal batch d12 (${batch.size})")
    assert(multi.nonEmpty)
  }

  test("x18 streamed bloom verdicts over 3 slices equal batch d24 (zero state)") {
    // per-row verdicts are pure functions of (fp, static corpus state) —
    // arrival slicing must change nothing, with no state store involved
    val d = TestSpark.tempDir("graft-x18-mb").toFile
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val ids = raw.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    for (i <- 0 until 3) {
      val sd = new java.io.File(d, s"slice$i")
      val lo = if (i == 0) Long.MinValue else cuts(i - 1)
      val hi = if (i == 2) Long.MaxValue else cuts(i)
      raw.filter(raw("doc_id") >= lo && raw("doc_id") < hi)
        .coalesce(1).write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"documents$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val multi = StreamingSessionize.runToCompletion(spark, d.getAbsolutePath,
        StreamingSessionize.streamBloomAdmission(spark, dir), "append", "x18-multibatch",
        Map("maxFilesPerTrigger" -> "1"), "documents*.parquet",
        StreamingSessionize.docSchema)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batch = graft.operators.Dedup.defs("d24_bloom_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(multi == batch,
      s"streamed verdicts (${multi.size}) must equal batch d24 (${batch.size})")
    assert(multi.nonEmpty)
  }

  test("x13 full-outer join = x8's click side plus watermark-evicted unmatched views") {
    // the click-side rows (matched + null-extended clicks) must be exactly
    // x8's output — same join, same eviction rule; the only new rows are
    // view-side null-extensions, all with null click_id and null ms_gap
    def rows(name: String) = graft.streaming.StreamingSessionize
      .defs(name)(spark, dir).collect()
      .map(r => (Option(r.get(0)), r.getLong(1), Option(r.get(2)),
        Option(r.get(3)))).toSet
    val full = rows("x13_stream_full_outer")
    val left = rows("x8_stream_left_join")
    val clickSide = full.filter(_._1.isDefined)
    val viewOnly = full.filter(_._1.isEmpty)
    assert(clickSide == left, "click-side emissions must equal x8")
    assert(viewOnly.nonEmpty, "test premise: some view must go unmatched")
    assert(viewOnly.forall(r => r._3.isDefined && r._4.isEmpty),
      "view-only rows carry a view_id and a null ms_gap")
  }

  test("funnel fold: batch-split composition equals one-shot fold on time-ordered slices") {
    // state-carry correctness for x11: folding a user's events in two
    // time-ordered microbatches must land in the same state as folding
    // them at once — for every split point of random event sequences
    import graft.streaming.StreamFunnel
    import graft.streaming.StreamFunnel.{FEv, FState}
    val rnd = new scala.util.Random(31)
    val types = Vector("view", "click", "purchase", "signup", "error")
    for (_ <- 1 to 50) {
      val evs = (1 to 30).map { _ =>
        FEv(1L, new java.sql.Timestamp(0L),
          rnd.nextInt(3 * 86400000).toLong, types(rnd.nextInt(types.length)))
      }.sortBy(_.ms)
      val zero = FState(-1L, -1L, -1L, -1L)
      val whole = StreamFunnel.fold(evs, zero)
      for (cut <- 0 to evs.length by 7) {
        val (a, b) = evs.splitAt(cut)
        assert(StreamFunnel.fold(b, StreamFunnel.fold(a, zero)) == whole,
          s"split at $cut diverges")
      }
    }
  }

  test("x11 emits one final row per quiesced user, matching q42's chaining") {
    import org.apache.spark.sql.functions._
    val got = StreamingSessionize.runToCompletion(spark, dir,
        graft.streaming.StreamFunnel.transform, "append", "funnel").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(got.nonEmpty)
    assert(got.map(_._1).distinct.length == got.length, "one row per user")
    // chained stages: fp implies fc implies fv, each within its window
    got.foreach { case (u, fv, fc, fp) =>
      assert(fc.isEmpty || fv.nonEmpty, s"user $u: click without view")
      assert(fp.isEmpty || fc.nonEmpty, s"user $u: purchase without click")
      fc.foreach(c => assert(c > fv.get && c <= fv.get + 86400000L))
      fp.foreach(p => assert(p > fc.get && p <= fc.get + 86400000L))
    }
  }

  test("flatMapGroupsWithState sessions agree with batch (closed sessions)") {
    val gapMs = CustomStateSessionize.defaultGapMs
    // emitted: (user, n, start, end) + raw double sum
    val emitted = StreamingSessionize.runToCompletion(spark, dir,
        CustomStateSessionize.transform, "append", "custom-state").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
        r.getDouble(4))).toMap
    // batch q16: user_id, session_id, n_events, start_ms, end_ms, sum_value
    val batch = Relational.defs("q16_sessionize")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)),
        r.getDouble(5))).toMap

    assert(emitted.nonEmpty)
    // every emitted session exists in the batch result with a matching sum
    emitted.foreach { case (k, sum) =>
      assert(batch.contains(k), s"phantom session $k")
      assert(math.abs(batch(k) - sum) < 1e-4, s"sum diverges for $k")
    }
    // completeness: any session the final watermark closed must be emitted
    val maxMs = batch.keys.map(_._4).max
    val watermark = maxMs - 3600L * 1000
    val mustEmit = batch.keys.filter(k => k._4 + gapMs < watermark)
    mustEmit.foreach(k => assert(emitted.contains(k), s"unemitted closed $k"))
    assert(mustEmit.nonEmpty, "test corpus must close some sessions")
  }

  test("transformWithState emits exactly flatMapGroupsWithState's sessions (x10 == x6)") {
    // both APIs run the shared CustomStateSessionize.fold — emissions must
    // be identical row-for-row (timers replace setTimeoutTimestamp; RocksDB
    // replaces the HDFS-backed store; neither may change semantics)
    val x6 = StreamingSessionize.runToCompletion(spark, dir,
        CustomStateSessionize.transform, "append", "custom-state").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val x10 = graft.streaming.TransformWithStateSessionize
      .runToCompletion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(x6.nonEmpty)
    assert(x10 == x6, s"APIs diverged: x6=${x6.size} rows, x10=${x10.size} rows")
  }

  test("x10 == x6 on an EXACT watermark tie (timeout-vs-timer edge semantics)") {
    // the one place the two APIs could legally disagree: x6 times out when
    // the watermark passes end+gap (strict), x10 when a timer at end+gap
    // expires. Build a corpus where final watermark == end+gap EXACTLY for
    // user 1's only session (end + 30min == maxTs - 1h), plus a clearly
    // closed and a clearly open session as controls — the two APIs must
    // still emit identical rows, whatever the tie resolves to.
    import java.nio.file.Files
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = TestSpark.tempDir("graft-tie").toString
    val H = 3600L * 1000_000_000L // one hour in nanos
    val M = 60L * 1000_000_000L   // one minute
    val base = 1700000000L * 1000_000_000L
    val rows = Seq(
      Row(1L, base, 1L, "view", 1.0, "{}"),                // user1: end = base
      Row(2L, base + 30L * M + 90L * M, 2L, "view", 1.0, "{}"), // user2 session long closed
      Row(3L, base + 30L * M + H, 9L, "view", 1.0, "{}"))  // maxTs: watermark = base+30min EXACTLY = user1 end+gap
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val x6 = StreamingSessionize.runToCompletion(spark, d,
        CustomStateSessionize.transform, "append", "custom-state").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val x10 = graft.streaming.TransformWithStateSessionize
      .runToCompletion(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(x10 == x6, s"tie semantics diverge: x6=$x6 x10=$x10")
    // and the strict-< oracle rule (shared by both gates) must also hold:
    // user 1's session is NOT emitted on an exact tie under strict <
    assert(!x6.exists(_._1 == 1L),
      s"strict-< emission rule: the exact-tie session must stay open, got $x6")
  }

  test("a stream restarted in an artifact-isolated session reuses its compiled task code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // every start() clones the session under a new UUID; with isolation on
    // (a session graft did not build may have it so) each UUID would get a
    // classloader, and codegen's per-classloader cache, of its own
    val key = "spark.sql.artifact.isolation.enabled"
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def x14() = StreamingSessionize.defs("x14_stream_wordcount")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    GraftSession.withConf(spark, key -> "true") {
      val first = x14()
      val before = compiles
      val second = x14()
      assert(compiles - before == 0, "the second run recompiled task code")
      assert(first.nonEmpty)
      assert(second == first)
      assert(spark.conf.get(key) == "true")
    }
  }

  test("a stream run leaves the caller's conf as it found it") {
    // the harness pins its stream conf through withConf, so a key the
    // caller set reads back unchanged after the run, and the run's rows
    // do not depend on it
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def x1() = StreamingSessionize.defs("x1_stream_sessionize")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val outside = x1()
    GraftSession.withConf(spark, key -> "false") {
      val inside = x1()
      assert(spark.conf.get(key) == "false", s"the stream run left $key changed")
      assert(inside.nonEmpty)
      assert(inside == outside)
    }
  }
}
