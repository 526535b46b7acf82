package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, expr, row_number}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamAsof, StreamingSessionize}

/** Checkpoint-restart equivalence for the stateful streaming family
  * (VERDICT r13 item 5): the production failure mode is a query KILLED
  * mid-stream and resumed from its checkpoint — offsets, state-store
  * contents, event-time TIMERS, and batch ids must all restore so the
  * resumed run continues instead of replaying or dropping. StreamingSpec
  * pins slicing-invariance (same data, different trigger boundaries);
  * this pins kill-and-resume (same data, a process death between
  * triggers) for the two state shapes the verdict named: x30's
  * timer-driven flatMapGroupsWithState buffer and x31's running-agg
  * update-mode state.
  *
  * Harness: 4 time-ordered slice files; phase 1 streams slices 0-1 with an
  * explicit checkpoint, then the query STOPS (the kill). Phase 2 drops
  * slices 2-3 into the watched dir and starts a NEW query on the same
  * checkpoint and the same (uncleared) sink. The combined sink must equal
  * the uninterrupted 4-slice run — and contain NO duplicates, which is the
  * resume-not-replay proof: a from-scratch restart would re-emit every
  * phase-1 row into the kept sink. */
class StreamingRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Cut events into `slices` contiguous event-time parquet files (the
    * StreamingSpec.timeSlicedDir recipe), returned as loose files so the
    * test can stage them into the watched dir in two phases. */
  private def sliceFiles(slices: Int): Seq[java.io.File] = {
    val d = TestSpark.tempDir("graft-restart-slices").toFile
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val n = raw.count()
    val ranked = raw.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
    (0 until slices).map { i =>
      val sd = new java.io.File(d, s"slice$i")
      ranked.filter(col("rn") > i * n / slices && col("rn") <= (i + 1) * n / slices)
        .drop("rn").coalesce(1)
        .write.parquet(sd.getAbsolutePath)
      val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(d, s"events$i.parquet")
      Files.move(part.toPath, dst.toPath)
      dst
    }
  }

  /** Copy slice files into the watched dir with strictly increasing
    * modtimes so maxFilesPerTrigger=1 replays them in event-time order. */
  private def stage(watched: java.io.File, files: Seq[java.io.File],
      fromIdx: Int): Unit =
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(watched, f.getName)
      Files.copy(f.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + (fromIdx + i) * 60000L))
    }

  test("x30 timer state: kill after 2 of 4 slices, resume == uninterrupted (no re-emission)") {
    val slices = sliceFiles(4)
    val watched = TestSpark.tempDir("graft-restart-x30").toFile
    val ckpt = TestSpark.tempDir("graft-ckpt-x30").toString
    val opts = Map("maxFilesPerTrigger" -> "1")
    def decode(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))

    stage(watched, slices.take(2), 0)
    val phase1 = decode(StreamAsof.runToCompletion(spark,
      watched.getAbsolutePath, sinkName = "x30-restart", sourceOptions = opts,
      sourceGlob = "events*.parquet", checkpointLoc = Some(ckpt)).collect())

    stage(watched, slices.drop(2), 2)
    val resumed = decode(StreamAsof.runToCompletion(spark,
      watched.getAbsolutePath, sinkName = "x30-restart", sourceOptions = opts,
      sourceGlob = "events*.parquet", checkpointLoc = Some(ckpt),
      clearSink = false).collect())

    val oneShot = decode(StreamAsof.runToCompletion(spark,
      watched.getAbsolutePath, sinkName = "x30-oneshot-r", sourceOptions = opts,
      sourceGlob = "events*.parquet").collect())

    assert(phase1.nonEmpty && resumed.length > phase1.length,
      "test premise: decisions on both sides of the kill")
    // resume-not-replay: a restart that re-ran phase 1 would duplicate
    // every pre-kill decision in the kept sink
    assert(resumed.length == resumed.distinct.length,
      "a purchase must be decided exactly once across the kill")
    // the pre-kill decisions are still there, untouched
    assert(phase1.toSet.subsetOf(resumed.toSet),
      "resume must preserve the pre-kill sink rows")
    // and the whole is exactly the uninterrupted run: buffered clicks,
    // pending purchases, and re-armed timers all restored from state
    assert(resumed.toSet == oneShot.toSet,
      "resumed ledger diverges from the uninterrupted run")
  }

  test("x33 dedup state: kill after 2 of 4 slices, resume suppresses pre-kill keys") {
    // the third state shape: dropDuplicatesWithinWatermark's key store.
    // A restart that lost it would re-emit every key already emitted
    // before the kill the moment its duplicate arrives in phase 2.
    val slices = sliceFiles(4)
    val watched = TestSpark.tempDir("graft-restart-x33").toFile
    val ckpt = TestSpark.tempDir("graft-ckpt-x33").toString
    val opts = Map("maxFilesPerTrigger" -> "1")
    def run(clear: Boolean) =
      StreamingSessionize.runToCompletion(spark, watched.getAbsolutePath,
        StreamingSessionize.streamDedupBounded(_), "append", "x33-restart",
        opts, "events*.parquet", checkpointLoc = Some(ckpt), clearSink = clear)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    stage(watched, slices.take(2), 0)
    val phase1 = run(clear = true)
    stage(watched, slices.drop(2), 2)
    val resumed = run(clear = false)

    val oneShot = StreamingSessionize.runToCompletion(spark,
      watched.getAbsolutePath, StreamingSessionize.streamDedupBounded(_),
      "append", "x33-oneshot-r", opts, "events*.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    assert(phase1.nonEmpty && resumed.length > phase1.length,
      "test premise: keys on both sides of the kill")
    assert(resumed.length == resumed.distinct.length,
      "a key must be emitted exactly once across the kill (state restored)")
    assert(phase1.toSet.subsetOf(resumed.toSet))
    assert(resumed.toSet == oneShot.toSet,
      "resumed dedup key set diverges from the uninterrupted run")
  }

  test("x8 left-join buffer: kill after 2 of 4 slices, resume == uninterrupted (incl. eviction rows)") {
    // the fourth state shape (VERDICT r14 item 7): the stream-stream
    // OUTER join's two-sided buffers — the trickiest resume semantics,
    // because unmatched clicks must keep aging toward their
    // null-extension on the restored watermark clock, not re-buffer
    // from zero (which would hold rows forever) or evict early (which
    // would emit spurious null rows a matching view still refutes)
    val slices = sliceFiles(4)
    val watched = TestSpark.tempDir("graft-restart-x8").toFile
    val ckpt = TestSpark.tempDir("graft-ckpt-x8").toString
    val opts = Map("maxFilesPerTrigger" -> "1")
    def decode(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    def run(sink: String, ckptLoc: Option[String], clear: Boolean) =
      decode(StreamingSessionize.runToCompletion(spark,
        watched.getAbsolutePath, StreamingSessionize.clickViewLeftJoin(_),
        "append", sink, opts, "events*.parquet", checkpointLoc = ckptLoc,
        clearSink = clear).collect())

    stage(watched, slices.take(2), 0)
    val phase1 = run("x8-restart", Some(ckpt), clear = true)
    stage(watched, slices.drop(2), 2)
    val resumed = run("x8-restart", Some(ckpt), clear = false)
    val oneShot = run("x8-oneshot-r", None, clear = true)

    assert(phase1.nonEmpty && resumed.length > phase1.length,
      "test premise: join output on both sides of the kill")
    assert(resumed.count(_._3.isEmpty) > 0 && resumed.count(_._3.nonEmpty) > 0,
      "test premise: both inner matches and null-extended evictions")
    // resume-not-replay: (click_id, view_id) pairs are unique, so a
    // restart that re-ran phase 1 would duplicate rows in the kept sink
    assert(resumed.length == resumed.distinct.length,
      "a join row must be decided exactly once across the kill")
    assert(phase1.toSet.subsetOf(resumed.toSet),
      "resume must preserve the pre-kill sink rows")
    assert(resumed.toSet == oneShot.toSet,
      "resumed left-join ledger diverges from the uninterrupted run")
  }

  test("x13 full-outer buffer: kill after 2 of 4 slices, resume == uninterrupted (both sides evict)") {
    // same pin for the remaining join mode: BOTH sides' buffers restore,
    // each side's unmatched rows null-extend on its OWN eviction clock
    // (clicks at watermark, views at watermark - 30 min forward bound)
    val slices = sliceFiles(4)
    val watched = TestSpark.tempDir("graft-restart-x13").toFile
    val ckpt = TestSpark.tempDir("graft-ckpt-x13").toString
    val opts = Map("maxFilesPerTrigger" -> "1")
    def decode(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    def run(sink: String, ckptLoc: Option[String], clear: Boolean) =
      decode(StreamingSessionize.runToCompletion(spark,
        watched.getAbsolutePath, StreamingSessionize.clickViewFullJoin(_),
        "append", sink, opts, "events*.parquet", checkpointLoc = ckptLoc,
        clearSink = clear).collect())

    stage(watched, slices.take(2), 0)
    val phase1 = run("x13-restart", Some(ckpt), clear = true)
    stage(watched, slices.drop(2), 2)
    val resumed = run("x13-restart", Some(ckpt), clear = false)
    val oneShot = run("x13-oneshot-r", None, clear = true)

    assert(phase1.nonEmpty && resumed.length > phase1.length,
      "test premise: join output on both sides of the kill")
    assert(resumed.count(r => r._1.isEmpty) > 0 &&
      resumed.count(r => r._3.isEmpty && r._1.nonEmpty) > 0,
      "test premise: null-extended rows from BOTH buffers")
    assert(resumed.length == resumed.distinct.length,
      "a join row must be decided exactly once across the kill")
    assert(phase1.toSet.subsetOf(resumed.toSet),
      "resume must preserve the pre-kill sink rows")
    assert(resumed.toSet == oneShot.toSet,
      "resumed full-outer ledger diverges from the uninterrupted run")
  }

  test("x31 running-agg state: kill after 2 of 4 slices, resume == uninterrupted (batch ids continue)") {
    val slices = sliceFiles(4)
    val watched = TestSpark.tempDir("graft-restart-x31").toFile
    val ckpt = TestSpark.tempDir("graft-ckpt-x31").toString
    val opts = Map("maxFilesPerTrigger" -> "1")
    def resolve(upserts: org.apache.spark.sql.DataFrame) = {
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("batch_id").desc)
      upserts.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1 && col("last_type") =!= "error")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3), r.getLong(4)))
    }
    def run(sink: String, ckptLoc: Option[String], clear: Boolean) =
      StreamingSessionize.runToCompletion(spark, watched.getAbsolutePath,
        StreamingSessionize.streamCdcApply, "update", sink, opts,
        "events*.parquet", tagBatchId = true, checkpointLoc = ckptLoc,
        clearSink = clear)

    stage(watched, slices.take(2), 0)
    val phase1 = run("x31-restart", Some(ckpt), clear = true)
    val phase1MaxBatch = phase1.agg(expr("max(batch_id)")).collect().head.getLong(0)

    stage(watched, slices.drop(2), 2)
    val resumedDf = run("x31-restart", Some(ckpt), clear = false)
    val resumed = resolve(resumedDf)

    val oneShot = resolve(run("x31-oneshot-r", None, clear = true))

    assert(resumed.nonEmpty, "test premise: some key survives compaction")
    // batch ids must CONTINUE across the restart — if they reset to 0 the
    // latest-per-key resolution would prefer stale pre-kill upserts
    val resumedMaxBatch = resumedDf.agg(expr("max(batch_id)")).collect().head.getLong(0)
    assert(resumedMaxBatch > phase1MaxBatch,
      s"batch ids must continue from the checkpoint ($phase1MaxBatch -> $resumedMaxBatch)")
    // the resolved table equals the uninterrupted run's: per-key running
    // max and change COUNT both restored (a count that restarted from zero
    // would disagree on n_changes)
    assert(resumed.toSet == oneShot.toSet,
      "resumed CDC state diverges from the uninterrupted run")
  }
}
