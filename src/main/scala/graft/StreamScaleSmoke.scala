package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.{StreamFunnel, StreamIslands, StreamPaths, StreamTwa, StreamingSessionize}

/** Forward-scaling smoke for the STREAMING family — the batch ScaleSmoke's
  * missing twin (VERDICT r10 item 1). The correctness gate replays ONE
  * parquet file as ONE microbatch, so no gate row ever measures what a
  * live job pays: per-trigger overhead, cross-trigger state growth, and
  * watermark-driven eviction. This tool replicates events `factor`×,
  * writes the result as `slices` TIME-CONTIGUOUS files with strictly
  * increasing modtimes, and replays each selected query with
  * `maxFilesPerTrigger=1` — `slices` real watermark-advancing triggers —
  * while a [[StreamingQueryListener]] records per-trigger input rows,
  * trigger wall, and state-store rows. The headline readouts per query:
  * total wall, rows/s, trigger count, MAX state rows (the number that
  * must stay bounded as the corpus grows), and max single-trigger wall.
  *
  * Replication shapes (each the matching batch-ScaleSmoke discipline):
  *  - generic events (x25/x27/x28/x19a/x24a, and the join/session family
  *    x3/x8/x13/x11): user_id AND event_id re-keyed → `factor` disjoint
  *    user populations on the SAME time axis. Type-keyed state (x25/x27)
  *    sees `factor`× the per-type series depth — the buffer stress;
  *    user/hour-keyed state (x28/x19a/x24a) sees `factor`× the key
  *    domain — the eviction stress; two-sided join state (x3/x8/x13) and
  *    fMGWS session state (x11) see `factor`× the concurrent key
  *    population inside the watermark horizon — the memory-ceiling
  *    stress a live join pipeline hits first.
  *  - PIT events (x26): event_id only re-keyed, user keys intact, the
  *    customer dimension copied FIXED — q64's facts-grow-dims-don't shape,
  *    so the broadcast probe rate is the original's at `factor`× volume.
  *  - documents (x17a): the batch ScaleSmoke replica-prefix discipline
  *    (volume-pure; replica tokens are prefixed so no cross-replica
  *    structure appears). The static benchmark index is built from the
  *    BASE corpus, so the intersect probes are full-cost but hit-free —
  *    throughput is measured, verdict rates are the gate's concern.
  *
  * Usage: runMain graft.StreamScaleSmoke [baseSfDir] [factor] [slices] [q,...]
  * Prints one JSON line: {"metric":"stream_scale_smoke",...,"queries":{...}}.
  */
object StreamScaleSmoke {

  /** Per-run progress capture. Listener events post asynchronously; the
    * harness sleeps briefly after each query before reading. */
  private final class Capture extends StreamingQueryListener {
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      // numRowsTotal counts state KEYS; for the buffered-value operators
      // (x25/x27/x28 hold a per-key seq inside one value) memoryUsedBytes
      // is the buffer-depth signal
      val stateRows = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      val stateBytes = Option(p.stateOperators).map(_.map(_.memoryUsedBytes).sum).getOrElse(0L)
      val wall = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
      triggers.add((p.numInputRows, wall, stateRows, stateBytes)): Unit
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factor = if (args.length > 1) args(1).toInt else 100
    val slices = if (args.length > 2) args(2).toInt else 16
    val names = (if (args.length > 3) args(3) else
      "x25_stream_twa,x29_stream_twa_sharded,x27_stream_islands,x28_stream_paths,x19a_topk_append,x24a_kmv_append,x26_stream_pit_enrich,x17a_decontam_stateless,x3_stream_interval_join,x8_stream_left_join,x13_stream_full_outer,x11_stream_funnel")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.start()

    /** Write `df` as `slices` files keyed by contiguous ranges of `cutCol`
      * (event time for watermarked streams, doc_id for stateless doc
      * streams), in range order with strictly increasing modtimes, so a
      * maxFilesPerTrigger=1 replay delivers them as that many
      * watermark-advancing triggers. Boundaries are exact distinct
      * percentiles — no global sort. */
    def writeSliced(df: DataFrame, cutCol: org.apache.spark.sql.Column,
        dir: java.io.File, nSlices: Int = slices,
        // seq(i) = the file INDEX (name suffix + modtime rank) of slice i —
        // lets x35 interleave per-generation slice runs into one arrival
        // order; identity for every single-schema stage
        seq: Int => Int = identity): Unit = {
      val frame = df.withColumn("_cut", cutCol).localCheckpoint()
      val qs = (1 until nSlices).map(_.toDouble / nSlices)
      val bounds = frame.stat
        .approxQuantile("_cut", qs.toArray, 0.001).distinct.sorted
      val ranges = (Double.MinValue +: bounds) :+ Double.MaxValue
      for (i <- 0 until ranges.length - 1) {
        val sd = new java.io.File(dir, s"slice${seq(i)}")
        frame.filter(col("_cut") >= ranges(i) && col("_cut") < ranges(i + 1))
          .drop("_cut").coalesce(1)
          .write.parquet(sd.getAbsolutePath)
        val part = sd.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir, s"events${seq(i)}.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(1700000000000L + seq(i) * 60000L))
      }
      frame.unpersist(): Unit
    }

    def replicate(df: DataFrame, rekey: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => rekey(df, i)).reduce(_ unionAll _)

    // raw events, schema preserved (NTZ micros ts — the streaming reader's
    // declared schema; the spec's timeSlicedDir discipline)
    lazy val rawEvents = spark.read.parquet(s"$base/events.parquet")
    lazy val msCol = expr("unix_millis(CAST(ts AS TIMESTAMP))").cast("double")

    val needGeneric = names.exists(n => Set("x25_stream_twa",
      "x29_stream_twa_sharded", "x27_stream_islands", "x28_stream_paths",
      "x19a_topk_append", "x24a_kmv_append", "x3_stream_interval_join",
      "x8_stream_left_join", "x13_stream_full_outer",
      "x11_stream_funnel", "x30_stream_asof_nearest",
      "x31_stream_cdc_apply", "x33_stream_dedup_bounded",
      "x36_stream_quantile").contains(n))
    val needPit = names.contains("x26_stream_pit_enrich")
    val needDocs = names.exists(n => n == "x17a_decontam_stateless" ||
      n == "x37_stream_weighted_sample")
    val needMalformed = names.contains("x32_stream_malformed_audit")

    lazy val dirGeneric = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-ev").toFile
      writeSliced(replicate(rawEvents, (e, i) =>
        e.withColumn("user_id", col("user_id") * factor + i)
          .withColumn("event_id", col("event_id") * factor + i)), msCol, d)
      d.getAbsolutePath
    }
    lazy val dirPit = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-pit").toFile
      writeSliced(replicate(rawEvents, (e, i) =>
        e.withColumn("event_id", col("event_id") * factor + i)), msCol, d)
      spark.read.parquet(s"$base/customer.parquet")
        .write.parquet(s"${d.getAbsolutePath}/customer.parquet")
      d.getAbsolutePath
    }
    lazy val dirDocs = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-doc").toFile
      val docs = spark.read.parquet(s"$base/documents.parquet")
      writeSliced(replicate(docs, (dd, i) =>
        dd.withColumn("doc_id", col("doc_id") * factor + i)
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))
          .withColumn("n_chars", length(col("text")).cast("long"))),
        col("doc_id").cast("double"), d)
      d.getAbsolutePath
    }

    // x32's corrupted-payload stream: replicate docs on re-keyed doc_id
    // (volume-pure for an audit that keys on nothing), apply t38's tear
    // rule, slice by doc_id — each trigger carries a mix of torn and
    // well-formed lines, exactly the crawl-feed arrival shape
    lazy val dirMalformed = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-mal").toFile
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val payload = replicate(docs, (dd, i) =>
        dd.withColumn("doc_id", col("doc_id") * factor + i))
        .withColumn("js", to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))))
        .select(
          when(col("doc_id") % 7 === 3,
            expr("substr(js, 1, greatest(length(js) div 2, 1))"))
            .otherwise(col("js")).as("value"),
          col("doc_id"))
      writeSliced(payload, col("doc_id").cast("double"), d)
      d.getAbsolutePath
    }

    // x34's encoding-health stream: VOLUME-PURE doc replication in the
    // repo's established sense — each replica re-keys doc_id AND rewrites
    // its text with an r{i}_ token prefix (ScaleSmoke's documents rule,
    // ADVICE r14: key-only replication would stream byte-identical text
    // N×), then t42's decomposed-suffix injection, sliced by doc_id —
    // each trigger carries a mix of NFC and non-NFC docs, the crawl-feed
    // arrival shape
    lazy val dirUnicode = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-nfc").toFile
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val payload = replicate(docs, (dd, i) =>
        dd.withColumn("doc_id", col("doc_id") * factor + i)
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")))
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 13 === 5,
            concat(col("text"), lit(" cafe\u0301")))
            .otherwise(col("text")).as("text"))
      writeSliced(payload, col("doc_id").cast("double"), d)
      d.getAbsolutePath
    }

    // x35's schema-drift stream: three schema GENERATIONS (baseline /
    // +quality / lang renamed), each volume-pure-replicated and sliced,
    // with the generations' slice runs INTERLEAVED in arrival order —
    // every trigger window sees drifted and conforming shards mixed, the
    // mid-stream-drift shape the superset contract exists for
    lazy val dirDrift = {
      val d = java.nio.file.Files.createTempDirectory("graft-ssm-drift").toFile
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val rep = replicate(docs, (dd, i) =>
        dd.withColumn("doc_id", col("doc_id") * factor + i)
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")))
      val per = math.max(slices / 3, 1)
      val gens = Seq(
        rep.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars")),
        rep.filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"), (col("n_chars") % 100).as("quality")),
        rep.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("text"), col("lang").as("language"),
            col("source"), col("n_chars")))
      gens.zipWithIndex.foreach { case (g, gi) =>
        writeSliced(g, col("doc_id").cast("double"), d, nSlices = per,
          seq = i => i * 3 + gi)
      }
      d.getAbsolutePath
    }

    val mb = Map("maxFilesPerTrigger" -> "1")
    // each entry: () => the fully-consumed run (runToCompletion + force)
    def run(dir: String, transform: DataFrame => DataFrame,
        sink: String, sinkTransform: DataFrame => DataFrame = identity,
        schema: org.apache.spark.sql.types.StructType = null): Unit = {
      val out =
        if (schema == null)
          StreamingSessionize.runToCompletion(spark, dir, transform,
            outputMode = "append", sinkName = sink, sourceOptions = mb,
            sourceGlob = "events*.parquet", sinkTransform = sinkTransform)
        else
          StreamingSessionize.runToCompletion(spark, dir, transform,
            outputMode = "append", sinkName = sink, sourceOptions = mb,
            sourceGlob = "events*.parquet", sourceSchema = schema,
            sinkTransform = sinkTransform)
      out.write.format("noop").mode("overwrite").save()
    }
    val runs: Map[String, () => Unit] = Map(
      "x25_stream_twa" -> (() => run(dirGeneric, StreamTwa.transform, "ssm-x25")),
      // the sharded twin runs through its own wrapper (it scopes the
      // multi-watermark policy + chained-stateful check overrides)
      "x29_stream_twa_sharded" -> (() =>
        graft.streaming.StreamTwaSharded.runToCompletion(spark, dirGeneric,
            "ssm-x29", mb, "events*.parquet")
          .write.format("noop").mode("overwrite").save()),
      "x27_stream_islands" -> (() => run(dirGeneric, StreamIslands.transform, "ssm-x27")),
      "x28_stream_paths" -> (() => run(dirGeneric, StreamPaths.transform, "ssm-x28")),
      "x19a_topk_append" -> (() =>
        run(dirGeneric, StreamingSessionize.hourlyUserCounts(_), "ssm-x19a",
          sinkTransform = StreamingSessionize.topkProjection)),
      "x24a_kmv_append" -> (() =>
        run(dirGeneric, StreamingSessionize.hourlyKmvHashes(_), "ssm-x24a",
          sinkTransform = StreamingSessionize.kmvHourProjection)),
      // the stream-stream JOIN family (VERDICT r11 item 1): two-sided
      // buffered state with per-side eviction clocks — join state must
      // track the WATERMARK HORIZON (views/clicks within the 1 h delay +
      // 30 min lookback), not the corpus: the replicated run holds
      // factor× the per-slice key population but the same time axis, so
      // max_state_rows is the standing answer to a bench-wobble
      // adjudication (r11's x13 episode)
      "x3_stream_interval_join" -> (() =>
        run(dirGeneric, StreamingSessionize.clickViewJoin, "ssm-x3")),
      "x8_stream_left_join" -> (() =>
        run(dirGeneric, StreamingSessionize.clickViewLeftJoin, "ssm-x8")),
      "x13_stream_full_outer" -> (() =>
        run(dirGeneric, StreamingSessionize.clickViewFullJoin, "ssm-x13")),
      // fMGWS session state: four longs per ACTIVE (non-quiesced) user;
      // timeout eviction means state tracks the active-user horizon
      "x11_stream_funnel" -> (() =>
        run(dirGeneric, StreamFunnel.transform, "ssm-x11")),
      // bidirectional asof buffer: state tracks the 2W + delay horizon
      // per user, decided purchases leave at emission
      "x30_stream_asof_nearest" -> (() =>
        run(dirGeneric, graft.streaming.StreamAsof.transform, "ssm-x30")),
      // watermark-evicted dedup: max_state_rows reads the HORIZON's key
      // population, not the stream's — the measured answer to x4's
      // keys-forever caveat
      "x33_stream_dedup_bounded" -> (() =>
        run(dirGeneric, StreamingSessionize.streamDedupBounded(_), "ssm-x33")),
      // CDC materialization: state is one row per live key BY DESIGN —
      // the readout quantifies the maintained-table cost, not a leak
      "x31_stream_cdc_apply" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirGeneric,
            StreamingSessionize.streamCdcApply, outputMode = "update",
            sinkName = "ssm-x31", sourceOptions = mb,
            sourceGlob = "events*.parquet", tagBatchId = true)
          .write.format("noop").mode("overwrite").save()
      }),
      "x26_stream_pit_enrich" -> (() =>
        run(dirPit, StreamingSessionize.pitEnrich(spark, dirPit), "ssm-x26")),
      // live quantile sketch: state is the QuantileSampleAgg buffer —
      // ≤512 (hv, value) pairs per type at ANY volume; the readout
      // proves the dashboard's state never tracks the stream
      "x36_stream_quantile" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirGeneric,
            StreamingSessionize.quantileLive, outputMode = "complete",
            sinkName = "ssm-x36", sourceOptions = mb,
            sourceGlob = "events*.parquet",
            sinkTransform = StreamingSessionize.quantileCuts)
          .write.format("noop").mode("overwrite").save()
      }),
      // live weighted sample: state is the TopKAgg buffer — ≤50 payload
      // structs per language at ANY volume; the readout proves the
      // manifest's state never tracks the stream (x36's argument on the
      // sampling axis)
      "x37_stream_weighted_sample" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirDocs,
            StreamingSessionize.weightedSampleLive, outputMode = "complete",
            sinkName = "ssm-x37", sourceOptions = mb,
            sourceGlob = "events*.parquet",
            sourceSchema = StreamingSessionize.docSchema,
            sinkTransform = StreamingSessionize.weightedSampleRank)
          .write.format("noop").mode("overwrite").save()
      }),
      // ingest-health totals: state is ONE 5-long row at any volume —
      // the readout proves the audit adds no per-record state
      "x32_stream_malformed_audit" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirMalformed,
            StreamingSessionize.malformedAudit, outputMode = "complete",
            sinkName = "ssm-x32", sourceOptions = mb,
            sourceGlob = "events*.parquet",
            sourceSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("value",
                org.apache.spark.sql.types.StringType))))
          .write.format("noop").mode("overwrite").save()
      }),
      "x17a_decontam_stateless" -> (() =>
        run(dirDocs, StreamingSessionize.statelessDecontam(spark, base),
          "ssm-x17a", schema = StreamingSessionize.docSchema)),
      // encoding-health totals: state is |sources| 4-long rows at any
      // volume — the NFC projection adds no per-record state
      // schema-drift conformance: state is |classes| (= 3) 5-long rows
      // at any volume — classification adds no per-record state
      "x35_stream_schema_drift" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirDrift,
            StreamingSessionize.schemaDriftAudit, outputMode = "complete",
            sinkName = "ssm-x35", sourceOptions = mb,
            sourceGlob = "events*.parquet",
            sourceSchema = StreamingSessionize.driftSupersetSchema)
          .write.format("noop").mode("overwrite").save()
      }),
      "x34_stream_unicode_audit" -> (() => {
        StreamingSessionize.runToCompletion(spark, dirUnicode,
            StreamingSessionize.unicodeAudit, outputMode = "complete",
            sinkName = "ssm-x34", sourceOptions = mb,
            sourceGlob = "events*.parquet",
            sourceSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("source",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType))))
          .write.format("noop").mode("overwrite").save()
      }))

    // force corpus preparation OUTSIDE the timed windows: the dirs are
    // lazy, and dereferencing one inside runs(name)() would bill the
    // first query of each family minutes of batch replication + parquet
    // writes (code-review r11: x25's rows_per_s was deflated vs x27/x28,
    // which reused the already-built dir)
    if (needGeneric) { dirGeneric: Unit }
    if (needPit) { dirPit: Unit }
    if (needDocs) { dirDocs: Unit }
    if (needMalformed) { dirMalformed: Unit }
    if (names.contains("x34_stream_unicode_audit")) { dirUnicode: Unit }
    if (names.contains("x35_stream_schema_drift")) { dirDrift: Unit }

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      val cap = new Capture
      spark.streams.addListener(cap)
      val t0 = System.nanoTime()
      val wall = try { runs(name)(); (System.nanoTime() - t0) / 1e9 }
      finally {
        // wall is captured BEFORE this drain: the listener posts
        // asynchronously, but the query itself has already completed.
        // Drain by polling until the captured trigger count is stable
        // across two consecutive 250 ms checks (ADVICE r11: a fixed
        // sleep can under-count late-posting events on a loaded host),
        // with a 15 s ceiling so a wedged bus can't hang the harness.
        var prev = -1
        var stable = 0
        var waited = 0
        while (stable < 2 && waited < 15000) {
          Thread.sleep(250); waited += 250
          val n = cap.triggers.size
          if (n == prev) stable += 1 else { stable = 0; prev = n }
        }
        spark.streams.removeListener(cap)
      }
      import scala.jdk.CollectionConverters._
      val ts = cap.triggers.asScala.toSeq
      val rowsIn = ts.map(_._1).sum
      // ALL triggers, including the zero-input timer-driven flush batches
      // at the watermark tail — they are real per-trigger work
      val nTrig = ts.size
      val maxState = if (ts.isEmpty) 0L else ts.map(_._3).max
      val maxStateKb = if (ts.isEmpty) 0L else ts.map(_._4).max / 1024
      val maxTrigS = if (ts.isEmpty) 0.0 else ts.map(_._2).max / 1e3
      // Locale.ROOT explicitly: these strings are persisted into the
      // committed STREAMSCALE_FULL.json via SmokeArtifact.merge, and a
      // default-locale f"%.2f" on a comma-decimal JVM would write invalid
      // JSON — the same defect class Bench.scala fixed (ADVICE r12/r13).
      results(name) = String.format(java.util.Locale.ROOT,
        """{"wall_s":%.2f,"rows_in":%d,"rows_per_s":%.0f,"n_triggers":%d,"max_state_rows":%d,"max_state_kb":%d,"max_trigger_s":%.2f}""",
        Double.box(wall), Long.box(rowsIn), Double.box(rowsIn / wall),
        Int.box(nTrig), Long.box(maxState), Long.box(maxStateKb),
        Double.box(maxTrigS))
    }
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_scale_smoke","factor":$factor,"slices":$slices,"base":"$base","queries":$qs}""")
    // persist as a committed, diffable artifact keyed query@factor
    // (VERDICT r12 item 6) — accumulates across per-family invocations
    SmokeArtifact.merge(
      sys.env.getOrElse("SPARK_GRAFT_STREAMSCALE_OUT", "STREAMSCALE_FULL.json"),
      results.toSeq.map { case (k, v) =>
        val stats = v.stripPrefix("{")
        s"$k@${factor}x" ->
          s"""{"slices":$slices,"base":"$base",$stats""" })
    spark.stop()
  }
}
