package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType

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

  /** A replayed query: its staged corpus (built on first call) and one
    * fully-consumed replay of it. */
  private final case class Replay(corpus: () => String, run: String => Unit)

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factor = if (args.length > 1) args(1).toInt else 100
    val slices = if (args.length > 2) args(2).toInt else 16
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
      // one slice has no inner boundary (approxQuantile throws on an
      // empty probability list)
      val qs = (1 until nSlices).map(_.toDouble / nSlices)
      val bounds = if (qs.isEmpty) Array.empty[Double] else frame.stat
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

    import ScaleSmoke.{disjointUsers, factsOnly, offsetKeys, replicate, volumePureDocs}
    // every replicated corpus is staged under the one temp root, which a
    // shutdown hook deletes
    def stage(tag: String)(fill: java.io.File => Unit): String = {
      val d = new java.io.File(TempRoot.stageDir(base, tag))
      d.mkdirs()
      fill(d)
      d.getAbsolutePath
    }

    // raw events, schema preserved (NTZ micros ts — the streaming reader's
    // declared schema; the spec's timeSlicedDir discipline)
    lazy val rawEvents = spark.read.parquet(s"$base/events.parquet")
    lazy val msCol = expr("unix_millis(CAST(ts AS TIMESTAMP))").cast("double")
    lazy val docs = spark.read.parquet(s"$base/documents.parquet")
    val byDocId = col("doc_id").cast("double")

    lazy val dirGeneric = stage("ssm-ev")(writeSliced(
      replicate(rawEvents, factor)(disjointUsers(factor)), msCol, _))
    lazy val dirPit = stage("ssm-pit") { d =>
      writeSliced(replicate(rawEvents, factor)(factsOnly(factor)), msCol, d)
      spark.read.parquet(s"$base/customer.parquet")
        .write.parquet(s"${d.getAbsolutePath}/customer.parquet")
    }
    lazy val dirDocs = stage("ssm-doc")(writeSliced(
      replicate(docs, factor)(volumePureDocs(factor)), byDocId, _))

    // x32's corrupted-payload stream: replicate docs on re-keyed doc_id
    // (volume-pure for an audit that keys on nothing), apply t38's tear
    // rule, slice by doc_id — each trigger carries a mix of torn and
    // well-formed lines, exactly the crawl-feed arrival shape
    lazy val dirMalformed = stage("ssm-mal")(writeSliced(
      replicate(docs, factor)(offsetKeys(factor, "doc_id"))
        .withColumn("js", to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))))
        .select(
          when(col("doc_id") % 7 === 3,
            expr("substr(js, 1, greatest(length(js) div 2, 1))"))
            .otherwise(col("js")).as("value"),
          col("doc_id")), byDocId, _))

    // x34's encoding-health stream: volume-pure doc replication (key-only
    // replication would stream byte-identical text N×, ADVICE r14), then
    // t42's decomposed-suffix injection, sliced by doc_id — each trigger
    // carries a mix of NFC and non-NFC docs, the crawl-feed arrival shape
    lazy val dirUnicode = stage("ssm-nfc")(writeSliced(
      replicate(docs, factor)(volumePureDocs(factor))
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 13 === 5,
            concat(col("text"), lit(" cafe\u0301")))
            .otherwise(col("text")).as("text")), byDocId, _))

    // x35's schema-drift stream: three schema GENERATIONS (baseline /
    // +quality / lang renamed), each volume-pure-replicated and sliced,
    // with the generations' slice runs INTERLEAVED in arrival order —
    // every trigger window sees drifted and conforming shards mixed, the
    // mid-stream-drift shape the superset contract exists for
    lazy val dirDrift = stage("ssm-drift") { d =>
      val rep = replicate(docs, factor)(volumePureDocs(factor))
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
        writeSliced(g, byDocId, d, nSlices = per, seq = i => i * 3 + gi)
      }
    }

    val mb = Map("maxFilesPerTrigger" -> "1")
    /** One replay of the staged `dir` through `transform`, to completion
      * (runToCompletion + a noop force). */
    def run(transform: DataFrame => DataFrame, sink: String,
        outputMode: String = "append",
        schema: StructType = StreamingSessionize.rawSchema,
        sinkTransform: DataFrame => DataFrame = identity,
        tagBatchId: Boolean = false)(dir: String): Unit =
      StreamingSessionize.runToCompletion(spark, dir, transform,
          outputMode = outputMode, sinkName = sink, sourceOptions = mb,
          sourceGlob = "events*.parquet", sourceSchema = schema,
          sinkTransform = sinkTransform, tagBatchId = tagBatchId)
        .write.format("noop").mode("overwrite").save()
    val ev = () => dirGeneric
    val docsDir = () => dirDocs
    val runs: Map[String, Replay] = Map(
      "x25_stream_twa" -> Replay(ev, run(StreamTwa.transform, "ssm-x25")),
      // the sharded twin runs through its own wrapper (it scopes the
      // multi-watermark policy + chained-stateful check overrides)
      "x29_stream_twa_sharded" -> Replay(ev, d =>
        graft.streaming.StreamTwaSharded.runToCompletion(spark, d,
            "ssm-x29", mb, "events*.parquet")
          .write.format("noop").mode("overwrite").save()),
      "x27_stream_islands" -> Replay(ev, run(StreamIslands.transform, "ssm-x27")),
      "x28_stream_paths" -> Replay(ev, run(StreamPaths.transform, "ssm-x28")),
      "x19a_topk_append" -> Replay(ev,
        run(StreamingSessionize.hourlyUserCounts(_), "ssm-x19a",
          sinkTransform = StreamingSessionize.topkProjection)),
      "x24a_kmv_append" -> Replay(ev,
        run(StreamingSessionize.hourlyKmvHashes(_), "ssm-x24a",
          sinkTransform = StreamingSessionize.kmvHourProjection)),
      // the stream-stream JOIN family (VERDICT r11 item 1): two-sided
      // buffered state with per-side eviction clocks — join state must
      // track the WATERMARK HORIZON (views/clicks within the 1 h delay +
      // 30 min lookback), not the corpus: the replicated run holds
      // factor× the per-slice key population but the same time axis, so
      // max_state_rows is the standing answer to a bench-wobble
      // adjudication (r11's x13 episode)
      "x3_stream_interval_join" -> Replay(ev,
        run(StreamingSessionize.clickViewJoin, "ssm-x3")),
      "x8_stream_left_join" -> Replay(ev,
        run(StreamingSessionize.clickViewLeftJoin, "ssm-x8")),
      "x13_stream_full_outer" -> Replay(ev,
        run(StreamingSessionize.clickViewFullJoin, "ssm-x13")),
      // fMGWS session state: four longs per ACTIVE (non-quiesced) user;
      // timeout eviction means state tracks the active-user horizon
      "x11_stream_funnel" -> Replay(ev, run(StreamFunnel.transform, "ssm-x11")),
      // bidirectional asof buffer: state tracks the 2W + delay horizon
      // per user, decided purchases leave at emission
      "x30_stream_asof_nearest" -> Replay(ev,
        run(graft.streaming.StreamAsof.transform, "ssm-x30")),
      // watermark-evicted dedup: max_state_rows reads the HORIZON's key
      // population, not the stream's — the measured answer to x4's
      // keys-forever caveat
      "x33_stream_dedup_bounded" -> Replay(ev,
        run(StreamingSessionize.streamDedupBounded(_), "ssm-x33")),
      // CDC materialization: state is one row per live key BY DESIGN —
      // the readout quantifies the maintained-table cost, not a leak
      "x31_stream_cdc_apply" -> Replay(ev,
        run(StreamingSessionize.streamCdcApply, "ssm-x31",
          outputMode = "update", tagBatchId = true)),
      "x26_stream_pit_enrich" -> Replay(() => dirPit, d =>
        run(StreamingSessionize.pitEnrich(spark, d), "ssm-x26")(d)),
      // live quantile sketch: state is the QuantileSampleAgg buffer —
      // ≤512 (hv, value) pairs per type at ANY volume; the readout
      // proves the dashboard's state never tracks the stream
      "x36_stream_quantile" -> Replay(ev,
        run(StreamingSessionize.quantileLive, "ssm-x36",
          outputMode = "complete",
          sinkTransform = StreamingSessionize.quantileCuts)),
      // live weighted sample: state is the TopKAgg buffer — ≤50 payload
      // structs per language at ANY volume; the readout proves the
      // manifest's state never tracks the stream (x36's argument on the
      // sampling axis)
      "x37_stream_weighted_sample" -> Replay(docsDir,
        run(StreamingSessionize.weightedSampleLive, "ssm-x37",
          outputMode = "complete", schema = StreamingSessionize.docSchema,
          sinkTransform = StreamingSessionize.weightedSampleRank)),
      // ingest-health totals: state is ONE 5-long row at any volume —
      // the readout proves the audit adds no per-record state
      "x32_stream_malformed_audit" -> Replay(() => dirMalformed,
        run(StreamingSessionize.malformedAudit, "ssm-x32",
          outputMode = "complete", schema = StructType.fromDDL("value STRING"))),
      "x17a_decontam_stateless" -> Replay(docsDir,
        run(StreamingSessionize.statelessDecontam(spark, base), "ssm-x17a",
          schema = StreamingSessionize.docSchema)),
      // schema-drift conformance: state is |classes| (= 3) 5-long rows
      // at any volume — classification adds no per-record state
      "x35_stream_schema_drift" -> Replay(() => dirDrift,
        run(StreamingSessionize.schemaDriftAudit, "ssm-x35",
          outputMode = "complete",
          schema = StreamingSessionize.driftSupersetSchema)),
      // encoding-health totals: state is |sources| 4-long rows at any
      // volume — the NFC projection adds no per-record state
      "x34_stream_unicode_audit" -> Replay(() => dirUnicode,
        run(StreamingSessionize.unicodeAudit, "ssm-x34",
          outputMode = "complete",
          schema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING"))))

    val names = SparkEntry.select(Some(args.lift(3).getOrElse(
      "x25_stream_twa,x29_stream_twa_sharded,x27_stream_islands,x28_stream_paths,x19a_topk_append,x24a_kmv_append,x26_stream_pit_enrich,x17a_decontam_stateless,x3_stream_interval_join,x8_stream_left_join,x13_stream_full_outer,x11_stream_funnel")),
      runs.keys)
    // force corpus preparation OUTSIDE the timed windows: the dirs are
    // lazy, and dereferencing one inside the timed replay would bill the
    // first query of each family minutes of batch replication + parquet
    // writes (code-review r11: x25's rows_per_s was deflated vs x27/x28,
    // which reused the already-built dir)
    names.foreach(runs(_).corpus())

    val results = scala.collection.mutable.LinkedHashMap[String, ListMap[String, Any]]()
    names.foreach { name =>
      val Replay(corpus, replay) = runs(name)
      val dir = corpus()
      val cap = new Capture
      spark.streams.addListener(cap)
      val t0 = System.nanoTime()
      val wall = try { replay(dir); (System.nanoTime() - t0) / 1e9 }
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
      results(name) = ListMap("wall_s" -> Bench.fixed(wall, 2),
        "rows_in" -> rowsIn, "rows_per_s" -> Bench.fixed(rowsIn / wall, 0),
        "n_triggers" -> nTrig, "max_state_rows" -> maxState,
        "max_state_kb" -> maxStateKb, "max_trigger_s" -> Bench.fixed(maxTrigS, 2))
    }
    println(Bench.json.writeValueAsString(ListMap(
      "metric" -> "stream_scale_smoke", "factor" -> factor,
      "slices" -> slices, "base" -> base, "queries" -> results)))
    // persist as a committed, diffable artifact keyed query@factor
    // (VERDICT r12 item 6) — accumulates across per-family invocations
    SmokeArtifact.merge(
      sys.env.getOrElse("SPARK_GRAFT_STREAMSCALE_OUT", "STREAMSCALE_FULL.json"),
      results.toSeq.map { case (k, v) =>
        s"$k@${factor}x" -> Bench.json.writeValueAsString(
          ListMap("slices" -> slices, "base" -> base) ++ v) })
    spark.stop()
  }
}
