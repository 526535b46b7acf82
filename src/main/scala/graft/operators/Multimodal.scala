package graft.operators

import graft.GraftCkpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata (builder brief).
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * deterministic STUB — features are derived from md5 of the payload bytes,
  * clearly marked below. What IS real and verified end-to-end is the
  * Spark-side plumbing a media pipeline needs: the binary column schema, the
  * metadata projection (m1), the per-item feature-vector extraction shape
  * (m2: one fixed-width row out per item, narrow, codegen'd), and the
  * frame-sampling fan-out shape (m3: one row per frame via a generator, the
  * exact plan shape a video frame-sampler produces).
  *
  * `documents.text` stands in for the payload (cast to binary); at 100 TB the
  * payload column is real bytes and every plan here is unchanged: m1/m2 are
  * narrow projections that never shuffle, m3 is a generator whose output is
  * partitioned by the source split. See also graft.operators.MediaPipeline
  * (typed Dataset/mapPartitions decode-stub API, exercised in tests).
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** hex-char → int in portable SQL (identical in Spark and DuckDB). */
  private def hexVal(e: String): String =
    s"(instr('0123456789abcdef', $e) - 1)"

  /** STUB decode: feature i = 16-bit int from hex chars [4i+1 .. 4i+4] of
    * md5(payload). A real decoder would emit image/audio features here; the
    * plan shape (fixed-width numeric row per item) is what's being built. */
  private def featureSql(i: Int): String =
    (0 until 4).map { j =>
      val c = hexVal(s"substr(md5(text), ${4 * i + j + 1}, 1)")
      s"$c * ${1L << (4 * (3 - j))}"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  private val numFeatures = 8

  /** m5: feature codes with more members than this are dropped whole
    * (identical-boilerplate payloads; same policy as Dedup's LSH buckets). */
  private val maxCodeBucket = 100

  /** The payload sliced into fixed 32-byte frames (m3's sampler, factored
    * so m9's overlap join consumes the same frames). The empty-payload
    * guard matters: Spark sequence(1, 0) is the DESCENDING [1, 0], not
    * empty like DuckDB generate_series(1, 0). */
  private val frameArraySql: String =
    "CASE WHEN n_chars > 0 THEN " +
      "transform(sequence(1, CAST((n_chars + 31) DIV 32 AS INT)), " +
      "i -> substr(text, (i-1)*32 + 1, 32)) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END"

  /** Per-frame scene-run table (doc_id, frame_no, fm, run_id) — m10's
    * lag-based run segmentation over the frame digests, factored so the
    * run rollup (m10) and the keyframe pick (m12) read ONE spelling. */
  private def frameRuns(d: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_no")
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    d.select(col("doc_id"), posexplode(expr(frameArraySql)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("frame_no"),
        md5(col("col")).as("fm"))
      .withColumn("new_run",
        when(lag("fm", 1).over(w).isNull
          || col("fm") =!= lag("fm", 1).over(w), 1L).otherwise(0L))
      .withColumn("run_id", sum("new_run").over(cum))
  }

  /** m5's candidate pipeline (stub features → integer-exact two-threshold
    * quantizer → 16-bit codes → viral-code drop → hamming-1 probe
    * equi-join), factored so m8's corpus dedup consumes the same pairs.
    * TWO bits per feature — f ≥ mean (bit 2i) and f ≥ mean/2 (bit 2i+1),
    * both exact integer cross-multiplications — because a code space must
    * OUTSCALE the corpus for hamming-1 clustering to mean anything: 8
    * one-bit thresholds gave 256 codes, and at 500 docs every code was
    * occupied, the hamming-1 graph percolated, and the "near-dup" closure
    * swallowed the whole corpus (measured: m8 kept 1 of 500). At 16 bits
    * the space is 65k codes; identical payloads still collide exactly and
    * random items almost never sit within hamming 1. */
  private def mediaNeardupPairs(s: SparkSession, dir: String): DataFrame = {
    val f = docs(s, dir).select(
      col("doc_id") +:
        (0 until numFeatures).map(i => expr(featureSql(i)).as(s"f$i")): _*)
    val stats = f.agg(count(lit(1)).as("n"),
      (0 until numFeatures).map(i => sum(col(s"f$i")).as(s"t$i")): _*)
    val coded = f.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (0 until numFeatures).flatMap(i => Seq(
          when(col(s"f$i") * col("n") >= col(s"t$i"), lit(1L << (2 * i)))
            .otherwise(lit(0L)),
          when(col(s"f$i") * col("n") * 2 >= col(s"t$i"), lit(1L << (2 * i + 1)))
            .otherwise(lit(0L))))
          .reduce(_ + _).cast(LongType).as("code"))
    val okc = coded
      .withColumn("bsz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("code")))
      .filter(col("bsz") <= maxCodeBucket)
      .drop("bsz")
    val probes = okc.select(col("doc_id").as("d1"), col("code").as("c1"),
      explode(array(col("code") +:
        (0 until 2 * numFeatures).map(i =>
          col("code").bitwiseXOR(lit(1L << i))): _*)).as("probe"))
    probes.join(okc.select(col("doc_id").as("d2"), col("code").as("c2")),
        col("probe") === col("c2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("bit_count(c1 ^ c2)").cast(LongType).as("hamming"))
      .distinct()
  }

  val defs: Map[String, Q] = Map(
    // Typed metadata over an opaque binary payload: size, checksum, header.
    "m1_media_meta" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"),
          expr("CAST(octet_length(payload) AS BIGINT)").as("n_bytes"),
          md5(col("payload")).as("checksum"),
          hex(substring(col("text"), 1, 8).cast(BinaryType)).as("hdr_hex"))
    },

    // PAYLOAD INTEGRITY AUDIT — the object-store health check a 100 TB
    // media lake runs before training touches a byte: recompute each
    // arrived payload's digest/length and compare against the manifest
    // (here the same row carries both — at scale the manifest attaches by
    // one equi-join on the object id; the comparison plan is unchanged).
    // Two injected failure classes, t38's torn-input discipline on the
    // binary axis: TORN objects (doc_id % 9 == 4, payload truncated to
    // half — length AND digest fail, the partial-upload/range-read shape)
    // and BITROT (doc_id % 9 == 2, first byte flipped to '~' — digest
    // fails at intact length, the silent-corruption shape a length check
    // alone waves through). The operator COMPUTES the mismatches from
    // md5/length; only the oracle predicts them from the injection rule.
    // Per-source counts + intact byte mass; one scan, one tiny agg.
    "m13_payload_integrity" -> { (s, dir) =>
      val torn = col("doc_id") % 9 === 4 && col("n_chars") >= 2
      val rot = col("doc_id") % 9 === 2 && col("n_chars") >= 1 &&
        expr("substr(text, 1, 1)") =!= "~" // residues 2 and 4 are disjoint
      docs(s, dir)
        .select(col("source"), col("n_chars").as("decl_len"),
          md5(col("text")).as("decl_digest"),
          when(torn, expr("substr(text, 1, greatest(length(text) div 2, 1))"))
            .when(rot, concat(lit("~"), expr("substr(text, 2, length(text))")))
            .otherwise(col("text")).as("payload"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_objects"),
          sum(when(length(col("payload")).cast(LongType) =!= col("decl_len"),
            1L).otherwise(0L)).as("n_torn"),
          sum(when(md5(col("payload")) =!= col("decl_digest") &&
            length(col("payload")).cast(LongType) === col("decl_len"),
            1L).otherwise(0L)).as("n_bitrot"),
          sum(when(md5(col("payload")) === col("decl_digest"),
            col("decl_len")).otherwise(0L)).as("intact_bytes"))
    },

    // STUB feature extraction: 8 deterministic 16-bit features per payload.
    // Narrow projection, whole-stage codegen, zero shuffle.
    "m2_feature_stub" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id") +:
          (0 until numFeatures).map(i => expr(featureSql(i)).as(s"f$i")): _*)
    },

    // Frame sampling: one row per fixed-size frame of the payload (the video
    // frame-sampler plan shape: generator fan-out, partitioned by source
    // split). The empty-payload guard matters: Spark sequence(1, 0) is the
    // DESCENDING [1, 0], not empty like DuckDB generate_series(1, 0).
    "m3_frame_sample" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), posexplode(expr(frameArraySql)))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("frame_no"),
          md5(col("col")).as("frame_md5"))
    },

    // Scene-run analysis — the temporal structure readout over m3's
    // frames: consecutive identical frames collapse into runs (static
    // scenes, freeze frames, silence in an audio stream), and per item we
    // report frame count, run count, and the longest run — the
    // static-content detector that decides whether a "video" is really a
    // slideshow (and the m-axis twin of t15's repetition scoring). One
    // ordered window per item (lag + running sum — frame_no is the order,
    // so the state is one previous-frame digest), then two aggregates
    // riding the same doc_id partitioning. Nothing crosses items; payload
    // bytes never shuffle — only 32-byte frame digests.
    "m10_scene_runs" -> { (s, dir) =>
      frameRuns(docs(s, dir))
        .groupBy("doc_id", "run_id").agg(count(lit(1)).as("run_len"))
        .groupBy("doc_id")
        .agg(sum("run_len").cast(LongType).as("n_frames"),
          count(lit(1)).as("n_runs"),
          max("run_len").cast(LongType).as("max_run"))
    },

    // KEYFRAME selection — the consumer of m10's run segmentation: one
    // representative frame per scene run (its FIRST frame — deterministic,
    // and the earliest is the natural thumbnail/contact-sheet pick),
    // carrying the run's digest and length. The manifest a preview
    // generator or frame-level dedup index materializes INSTEAD of all
    // frames: output rows = runs (a freeze-frame heavy item collapses to
    // its few distinct scenes). Same factored frameRuns spelling as m10 —
    // the segmentation and its consumer cannot drift. All frames of a run
    // share fm by construction, so min(fm) IS the run's digest; payload
    // bytes never shuffle (32-byte digests + longs only).
    "m12_keyframe_pick" -> { (s, dir) =>
      frameRuns(docs(s, dir))
        .groupBy("doc_id", "run_id")
        .agg(min("frame_no").as("key_frame_no"),
          min("fm").as("frame_md5"),
          count(lit(1)).as("run_len"))
    },

    // Frame-overlap near-dup — the VIDEO twin of d20's containment dedup:
    // two media items are near-dups when they share many frame
    // fingerprints (a re-encode, a clip, a re-upload with an intro spliced
    // on — payload checksums (m6) and whole-item codes (m5) both miss
    // partial overlap; shared frames catch it). Candidates come from an
    // equi-self-join on the frame fingerprint — never all-pairs — with
    // d20's df cap on BOTH sides ([2, 64]: a frame in one item can't pair,
    // a boilerplate frame in thousands of items — color bars, silence —
    // is dropped whole, bounding any frame's pair contribution at
    // C(64, 2)). Containment = shared / min(frame counts), one double
    // division of exact longs, so a clip CONTAINED in a longer item still
    // scores 1.0. ONE frame pass (checkpointed) feeds the df cap, the
    // pair join, and the per-item frame counts; the payload table itself
    // never shuffles — only (item, 32-byte-frame-md5) rows do.
    "m9_frame_overlap" -> { (s, dir) =>
      val fr = docs(s, dir)
        .select(col("doc_id"), explode(expr(frameArraySql)).as("frame"))
        .select(col("doc_id"), md5(col("frame")).as("fm"))
        .distinct()
        .graftCkpt()
      val nf = fr.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      val ok = fr
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("fm")))
        .filter(col("df").between(2, 64))
        .select("doc_id", "fm")
      val pairs = ok.as("x").join(ok.as("y"),
          col("x.fm") === col("y.fm") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
      pairs
        .join(nf.select(col("doc_id").as("d1"), col("nf").as("n1")), "d1")
        .join(nf.select(col("doc_id").as("d2"), col("nf").as("n2")), "d2")
        .withColumn("containment",
          col("shared").cast(DoubleType) / least(col("n1"), col("n2")))
        .select("d1", "d2", "shared", "n1", "n2", "containment")
    },

    // Media near-dup — the multimodal twin of d6: quantize each payload's
    // feature vector to a compact 16-bit code (two integer-exact threshold
    // bits per feature — f ≥ mean and f ≥ mean/2, both spelled as exact
    // cross-multiplications because FP means don't cross-engine-compare)
    // from a ONE-ROW broadcast aggregate (the "train the quantizer" step:
    // at 100 TB it runs on a sample, same plan), then find pairs within
    // hamming distance 1 by EQUI-join (s2's multi-probe pattern), never
    // all-pairs. Viral codes (> 100 members — identical boilerplate
    // payloads) are dropped whole by a spillable window count, d3's bucket
    // hygiene. With the md5 stub features mostly exact payload dups
    // collide; a real decoder swaps in behind the same columns and near
    // payloads cluster. See mediaNeardupPairs for why 16 bits, not 8.
    "m5_media_neardup" -> { (s, dir) => mediaNeardupPairs(s, dir) },

    // The near-dup-deduped MEDIA corpus — d15's deliverable on the media
    // axis, closing the media dedup family (m6 = exact payloads, this =
    // perceptual near-dups): m5's hamming-≤1 pairs → the shared
    // hook+contract connected components → keep the best item per cluster
    // (most bytes, ties to lowest id — m6's keep rule) → anti-join the
    // losers out of the payload table. The keep-best window runs over
    // CLUSTERED items only; payload-bearing rows move exactly once,
    // through the final doc_id anti-join (the d15 posture).
    "m8_media_neardup_corpus" -> { (s, dir) =>
      val m = docs(s, dir)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"), md5(col("payload")).as("checksum"),
          expr("CAST(octet_length(payload) AS BIGINT)").as("n_bytes"))
      val cl = graft.operators.Components
        .minLabel(mediaNeardupPairs(s, dir).select("d1", "d2"))
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("n_bytes").desc, col("doc_id"))
      val losers = cl.join(m.select("doc_id", "n_bytes"), "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1)
        .select("doc_id")
      m.join(losers, Seq("doc_id"), "left_anti")
    },

    // STUB resize: the remaining media verb. Source dims are stub-decoded
    // from the payload (md5-derived, like m2); the FIT-WITHIN-256×256
    // aspect-preserving target math is real — exact integer arithmetic
    // (scaled floor division, no FP), which is how production resizers
    // compute dims. Narrow projection, zero shuffle; a real decoder swaps
    // in behind the same columns.
    "m4_resize_stub" -> { (s, dir) =>
      docs(s, dir)
        // stub "decode": width 256..1279, height 144..1167 from the checksum
        .withColumn("src_w", expr(s"CAST(256 + (${featureSql(0)} % 1024) AS BIGINT)"))
        .withColumn("src_h", expr(s"CAST(144 + (${featureSql(1)} % 1024) AS BIGINT)"))
        .withColumn("fit",
          expr("CASE WHEN src_w >= src_h THEN 256 * src_h DIV src_w " +
            "ELSE 256 * src_w DIV src_h END"))
        .select(col("doc_id"), col("src_w"), col("src_h"),
          when(col("src_w") >= col("src_h"), lit(256L)).otherwise(
            greatest(col("fit"), lit(1L))).cast(LongType).as("dst_w"),
          when(col("src_w") >= col("src_h"),
            greatest(col("fit"), lit(1L))).otherwise(lit(256L)).cast(LongType).as("dst_h"))
    },

    // The media dedup DELIVERABLE — d8's discipline on the binary column:
    // exact payload dedup by checksum with a keep-best policy (largest
    // payload wins, ties to lowest id — in production "largest" is often
    // "highest resolution"), emitting the SURVIVING media set. One window
    // over the checksum; the shuffle carries (checksum, id, size), never
    // payload bytes — at 100 TB of media that is the entire game.
    "m6_media_dedup" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("checksum").orderBy(col("n_bytes").desc, col("doc_id"))
      docs(s, dir)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"), md5(col("payload")).as("checksum"),
          expr("CAST(octet_length(payload) AS BIGINT)").as("n_bytes"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("doc_id", "checksum", "n_bytes")
    },

    // Modality-quota manifest — t16's mixture-execution discipline on the
    // MEDIA axis, with BYTES as the base measure (media quotas are
    // storage/compute-bound, not token-bound): per modality (derived
    // deterministically from payload content — first md5 hex char mod 3,
    // standing in for the container-type sniff a real pipeline does), the
    // uniform-byte-share weight total/(k·bytes_m); each item contributes
    // floor(weight) copies plus one more iff its md5 residue falls under
    // the fractional part. Same plan posture as t16: ONE per-modality
    // byte aggregate, a 3-row single-partition window, weights BROADCAST
    // into the media scan — the payload table itself never shuffles.
    "m7_media_mixture" -> { (s, dir) =>
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val m = docs(s, dir)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"),
          expr("CAST(octet_length(payload) AS BIGINT)").as("n_bytes"),
          expr(s"CASE ${hexVal("substr(md5(text), 1, 1)")} % 3" +
            " WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
            .as("media_type"))
      val g = m.groupBy("media_type")
        .agg(sum("n_bytes").cast(LongType).as("bytes"))
      val w = g.select(col("media_type"),
        (sum("bytes").over(all).cast(DoubleType) /
          (count(lit(1)).over(all) * col("bytes"))).as("weight"))
      val u = graft.functions.HexPrefixToLong
        .hex8(md5(col("doc_id").cast(StringType)))
      m.select(col("doc_id"), col("media_type"))
        .join(broadcast(w), "media_type")
        .withColumn("frac", u.cast(DoubleType) / lit(4294967296.0))
        .withColumn("n_copies",
          floor(col("weight")).cast(LongType) +
            when(col("frac") < col("weight") - floor(col("weight")), 1L)
              .otherwise(0L))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("media_type"), col("weight"),
          col("n_copies"))
    },

    // WebDataset-style shard manifest — the layout a multimodal training
    // loader actually consumes: per modality, items in a DETERMINISTIC
    // PSEUDO-SHUFFLE order (md5 of the id — training wants decorrelated
    // shards, and rand() would never replay), bin-packed by cumulative
    // payload bytes into 16 KiB shards (t20's running-sum discipline with
    // BYTES as the measure and the shuffle built into the sort key).
    // The manifest is (item, shard, offset) — the loader does the byte
    // movement; no payload ever shuffles here. The parallel unit is the
    // modality partition (per (modality, shard-group) at 100 TB, where a
    // coarse group key bounds every window partition — same note as t20).
    "m11_shard_manifest" -> { (s, dir) =>
      val m = docs(s, dir)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(col("doc_id"),
          expr("CAST(octet_length(payload) AS BIGINT)").as("n_bytes"),
          expr(s"CASE ${hexVal("substr(md5(text), 1, 1)")} % 3" +
            " WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
            .as("media_type"),
          md5(col("doc_id").cast(StringType)).as("shuffle_key"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_type").orderBy("shuffle_key", "doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      m.withColumn("cum_before", sum("n_bytes").over(w) - col("n_bytes"))
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          expr("cum_before div 16384").as("shard_id"),
          expr("cum_before % 16384").as("shard_offset"))
    }
  )

  val oracles: Map[String, String] = Map(
    "m1_media_meta" ->
      """SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum, hex(substr(text, 1, 8)::BLOB) AS hdr_hex
        |FROM documents""".stripMargin,

    "m2_feature_stub" ->
      s"""SELECT doc_id, ${(0 until numFeatures).map(i => s"${featureSql(i)} AS f$i").mkString(", ")}
         |FROM documents""".stripMargin,

    // the injection rule restated: torn iff %9==4 (len >= 2), bitrot iff
    // %9==2 at intact length with a genuinely flipped first byte
    "m13_payload_integrity" ->
      """SELECT source, count(*) AS n_objects,
        |  CAST(sum(CASE WHEN doc_id % 9 = 4 AND n_chars >= 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_torn,
        |  CAST(sum(CASE WHEN doc_id % 9 = 2
        |    AND n_chars >= 1 AND substr(text, 1, 1) <> '~'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bitrot,
        |  CAST(sum(CASE WHEN NOT (doc_id % 9 = 4 AND n_chars >= 2)
        |    AND NOT (doc_id % 9 = 2 AND n_chars >= 1 AND substr(text, 1, 1) <> '~')
        |    THEN n_chars ELSE 0 END) AS BIGINT) AS intact_bytes
        |FROM documents GROUP BY source""".stripMargin,

    "m3_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  md5(substr(text, (CAST(i AS INT)-1)*32 + 1, 32)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, CAST((n_chars + 31) // 32 AS INT))) AS i
        |      FROM documents) t""".stripMargin,

    // m3's frame CTE + the same lag/running-sum windows
    "m10_scene_runs" ->
      """WITH fr AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    md5(substr(text, (CAST(i AS INT)-1)*32 + 1, 32)) AS fm
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, CAST((n_chars + 31) // 32 AS INT))) AS i
        |        FROM documents) t),
        |b AS (SELECT doc_id, frame_no,
        |        CASE WHEN lag(fm) OVER w IS NULL OR fm <> lag(fm) OVER w
        |             THEN 1 ELSE 0 END AS new_run
        |      FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
        |r AS (SELECT doc_id,
        |        sum(new_run) OVER (PARTITION BY doc_id ORDER BY frame_no
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |      FROM b),
        |rl AS (SELECT doc_id, run_id, count(*) AS run_len FROM r GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_frames,
        |  count(*) AS n_runs, CAST(max(run_len) AS BIGINT) AS max_run
        |FROM rl GROUP BY doc_id""".stripMargin,

    // the same fr/b/r run segmentation with fm carried to the rollup:
    // min(frame_no) is the keyframe, min(fm) the run digest (constant
    // within a run)
    "m12_keyframe_pick" ->
      """WITH fr AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    md5(substr(text, (CAST(i AS INT)-1)*32 + 1, 32)) AS fm
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, CAST((n_chars + 31) // 32 AS INT))) AS i
        |        FROM documents) t),
        |b AS (SELECT doc_id, frame_no, fm,
        |        CASE WHEN lag(fm) OVER w IS NULL OR fm <> lag(fm) OVER w
        |             THEN 1 ELSE 0 END AS new_run
        |      FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
        |r AS (SELECT doc_id, frame_no, fm,
        |        sum(new_run) OVER (PARTITION BY doc_id ORDER BY frame_no
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |      FROM b)
        |SELECT doc_id, CAST(run_id AS BIGINT) AS run_id,
        |  min(frame_no) AS key_frame_no, min(fm) AS frame_md5,
        |  count(*) AS run_len
        |FROM r GROUP BY 1, 2""".stripMargin,

    // m3's frame CTE + d20's df-capped equi-self-join spelling
    "m9_frame_overlap" ->
      """WITH fr AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, (CAST(i AS INT)-1)*32 + 1, 32)) AS fm
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, CAST((n_chars + 31) // 32 AS INT))) AS i
        |        FROM documents) t),
        |nf AS (SELECT doc_id, count(*) AS nf FROM fr GROUP BY doc_id),
        |ok AS (SELECT doc_id, fm FROM fr
        |       WHERE fm IN (SELECT fm FROM fr GROUP BY fm
        |                    HAVING count(*) BETWEEN 2 AND 64)),
        |p AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS shared
        |      FROM ok x JOIN ok y ON x.fm = y.fm AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT d1, d2, shared, n1.nf AS n1, n2.nf AS n2,
        |  CAST(shared AS DOUBLE) / least(n1.nf, n2.nf) AS containment
        |FROM p JOIN nf n1 ON p.d1 = n1.doc_id JOIN nf n2 ON p.d2 = n2.doc_id""".stripMargin,

    "m5_media_neardup" -> {
      val bits = (0 until numFeatures)
        .map(i => s"CASE WHEN f$i * n >= t$i THEN ${1L << (2 * i)} ELSE 0 END" +
          s" + CASE WHEN f$i * n * 2 >= t$i THEN ${1L << (2 * i + 1)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH f AS (
         |  SELECT doc_id, ${(0 until numFeatures).map(i => s"${featureSql(i)} AS f$i").mkString(", ")}
         |  FROM documents),
         |st AS (SELECT count(*) AS n,
         |         ${(0 until numFeatures).map(i => s"CAST(sum(f$i) AS BIGINT) AS t$i").mkString(", ")}
         |       FROM f),
         |c AS (SELECT doc_id, CAST($bits AS BIGINT) AS code FROM f, st),
         |ok AS (SELECT code FROM c GROUP BY code HAVING count(*) <= $maxCodeBucket),
         |cc AS (SELECT doc_id, code FROM c WHERE code IN (SELECT code FROM ok))
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.code, b.code)) AS BIGINT) AS hamming
         |FROM cc a JOIN cc b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.code, b.code)) <= 1""".stripMargin
    },

    // m5's pair CTEs + d15's recursive-reach closure and keep-best spelling
    "m8_media_neardup_corpus" -> {
      val bits = (0 until numFeatures)
        .map(i => s"CASE WHEN f$i * n >= t$i THEN ${1L << (2 * i)} ELSE 0 END" +
          s" + CASE WHEN f$i * n * 2 >= t$i THEN ${1L << (2 * i + 1)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH RECURSIVE f AS (
         |  SELECT doc_id, ${(0 until numFeatures).map(i => s"${featureSql(i)} AS f$i").mkString(", ")}
         |  FROM documents),
         |st AS (SELECT count(*) AS n,
         |         ${(0 until numFeatures).map(i => s"CAST(sum(f$i) AS BIGINT) AS t$i").mkString(", ")}
         |       FROM f),
         |c AS (SELECT doc_id, CAST($bits AS BIGINT) AS code FROM f, st),
         |ok AS (SELECT code FROM c GROUP BY code HAVING count(*) <= $maxCodeBucket),
         |cc AS (SELECT doc_id, code FROM c WHERE code IN (SELECT code FROM ok)),
         |e AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |      FROM cc a JOIN cc b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.code, b.code)) <= 1),
         |und AS (SELECT d1 AS a, d2 AS b FROM e UNION SELECT d2, d1 FROM e),
         |reach(v, r) AS (
         |  SELECT a, a FROM und
         |  UNION
         |  SELECT u2.a, r.r FROM und u2 JOIN reach r ON u2.b = r.v),
         |cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |mt AS (SELECT doc_id, md5(text) AS checksum,
         |         CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes
         |       FROM documents),
         |losers AS (
         |  SELECT doc_id FROM (
         |    SELECT c2.doc_id,
         |      row_number() OVER (PARTITION BY c2.cluster_id
         |                         ORDER BY m2.n_bytes DESC, c2.doc_id) AS rk
         |    FROM cl c2 JOIN mt m2 ON c2.doc_id = m2.doc_id) t
         |  WHERE rk > 1)
         |SELECT doc_id, checksum, n_bytes FROM mt
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
    },

    "m4_resize_stub" ->
      s"""SELECT doc_id, src_w, src_h,
         |  CAST(CASE WHEN src_w >= src_h THEN 256
         |            ELSE greatest(256 * src_w // src_h, 1) END AS BIGINT) AS dst_w,
         |  CAST(CASE WHEN src_w >= src_h THEN greatest(256 * src_h // src_w, 1)
         |            ELSE 256 END AS BIGINT) AS dst_h
         |FROM (SELECT doc_id,
         |        CAST(256 + (${featureSql(0)} % 1024) AS BIGINT) AS src_w,
         |        CAST(144 + (${featureSql(1)} % 1024) AS BIGINT) AS src_h
         |      FROM documents) t""".stripMargin,

    "m6_media_dedup" ->
      """SELECT doc_id, checksum, n_bytes FROM (
        |  SELECT doc_id, md5(text) AS checksum,
        |    CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY octet_length(text::BLOB) DESC, doc_id) AS rk
        |  FROM documents) t
        |WHERE rk = 1""".stripMargin,

    // t16's weight/residue spellings on the bytes axis; the modality CASE
    // and every double op mirror the Spark operand order
    "m7_media_mixture" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
         |    CASE (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) % 3
         |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type
         |  FROM documents),
         |g AS (SELECT media_type, CAST(sum(n_bytes) AS BIGINT) AS bytes
         |      FROM m GROUP BY media_type),
         |tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS t, count(*) AS k FROM g),
         |w AS (SELECT media_type, CAST(t AS DOUBLE) / (k * bytes) AS weight
         |      FROM g, tot),
         |u AS (SELECT doc_id, media_type, (${graft.Exprs.hex8Sql("h")}) AS uv
         |      FROM (SELECT doc_id, media_type,
         |              md5(CAST(doc_id AS VARCHAR)) AS h FROM m) t0)
         |SELECT doc_id, u.media_type, weight,
         |  CAST(floor(weight) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0 < weight - floor(weight)
         |          THEN 1 ELSE 0 END) AS n_copies
         |FROM u JOIN w ON u.media_type = w.media_type
         |WHERE CAST(floor(weight) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0 < weight - floor(weight)
         |          THEN 1 ELSE 0 END) > 0""".stripMargin,

    // same modality residue, same md5 shuffle order, same floors
    "m11_shard_manifest" ->
      """SELECT doc_id, media_type, n_bytes,
        |  cum_before // 16384 AS shard_id, cum_before % 16384 AS shard_offset
        |FROM (SELECT doc_id, media_type, n_bytes,
        |        CAST(sum(n_bytes) OVER (PARTITION BY media_type
        |          ORDER BY shuffle_key, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - n_bytes AS BIGINT) AS cum_before
        |      FROM (SELECT doc_id,
        |              CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
        |              CASE (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) % 3
        |                WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |                ELSE 'video' END AS media_type,
        |              md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        |            FROM documents) t) t2""".stripMargin
  )
}
