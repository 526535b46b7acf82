package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.LocalityConfig
import graft.operators.MediaPipeline
import graft.operators.MediaPipeline.{MediaFeatures, MediaItem}

/** Typed multimodal pipeline contract: batch shape, determinism, decoder
  * injection; plus the locality-config parser (SURVEY.md §2.1 #2). */
class MediaPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def items: Seq[MediaItem] = Seq(
    MediaItem(1L, "image", "payload-one".getBytes, 640, 480),
    MediaItem(2L, "audio", "payload-two".getBytes, 0, 0),
    MediaItem(3L, "image", "payload-one".getBytes, 640, 480)) // same bytes as 1

  test("extractFeatures is deterministic, typed, and shuffle-free") {
    import spark.implicits._
    val ds = spark.createDataset(items).repartition(2)
    val out = MediaPipeline.extractFeatures(ds).collect().sortBy(_.itemId)

    assert(out.map(_.itemId).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.features.length == MediaPipeline.featureDim))
    assert(out.forall(f => f.features.forall(v => v >= 0f && v < 1f)))
    // same payload bytes → same stub features (decode is deterministic)
    assert(out(0).features.toSeq == out(2).features.toSeq)
    assert(out(0).features.toSeq != out(1).features.toSeq)
    assert(out(0).nBytes == "payload-one".getBytes.length.toLong)
    // no shuffle: mapPartitions is a narrow stage over the input partitioning
    val plan = MediaPipeline.extractFeatures(ds).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.indexOf("Exchange") >
      plan.indexOf("MapPartitions"), s"decode must not introduce a shuffle:\n$plan")
  }

  test("a custom decoder can be injected (production swap point)") {
    import spark.implicits._
    val ds = spark.createDataset(items.take(1))
    val out: MediaFeatures =
      MediaPipeline.extractFeatures(ds, _ => Array.fill(8)(0.5f)).head()
    assert(out.features.toSeq == Seq.fill(8)(0.5f))
  }

  test("fromDocuments maps the documents table into the typed contract") {
    val ds = MediaPipeline.fromDocuments(spark, "/root/testdata/sf0.001")
    val row = ds.head()
    assert(row.mediaType == "image")
    assert(row.payload.length == row.metaWidth) // n_chars == byte length (ascii)
  }

  test("m8 media dedup: identical payloads land in one cluster and keep one survivor") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = TestSpark.tempDir("graft-m8").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val dup = "identical media payload bytes repeated verbatim"
    val rows = Seq(
      Row(1L, dup, "en", "s", dup.length.toLong),
      Row(2L, dup, "en", "s", dup.length.toLong),
      Row(3L, "a different payload with other bytes", "en", "s", 36L),
      Row(4L, "yet another distinct binary blob content", "en", "s", 40L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val kept = graft.operators.Multimodal.defs("m8_media_neardup_corpus")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // identical payloads share a code at hamming 0: exactly one survives,
    // and no two survivors carry the same checksum
    assert(!(kept.exists(_._1 == 1L) && kept.exists(_._1 == 2L)),
      s"both exact payload dups survived: ${kept.toSeq}")
    assert(kept.map(_._2).distinct.length == kept.length,
      s"survivors must have distinct checksums: ${kept.toSeq}")
    assert(kept.nonEmpty && kept.length < 4, s"nothing deduped: ${kept.toSeq}")
  }

  test("locality config parses and folds node ids like hw4.cc:94") {
    val f = TestSpark.tempFile("loc", ".cfg")
    java.nio.file.Files.writeString(f, "0 3\n1 7\n\n2 1\n")
    assert(LocalityConfig.parse(f).map(e => (e.chunkId, e.nodeId)) ==
      Seq((0, 3), (1, 7), (2, 1)))
    // 4 MPI ranks -> workers 1..3: node % 3 + 1
    assert(LocalityConfig.asFoldedMap(f, 4) == Map(0 -> 1, 1 -> 2, 2 -> 2))
    assertThrows[IllegalArgumentException] {
      val bad = TestSpark.tempFile("locbad", ".cfg")
      java.nio.file.Files.writeString(bad, "0 1 2")
      LocalityConfig.parse(bad)
    }
  }
}
