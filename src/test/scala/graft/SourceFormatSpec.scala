package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Source-format coverage beyond parquet (the reference reads only
  * whitespace text): CSV with an explicit schema, JSON-lines, and ORC
  * round-trip losslessly through the same DataFrame surface. */
class SourceFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def nationKeyed = Tables.load(spark, dir, "nation")
    .select("n_nationkey", "n_name", "n_regionkey")

  test("CSV round-trip with explicit schema is lossless") {
    val out = TestSpark.tempDir("csv-rt").toString
    nationKeyed.write.mode("overwrite")
      .option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    val back = spark.read.schema(schema).option("header", "true").csv(out)
    assert(back.schema == schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nationKeyed.orderBy("n_nationkey").collect().toSeq)
  }

  test("JSON-lines round-trip preserves rows and nested extraction works") {
    val out = TestSpark.tempDir("json-rt").toString
    nationKeyed
      .withColumn("meta", struct(col("n_regionkey").as("region"),
        lit("nation").as("kind")))
      .write.mode("overwrite").json(out)
    val back = spark.read.json(out)
    assert(back.count() == nationKeyed.count())
    val extracted = back
      .select(col("n_nationkey").cast("long"), col("meta.region").cast("long"))
      .orderBy("n_nationkey").collect()
    val expected = nationKeyed
      .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
      .orderBy("n_nationkey").collect()
    assert(extracted.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      expected.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("ORC round-trip is lossless and pushes filters to the scan") {
    val out = TestSpark.tempDir("orc-rt").toString
    nationKeyed.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nationKeyed.orderBy("n_nationkey").collect().toSeq)
    // the columnar scan must receive the pushed predicate, same as parquet
    val plan = back.filter(col("n_regionkey") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)]"),
      s"expected ORC pushdown in:\n$plan")
  }

  test("declared-schema ORC read (the t40 contract) prunes by name and survives wider shards") {
    // a shard that carries MORE columns than the contract: the declared
    // read must project exactly the contract columns by name, not ordinal
    val out = TestSpark.tempDir("orc-contract").toString
    nationKeyed
      .withColumn("extra_col", lit("noise"))
      .select("extra_col", "n_nationkey", "n_name", "n_regionkey") // reorder
      .write.mode("overwrite").orc(out)
    val contract = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    val back = spark.read.schema(contract).orc(out)
    assert(back.schema == contract, "declared schema must win over embedded")
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nationKeyed.orderBy("n_nationkey").collect().toSeq,
      "extra/reordered embedded columns must be invisible to the contract")
  }

  /** Stage a 10-line JSONL shard where lines 3 and 7 are torn mid-object —
    * the t38 corruption shape, tiny enough to reason about by hand. */
  private def tornJsonl(): (String, Int, Int) = {
    val good = (0 until 10).map(i =>
      s"""{"doc_id":$i,"text":"line $i text","lang":"en","source":"s${i % 2}","n_chars":${10 + i}}""")
    val lines = good.zipWithIndex.map { case (l, i) =>
      if (i == 3 || i == 7) l.substring(0, l.length / 2) else l
    }
    val d = TestSpark.tempDir("torn-jsonl")
    Files.writeString(d.resolve("part-0.json"), lines.mkString("\n"))
    (d.toString, 10, 2)
  }

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  test("PERMISSIVE JSON reader counts malformed lines — never drops them silently (t38)") {
    // VERDICT r13 item 3: the reader-API path (DataFrameReader.json with a
    // declared schema + _corrupt_record). Spark requires caching the parsed
    // frame before the corrupt column is referenced — pin that recipe too.
    val (d, total, torn) = tornJsonl()
    val schema = docSchema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(d).cache()
    try {
      assert(parsed.count() == total, "PERMISSIVE must keep every input line")
      val corrupt = parsed.filter(col("_corrupt_record").isNotNull).collect()
      assert(corrupt.length == torn, s"expected $torn corrupt rows")
      // the raw torn line is preserved verbatim for quarantine/replay
      assert(corrupt.forall(_.getAs[String]("_corrupt_record").startsWith("{\"doc_id\":")))
      // every non-torn line parses FULLY (partial-results can't leak nulls)
      val valid = parsed.filter(col("_corrupt_record").isNull).collect()
      assert(valid.length == total - torn)
      assert(valid.forall(r => !r.isNullAt(r.fieldIndex("doc_id")) &&
        !r.isNullAt(r.fieldIndex("n_chars"))))
    } finally parsed.unpersist(): Unit
  }

  test("from_json classification (the t38 gate spelling) agrees with the reader path") {
    // corrupt iff _corrupt_record set — robust to partial-results parsing,
    // which may populate fields that precede the tear (classifying by
    // "some field is null" would be wrong on exactly those rows)
    val (d, total, torn) = tornJsonl()
    val schema = docSchema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val parsed = spark.read.text(d)
      .select(from_json(col("value"), schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
    val agg = parsed.agg(
      count(lit(1)).as("n"),
      sum(when(col("r._corrupt_record").isNotNull, 1L).otherwise(0L)).as("c"))
      .collect().head
    assert(agg.getLong(0) == total && agg.getLong(1) == torn)
  }

  test("PERMISSIVE CSV flags short records but PARTIALLY FILLS them — the t39 contract rule") {
    // pinned behavior on this Spark: a balanced short record (the tear
    // landed on a field boundary) gets _corrupt_record SET *and* its
    // leading fields populated. Two consequences t39 encodes: (a) validity
    // can never be "some field is non-null" — torn rows carry real-looking
    // doc_id/text; (b) the contract column (n_chars, last) is null on every
    // torn row, so the parser-flag-OR-contract-null rule stays correct even
    // on a Spark that reverts to the old silent short-record nulling.
    val lines = Seq(
      """"1","full line","en","s0","11"""",
      """"2","torn"""",                 // boundary tear: 2 of 5 columns, quotes balanced
      """"3","another full","en","s1","12"""")
    val d = TestSpark.tempDir("torn-csv")
    Files.writeString(d.resolve("part-0.csv"), lines.mkString("\n"))
    val schema = docSchema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val parsed = spark.read.text(d.toString)
      .select(from_csv(col("value"), schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
      .select("r.*").collect()
    assert(parsed.length == 3, "PERMISSIVE must keep every line")
    val torn = parsed.find(_.getLong(0) == 2L).get
    // flagged — the raw line is preserved for quarantine…
    assert(!torn.isNullAt(torn.fieldIndex("_corrupt_record")))
    // …AND partially filled: the fields before the tear look legitimate
    assert(torn.getString(torn.fieldIndex("text")) == "torn")
    // the contract column is null on the torn row — the format-agnostic
    // validity signal t39 checks alongside the flag
    assert(torn.isNullAt(torn.fieldIndex("n_chars")))
    // full lines parse completely and unflagged
    assert(parsed.filter(r => r.getLong(0) != 2L).forall(r =>
      !r.isNullAt(r.fieldIndex("n_chars")) &&
        r.isNullAt(r.fieldIndex("_corrupt_record"))))
  }

  test("t43: mergeSchema FAILS on a widened shard — the declared-superset read is the posture") {
    // the schema-evolution audit's motivating fact, pinned: a corpus with
    // one historical INT32 shard breaks option("mergeSchema") outright
    // (CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE), while the declared contract
    // read widens the same shard via parquet type promotion
    val root = TestSpark.tempDir("t43-widen").toString
    nationKeyed.select(col("n_nationkey"),
        col("n_regionkey").cast("int").as("w"))
      .write.mode("overwrite").parquet(s"$root/gen=0")
    nationKeyed.select(col("n_nationkey"),
        col("n_regionkey").cast("long").as("w"))
      .write.mode("overwrite").parquet(s"$root/gen=1")
    val err = intercept[Exception](
      spark.read.option("mergeSchema", "true").parquet(root).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(m => m != null && m.contains("CANNOT_MERGE")),
      s"expected a merge failure, got: ${err.getMessage}")
    val declared = StructType(Seq(StructField("n_nationkey", LongType),
      StructField("w", LongType), StructField("gen", LongType)))
    val widened = spark.read.schema(declared).parquet(root)
    assert(widened.schema("w").dataType == LongType)
    assert(widened.filter(col("gen") === 0).agg(sum("w")).head.getLong(0) ==
      nationKeyed.agg(sum("n_regionkey")).head.getLong(0),
      "INT32 shard values must promote losslessly into the BIGINT contract")
  }

  test("t43: drifted shards are CLASSIFIED and recovered, never silently nulled") {
    // the renamed-column shard: the contract column reads null, but the
    // audit's classification + coalesce recovery must surface every row
    val got = graft.operators.TextOps
      .defs("t43_schema_evolution_audit")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == Set((0L, "baseline"), (1L, "extended"),
      (2L, "renamed")), s"every generation classifies distinctly: $got")
    val (nRen, nNulled, nRec) = got((2L, "renamed"))
    assert(nRen > 0, "test premise: the renamed generation is non-empty")
    assert(nNulled == nRen, "every renamed row's contract column reads null")
    assert(nRec == nRen, "every renamed row recovers via coalesce")
    val (nBase, nulledBase, recBase) = got((0L, "baseline"))
    assert(nulledBase == 0 && recBase == nBase,
      "conforming shards are untouched by the recovery")
  }

  test("t43/x35: null contract values cannot split the drift classification") {
    // ADVICE r15: a gen-1 row with a null n_chars has a null quality and
    // a gen-2 row with a null lang has a null language — both read as
    // value-indistinguishable from baseline. The gen tiebreak (observed
    // values first, provenance for the all-null residue) must keep the
    // classification TOTAL on both the batch and the stream path.
    import org.apache.spark.sql.Row
    val d = TestSpark.tempDir("t43-nulls").toString
    val rows = (0L until 12L).map { i =>
      Row(i, "alpha beta",
        if (i >= 3 && i <= 5) null else "en", // one null lang per gen
        s"src${i % 2}",
        if (i >= 6 && i <= 8) null // one null n_chars per gen
        else java.lang.Long.valueOf(100 + i))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      graft.operators.TextOps.crawlSchema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val batch = graft.operators.TextOps
      .defs("t43_schema_evolution_audit")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.keySet == Set((0L, "baseline"), (1L, "extended"),
      (2L, "renamed")), s"null drift values split the classes: $batch")
    assert(batch.values.toSeq == Seq.fill(3)(4L),
      s"every generation keeps all 4 rows: $batch")
    val stream = graft.streaming.StreamingSessionize
      .defs("x35_stream_schema_drift")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream == Map("baseline" -> 4L, "extended" -> 4L,
      "renamed" -> 4L), s"stream classification diverged: $stream")
  }

  test("DROPMALFORMED is the silent-drop alternative the default path refuses") {
    // document the failure mode the audit exists to prevent: DROPMALFORMED
    // returns only the well-formed rows and the torn lines vanish without
    // a trace — correct row content, unaccounted loss
    val (d, total, torn) = tornJsonl()
    val dropped = spark.read.schema(docSchema)
      .option("mode", "DROPMALFORMED").json(d)
    assert(dropped.count() == total - torn)
  }
}
