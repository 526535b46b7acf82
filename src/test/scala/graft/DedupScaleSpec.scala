package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Scale-posture pins for the dedup pack: a viral bucket (hundreds of
  * identical docs — exactly the skewed input LSH banding exists for) must be
  * dropped by the band-size filter BEFORE any id-list aggregation, so no
  * O(bucket) aggregation buffer is ever built, and it must not leak a single
  * candidate pair. */
class DedupScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val viralN = 300 // > maxBucket (100): every band bucket it touches is dropped

  /** 300 identical docs (the viral group) + one exact-dup pair of a distinct
    * text. Expected candidates: exactly the (301, 302) pair. */
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-viral").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val viral = "all work and no play makes a dull boy indeed"
    val rare = "a completely unrelated sentence about distributed query engines"
    val rows = (1 to viralN).map(i => Row(i.toLong, viral, "en", "s", viral.length.toLong)) ++
      Seq(Row(301L, rare, "en", "s", rare.length.toLong),
        Row(302L, rare, "en", "s", rare.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("d3: a viral bucket is dropped whole; the small bucket still pairs") {
    val pairs = Dedup.defs("d3_lsh_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((301L, 302L)),
      s"viral bucket must contribute zero candidates, got ${pairs.take(5)}...")
  }

  test("d13: viral shingles cost their posting count, never their square") {
    // every viral doc shares every shingle with 299 others: the df join must
    // stay one-row-per-posting (no pair expansion), and every shingle of
    // every doc here is duplicated somewhere → dup_frac 1.0 for all docs
    val rows = Dedup.defs("d13_dup_shingles")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(rows.size == viralN + 2)
    assert(rows.values.forall(_ == 1.0),
      s"all shingles are shared in this corpus, got ${rows.filter(_._2 != 1.0).take(5)}")
  }

  test("d6: same viral-bucket hygiene for the simhash bands") {
    val pairs = Dedup.defs("d6_simhash_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((301L, 302L)),
      s"viral bucket must contribute zero candidates, got ${pairs.take(5)}...")
  }

  test("d3/d6 plans size-filter bands BELOW (before) the collect_list agg") {
    Seq("d3_lsh_pairs", "d6_simhash_neardup").foreach { n =>
      val p = Dedup.defs(n)(spark, dir).queryExecution.optimizedPlan.toString
      val agg = p.indexOf("collect_list")
      val flt = p.indexOf("bsz")
      assert(agg >= 0 && flt >= 0, s"$n: expected a collect_list agg and a bsz window count\n$p")
      // the optimized tree prints parents first: the bucket-size filter must
      // sit strictly below the list aggregation, never above it
      assert(flt > agg, s"$n: band-size filter must run before collect_list\n$p")
    }
  }

  test("d3 shuffles exactly twice: band (shared by window+agg) and pair-distinct") {
    val p = Dedup.defs("d3_lsh_pairs")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).size
    assert(n == 2,
      s"expected the window's band partitioning to be reused by collect_list ($n exchanges)\n$p")
  }

  test("d4's final plan re-derives nothing from documents (one checkpointed scan)") {
    // the single corpus scan happens eagerly inside the hash-set
    // localCheckpoint; the executed plan must consume ONLY that
    // checkpointed projection — any parquet scan here means some branch
    // went back to the raw table and re-ran the md5 pipeline
    val p = Dedup.defs("d4_jaccard_pairs")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"d4 must derive all branches from the checkpointed hash sets ($scans scans)\n$p")
  }

  test("d13's final plan re-derives nothing from documents (one checkpointed scan)") {
    // both the df rollup and the join-back consume the checkpointed
    // hash-set projection; a parquet scan here means the md5 shingle
    // pipeline runs more than once
    val p = Dedup.defs("d13_dup_shingles")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"d13 must derive all branches from the checkpointed hash sets ($scans scans)\n$p")
  }

  test("d12 joins the benchmark index by broadcast (corpus rows never shuffle)") {
    val p = Dedup.defs("d12_contamination")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle index must broadcast\n$p")
  }

  test("d8 corpus keeps exactly the d7 keepers") {
    val kept = Dedup.defs("d8_dedup_corpus")(spark, dir).collect()
      .map(_.getLong(0)).toSet
    // keep-best: longest text, ties to lowest id → doc 1 for the viral group,
    // doc 301 for the rare pair
    assert(kept == Set(1L, 301L))
  }

  test("d26 weighted jaccard: identical pair scores exactly 1.0; viral bucket contributes nothing") {
    val rows = Dedup.defs("d26_weighted_jaccard")(spark, dir).collect()
    assert(rows.length == 1, s"only the surviving (301, 302) candidate: ${rows.toSeq}")
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == (301L, 302L))
    assert(r.getLong(3) == r.getLong(4), "identical docs: inter_w == union_w")
    assert(r.getDouble(5) == 1.0, s"wjac of identical docs must be exactly 1: $r")
  }

  test("d26 ranks a rare-shingle pair above an equally-overlapping boilerplate pair") {
    // A/B share 15 tokens found NOWHERE else; C/D share a 15-token
    // boilerplate preamble that also floods 20 other docs. Raw overlap is
    // identical by construction, so plain d4 jaccard ties them — the IDF
    // ppm weights are the only thing separating evidence from noise.
    val d = TestSpark.tempDir("graft-wjac").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rare = (1 to 15).map(i => s"rare$i")
    val boil = (1 to 15).map(i => s"boiler$i")
    val mk = (id: Long, toks: Seq[String]) => {
      val t = toks.mkString(" ")
      Row(id, t, "en", "s", t.length.toLong)
    }
    val rows = Seq(
      mk(1L, rare ++ Seq("ua1", "ua2", "ua3")),
      mk(2L, rare ++ Seq("ub1", "ub2", "ub3")),
      mk(3L, boil ++ Seq("uc1", "uc2", "uc3")),
      mk(4L, boil ++ Seq("ud1", "ud2", "ud3"))) ++
      (10L to 29L).map(i => mk(i, boil ++ Seq(s"uf${i}a", s"uf${i}b", s"uf${i}c")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val wj = Dedup.defs("d26_weighted_jaccard")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(wj.contains((1L, 2L)) && wj.contains((3L, 4L)),
      s"both pairs must survive LSH candidacy: ${wj.keys}")
    assert(wj((1L, 2L)) > 2.0 * wj((3L, 4L)),
      s"rare-shingle evidence must dominate boilerplate overlap: $wj")
  }

  test("d11 collapses a transitive near-dup chain into one cluster") {
    val d = TestSpark.tempDir("graft-chain").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val base = (1 to 20).map(i => s"tok$i")
    val a = base.mkString(" ")                                  // A
    val b = (base.dropRight(2) ++ Seq("x1", "x2")).mkString(" ") // ~0.8 vs A
    val c = (Seq("y1", "y2") ++ base.slice(2, 18) ++ Seq("x1", "x2")).mkString(" ") // ~0.8 vs B
    val lone = "a totally different sentence about nothing shared with others at all"
    val rows = Seq((10L, a), (11L, b), (12L, c), (99L, lone))
      .map { case (id, t) => Row(id, t, "en", "s", t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Dedup.defs("d11_neardup_clusters")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // pairwise A-B and B-C clear J >= 0.5, so the chain is one component
    // labeled by its min id; the unrelated doc is not in the pair graph
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"chain must collapse into cluster 10, got $got")
  }

  /** The deterministic 50% query sample prefixTruth applies (first md5 hex
    * char of the doc id < '8'), mirrored here so expectations track the
    * predicate instead of hardcoding survivor counts. */
  private def sampled(id: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    hex.charAt(0) < '8'
  }

  test("d9 honestly reports the recall lost to the viral-bucket cap") {
    val r = Dedup.defs("d9_lsh_recall")(spark, dir).collect().head
    // truth = in-group pairs with >= 1 sampled endpoint (the 50% query-side
    // sample; viral df 300 stays under the 1024 posting cap, so the group
    // itself is NOT dropped) + the (301,302) pair (301 is sampled). Every
    // in-group pair shares all 16 sigs, but the viral band bucket is capped
    // — so caught = only the (301,302) pair. This pins that d9 HONESTLY
    // reports the recall cost of the bucket cap over the sampled truth.
    val ids = (1 to viralN).map(_.toLong)
    val nViral = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      if sampled(ids(i)) || sampled(ids(j))
    } yield 1).size.toLong
    assert(sampled(301L), "test premise: the rare pair is in the sampled truth")
    val nTruth = nViral + 1
    assert(r.getLong(0) == nTruth)
    assert(r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - 1.0 / nTruth) < 1e-12)
  }

  test("d9 truth guard: a boilerplate flood above the posting df-cap contributes zero pairs") {
    // 1100 identical docs: every half-prefix shingle they share has df 1100,
    // above truthDfCap (1024), so the guard drops the WHOLE flood from the
    // truth index — without it the prefix self-join would expand toward
    // C(1100,2) ≈ 600k posting pairs. The low-df exact-dup pair alongside
    // must still be found (2002 is in the md5 query sample).
    val floodN = 1100
    val d = TestSpark.tempDir("graft-flood").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val rare = "a genuinely novel document about catalyst plan shapes"
    val rows = (1 to floodN).map(i => Row(i.toLong, boiler, "en", "s", boiler.length.toLong)) ++
      Seq(Row(2001L, rare, "en", "s", rare.length.toLong),
        Row(2002L, rare, "en", "s", rare.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(sampled(2002L), "test premise: the rare pair is in the sampled truth")
    val r = Dedup.defs("d9_lsh_recall")(spark, d).collect().head
    assert(r.getLong(0) == 1L,
      s"flood pairs must be df-capped out of the truth index, got n_truth=${r.getLong(0)}")
    assert(r.getLong(1) == 1L, "the rare low-df pair must still be caught")
  }

  test("d20 containment: a boilerplate chunk flood is df-capped out; true containment survives") {
    // 200 docs sharing a boilerplate prefix (every shared chunk has df 200
    // > 64) must contribute ZERO candidate pairs — without the cap the
    // chunk self-join expands toward C(200,2). The unique token goes at
    // the END of each flood doc: content-defined boundaries scan forward,
    // so every boiler chunk is bit-identical across all 200 (df 200 →
    // capped) and only the final chunk carries the unique tail (df 1 —
    // can't pair). A genuine containment pair (short doc quoted whole
    // inside a longer one, sharing their low-df chunks) must still be
    // found with c1 ≈ 1 even though its Jaccard is low.
    val d = TestSpark.tempDir("graft-contain").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val short = "the quick brown fox jumps over the lazy dog near the river bank today"
    val long = short + " " + Seq.tabulate(60)(i => s"filler${i}token unique${i}span").mkString(" ")
    val rows = (1 to 200).map(i =>
        Row(i.toLong, boiler + s" doc${i}tail", "en", "s", 0L)) ++
      Seq(Row(301L, short, "en", "s", 0L), Row(302L, long, "en", "s", 0L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Dedup.defs("d20_containment")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(6), r.getDouble(7)))
    assert(got.forall { case (d1, d2, _, _) => Set(d1, d2) == Set(301L, 302L) },
      s"flood pairs must be df-capped out of the candidates: ${got.take(5).mkString(",")}")
    assert(got.nonEmpty, "the true containment pair (301, 302) must be found")
    val (_, _, c1, c2) = got.head
    assert(c1 > 0.95, s"the contained doc's containment must be ~1: $c1")
    assert(c2 < 0.5, s"the long doc's containment must be low: $c2")
  }

  test("d34 prefix filter: a boilerplate flood never enters prefixes — candidate volume is bounded") {
    // 200 docs share a 10-token boilerplate head (df 200 for every boiler
    // shingle) but each carries MORE df-1 unique-tail shingles than its
    // prefix is wide (15 unique+boundary vs a ⌈n/2⌉+1 ≈ 12-wide prefix),
    // so the (df ASC, h) prefix rank fills entirely with unique shingles
    // and the flood contributes ZERO candidate pairs — the df-bounded-
    // bucket claim (Dedup.scala d34 scaladoc) measured on the CANDIDATE
    // stage itself, not on the verified output (exact verify would
    // sanitize flood pairs regardless, hiding a candidate explosion).
    // Without prefix filtering, the all-postings join would expand toward
    // C(200,2) = 19,900 pairs on the boiler shingles alone. The planted
    // exact-dup pair (301, 302) must still surface with J = 1.
    import org.apache.spark.sql.functions._
    val d = TestSpark.tempDir("graft-d34flood").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val boiler = "subscribe to our newsletter for updates terms of service apply"
    val rare = "catalyst whole stage codegen fuses narrow operators into one tight loop"
    val rows = (1 to 200).map { i =>
      val t = boiler + " " + (1 to 15).map(j => s"tok${i}x$j").mkString(" ")
      Row(i.toLong, t, "en", "s", t.length.toLong)
    } ++ Seq(Row(301L, rare, "en", "s", rare.length.toLong),
      Row(302L, rare, "en", "s", rare.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val docsDf = spark.read.parquet(s"$d/documents.parquet")
    val hs0 = Dedup.hashSetsOf(docsDf)
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
      .filter(col("n") > 0).localCheckpoint()
    // premise: the boiler shingles really are a df-200 flood
    val maxDf = hs0.select(explode(col("hs")).as("h"))
      .groupBy("h").count().agg(max("count")).collect().head.getLong(0)
    assert(maxDf == 200L, s"test premise: boiler shingle df must be 200, got $maxDf")
    val cand = Dedup.prefixCandidatesOf(hs0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((301L, 302L)),
      s"flood must contribute zero CANDIDATES, got ${cand.size} pairs: ${cand.take(5)}")
    val out = Dedup.defs("d34_prefix_filter_join")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((301L, 302L, 1.0)),
      s"the planted exact-dup pair must verify at J=1: ${out.toSeq}")
  }

  test("d20 drops shingle-less candidate pairs (0/0 containment diverges cross-engine)") {
    // two identical 2-token docs: they share a CDC chunk (df 2, in the
    // cap window) so the pair reaches the verify stage, but a doc under 3
    // tokens has NO shingles — containment would be 0/0, which is NULL in
    // Spark and NaN in DuckDB (where NaN >= 0.5 is TRUE). The n > 0 guard
    // must drop the pair in BOTH engines; without it this fixture is an
    // oracle hash mismatch, not just a wrong row.
    val d = TestSpark.tempDir("graft-tiny").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(Row(1L, "hello world", "en", "s", 11L),
      Row(2L, "hello world", "en", "s", 11L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Dedup.defs("d20_containment")(spark, d).collect().isEmpty,
      "a shingle-less pair must be excluded, not emitted with NULL/NaN containment")
  }

  test("d16 many-sources: banded sketch join finds mirrors without a |sources|² cross join") {
    // 60 disjoint-content sources + one mirrored pair: the banded candidate
    // join must emit only pairs sharing >= 1 sketch component — the mirror
    // pair at n_agree = 16 — instead of enumerating all C(62,2) = 1891
    // source pairs the old crossJoin spelled out
    val d = TestSpark.tempDir("graft-d16").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val mirror = "shared mirrored corpus text scraped twice from the same origin site"
    val rows = (0 until 60).flatMap { sIdx =>
      (0 until 3).map { j =>
        val txt = Seq.tabulate(8)(t => s"src${sIdx}doc${j}tok$t").mkString(" ")
        Row((sIdx * 10 + j).toLong, txt, "en", s"src$sIdx", txt.length.toLong)
      }
    } ++ Seq(Row(9001L, mirror, "en", "mirrorA", mirror.length.toLong),
      Row(9002L, mirror, "en", "mirrorB", mirror.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val q = Dedup.defs("d16_source_overlap")(spark, d)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"the source-pair comparison must not be a cross join\n$plan")
    val got = q.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.exists { case (a, b, n, e) =>
      Set(a, b) == Set("mirrorA", "mirrorB") && n == 16L && e == 1.0
    }, s"the mirrored source pair must agree on all 16 components: ${got.mkString(",")}")
    assert(got.forall(_._3 >= 1L), "no zero-agreement pair may be emitted")
    assert(got.length < 100,
      s"disjoint sources must not pair up toward |sources|²: ${got.length} pairs")
  }

  test("d17's final plan re-derives nothing from documents (one checkpointed scan)") {
    // the chunking pass (tokenize → window → chunk fingerprints) runs once
    // inside the localCheckpoint; both the df rollup and the join-back must
    // consume those blocks
    val p = Dedup.defs("d17_cdc_chunks")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"d17 must derive all branches from the checkpointed chunks ($scans scans)\n$p")
  }

  test("d17 chunk boundaries are content-defined: a prefix insertion preserves downstream chunks") {
    // the CDC property fixed-width chunking lacks: inserting text EARLY in a
    // document must not re-align every later chunk. Build doc A = T and
    // doc B = P + T where P's last token is a cut token (hash % 8 == 0) —
    // then T chunks identically inside both docs, so EVERY chunk of A is
    // duplicated in B: dup_frac(A) == 1.0.
    import org.apache.spark.unsafe.types.UTF8String
    val cutTok = (1 to 10000).map(i => s"w$i")
      .find(w => graft.functions.Md5Hash32.hash32(UTF8String.fromString(w)) % 8 == 0)
      .get
    val t = (1 to 40).map(i => s"body$i").mkString(" ")
    val prefix = s"inserted preamble tokens $cutTok"
    val d = TestSpark.tempDir("graft-cdc").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(Row(1L, t, "en", "s", t.length.toLong),
      Row(2L, s"$prefix $t", "en", "s", (prefix.length + 1 + t.length).toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Dedup.defs("d17_cdc_chunks")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(got(1L) == 1.0,
      s"every chunk of the un-prefixed doc must recur in the prefixed doc: $got")
  }

  test("d18 classifies exact/near/novel against the corpus only — batch docs never match each other") {
    val d = TestSpark.tempDir("graft-incr").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 18).map(i => s"tok$i") ++ Seq("x1", "x2")).mkString(" ") // J ~ 0.8 vs base
    val uniq = "a completely different sentence about nothing else whatsoever here"
    val batchOnly = "this duplicated text exists only in the new batch twice over"
    def row(id: Long, t: String) = Row(id, t, "en", "s", t.length.toLong)
    val rows = Seq(
      row(3L, base),       // corpus
      row(4L, base),       // corpus (so the fp exists regardless of keep policy)
      row(7L, base),       // batch: exact dup of corpus
      row(17L, near),      // batch: near dup of corpus base
      row(27L, uniq),      // batch: novel
      row(37L, batchOnly), // batch: identical to 47 — but 47 is batch too,
      row(47L, batchOnly)) //   so BOTH must stay novel (asymmetric probe)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Dedup.defs("d18_incremental_dedup")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got == Map(7L -> "exact", 17L -> "near", 27L -> "novel",
      37L -> "novel", 47L -> "novel"), s"got $got")
  }

  test("d18's increment plan reads ONLY the persisted corpus index (never corpus documents)") {
    // the batch slice is checkpointed (no documents scan at probe time);
    // every parquet scan left in the plan must be one of the two bucketed
    // index tables the corpus side is materialized as
    val p = Dedup.defs("d18_incremental_dedup")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet [^\\[\\s]*".r.findAllIn(p).toList
    assert(scans.nonEmpty, s"expected index-table scans in the probe plan\n$p")
    val stray = scans.filterNot(_.contains("graft_d18_"))
    assert(stray.isEmpty,
      s"probe plan must scan only the persisted index tables, found $stray\n$p")
  }

  test("d18's band join reads the bucketed corpus bands without an exchange") {
    // the bands table is bucketed on band: the bucket-size window consumes
    // the scan's bucket partitioning directly. Parents print before
    // children, so the window-over-band ... bands-scan chain must contain
    // no Exchange line between them.
    val p = Dedup.defs("d18_incremental_dedup")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val lines = p.linesIterator.toList
    val bandScan = lines.indexWhere(l =>
      l.contains("Scan parquet") && l.contains("graft_d18_bands_"))
    assert(bandScan >= 0, s"expected a bands-table scan\n$p")
    val windowAbove = lines.take(bandScan).lastIndexWhere(_.contains("Window"))
    assert(windowAbove >= 0, s"expected the bucket-size Window above the bands scan\n$p")
    val between = lines.slice(windowAbove + 1, bandScan).filter(_.contains("Exchange"))
    assert(between.isEmpty,
      s"the bucket-size window must consume the bucketed scan without an Exchange, found $between\n$p")
  }

  test("d19 sweep: candidate volume shrinks as r grows, recall never rises") {
    // the s-curve tradeoff measured: more rows per band = stricter bands =
    // fewer candidates and (weakly) lower recall. 16x1 must flood relative
    // to 4x4 — that flood is the reason r=1 banding dies at corpus scale.
    // Caveat: these orderings are guaranteed only below the viral-bucket
    // cap (an r=1 bucket over maxBucket drops WHOLE while its r=4
    // refinements may stay under cap, which can invert both); the
    // committed testdata stays under cap, so the pin holds here — on a
    // regenerated skewed corpus, re-check the cap before this test.
    val rows = Dedup.defs("d19_banding_sweep")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(rows.forall(_._3 > 0), s"test premise: truth pairs exist: $rows")
    val byR = rows.map(t => t._1 -> t).toMap
    assert(byR(1)._2 >= byR(2)._2 && byR(2)._2 >= byR(4)._2,
      s"candidates must shrink with r: $rows")
    assert(byR(1)._2 > byR(4)._2, s"16x1 must admit strictly more candidates: $rows")
    assert(byR(1)._5 >= byR(4)._5, s"recall can only drop as bands tighten: $rows")
    rows.foreach { case (_, nCand, _, nCaught, _) =>
      assert(nCaught <= nCand, s"caught pairs are a subset of candidates: $rows")
    }
  }

  test("d19's final plan re-derives nothing from documents (one checkpointed scan)") {
    val p = Dedup.defs("d19_banding_sweep")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"d19 must derive truth, sigs, and all bands from checkpoints ($scans scans)\n$p")
  }

  test("d17's chunking pipeline shuffles ONCE: the groupBy reuses the window's doc_id partitioning") {
    // HashPartitioning(doc_id) satisfies the (doc_id, chunk_id) clustering,
    // so tokenize → running-cut window → per-chunk aggregate is one exchange
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("cut", when(graft.functions.Md5Hash32.hash32(col("w")) % 8 === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(sum("cut").over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"chunking must shuffle exactly once, got $exchanges\n$p")
  }

  /** d23 winnowing fixture: a 200-doc boilerplate flood (every fingerprint's
    * df = 200 > the 64 cap → contributes ZERO pairs), a planted pair sharing
    * a 12-token run embedded at DIFFERENT offsets (the shift-invariance of
    * window-relative selection: both docs select identical hashes inside the
    * aligned windows), and unique-noise docs whose fingerprints never reach
    * df 2. */
  private lazy val winnowDir: String = {
    val d = TestSpark.tempDir("graft-winnow").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val boiler = "terms of service apply to all content on this site all rights reserved by the operator"
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val a = s"apple pear plum $run fig date"                       // run at offset 3
    val b = s"red green blue cyan magenta yellow black $run"       // run at offset 7
    val dup = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu again"
    val rows = (1 to 200).map(i => Row(i.toLong, boiler, "en", "s", boiler.length.toLong)) ++
      Seq(Row(900L, a, "en", "s", a.length.toLong),
        Row(901L, b, "en", "s", b.length.toLong),
        Row(950L, "one unique sentence nothing here repeats anywhere at all", "en", "s", 56L),
        Row(951L, "another fully distinct document with zero shared spans present", "en", "s", 62L),
        Row(960L, dup, "en", "s", dup.length.toLong),              // exact-dup pair:
        Row(961L, dup, "en", "s", dup.length.toLong))              // identical selection
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("d23: a winnowing-fingerprint flood is df-capped out; a shifted 12-token run still pairs") {
    val rows = Dedup.defs("d23_winnowing")(spark, winnowDir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 12-token run spans 10 shingles → 7 aligned windows in both docs →
    // ≥ ⌈7/4⌉ = 2 distinct shared fingerprints survives the n_shared ≥ 2
    // floor; every flood fingerprint has df 200 > 64 and is dropped whole
    assert(pairs == Set((900L, 901L), (960L, 961L)),
      s"expected the planted run pair + the exact-dup pair, got ${pairs.take(5)}")
    // exact dups select IDENTICAL fingerprints: shared == both sides == 1.0
    val e = rows.find(r => r.getLong(0) == 960L).get
    assert(e.getLong(2) == e.getLong(3) && e.getLong(3) == e.getLong(4) &&
      e.getDouble(5) == 1.0, s"exact-dup pair must fully overlap: $e")
    val r = rows.find(r => r.getLong(0) == 900L).get
    // density bounds through the output's fingerprint counts: doc 900 has
    // 17 tokens → 15 shingles → 12 windows → n1 ∈ [⌈12/4⌉, 12]; doc 901 has
    // 19 tokens → 17 shingles → 14 windows
    assert(r.getLong(3) >= 3 && r.getLong(3) <= 12, s"n1 out of winnowing density bounds: $r")
    assert(r.getLong(4) >= 4 && r.getLong(4) <= 14, s"n2 out of winnowing density bounds: $r")
    assert(r.getLong(2) >= 2 && r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
      s"shared fingerprints must be ≥2 and bounded by either side's set: $r")
  }

}
