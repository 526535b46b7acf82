package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, struct, sum}

import graft.operators.{Dedup, Multimodal, Relational, Similarity, TextOps}

/** Semantic unit tests for the dedup / similarity / text operators on crafted
  * fixtures with known answers (the DuckDB gate checks engine parity; these
  * pin the *intended semantics* on controlled inputs). */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val docTexts = Seq(
    1L -> "the cat sat on the mat today",
    2L -> "the cat sat on the mat today",            // exact dup of 1
    3L -> "the cat sat on the mat yesterday evening", // near dup of 1/2
    4L -> "completely different words entirely here now",
    5L -> "tiny doc",                                  // <3 tokens: no shingles
    6L -> "lone")                                      // <3 tokens: no shingles

  /** Fixture dir shaped like /root/testdata/sf*: documents + embeddings. */
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-fixture").toString
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docRows = docTexts.map { case (id, t) =>
      Row(id, t, "en", "src0", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 2), docsSchema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, v) => a(i) = v }
      a
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val embRows = Seq(
      Row(0L, vec(0 -> 1.0f).toSeq, 0),
      Row(1L, vec(0 -> 1.0f, 1 -> 0.01f).toSeq, 0), // ~parallel to v0
      Row(2L, vec(1 -> 1.0f).toSeq, 1),             // orthogonal to v0
      Row(3L, vec(0 -> -1.0f).toSeq, 1))            // opposite of v0
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 2), embSchema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("d1_exact_dedup groups identical texts under one keeper") {
    val rows = Dedup.defs("d1_exact_dedup")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L)))
  }

  test("d3_lsh_pairs finds exact dups, never disjoint or shingle-less docs") {
    val pairs = Dedup.defs("d3_lsh_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must share every band")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L },
      "doc 4 shares no shingle with any other doc")
    // docs 5/6 have <3 tokens → NULL signatures → no LSH identity; a NULL
    // band must never form a bucket pairing them together
    assert(!pairs.exists { case (a, b) => a >= 5L || b >= 5L },
      "shingle-less docs must produce no candidate pairs")
  }

  test("m3_frame_sample emits zero frames for an empty payload") {
    val d2 = TestSpark.tempDir("graft-empty").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(Row(1L, "", "en", "src0", 0L), Row(2L, "abc", "en", "src0", 3L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val out = graft.operators.Multimodal.defs("m3_frame_sample")(spark, d2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // Spark sequence(1,0) is descending [1,0] — the guard must keep the
    // empty doc frameless, like DuckDB's generate_series(1,0) = []
    assert(out.toSet == Set((2L, 1L)))
  }

  test("d4_jaccard_pairs scores identical docs at 1.0") {
    val j = Dedup.defs("d4_jaccard_pairs")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    j.get((1L, 3L)).foreach(v => assert(v > 0.4 && v < 0.8)) // 4 of 7 shingles
  }

  test("d5_simhash is identical for identical docs, distinct for disjoint ones") {
    val h = Dedup.defs("d5_simhash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(4L))
    assert(h.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("s1_knn_brute ranks the near-parallel vector first for query 0") {
    val rows = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val q0 = rows.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.head._2 == 1L && q0.head._4 > 0.99)      // ~parallel
    assert(q0.last._2 == 3L && q0.last._4 == -1.0)     // opposite
  }

  test("s3_embed_neardup respects label blocking and the threshold") {
    val pairs = Similarity.defs("s3_embed_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // same-label near-parallel pair only
  }

  test("t13 piiScrub detects and redacts emails, phones, and id numbers") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@example.co.uk or call 555-123-4567 now"),
      (2L, "ssn 123-45-6789 next to phone 555 123 4567"),
      (3L, "no pii here at all"),
      (4L, "two mails a@b.com c@d.org one id 987-65-4321"))
      .toDF("doc_id", "text")
    val out = TextOps.piiScrub(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
          r.getAs[Long]("n_ids")), r.getAs[String]("redacted"))).toMap
    assert(out(1L)._1 == ((1L, 1L, 0L)))
    assert(out(1L)._2 == "mail <EMAIL> or call <PHONE> now")
    assert(out(2L)._1 == ((0L, 1L, 1L)))
    assert(out(2L)._2 == "ssn <ID> next to phone <PHONE>")
    assert(out(3L)._1 == ((0L, 0L, 0L)))
    assert(out(3L)._2 == "no pii here at all")
    assert(out(4L)._1 == ((2L, 0L, 1L)))
    assert(out(4L)._2 == "two mails <EMAIL> <EMAIL> one id <ID>")
  }

  test("t12 gopher flags are integer-exact on boundary docs") {
    import spark.implicits._
    // 50 words, all alpha, all distinct-ish, enough stopwords: passes all;
    // second doc: 10 words (fails word count), one repeated word 10x
    // (fails repetition and stopword floor)
    // 48 distinct 4-char alpha words + "the a": 50 words, avg len in
    // [3,10], all-alpha, 2 stopwords, zero repetition
    val good = (for { x <- 'a' to 'z'; y <- 'a' to 'z' } yield s"xy$x$y")
      .take(48).mkString("the a ", " ", "")
    val df = Seq((1L, good), (2L, Seq.fill(10)("zz").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.withGopherCols(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ok_word_count"), r.getAs[Long]("ok_stop"),
          r.getAs[Long]("ok_repetition"), r.getAs[Long]("gopher_ok"))).toMap
    assert(out(1L) == ((1L, 1L, 1L, 1L)))
    assert(out(2L) == ((0L, 0L, 0L, 0L)))
  }

  test("w1_wordcount matches a plain-Scala oracle on the fixture") {
    val counts = TextOps.defs("w1_wordcount")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expected = docTexts.map(_._2)
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(counts == expected)
  }

  test("d22 attributes the cross-source dup pair and never a within-source one") {
    // doc 1 (srcA) == doc 2 (srcB) is the only verified near-dup edge that
    // crosses sources; docs 3/4 are same-source so even a verified edge
    // among them must not appear. Pair key is order-normalized.
    val d = TestSpark.tempDir("graft-d22").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(
      Row(1L, "the cat sat on the mat today", "en", "srcA", 28L),
      Row(2L, "the cat sat on the mat today", "en", "srcB", 28L),
      Row(3L, "completely different words entirely here now", "en", "srcA", 44L),
      Row(4L, "completely different words entirely here now", "en", "srcA", 44L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Dedup.defs("d22_cross_source_dups")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("srcA", "srcB", 1L)), s"got ${out.toSeq}")
  }

  test("q44 HOF scalars are internally consistent and match a direct sum") {
    val dir001 = "/root/testdata/sf0.001"
    val rows = Relational.defs("q44_array_hof")(spark, dir001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, total, nBig, top3, mx, mn) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nBig <= n && mn <= mx && top3 <= total && total >= n * mn && total <= n * mx, r.toString)
    }
    // the lambda fold must equal a plain aggregation of the same column
    val direct = spark.read.parquet(s"$dir001/lineitem.parquet")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("tq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(2) == direct(r.getLong(0)), r.toString))
  }

  test("m13 classifies torn vs bitrot vs intact exactly on the known fixture") {
    // fixture doc_ids 1..6, one source: %9==4 -> doc 4 torn (length+digest
    // fail), %9==2 -> doc 2 bitrot (digest fails at intact length), rest
    // intact — the two failure classes must not bleed into each other
    val rows = Multimodal.defs("m13_payload_integrity")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val lens = docTexts.toMap.view.mapValues(_.length.toLong)
    assert(r.getString(0) == "src0")
    assert(r.getLong(1) == 6L, "n_objects")
    assert(r.getLong(2) == 1L, "n_torn (doc 4)")
    assert(r.getLong(3) == 1L, "n_bitrot (doc 2)")
    assert(r.getLong(4) == Seq(1L, 3L, 5L, 6L).map(lens(_)).sum, "intact_bytes")
  }

  test("q78 conversion counts match a hand-rolled sequential scanner per user") {
    val dir001 = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.load(spark, dir001, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        org.apache.spark.sql.functions.unix_millis(col("ts")).as("ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // independent spelling: no regex — an explicit leftmost-non-overlapping
    // scan for "v, then clicks, then p, nothing between"
    def scanConv(j: String): Long = {
      var i = 0; var n = 0L
      while (i < j.length) {
        if (j(i) == 'v') {
          var k = i + 1
          while (k < j.length && j(k) == 'c') k += 1
          if (k < j.length && j(k) == 'p') { n += 1; i = k + 1 }
          else i += 1
        } else i += 1
      }
      n
    }
    val expected = ev.groupBy(_._1).map { case (u, es) =>
      val j = es.sortBy(e => (e._4, e._2)).map(_._3.head).mkString
      (u, (j.length.toLong, scanConv(j)))
    }
    val got = Relational.defs("q78_sequence_match")(spark, dir001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0L), "test premise: some conversion exists")
  }

  test("q78 flood pin: a single hot user >> seqMatchCap completes with prefix semantics") {
    import spark.implicits._
    // one user with 5x the cap in events (the hot-key shape that OOMed
    // the uncapped collect_list design at 100x), one small control user;
    // event types cycle so conversions exist on both sides of the cap
    val cap = Relational.seqMatchCap
    val hot = (0 until cap * 5).map { k =>
      val i = (k % 5) match {
        case 0 => "v"; case 1 => "c"; case 2 => "p"; case 3 => "e"; case 4 => "o"
      }
      (7L, k.toLong * 1000L, k.toLong, i)
    }
    val small = Seq((8L, 0L, 0L, "v"), (8L, 1000L, 1L, "c"), (8L, 2000L, 2L, "p"))
    val e = (hot ++ small).toDF("user_id", "ms", "event_id", "i")
      .select(col("user_id"),
        struct(col("ms"), col("event_id"), col("i")).as("o"))
    val got = Relational.seqMatch(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // journey/regex analysis covers exactly the first `cap` events; the
    // cycle is "vcpeo" so each full cycle inside the prefix converts once
    assert(got(7L)._1 == cap * 5L, "n_events must stay the FULL count")
    val prefix = hot.take(cap).map(_._4).mkString
    val expectedConv = "vc*p".r.findAllIn(prefix).size.toLong
    assert(expectedConv == (cap / 5L), "fixture premise: one conversion per cycle")
    assert(got(7L)._2 == expectedConv, "n_conv must follow the prefix rule")
    assert(got(8L) == ((3L, 1L)), "control user unaffected by the cap")
  }

  test("q45 SCD2 history matches a sequential per-user replay exactly") {
    val dir001 = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.load(spark, dir001, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        org.apache.spark.sql.functions.unix_millis(col("ts")).as("ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // sequential replay: per user in (ms, event_id) order, a row opens
    // whenever the status differs from the previous event's status
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val runs = es.sortBy(e => (e._4, e._2))
        .foldLeft(Vector.empty[(String, Long)]) { case (acc, (_, _, st, ms)) =>
          if (acc.nonEmpty && acc.last._1 == st) acc else acc :+ (st -> ms)
        }
      runs.zipWithIndex.map { case ((st, ms), i) =>
        val to = if (i + 1 < runs.length) Some(runs(i + 1)._2) else None
        (u, i + 1L) -> ((st, ms, to, to.isEmpty))
      }
    }.toMap
    val got = Relational.defs("q45_scd2")(spark, dir001).collect().map { r =>
      (r.getLong(0), r.getLong(4)) ->
        ((r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(5)))
    }.toMap
    assert(got == expected, s"${got.size} vs ${expected.size} version rows")
    // history must actually compress: fewer version rows than events, and
    // exactly one open (is_current) row per user
    assert(got.size < ev.length, "no status run was collapsed")
    val curr = got.toSeq.filter(_._2._4).groupBy(_._1._1).view.mapValues(_.size)
    assert(ev.map(_._1).distinct.forall(u => curr.getOrElse(u, 0) == 1),
      "every user needs exactly one current row")
  }

  test("q46 hourly concurrency matches a sequential global sweep-line exactly") {
    val dir001 = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.load(spark, dir001, "events")
      .select(col("user_id"), col("event_id"),
        org.apache.spark.sql.functions.unix_millis(col("ts")).as("ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sequential sessions (q16's gap rule), then ONE global sweep with the
    // −1-before-+1 tie order — no hour decomposition, the semantics alone
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._2)).map(_._3)
      sorted.tail.foldLeft(Vector((sorted.head, sorted.head))) { (acc, ms) =>
        if (ms - acc.last._2 > 1800000L) acc :+ (ms -> ms)
        else acc.init :+ (acc.last._1 -> ms)
      }
    }
    val bounds = sessions.flatMap { case (s0, e0) => Seq((s0, 1L), (e0 + 1, -1L)) }
      .sortBy { case (ms, d) => (ms, d) }
    var run = 0L
    val perHour = scala.collection.mutable.LinkedHashMap[Long, (Long, Long, Long, Long)]()
    bounds.foreach { case (ms, d) =>
      val h = ms / 3600000
      val (ci, ns, ne, mx) = perHour.getOrElseUpdate(h, (run, 0L, 0L, Long.MinValue))
      run += d
      perHour(h) = (ci, ns + (if (d > 0) 1 else 0), ne + (if (d < 0) 1 else 0),
        math.max(mx, run))
    }
    val expected = perHour.map { case (h, (ci, ns, ne, mx)) => h -> ((ci, ns, ne, mx)) }.toMap
    val got = Relational.defs("q46_session_concurrency")(spark, dir001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, s"${got.size} vs ${expected.size} hour rows")
    // the sweep must exercise real overlap: some hour holds >1 concurrent
    // session, and some hour carries sessions in from a previous hour
    assert(got.values.exists(_._4 > 1), "no concurrent sessions at sf0.001")
    assert(got.values.exists(_._1 > 0), "no hour inherits open sessions")
  }

  test("w10 oov rates hand-recount from the deterministic top-16 head") {
    val dir001 = "/root/testdata/sf0.001"
    val toks = spark.read.parquet(s"$dir001/documents.parquet")
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val head = toks.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(16).map(_._1).toSet
    val expected = toks.groupBy(_._1).map { case (src, ts) =>
      val n = ts.length.toLong
      val oov = ts.count(t => !head(t._2)).toLong
      src -> ((n, oov, oov * 1000000L / n))
    }
    val got = TextOps.defs("w10_oov_rate")(spark, dir001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"${got.size} vs ${expected.size} sources")
    // the budget must bite: real OOV mass, but not everything OOV
    assert(got.values.forall(v => v._2 > 0 && v._2 < v._1))
  }

  test("w9 zipf head is contiguously ranked with consistent products and head share") {
    val rows = TextOps.defs("w9_zipf")(spark, "/root/testdata/sf0.001")
      .orderBy("rnk").collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      "head must be ordered by descending frequency")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(0) * r.getLong(2), r.toString)
      assert(r.getDouble(4) == r.getLong(2).toDouble / cnts.head, r.toString)
    }
    assert(rows.head.getDouble(4) == 1.0)
  }

  test("s16 vote agrees with a hand recount over s14's top-5 and labels") {
    val dir001 = "/root/testdata/sf0.001"
    val labels = spark.read.parquet(s"$dir001/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val top5 = Similarity.defs("s14_ann_rerank")(spark, dir001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
    val got = Similarity.defs("s16_knn_classify")(spark, dir001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == top5.keySet, "one classification per query")
    top5.foreach { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val (predLabel, predVotes) = votes.toSeq.minBy { case (l, v) => (-v, l) }
      val (trueL, predL, v, correct) = got(q)
      assert(predL == predLabel && v == predVotes, s"query $q: ${got(q)} vs $votes")
      assert(trueL == labels(q) && correct == (if (trueL == predL) 1L else 0L))
    }
  }

  test("t16 copy counts hand-recount from md5 residues and per-lang weights") {
    val dir001 = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir001/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val tokens = docs.groupBy(_._2).view
      .mapValues(_.map(_._3.split(" ", -1).length.toLong).sum).toMap
    val t = tokens.values.sum
    val k = tokens.size.toLong
    val weight = tokens.map { case (l, tok) => l -> t.toDouble / (k * tok) }
    def residue(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val expected = docs.flatMap { case (id, l, _) =>
      val w = weight(l)
      val n = math.floor(w).toLong +
        (if (residue(id) < w - math.floor(w)) 1L else 0L)
      if (n > 0) Some(id -> ((l, w, n))) else None
    }.toMap
    val got = TextOps.defs("t16_mixture_sample")(spark, dir001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"${got.size} vs ${expected.size} manifest rows")
    // the mix must actually resample: some doc upsampled (>=2 copies) and
    // some doc dropped, else the query degenerates to a pass-through
    assert(got.values.exists(_._3 >= 2L), "no upsampled language")
    assert(got.size < docs.length, "no downsampled document")
  }

  test("m7 modality quotas hand-recount from byte shares and md5 residues") {
    val dir001 = "/root/testdata/sf0.001"
    def md5hex(s: Array[Byte]): String = java.security.MessageDigest
      .getInstance("MD5").digest(s).map("%02x".format(_)).mkString
    val types = Array("image", "audio", "video")
    val docs = spark.read.parquet(s"$dir001/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        val mt = types("0123456789abcdef".indexOf(md5hex(bytes).charAt(0)) % 3)
        (r.getLong(0), mt, bytes.length.toLong)
      }
    val byType = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val t = byType.values.sum
    val weight = byType.map { case (m, b) => m -> t.toDouble / (byType.size * b) }
    val expected = docs.flatMap { case (id, mt, _) =>
      val w = weight(mt)
      val hex = md5hex(id.toString.getBytes("UTF-8")).take(8)
      val frac = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      val n = math.floor(w).toLong + (if (frac < w - math.floor(w)) 1L else 0L)
      if (n > 0) Some(id -> ((mt, w, n))) else None
    }.toMap
    val got = graft.operators.Multimodal.defs("m7_media_mixture")(spark, dir001).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == expected, s"${got.size} vs ${expected.size} manifest rows")
    assert(got.values.exists(_._3 >= 2L) && got.size < docs.length,
      "the media mix must both upsample and downsample at sf0.001")
  }

  test("m6 media dedup keeps one survivor per identical payload, lowest id on ties") {
    // docs 1 and 2 are byte-identical payloads (identical size, so the
    // tie-break decides): doc 1 must survive, doc 2 must not; every other
    // payload is unique and survives
    val survivors = graft.operators.Multimodal.defs("m6_media_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L, 4L, 5L, 6L), s"got $survivors")
  }

  test("t17 mean bigram likelihood hand-recounts in ppm floor arithmetic") {
    // corpus model over all three docs: c(a,b)=3 c(b,a)=1 c(b,c)=1 c(c,a)=1,
    // prefixes a·=3 b·=2 c·=1 → p6(a,b)=1000000, p6(b,a)=p6(b,c)=500000,
    // p6(c,a)=1000000; the per-doc means are exact integer floors
    val d = TestSpark.tempDir("graft-t17").toString
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = Seq(
      Row(1L, "a b a b", "en", "src0", 7L),
      Row(2L, "a b c", "en", "src0", 5L),
      Row(3L, "c a", "en", "src0", 3L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docsSchema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextOps.defs("t17_lm_likelihood")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((3L, 833333L)),   // (1000000+500000+1000000) div 3
      2L -> ((2L, 750000L)),   // (1000000+500000) div 2
      3L -> ((1L, 1000000L))), s"got $got")
  }

  test("w11 growth curves: final vocab equals per-source distinct tokens, cums monotone") {
    val dir001 = "/root/testdata/sf0.001"
    val rows = TextOps.defs("w11_heaps")(spark, dir001).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val bySource = rows.groupBy(_._1._1)
    // ground truth straight off the parquet, independent of quartiles
    val truth = spark.read.parquet(s"$dir001/documents.parquet")
      .select(col("source"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").collect()
      .map(r => (r.getString(0), r.getString(1)))
    bySource.foreach { case (src, qs) =>
      assert(qs.keySet.map(_._2) == Set(1L, 2L, 3L, 4L),
        s"$src must report all 4 quartiles: ${qs.keySet}")
      val ord = (1L to 4L).map(q => qs((src, q)))
      // cumulative counts never decrease, and each quartile adds docs
      assert(ord.sliding(2).forall { case Seq(a, b) =>
        b._1 > a._1 && b._2 >= a._2 && b._3 >= a._3 },
        s"$src cums must be monotone: $ord")
      val toks = truth.filter(_._1 == src)
      assert(ord.last._2 == toks.length, s"$src final tokens_cum")
      assert(ord.last._3 == toks.map(_._2).distinct.length,
        s"$src final vocab_cum must equal the source's distinct token count")
    }
  }

  test("t18 tertile buckets partition the corpus with ordered average scores") {
    val dir001 = "/root/testdata/sf0.001"
    val rows = TextOps.defs("t18_ppl_buckets")(spark, dir001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("head", "middle", "tail"),
      s"all three buckets must be populated at sf0.001: ${rows.keySet}")
    val nDocs = TextOps.defs("t17_lm_likelihood")(spark, dir001).count()
    assert(rows.values.map(_._1).sum == nDocs, "buckets must partition the scored docs")
    // tertile cuts: head is the most corpus-typical third
    assert(rows("head")._3 > rows("middle")._3 &&
      rows("middle")._3 > rows("tail")._3,
      s"average score must order head > middle > tail: $rows")
    // a tertile partition puts roughly a third in each bucket (exact
    // thirds need not hold with tied integer scores)
    rows.values.foreach { case (n, _, _) =>
      assert(n >= nDocs / 6 && n <= nDocs / 2 + 1, s"degenerate bucket: $rows")
    }
  }

  test("q48 trailing-7-day actives match a per-day sequential recount") {
    val dir001 = "/root/testdata/sf0.001"
    val ud = graft.sources.Tables.load(spark, dir001, "events")
      .select(col("user_id"), org.apache.spark.sql.functions.to_date(col("ts")).as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct
    val expected = days.map { d =>
      d.toString -> ud.filter { case (_, ad) =>
        !ad.isAfter(d) && ad.isAfter(d.minusDays(7))
      }.map(_._1).distinct.length.toLong
    }.toMap
    val got = Relational.defs("q48_rolling_active")(spark, dir001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"${got.size} vs ${expected.size} day rows")
    // the window must actually widen the daily count somewhere
    val daily = days.map { d =>
      d.toString -> ud.filter(_._2 == d).map(_._1).distinct.length.toLong
    }.toMap
    assert(days.exists(d => got(d.toString) > daily(d.toString)),
      "trailing window never exceeded the single-day count — fixture too degenerate")
  }

  private val docsSchemaFx = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val d = TestSpark.tempDir("graft-docs-fx").toString
    val rr = rows.map { case (id, t, src) => Row(id, t, "en", src, t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rr, 2), docsSchemaFx)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("w12 TV distance hand-computes on a two-source corpus (1/3 each)") {
    // src A tokens {a,a,b}, src B {b,c,c}: p_A=(2/3,1/3,0), p=(1/3,1/3,1/3)
    // → TV = ½(1/3 + 0 + 1/3) = 1/3 for both sources, absent-token mass
    // exercised on both sides (A lacks c, B lacks a)
    val d = writeDocs(Seq((1L, "a a b", "A"), (2L, "b c c", "B")))
    val got = TextOps.defs("w12_source_divergence")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("A" -> ((3L, 12.0 / 36.0)), "B" -> ((3L, 12.0 / 36.0))),
      s"got $got")
  }

  test("q50 orphan audit counts each planted violation exactly once") {
    val d = TestSpark.tempDir("graft-ri-fx").toString
    def w(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$d/$name.parquet")
    def s1(n: String) = StructType(Seq(StructField(n, LongType)))
    def s2(a: String, b: String) =
      StructType(Seq(StructField(a, LongType), StructField(b, LongType)))
    def s3(a: String, b: String, c: String) = StructType(Seq(
      StructField(a, LongType), StructField(b, LongType), StructField(c, LongType)))
    w("region", s1("r_regionkey"), Seq(Row(0L)))
    w("nation", s2("n_nationkey", "n_regionkey"), Seq(Row(0L, 0L), Row(1L, 5L)))
    w("customer", s2("c_custkey", "c_nationkey"), Seq(Row(10L, 0L), Row(11L, 9L)))
    w("supplier", s1("s_suppkey"), Seq(Row(20L)))
    w("part", s1("p_partkey"), Seq(Row(30L)))
    w("orders", s2("o_orderkey", "o_custkey"),
      Seq(Row(100L, 10L), Row(101L, 10L), Row(102L, 99L)))
    w("lineitem", s3("l_orderkey", "l_partkey", "l_suppkey"),
      Seq(Row(100L, 30L, 20L), Row(103L, 30L, 20L)))
    val got = Relational.defs("q50_orphan_audit")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "lineitem_orphan_order" -> 1L, "lineitem_orphan_part" -> 0L,
      "lineitem_orphan_supplier" -> 0L, "orders_orphan_customer" -> 1L,
      "orders_childless" -> 2L, "customer_orphan_nation" -> 1L,
      "nation_orphan_region" -> 1L), s"got $got")
  }

  test("m9 frame overlap finds the contained clip and drops the boilerplate flood") {
    val f1 = "x" * 32; val f2 = "y" * 32; val f3 = "z" * 32; val f4 = "w" * 32
    val b1 = "b" * 32; val b2 = "c" * 32
    val flood = (100L until 171L).map(i => (i, b1 + b2, "s")) // df=71 > 64: dropped
    val d = writeDocs(Seq(
      (1L, f1 + f2, "s"),             // the clip: frames F1 F2
      (2L, f1 + f2 + f3 + f4, "s"),   // the full item containing it
      (3L, "q" * 32, "s")) ++ flood)
    val got = graft.operators.Multimodal.defs("m9_frame_overlap")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 2L, 4L, 1.0)),
      s"expected exactly the contained clip at containment 1.0; got ${got.mkString(";")}")
  }

  test("s20 farthest-first seeding picks orthogonal axes and never a duplicate") {
    val d = TestSpark.tempDir("graft-s20-fx").toString
    def vec(i: Int): Seq[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = 1.0f; a.toSeq
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val rows = Seq(Row(0L, vec(0), 0), Row(1L, vec(1), 0), Row(2L, vec(2), 0),
      Row(3L, vec(3), 0), Row(4L, vec(0), 0)) // 4 duplicates seed 0
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.defs("s20_kcenter_seed")(spark, d).collect()
      .sortBy(_.getLong(0))
    assert(got.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L),
      s"seed ids: ${got.mkString(";")}") // the vec 0 duplicate (ms=1.0) loses
    assert(got.head.isNullAt(2), "first seed has no max_sim")
    assert(got.tail.forall(_.getDouble(2) == 0.0),
      "orthogonal picks must report max_sim 0.0")
  }

  test("d25 soft-dedup weights are exactly 1e6 div multiplicity, corpus intact") {
    // docTexts fixture: docs 1/2 are exact dups (multiplicity 2), the rest
    // unique — every doc must survive with its group's weight
    val got = Dedup.defs("d25_soft_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), s"every doc survives: $got")
    assert(got(1L) == ((2L, 500000L)) && got(2L) == ((2L, 500000L)), s"$got")
    Seq(3L, 4L, 5L, 6L).foreach(id => assert(got(id) == ((1L, 1000000L)), s"$got"))
  }

  test("s21 range rollup is consistent with s5's ranking over the same candidates") {
    val dir001 = "/root/testdata/sf0.001"
    val s5 = Similarity.defs("s5_ann_ivf")(spark, dir001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val range = Similarity.defs("s21_range_search")(spark, dir001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(range.size == 5)
    range.foreach { case (q, (nMatches, maxSim)) =>
      val top = s5.filter(_._1 == q).sortBy(_._2)
      val topAbove = top.count(_._3 >= 0.3)
      // matches are exactly the sims >= threshold over the SAME candidate
      // set, so the top-5's above-threshold count must agree (capped at 5)
      if (nMatches <= 5) assert(topAbove == nMatches, s"q=$q: $topAbove vs $nMatches")
      else assert(topAbove == 5, s"q=$q")
      maxSim.foreach { ms =>
        assert(top.nonEmpty && ms == top.head._3,
          s"q=$q max_sim must equal the rank-1 sim: $ms vs ${top.headOption}")
      }
      if (maxSim.isEmpty) assert(topAbove == 0, s"q=$q")
    }
  }

  test("t19 BPE pair counts hand-compute, including overlapping pairs") {
    // vocab: ab(cnt 2), cd(1), aaa(1) → pairs: "ab"→(2 occ, 1 ctx),
    // "cd"→(1, 1), "aa"→(2, 2: positions 1 and 2 of aaa)
    val d = writeDocs(Seq((1L, "ab ab cd", "s"), (2L, "aaa", "s")))
    val got = TextOps.defs("t19_bpe_pairs")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("ab" -> ((2L, 1L)), "aa" -> ((2L, 2L)), "cd" -> ((1L, 1L))),
      s"got $got")
  }

  test("t20 packing replays as a sequential per-source fold") {
    val dir001 = "/root/testdata/sf0.001"
    val got = TextOps.defs("t20_seq_packing")(spark, dir001).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    got.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, seqId, off) =>
        assert(seqId == cum / 512 && off == cum % 512,
          s"doc at cum=$cum: got ($seqId, $off)")
        cum += n
      }
    }
    // the budget must actually split somewhere (premise: sources exceed 2048 tokens)
    assert(got.exists(_._4 > 0), "no source ever filled a sequence")
  }

  test("w14 burstiness separates a stuffed token from an evenly spread one") {
    // "spam" appears 30x in one doc and once in 9 others (df 10, total 39,
    // max 30 → burst 30·10·1e6/39 = 7692307); "norm" spreads 1x across the
    // same 10 docs (burst exactly 1e6)
    val docs = (1L to 10L).map { i =>
      val spam = if (i == 1) Seq.fill(30)("spam") else Seq("spam")
      (i, (spam ++ Seq("norm")).mkString(" "), "s")
    }
    val d = writeDocs(docs)
    val got = TextOps.defs("w14_token_burstiness")(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "spam" -> ((10L, 39L, 30L, 7692307L)),
      "norm" -> ((10L, 10L, 1L, 1000000L))), s"got $got")
  }

  test("q52 histogram partitions every event exactly once into bins 0-9") {
    val dir001 = "/root/testdata/sf0.001"
    val got = Relational.defs("q52_value_histogram")(spark, dir001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keys.forall { case (_, b) => b >= 0 && b <= 9 })
    // per-type totals must equal the raw event counts (no row lost to
    // boundary arithmetic, max value included via the clamp)
    val raw = graft.sources.Tables.load(spark, dir001, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perType = got.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    assert(perType == raw, s"$perType vs $raw")
  }

  test("w13 coverage curve recounts from a direct wordcount and is monotone") {
    val dir001 = "/root/testdata/sf0.001"
    val wc = graft.sources.Tables.load(spark, dir001, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = wc.map(_._2).sum
    val sorted = wc.sortBy { case (w, c) => (-c, w) }
    val got = TextOps.defs("w13_vocab_coverage")(spark, dir001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    Seq(100, 1000, 10000).foreach { k =>
      val headK = sorted.take(k)
      val (kEff, covered, tot, ppm) = got(k.toLong)
      assert(kEff == headK.length && covered == headK.map(_._2).sum && tot == total,
        s"k=$k: ${got(k.toLong)}")
      assert(ppm == covered * 1000000L / total)
    }
    assert(got(100L)._2 <= got(1000L)._2 && got(1000L)._2 <= got(10000L)._2)
  }

  test("t22 confusion matrix separates stopword-bearing docs from the rest") {
    val d = TestSpark.tempDir("graft-t22").toString
    val rows = Seq(
      Row(1L, "the cat and the dog", "en", "s", 19L),   // >=2 stopword hits → en
      Row(2L, "zzz qqq www", "en", "s", 11L),            // no hits → und
      Row(3L, "foo bar baz", "xx", "s", 11L))            // no hits → und
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), docsSchemaFx)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextOps.defs("t22_langid_eval")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      ("en", "en") -> ((1L, 2L, 500000L)),
      ("en", "und") -> ((1L, 2L, 500000L)),
      ("xx", "und") -> ((1L, 1L, 1000000L))), s"got $got")
  }

  test("s22 per-list errors are consistent with s17's membership counts") {
    val dir001 = "/root/testdata/sf0.001"
    val s17n = Similarity.defs("s17_kmeans_step")(spark, dir001).collect()
      .filter(_.getLong(1) == 1L) // dim = 1 row per cluster
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Similarity.defs("s22_quantization_error")(spark, dir001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == s17n.keySet, s"${got.keySet} vs ${s17n.keySet}")
    got.foreach { case (cid, (n, mean, mx)) =>
      assert(n == s17n(cid), s"cluster $cid member count")
      assert(mean >= 0.0 && mean <= 2.0 && mx >= mean - 1e-6,
        s"cluster $cid: mean=$mean max=$mx")
    }
  }

  test("t21 composes lang weights with dup down-weights, Bernoulli by residue") {
    // docTexts fixture: one lang (weight exactly 1.0), docs 1/2 exact dups
    // (eff 0.5 → Bernoulli by each doc's md5 residue), docs 3-6 unique
    // (eff 1.0 → exactly one copy, no randomness)
    val got = TextOps.defs("t21_dedup_weighted_sample")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    Seq(3L, 4L, 5L, 6L).foreach { id =>
      assert(got(id) == ((1L, 1.0, 1L)), s"unique doc $id: ${got.get(id)}")
    }
    def residue(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16).toDouble / 4294967296.0
    }
    Seq(1L, 2L).foreach { id =>
      val expectCopies = if (residue(id) < 0.5) 1L else 0L
      if (expectCopies == 0L)
        assert(!got.contains(id), s"doc $id residue ${residue(id)} must drop")
      else
        assert(got(id) == ((2L, 0.5, 1L)), s"doc $id: ${got.get(id)}")
    }
  }

  test("m10 scene runs collapse consecutive identical frames only") {
    val a = "a" * 32; val b = "b" * 32; val c = "c" * 32
    val d = writeDocs(Seq(
      (1L, a + a + b, "s"),      // frames A A B → 2 runs, max 2
      (2L, a + b + c, "s"),      // all distinct → 3 runs, max 1
      (3L, b + b + b + b, "s"))) // one long static scene → 1 run, max 4
    val got = graft.operators.Multimodal.defs("m10_scene_runs")(spark, d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(1L -> ((3L, 2L, 2L)), 2L -> ((3L, 3L, 1L)),
      3L -> ((4L, 1L, 4L))), s"got $got")
  }

  test("m12 keyframes: first frame of each run, digests match, reconciles with m10") {
    val a = "a" * 32; val b = "b" * 32
    val d = writeDocs(Seq(
      (1L, a + a + b + a, "s"))) // runs: [A A](f1) [B](f3) [A](f4)
    val got = graft.operators.Multimodal.defs("m12_keyframe_pick")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val md5a = java.security.MessageDigest.getInstance("MD5").digest(a.getBytes)
      .map("%02x".format(_)).mkString
    val md5b = java.security.MessageDigest.getInstance("MD5").digest(b.getBytes)
      .map("%02x".format(_)).mkString
    assert(got.toSet == Set(
      (1L, 1L, 1L, md5a, 2L), (1L, 2L, 3L, md5b, 1L), (1L, 3L, 4L, md5a, 1L)),
      s"got ${got.toSet}")
    // reconciliation on real data: one keyframe per m10 run, lengths sum
    // to the frame count
    val sf = "/root/testdata/sf0.001"
    val runs = graft.operators.Multimodal.defs("m10_scene_runs")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val keys = graft.operators.Multimodal.defs("m12_keyframe_pick")(spark, sf)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> ((rs.map(_.getLong(4)).sum, rs.length.toLong)) }
    assert(keys == runs, "keyframe manifest does not reconcile with m10's runs")
  }

  test("t23 split assignment is stable under corpus growth (per-source counts unchanged)") {
    // the defining property of an md5-residue split: adding NEW docs (new
    // ids, new source) must not move ANY existing doc across a split
    // boundary — which a row_number- or rand-based assignment fails
    val base = (0L until 100L).map(i => (i, s"doc number $i content", "s1"))
    val grown = base ++ (1000L until 1100L).map(i => (i, s"later doc $i", "s2"))
    def s1Counts(d: String) =
      TextOps.defs("t23_split_manifest")(spark, d).collect()
        .filter(_.getString(0) == "s1")
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    val before = s1Counts(writeDocs(base))
    val after = s1Counts(writeDocs(grown))
    assert(before == after,
      s"growth moved existing docs across splits: $before vs $after")
    // all three splits populated at n=100 and they partition the corpus
    assert(before.keySet == Set("train", "val", "test"), s"got $before")
    assert(before.values.map(_._1).sum == 100L)
  }

  test("s23 silhouette: tight planted clusters score near 1, bounds hold") {
    // label-0 pair along axis 0, label-1 pair along axis 1 → s6 forms two
    // 2-member clusters; each member sits ~on its centroid and far from
    // the other, so every silhouette is near 1 (and always within [-1, 1])
    val d = TestSpark.tempDir("graft-sil").toString
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val embRows = Seq(
      Row(0L, vec(0 -> 1.0f), 0), Row(1L, vec(0 -> 1.0f, 1 -> 0.05f), 0),
      Row(2L, vec(2 -> 1.0f), 1), Row(3L, vec(2 -> 1.0f, 3 -> 0.05f), 1))
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 2), embSchema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.defs("s23_silhouette")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(rows.size == 2, s"two planted clusters expected: $rows")
    rows.foreach { case (cid, (n, mean, mn)) =>
      assert(n >= 2, s"cluster $cid lost members")
      assert(mean >= -1.0 && mean <= 1.0 && mn >= -1.0 && mn <= 1.0,
        s"silhouette out of bounds: $cid -> ($mean, $mn)")
      assert(mean > 0.5, s"well-separated cluster $cid must score high: $mean")
    }
  }

  test("t26 funnel: every gate bites; benchmark docs and non-train residues never survive") {
    val dir001 = "/root/testdata/sf0.001"
    val rows = TextOps.defs("t26_curation_pipeline")(spark, dir001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = spark.read.parquet(s"$dir001/documents.parquet").count()
    assert(rows.nonEmpty && rows.length < total.toInt,
      s"the funnel must pass some docs and drop some: ${rows.length} of $total")
    assert(rows.forall(_._1 >= 10), "benchmark docs 0-9 are eval, never training")
    // t23's residue: every survivor is in the train split
    val md = java.security.MessageDigest.getInstance("MD5")
    def residue(id: Long): Int = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(hex(0)) * 16 + "0123456789abcdef".indexOf(hex(1))
    }
    assert(rows.forall(r => residue(r._1) >= 26), "a val/test doc leaked into training")
    // packing invariant per source: offsets are the running sum mod 512
    rows.groupBy(_._2).values.foreach { g =>
      var cum = 0L
      g.sortBy(_._1).foreach { case (_, _, nt, seqId, off) =>
        assert(seqId == cum / 512 && off == cum % 512, s"packing broke at $g")
        cum += nt
      }
    }
  }

  test("t27/d28: chunk grid covers every token; verbatim shared chunks are flagged") {
    val common = (1 to 200).map(i => s"tok$i").mkString(" ")
    val d = writeDocs(Seq((1L, common, "s"), (2L, common, "s"),
      (3L, "totally different words here now", "s")))
    val chunks = TextOps.defs("t27_rag_chunks")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 200 tokens → starts 0/96/192 with lens 128/104/8; 5-token doc → one
    // whole-doc chunk; windows overlap by 32 and jointly cover every token
    assert(chunks.filter(_._1 == 1L).map(c => (c._3, c._4)).toSet ==
      Set((0L, 128L), (96L, 104L), (192L, 8L)), chunks.toSeq)
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, 5L)))
    val dups = Dedup.defs("d28_dup_chunks")(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // the identical docs share all 3 chunk fingerprints; doc 3's is unique
    assert(dups.length == 3 && dups.forall(_ == ((2L, 2L, 1L))), dups.toSeq)
  }

  test("w17 dataset card hand-computes: language majority, cross-source dups, ppm floors") {
    val d = TestSpark.tempDir("graft-card-fx").toString
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // A: 2 en + 1 fr docs; one of A's docs is duplicated into B (a mirror
    // pair must count against BOTH cards); B: the mirror + one unique doc
    val rows = Seq(
      Row(1L, "one two three", "en", "A", 13L),
      Row(2L, "four five six seven", "en", "A", 19L),
      Row(3L, "un deux trois", "fr", "A", 13L),
      Row(4L, "one  two   three", "en", "B", 16L), // dup of 1 after normalize
      Row(5L, "unique content here", "en", "B", 19L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sch)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextOps.defs("w17_dataset_card")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))).toMap
    // A: 3 docs, 3+4+3=10 tokens, 2 langs, en 2/3 → 666666 ppm,
    //    1 dup doc (doc 1, corpus-wide m=2) → 333333 ppm, mean 10/3=3
    assert(got("A") == ((3L, 10L, 2L, "en", 666666L, 1L, 333333L, 3L)),
      s"A card: ${got("A")}")
    // B: 2 docs, 6+3=9 tokens (t1's raw-split semantics count the empty
    // tokens doc 4's double spaces produce), 1 lang, en 1000000 ppm,
    // 1 dup → 500000, mean 9/2 = 4
    assert(got("B") == ((2L, 9L, 1L, "en", 1000000L, 1L, 500000L, 4L)),
      s"B card: ${got("B")}")
  }

  test("d29 benchmark leakage: a fully-quoted benchmark reads 1.0, a novel one 0.0") {
    val d = writeDocs(Seq(
      (1L, "alpha beta gamma delta epsilon", "bench"),     // quoted in 11
      (2L, "totally novel benchmark content here", "bench"),
      (11L, "intro words alpha beta gamma delta epsilon and a tail", "corpus"),
      (12L, "unrelated corpus text goes here", "corpus")))
    val got = Dedup.defs("d29_benchmark_leakage")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // 5 tokens → 3 distinct 3-gram shingles, all present verbatim in doc 11
    assert(got(1L) == ((3L, 3L, 1.0)), s"quoted benchmark: ${got(1L)}")
    assert(got(2L)._3 == 0.0, s"novel benchmark must leak nothing: ${got(2L)}")
  }

  test("q62 SCD2 merge: changed keys carry a closed + a current row, unchanged pass through") {
    val dir = "/root/testdata/sf0.001"
    val rows = Relational.defs("q62_scd2_merge")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4)))
    val base = graft.sources.Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def changed(k: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.charAt(0) < '2'
    }
    val byKey = rows.groupBy(_._1)
    assert(byKey.keySet == base.keySet, "every dimension key must survive the merge")
    assert(base.keys.exists(changed) && base.keys.exists(k => !changed(k)),
      "test premise: the change batch must be a proper subset")
    byKey.foreach { case (k, vs) =>
      // exactly ONE current row per key, always
      assert(vs.count(_._5 == 1L) == 1, s"key $k current-row count")
      if (changed(k)) {
        assert(vs.length == 2, s"changed key $k must version to 2 rows")
        val closed = vs.find(_._5 == 0L).get
        val current = vs.find(_._5 == 1L).get
        assert(closed._2 == base(k) && closed._4.contains("2024-01-15"),
          s"key $k old row must close at the merge date")
        assert(current._2 == s"SEG_${base(k)}" && current._3 == "2024-01-15"
          && current._4.isEmpty, s"key $k new row must open at the merge date")
      } else {
        assert(vs.length == 1 && vs.head._2 == base(k)
          && vs.head._3 == "2023-01-01" && vs.head._4.isEmpty,
          s"unchanged key $k must pass through open")
      }
    }
  }

  test("q63 correlation matrix equals a sequential exact-arithmetic recomputation") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.defs("q63_type_correlation")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    // independent hourly counts → BigInt power sums → the same formula
    val hc = graft.sources.Tables.load(spark, dir, "events")
      .groupBy(org.apache.spark.sql.functions.date_trunc("hour", col("ts"))
        .as("h"), col("event_type"))
      .count().collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // the FULL generated min..max hour axis (ADVICE r10): calendar hours
    // where no type fired at all still zero-fill
    val hours = {
      val hs = hc.keys.map(_._1.getTime).toSeq.distinct
      (hs.min to hs.max by 3600000L).map(new java.sql.Timestamp(_))
    }
    val types = hc.keys.map(_._2).toSeq.distinct.sorted
    assert(got.size == types.combinations(2).size,
      "one row per unordered type pair expected")
    for (Seq(t1, t2) <- types.combinations(2)) {
      val xs = hours.map(h => BigInt(hc.getOrElse((h, t1), 0L)))
      val ys = hours.map(h => BigInt(hc.getOrElse((h, t2), 0L)))
      val n = BigInt(hours.size)
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(a => a * a).sum)
      val (dx, dy) = (n * sxx - sx * sx, n * syy - sy * sy)
      val (nHours, rOpt) = got((t1, t2))
      assert(nHours == hours.size.toLong, s"($t1,$t2) hour count")
      if (dx <= 0 || dy <= 0) assert(rOpt.isEmpty, s"($t1,$t2) must be NULL")
      else {
        val expect = (n * sxy - sx * sy).toDouble /
          (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble))
        assert(rOpt.isDefined && math.abs(rOpt.get - expect) < 1e-12
          && rOpt.get.abs <= 1.0 + 1e-12,
          s"($t1,$t2) r=${rOpt} expected $expect")
      }
    }
  }

  test("q64 temporal join picks the dimension version valid at each event's date") {
    val dir = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def changed(k: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.charAt(0) < '2'
    }
    // sequential point-in-time reference: pre-merge dates see the old
    // segment; merge-date-or-later dates on changed keys see the new one
    val events = graft.sources.Tables.load(spark, dir, "events")
      .selectExpr("user_id", "event_type", "date_format(ts, 'yyyy-MM-dd') AS d")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = events.flatMap { case (u, ty, d) =>
      base.get(u).map { seg =>
        val at = if (changed(u) && d >= "2024-01-15") s"SEG_$seg" else seg
        (at, ty)
      }
    }.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    assert(events.exists { case (u, _, d) => changed(u) && d < "2024-01-15" }
      && events.exists { case (u, _, d) => changed(u) && d >= "2024-01-15" },
      "test premise: changed keys must have events on BOTH sides of the merge")
    val got = Relational.defs("q64_temporal_join")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expect, s"got ${got.size} groups, expect ${expect.size}")
  }

  test("q65 TWA matches a sequential step-function integration per type") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "event_id", "unix_millis(ts) AS ms",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = events.groupBy(_._1).map { case (ty, rows) =>
      // sequential truth: sort the series, each value holds to the next ms
      val sorted = rows.sortBy(r => (r._3, r._2))
      val holds = sorted.zip(sorted.tail).map { case (a, b) => (a._4, b._3 - a._3) }
      val tot = holds.map(_._2).sum
      val wsum = holds.map { case (vm, h) => BigInt(vm) * BigInt(h) }.sum
      ty -> ((holds.size.toLong, tot, wsum.toDouble / tot.toDouble / 1e6))
    }
    val got = Relational.defs("q65_time_weighted_avg")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expect.keySet, s"types: ${got.keySet}")
    expect.foreach { case (ty, (n, tot, twa)) =>
      assert(got(ty)._1 == n && got(ty)._2 == tot, s"$ty holds: ${got(ty)}")
      assert(math.abs(got(ty)._3 - twa) < 1e-9, s"$ty twa: ${got(ty)._3} vs $twa")
    }
  }

  test("w18 compaction plan: exact bytes, ceiling file counts, oversized flags") {
    val big = "x" * 300000 // one doc over the 256 KiB oversize line
    val d = writeDocs(Seq(
      (1L, "abcde", "A"), (2L, "fgh", "A"), (3L, big, "A"), (4L, "ij", "B")))
    val got = TextOps.defs("w18_compaction_plan")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val aBytes = 5L + 3L + 300000L
    assert(got(("A", "en")) ==
      ((3L, aBytes, 1L, (aBytes + 1048575) / 1048576, aBytes / 3)), s"$got")
    assert(got(("B", "en")) == ((1L, 2L, 0L, 1L, 2L)), s"$got")
  }

  test("q66 skew audit: exact ceiling-rank percentiles on a hand-built key distribution") {
    val d = TestSpark.tempDir("graft-skew-fx").toString
    // o_custkey group sizes [1,1,1,2,5]: n_keys=5, n_rows=10, max=5;
    // p50 rank ceil(2.5)=3 → sz 1; p90 rank ceil(4.5)=5 → sz 5; p99 → 5
    val orders = Seq(1L, 2L, 3L, 4L, 4L, 5L, 5L, 5L, 5L, 5L)
    spark.createDataFrame(
      spark.sparkContext.parallelize(orders.map(Row(_)), 3),
      StructType(Seq(StructField("o_custkey", LongType))))
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    // l_partkey: one key × 3 rows → max_share_ppm = 1000000
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L), Row(9L), Row(9L)), 2),
      StructType(Seq(StructField("l_partkey", LongType))))
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Relational.defs("q66_join_skew_audit")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got("o_custkey") == ((10L, 5L, 5L, 500000L, 1L, 5L, 5L)), s"$got")
    assert(got("l_partkey") == ((3L, 1L, 3L, 1000000L, 3L, 3L, 3L)), s"$got")
  }

  test("t28 repeat scrub keeps first occurrences and reassembles text in order") {
    val d = writeDocs(Seq(
      // chunks: [a b c][a b c][d e f][a b c] -> keep idx 0 and 2
      (1L, "a b c a b c d e f a b c", "s"),
      // no repeats; trailing short chunk survives
      (2L, "x y z w", "s"),
      // repeated SHORT trailing chunk is NOT the full chunk "p q r" — stays
      (3L, "p q r p", "s")))
    val got = TextOps.defs("t28_repeat_scrub")(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a b c d e f", 4L, 2L)), s"$got")
    assert(got(2L) == (("x y z w", 2L, 2L)), s"$got")
    assert(got(3L) == (("p q r p", 2L, 2L)), s"$got")
  }

  test("d24 bloom admission verdicts are exact, with whitespace-normalized fps") {
    val d = writeDocs(Seq(
      (1L, "hello world today", "s"), (2L, "another one", "s"),
      (3L, "something else", "s"),
      (7L, "HELLO  world   today", "s"),  // dup of 1 after normalization
      (17L, "unique novel content", "s"), // novel
      (27L, "another one", "s")))         // exact dup of 2
    val got = Dedup.defs("d24_bloom_dedup")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(7L -> true, 17L -> false, 27L -> true), s"got $got")
  }

  test("q68 islands match a sequential interval-merge sweep on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val ends = graft.sources.Tables.load(spark, sf, "lineitem")
      .selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) AS sd").collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate.toEpochDay)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val ivs = graft.sources.Tables.load(spark, sf, "orders")
      .selectExpr("o_orderkey", "o_custkey", "CAST(o_orderdate AS DATE) AS od")
      .collect()
      .flatMap { r =>
        val ok = r.getLong(0)
        ends.get(ok).map { e =>
          val st = r.getDate(2).toLocalDate.toEpochDay
          (r.getLong(1), ok, st, math.max(st, e))
        }
      }
    val expect = ivs.groupBy(_._1).map { case (cust, rows) =>
      // the same (start, end, orderkey) total order, strict-after breaks
      val sorted = rows.sortBy(r => (r._3, r._4, r._2))
      var islands = List.empty[(Long, Long)] // (start, maxEnd), newest first
      sorted.foreach { case (_, _, st, en) =>
        islands match {
          case (s0, e0) :: rest if st <= e0 =>
            islands = (s0, math.max(e0, en)) :: rest
          case _ => islands = (st, en) :: islands
        }
      }
      val covered = islands.map { case (s0, e0) => e0 - s0 + 1 }.sum
      val span = islands.map(_._2).max - islands.map(_._1).min + 1
      cust -> ((islands.size.toLong, rows.size.toLong, covered, span - covered))
    }
    val got = Relational.defs("q68_interval_islands")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(expect.values.exists(_._1 > 1), "premise: some customer must split")
    assert(got == expect, s"got ${got.size} customers, expect ${expect.size}")
  }

  test("w20 length percentiles hand-compute on a 10-doc source (ceiling ranks)") {
    // lengths 1..10 in source A: p50 = the len where cum >= ceil(10*50/100)
    // = 5 -> 5; p90 -> cum >= 9 -> 9; p99 -> cum >= ceil(9.9) = 10 -> 10.
    // Source B has one doc (all percentiles = its length).
    val d = writeDocs(
      (1 to 10).map(i => (i.toLong, "x" * i, "A")) :+ (11L, "x" * 7, "B"))
    val got = TextOps.defs("w20_length_profile")(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == Map(
      "A" -> ((10L, 5L, 9L, 10L, 10L)),
      "B" -> ((1L, 7L, 7L, 7L, 7L))), s"got $got")
  }

  test("q72 EWMA recomputes from q69's filled series by a sequential 8-term fold") {
    // one spelling of the fill (locfGrid) feeds both queries, so q72 must
    // equal the hand fold over q69's own gated output: per type, ordered
    // by hour, num = sum filled[t-i] * 2^(7-i), emitted only when all 8
    // terms exist
    val sf = "/root/testdata/sf0.001"
    val filled = Relational.defs("q69_gap_fill")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val expect = filled.groupBy(_._1).flatMap { case (ty, rows) =>
      val series = rows.sortBy(_._2)
      series.indices.flatMap { t =>
        val terms = (0 until 8).map(i =>
          if (t - i >= 0) series(t - i)._3 else None)
        if (terms.forall(_.isDefined))
          Some((ty, series(t)._2,
            terms.zipWithIndex.map { case (v, i) => v.get * (1L << (7 - i)) }
              .sum / 255L))
        else None
      }
    }.toSet
    val got = Relational.defs("q72_ewma_hourly")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(expect.nonEmpty, "premise: the fixture must produce smoothed rows")
    assert(got == expect, s"EWMA fold mismatch: " +
      s"${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
  }

  test("d34 prefix-filter join: hand-computed pairs, J=0.5 boundary inclusive, sub-threshold excluded") {
    // shared 10-word run = 8 common shingles; A and B append 4 distinct
    // words each (12 shingles per doc): ic=8, J = 8/(12+12-8) = 0.5
    // EXACTLY — the inclusive-threshold boundary. E extends A by one word
    // (13 shingles, 12 shared with A): J(A,E) = 12/13. J(B,E) = 8/17 —
    // below the bar and must be absent even though the pair shares
    // plenty of shingles. U shares nothing.
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = writeDocs(Seq(
      (1L, common + " a1 a2 a3 a4", "s"),
      (2L, common + " b1 b2 b3 b4", "s"),
      (3L, common + " a1 a2 a3 a4 a5", "s"),
      (4L, "totally unrelated words only here now", "s")))
    val got = Dedup.defs("d34_prefix_filter_join")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.5), (1L, 3L, 12.0 / 13.0)), s"got $got")
  }

  test("d30 finds strict-prefix pairs only, and a flooded band is capped out") {
    val base = "aaaaaaaaaabbbbbbbbbbccccccccccdddddddddd" // 40 chars
    val long = base + " plus an extended tail here"
    val flood = (100L until 400L).map(i =>
      (i, "z" * 32 + "x" * (1 + (i % 7)).toInt, "s"))
    val d = writeDocs(Seq(
      (1L, base, "s"),
      (2L, long, "s"),
      (3L, "totally unrelated thirty-six chars!", "s"),
      (4L, base, "s")) ++ flood) // 4 = exact dup of 1: equal length, no pair
    val got = Dedup.defs("d30_prefix_dups")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // 1 and 4 are both strict prefixes of 2; (1,4) is equal-length (d1's
    // domain); the 300-doc flood shares one band (> 256) and yields NOTHING
    assert(got == Set(
      (1L, 2L, base.length.toLong, long.length.toLong),
      (4L, 2L, base.length.toLong, long.length.toLong)), s"got $got")
  }

  test("d31 counts the verified near-dup pair once, under the t23 split map") {
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val r = Integer.parseInt(md.substring(0, 2), 16)
      if (r < 13) "test" else if (r < 26) "val" else "train"
    }
    val d = writeDocs(Seq(
      (1L, "the cat sat on the mat today", "s"),
      (2L, "the cat sat on the mat today", "s"), // exact dup of 1 (jac 1.0)
      (3L, "completely different words entirely here now", "s")))
    val got = Dedup.defs("d31_split_leakage")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val sp = Seq(split(1L), split(2L)).sorted
    assert(got.toSeq == Seq((sp.head, sp.last, 1L,
      if (sp.head == sp.last) 0L else 1L)), s"got ${got.mkString(";")}")
  }

  test("w19 histogram separates multiplicities the flat dup ppm can't") {
    val d = writeDocs(Seq(
      (1L, "alpha beta", "s"), (2L, "ALPHA   beta", "s"), // normalize to dup
      (3L, "alpha beta ", "s"),                            // trim to dup
      (4L, "gamma delta", "s"), (5L, "gamma delta", "s"),
      (6L, "unique text", "s")))
    val got = TextOps.defs("w19_dup_histogram")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      3L -> ((1L, 3L, 500000L)),
      2L -> ((1L, 2L, 333333L)),
      1L -> ((1L, 1L, 166666L))), s"got $got")
  }

  test("t29 saturation hand-computes per gram order on a repeating doc") {
    // "a b a b": unigrams 4/2 -> 500000; bigrams [a b, b a, a b] 3/2 ->
    // 333333; trigrams [a b a, b a b] 2/2 -> 0
    val d = writeDocs(Seq((1L, "a b a b", "s")))
    val got = TextOps.defs("t29_ngram_saturation")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((4L, 2L, 500000L)),
      2L -> ((3L, 2L, 333333L)),
      3L -> ((2L, 2L, 0L))), s"got $got")
  }

  test("q70 transitions respect session boundaries and row-conditional shares") {
    val d = TestSpark.tempDir("graft-paths-fx").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: [A B A] (10-min steps), 60-min gap, [B C]; user 2: [A B]
    val rows = Seq(
      Row(1L, ts(0), 1L, "A", 1.0, "{}"), Row(2L, ts(10), 1L, "B", 1.0, "{}"),
      Row(3L, ts(20), 1L, "A", 1.0, "{}"), Row(4L, ts(80), 1L, "B", 1.0, "{}"),
      Row(5L, ts(90), 1L, "C", 1.0, "{}"),
      Row(6L, ts(0), 2L, "A", 1.0, "{}"), Row(7L, ts(5), 2L, "B", 1.0, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.defs("q70_session_paths")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // the 60-min gap breaks user 1: A->B twice (u1 s1, u2), B->A once,
    // B->C once (u1 s2) — and NO A->B across the gap
    assert(got == Map(
      ("A", "B") -> ((2L, 1000000L)),
      ("B", "A") -> ((1L, 500000L)),
      ("B", "C") -> ((1L, 500000L))), s"got $got")
  }

  test("t32 two-phase stratified sample == full single-phase rank (prefilter lossless)") {
    // the exactness claim: the residue prefilter must never cost a
    // selected doc — the two-phase result equals ranking EVERY stratum
    // member by (md5-32 hash, doc_id) and taking the first 50
    val sf = "/root/testdata/sf0.001"
    def h32(id: Long): Long = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(m.take(8), 16)
    }
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = all.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.toSeq.map(d => (d._1, h32(d._1))).sortBy { case (id, h) => (h, id) }
        .take(50).zipWithIndex
        .map { case ((id, _), i) => (lang, i + 1L, id) }
    }.toSet
    val got = TextOps.defs("t32_stratified_exact_sample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(expect.nonEmpty && got == expect,
      s"two-phase diverged from the full rank: ${(got diff expect).take(3)}" +
        s" / ${(expect diff got).take(3)}")
  }

  test("t44 weighted sample == sequential min-of-w-hashes rank (prefilter lossless)") {
    // the A-ES-equivalent selection recomputed sequentially: each doc's
    // key is the MINIMUM of w salted md5-32 hashes, strata ranked by
    // (key, doc_id), first 50 — the two-phase cutoff must never cost a
    // selected doc
    val sf = "/root/testdata/sf0.001"
    def h32(s: String): Long = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(m.take(8), 16)
    }
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = all.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.toSeq.map { case (id, _, nc) =>
        val w = math.min(64L, 1L + nc / 256L)
        (id, w, (0L until w).map(j => h32(s"$id:$j")).min)
      }.sortBy { case (id, _, h) => (h, id) }
        .take(50).zipWithIndex
        .map { case ((id, w, _), i) => (lang, i + 1L, id, w) }
    }.toSet
    val got = TextOps.defs("t44_weighted_exact_sample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(expect.nonEmpty && got == expect,
      s"two-phase diverged from the full weighted rank: " +
        s"${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
    // exact-n per stratum (every sf0.001 stratum has >= 50 docs), and the
    // weighting is LIVE: the weighted draw differs from t32's uniform one
    val perLang = got.groupBy(_._1).map { case (l, xs) => l -> xs.size }
    assert(perLang.values.forall(_ == 50), s"not exact-n: $perLang")
    val uniform = TextOps.defs("t32_stratified_exact_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(got.map(t => (t._1, t._3)) != uniform,
      "weighted selection equals the uniform one — weights changed nothing")
  }

  test("w22 Simpson diversity hand-computes: uniform source low, degenerate source high") {
    // A: tokens a a b b (c = 2,2; N = 4): coll = 2+2 = 4, ppb = 4e9/12 =
    // 333333333. B: x x x x (one type): coll = 12, ppb = 12e9/12 = 1e9 —
    // the all-repeats ceiling.
    val d = writeDocs(Seq(
      (1L, "a a b b", "A"),
      (2L, "x x x x", "B")))
    val got = TextOps.defs("w22_simpson_diversity")(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "A" -> ((4L, 2L, 333333333L)),
      "B" -> ((4L, 1L, 1000000000L))), s"got $got")
  }

  test("w21 vocab overlap hand-computes; zero-overlap pairs are absent, not 0.0") {
    // A={a,b,c}, B={b,c,d}: J = 2/4; C={x,y} shares nothing — the pair
    // join must emit NO (A,C)/(B,C) row (absence IS the zero-overlap
    // verdict; a dense matrix would cost |sources|² rows of nothing)
    val d = writeDocs(Seq(
      (1L, "a b", "A"), (2L, "b c", "A"),
      (3L, "b c d", "B"),
      (4L, "x y", "C")))
    val got = TextOps.defs("w21_vocab_overlap")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == Map(("A", "B") -> ((3L, 3L, 2L, 0.5))), s"got $got")
  }

  test("q74 cumulative uniques: first-event trick hand-computes, gap day carries the total") {
    val d = TestSpark.tempDir("graft-cumuniq-fx").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-${day}%02d 10:00:00")
    // day1: u1,u2 new; day2: u1 returns (no new) ; day3: NO events (gap);
    // day4: u3 new + u2 returns
    val rows = Seq(
      Row(1L, ts(1), 1L, "A", 1.0, "{}"), Row(2L, ts(1), 2L, "A", 1.0, "{}"),
      Row(3L, ts(2), 1L, "A", 1.0, "{}"),
      Row(4L, ts(4), 3L, "A", 1.0, "{}"), Row(5L, ts(4), 2L, "A", 1.0, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.defs("q74_cumulative_uniques")(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "2024-03-01" -> ((2L, 2L, 2L)),
      "2024-03-02" -> ((1L, 0L, 2L)),
      "2024-03-03" -> ((0L, 0L, 2L)),
      "2024-03-04" -> ((2L, 1L, 3L))), s"got $got")
  }

  test("q43 cohorts hand-compute on a two-cohort fixture (churn, return, late joiner)") {
    val d = TestSpark.tempDir("graft-cohort-fx").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // 2024-01-01 is a Monday: weeks truncate to it cleanly
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // cohort W1 (Jan 1): u1 active w1+w2+w3, u2 active w1 only, u3 w1+w3
    // (skips w2 — the return case week counting must NOT bridge);
    // cohort W2 (Jan 8): u4 active w2+w3
    val rows = Seq(
      Row(1L, ts(1), 1L, "A", 1.0, "{}"), Row(2L, ts(9), 1L, "A", 1.0, "{}"),
      Row(3L, ts(16), 1L, "A", 1.0, "{}"),
      Row(4L, ts(2), 2L, "A", 1.0, "{}"),
      Row(5L, ts(3), 3L, "A", 1.0, "{}"), Row(6L, ts(17), 3L, "A", 1.0, "{}"),
      Row(7L, ts(8), 4L, "A", 1.0, "{}"), Row(8L, ts(15), 4L, "A", 1.0, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.defs("q43_retention_cohorts")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // W1 cohort size 3: offset0 = {1,2,3}, offset1 = {1} (u3 skipped w2),
    // offset2 = {1,3}; W2 cohort size 1: offset0 = {4}, offset1 = {4}
    assert(got == Map(
      ("2024-01-01", 0L) -> ((3L, 3L)),
      ("2024-01-01", 1L) -> ((1L, 3L)),
      ("2024-01-01", 2L) -> ((2L, 3L)),
      ("2024-01-08", 0L) -> ((1L, 1L)),
      ("2024-01-08", 1L) -> ((1L, 1L))), s"got $got")
  }

  test("d32 survivorship reconciles exactly with the d15 corpus it audits") {
    val sf = "/root/testdata/sf0.001"
    val kept = Dedup.defs("d15_neardup_corpus")(spark, sf).collect()
      .map(r => r.getString(3)).groupBy(identity)
      .map { case (src, vs) => src -> vs.length.toLong }
    val got = Dedup.defs("d32_neardup_survivorship")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.values.exists(_._2 > 0), "premise: some source must drop docs")
    got.foreach { case (src, (nDocs, nDropped, nKept, ppm)) =>
      assert(nDocs == nDropped + nKept, s"$src partition")
      assert(nKept == kept.getOrElse(src, 0L), s"$src vs the d15 corpus")
      assert(ppm == nKept * 1000000 / nDocs, s"$src ppm floor")
    }
  }

  test("q71 every grain reconciles to one exact grand total; buckets coarsen monotonically") {
    val got = Relational.defs("q71_rollup_reconciliation")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set("day", "week", "month", "year"), s"$got")
    assert(got.values.forall(_._3 == 1L), s"all grains must reconcile: $got")
    assert(got.values.map(_._2).toSet.size == 1,
      s"one grand total across grains: $got")
    val n = Seq("day", "week", "month", "year").map(got(_)._1)
    assert(n == n.sorted.reverse && n.distinct == n,
      s"bucket counts must strictly coarsen: $n")
  }

  test("s28 rocchio keeps the near-parallel neighbor first; tiny-corpus feedback is closed") {
    // 4-vector fixture: every query's top-5 IS the whole 3-neighbor
    // corpus, so every final hit must carry in_initial = 1, and the
    // feedback boost (same mean for all candidates per query) cannot
    // reorder — query 0's winner stays the near-parallel vector 1
    val rows = Similarity.defs("s28_rocchio_expand")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(rows.nonEmpty && rows.forall(_._4 == 1L),
      s"all hits must be initial on a 3-neighbor corpus: ${rows.mkString(";")}")
    val q0 = rows.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.head._2 == 1L, s"query 0 must keep vector 1 first: ${q0.toSeq}")
  }

  test("d33 cluster-aware split leaks NO verified near-dup pair (t23's would)") {
    val sf = "/root/testdata/sf0.001"
    val pairs = Dedup.defs("d4_jaccard_pairs")(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.5)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "premise: verified near-dup pairs must exist")
    val split = Dedup.defs("d33_cluster_split")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val leaked = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaked.isEmpty, s"cluster-aware split leaked: ${leaked.take(5).toSeq}")
    // the doc-hash split this replaces WOULD leak on the same pairs —
    // the fix is load-bearing, not vacuous
    def docSplit(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val r = Integer.parseInt(md.substring(0, 2), 16)
      if (r < 13) "test" else if (r < 26) "val" else "train"
    }
    assert(pairs.exists { case (a, b) => docSplit(a) != docSplit(b) },
      "premise: t23's per-doc split must straddle at least one pair")
  }

  test("t30 applies the argmax merge greedily and recounts symbol pairs") {
    // vocabulary {banana x2, cab}: pair counts ba:2 an:4 na:4 ca:1 ab:1 —
    // the (n DESC, pair) argmax picks 'an' over the tied 'na'; greedy
    // left-to-right merge gives banana -> [b, an, an, a], so round 2
    // reads (b,an):2 (an,an):2 (an,a):2 (c,a):1 (a,b):1
    val d = writeDocs(Seq((1L, "banana banana cab", "s")))
    val got = TextOps.defs("t30_bpe_merge_round")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("an", "a", 2L), ("an", "an", 2L), ("b", "an", 2L),
      ("a", "b", 1L), ("c", "a", 1L)), s"got ${got.mkString(";")}")
  }

  test("s27 fusion equals integer-ppb RRF recomputed from the s2/s5 lists on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    def ranks(name: String): Map[(Long, Long), Long] =
      Similarity.defs(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = ranks("s2_ann_lsh")
    val ivf = ranks("s5_ann_ivf")
    assert(lsh.nonEmpty && ivf.nonEmpty, "premise: both retrievers return")
    val fused = (lsh.keySet ++ ivf.keySet).toSeq.map { k =>
      val s = lsh.get(k).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
        ivf.get(k).map(r => 1000000000L / (60 + r)).getOrElse(0L)
      (k._1, k._2, s, lsh.contains(k), ivf.contains(k))
    }
    val expect = fused.groupBy(_._1).flatMap { case (_, vs) =>
      vs.sortBy(v => (-v._3, v._2)).zipWithIndex.filter(_._2 < 5).map {
        case ((q, n, s, il, iv), i) =>
          (q, n) -> ((s, i + 1L, if (il) 1L else 0L, if (iv) 1L else 0L))
      }
    }
    val got = Similarity.defs("s27_rrf_fusion")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect, s"got ${got.size} fused rows, expect ${expect.size}")
  }

  test("q76 skyline: kept points undominated, dropped points covered — brute check") {
    val sf = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
    val kept = Relational.defs("q76_skyline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(kept.nonEmpty && kept.length < all.length)
    def dominates(a: (Long, Double, Long), b: (Long, Double, Long)) =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    // no point (frontier or not) strictly dominates a kept point
    kept.foreach { k =>
      assert(!all.exists(p => p._1 != k._1 && dominates(p, k)),
        s"kept ${k._1} is dominated")
    }
    // every dropped point is dominated by (or duplicates) a kept point
    val keptIds = kept.map(_._1).toSet
    all.filterNot(p => keptIds(p._1)).foreach { p =>
      assert(kept.exists(k => k._2 <= p._2 && k._3 >= p._3),
        s"dropped ${p._1} has no covering frontier point")
    }
  }

  test("d35 cross-lang shingles: ordered pairs, bounded shares, exact floors") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.defs("d35_cross_lang_shingles")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "test premise: the corpus has cross-lang boilerplate")
    rows.foreach { case (l1, l2, n1, n2, sh, ppm) =>
      assert(l1 < l2, "pairs must be ordered once, never mirrored")
      assert(sh >= 1 && sh <= math.min(n1, n2),
        s"shared $sh outside [1, min($n1, $n2)]")
      assert(ppm == sh * 1000000L / math.min(n1, n2), "ppm must floor exactly")
    }
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
  }

  test("t36 calibration: buckets partition the corpus, dup ppm floors exact") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextOps.defs("t36_quality_dup_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._2).sum == corpus, "every doc lands in exactly one bucket")
    rows.foreach { case (b, nd, dup, ppm) =>
      assert(b >= 0 && b <= 10, s"stop-ppm decile $b out of range")
      assert(dup >= 0 && dup <= nd)
      assert(ppm == dup * 1000000L / nd, "dup ppm must floor exactly")
    }
  }

  test("q77 cdc apply matches a sequential per-user log replay exactly") {
    val sf = "/root/testdata/sf0.001"
    val log = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS ms",
        "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val expect = log.groupBy(_._1).flatMap { case (uid, ch) =>
      val last = ch.maxBy(c => (c._3, c._2))
      if (last._4 == "error") None // tombstone: the key is GONE
      else Some(uid -> ((last._5, last._3, ch.length.toLong)))
    }.toMap
    val got = Relational.defs("q77_cdc_apply")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, s"got ${got.size} keys, expect ${expect.size}")
    assert(expect.size < log.map(_._1).distinct.length,
      "test premise: at least one key must be tombstoned")
  }

  test("d36 cohesion: edges bounded by possible pairs, floors exact, members reconcile") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.defs("d36_cluster_cohesion")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, e, ppm) =>
      assert(n >= 2, "a cluster is at least a verified pair")
      val possible = n * (n - 1) / 2
      assert(e >= n - 1 && e <= possible,
        s"$e edges outside [spanning, clique] for $n members")
      assert(ppm == e * 1000000L / possible, "cohesion must floor exactly")
    }
    val clustered = Dedup.defs("d11_neardup_clusters")(spark, sf).count()
    assert(rows.map(_._2).sum == clustered,
      "cluster members must reconcile with d11's assignment")
  }

  test("d37 b-bit estimator: exact bias correction, perfect on exact dups") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.defs("d37_bbit_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, agree, est, j, err) =>
      assert(agree >= 0 && agree <= 16)
      assert(est == (2.0 * agree - 16) / 16, "bias correction must be exact")
      assert(err == math.abs(est - j))
      // identical sets have identical signatures, so every bit agrees
      if (j == 1.0) assert(agree == 16L && est == 1.0,
        "an exact dup must agree on all 16 bits")
    }
    // cross-sketch invariant vs d14 on the SAME candidate pairs: a full
    // 32-bit component agreement implies its low bit agrees, so
    // bbit_agree ≥ 16 · est_jaccard, pair for pair
    val full = Dedup.defs("d14_minhash_estimate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows.nonEmpty && full.nonEmpty)
    rows.foreach { case (d1, d2, agree, _, _, _) =>
      val fullAgree = math.round(full((d1, d2)) * 16)
      assert(agree >= fullAgree,
        s"pair ($d1,$d2): $agree bit-agreements < $fullAgree full agreements")
    }
  }

  test("w24 gini hand-recomputes from per-source sorted lengths (BigInt exact)") {
    val sf = "/root/testdata/sf0.001"
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val got = TextOps.defs("w24_length_gini")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == lens.keySet)
    lens.foreach { case (src, xs) =>
      val n = BigInt(xs.length)
      val t = xs.map(BigInt(_)).sum
      val srank = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val ppb = (BigInt(1000000000) * (2 * srank - (n + 1) * t)) / (n * t)
      val (gn, gt, gppb) = got(src)
      assert(gn == xs.length && gt == t.toLong)
      assert(gppb == ppb.toLong, s"$src: gini $gppb != hand $ppb")
    }
  }

  test("g23 distances match a sequential 4-round Bellman-Ford replay") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq
    val ew = pairs.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2)
      .map { case ((a, b), c) => (a, b, 1000000L / c) }.toSeq
    val und = ew ++ ew.map(e => (e._2, e._1, e._3))
    val src = und.map(_._1).min
    var dist = Map(src -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = und.flatMap { case (a, b, cost) =>
        dist.get(a).map(d => b -> (d + cost))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    val got = graft.operators.Graph.defs("g23_weighted_sssp")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist, s"got ${got.size} vertices, expect ${dist.size}")
    assert(got(src) == 0L)
  }

  test("g24 ppr: seed teleport floor, positivity, 3-hop locality") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keySet.toSeq.sorted.take(3).toSet
    var reach = seeds
    for (_ <- 1 to 3) reach = reach ++ reach.flatMap(v => adj.getOrElse(v, Set()))
    val got = graft.operators.Graph.defs("g24_personalized_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // every ranked vertex sits inside the seeds' 3-hop neighborhood —
    // the locality that makes PPR cheap (mass cannot outrun the rounds)
    got.keys.foreach(v => assert(reach(v), s"vertex $v outside 3 hops"))
    got.values.foreach(pr => assert(pr > 0))
    // a seed always keeps at least its teleport floor
    seeds.foreach { sd =>
      assert(got.contains(sd) && got(sd) >= 15L * 333333333333L / 100,
        s"seed $sd below the teleport floor")
    }
  }

  test("g22 histogram reconciles against g5's per-vertex labels") {
    val sf = "/root/testdata/sf0.001"
    val g5 = graft.operators.Graph.defs("g5_components")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hist = graft.operators.Graph.defs("g22_component_sizes")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nV = g5.length.toLong
    assert(hist.map(t => t._1 * t._2).sum == nV,
      "size × count must cover every vertex exactly once")
    val giant = g5.map(_._3).max
    assert(hist.map(_._1).max == giant, "giant component must top the histogram")
    hist.foreach { case (size, n, share, gshare) =>
      assert(share == size * n * 1000000L / nV)
      assert(gshare == giant * 1000000L / nV)
    }
  }
}
