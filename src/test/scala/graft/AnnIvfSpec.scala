package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Semantic pins for the IVF-style ANN (s5) on real testdata: result shape,
  * ranking invariants, and agreement with the exact baseline on what it does
  * return (an IVF list restricts candidates; it must not mis-rank them). */
class AnnIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("s29: augmented-cosine ranking == raw inner-product ranking (the MIPS reduction)") {
    // the reduction's theorem, checked empirically: ranking by
    // cos(q-hat, x-hat) = ip / (|q|·M) must reproduce the top-5 by raw
    // dot under the same (score DESC, neighbor_id) tie-break
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def ip(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val expect = (0L until 5L).flatMap { qid =>
      val qv = vecs(qid)
      vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, ip(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((id, s), i) => (qid, id, i + 1L, s) }
    }.toSet
    val got = Similarity.defs("s29_mips_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect, s"MIPS reduction diverged from raw-dot ranking: " +
      s"${(got diff expect).take(3)} / ${(expect diff got).take(3)}")
  }

  test("s30: IVF MIPS agrees with exact MIPS order on shared pairs; ip non-increasing") {
    // the reduction composed with the index: per query the ranking column
    // is sim = ip / (|q|·M), so ip must be non-increasing with rank; and
    // wherever s30's probed-list candidates intersect s29's exact top-5,
    // the relative order must agree (IVF loses candidates, never reorders)
    val ivf = Similarity.defs("s30_mips_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exact = Similarity.defs("s29_mips_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = ivf.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { qs =>
      val sorted = qs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq,
        "ranks must be dense from 1")
      assert(sorted.map(_._4).reverse.sorted.reverse.toSeq == sorted.map(_._4).toSeq,
        "ip must be non-increasing with rank")
    }
    val exactRank = exact.map(t => (t._1, t._2) -> t._3).toMap
    var shared = 0
    byQ.foreach { case (q, qs) =>
      val both = qs.filter(t => exactRank.contains((q, t._2))).sortBy(_._3)
      shared += both.length
      val exactOrder = both.sortBy(t => exactRank((q, t._2)))
      assert(both.map(_._2).toSeq == exactOrder.map(_._2).toSeq,
        s"query $q: IVF reordered pairs vs the exact MIPS ranking")
    }
    assert(shared > 0, "test premise: probed lists must hit some exact top-5")
  }

  test("s31: graph beam — dense ranks, exact cosines, recall@5 floor vs s1") {
    val exact = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exact5 = exact.filter(_._3 <= 5).map(t => (t._1, t._2)).toSet
    val exactSim = exact.map(t => (t._1, t._2) -> t._4).toMap
    val got = Similarity.defs("s31_ann_graph_beam")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { qs =>
      val sorted = qs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq,
        "ranks must be dense from 1")
      assert(sorted.map(_._4).reverse.sorted.reverse.toSeq == sorted.map(_._4).toSeq,
        "sims must be non-increasing with rank")
      qs.foreach { case (q, n, _, sim) =>
        assert(n != q, "self must be excluded")
        assert(sim >= -1.0000001 && sim <= 1.0000001)
      }
    }
    // the beam scores candidates with the EXACT cosine (no quantization):
    // wherever s1's top-10 ranked the same pair, the doubles agree
    got.foreach { case (q, n, _, sim) =>
      exactSim.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-12))
    }
    // recall floor: measured 0.72 mean at sf0.001 with (degree, beam,
    // rounds) = (8, 12, 6) and bucket-local entries; 0.4 is the alarm
    // line — a walk stuck at its entry bucket scores well below it
    val rec = byQ.map { case (q, qs) => qs.count(t => exact5((q, t._2))) / 5.0 }
    assert(rec.sum / rec.size >= 0.4,
      s"mean recall@5 ${rec.sum / rec.size} fell below the pinned floor")
  }

  test("s32: plane-count knob — planes=6 walk stays dense, exact, self-free") {
    val got = Similarity.defs("s32_ann_beam_planes6")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { qs =>
      val sorted = qs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq,
        "ranks must be dense from 1")
      assert(sorted.map(_._4).reverse.sorted.reverse.toSeq == sorted.map(_._4).toSeq,
        "sims must be non-increasing with rank")
      qs.foreach { case (q, n, _, sim) =>
        assert(n != q, "self must be excluded")
        assert(sim >= -1.0000001 && sim <= 1.0000001)
      }
    }
    // the knob changes bucket geometry, not scoring: wherever s1 ranked
    // the same pair, the exact-cosine doubles agree bit-for-bit
    val exactSim = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    got.foreach { case (q, n, _, sim) =>
      exactSim.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-12))
    }
  }

  test("s36: autoPlanes policy — exact integer boundaries, monotone, cap-respecting") {
    // the formula: smallest p >= 4 with n <= 256 * 2^p — pinned at the
    // exact power-of-two boundaries a float log2 would wobble on
    assert(Similarity.autoPlanes(1L) == 4)
    assert(Similarity.autoPlanes(2000L) == 4)    // sf0.1: the gate corpus
    assert(Similarity.autoPlanes(4096L) == 4)    // exactly 256 << 4
    assert(Similarity.autoPlanes(4097L) == 5)
    assert(Similarity.autoPlanes(8192L) == 5)
    assert(Similarity.autoPlanes(20000L) == 7)   // the 10x fixture
    assert(Similarity.autoPlanes(200000L) == 10) // the 100x fixture
    assert(Similarity.autoPlanes(256L << 12) == 12)      // oracle saturation point
    assert(Similarity.autoPlanes((256L << 12) + 1) == 13) // Scala keeps growing
    // cap-respecting by construction: expected population never exceeds it
    Seq(1L, 100L, 5000L, 123456L, 10000000L).foreach { n =>
      val p = Similarity.autoPlanes(n)
      assert(n <= (Similarity.beamBucketCap.toLong << p),
        s"n=$n planes=$p overflows the bucket cap")
      if (p > 4) // minimality: one fewer plane would overflow
        assert(n > (Similarity.beamBucketCap.toLong << (p - 1)),
          s"n=$n planes=$p is not minimal")
    }
  }

  test("s31/s36: auto spelling == FIXED spelling at the derived count (gate corpus)") {
    // s31's default is now the autoPlanes policy (r14 item 1); at every
    // gate SF the derived count is 4, so both the default and the
    // explicit s36 spelling must equal graphBeam at a HARD-CODED 4
    // row-for-row — the policy changes WHEN planes grow, never WHAT a
    // given plane count computes (the shared-core argument, executed)
    val fixed = Similarity.graphBeam(spark, dir, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val auto = Similarity.defs("s36_ann_beam_autoplanes")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val deflt = Similarity.defs("s31_ann_graph_beam")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(auto == fixed)
    assert(deflt == fixed)
  }

  test("s39: filtered beam — every neighbor satisfies the predicate; walk stays exact") {
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Similarity.defs("s39_ann_beam_filtered")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // the empty-bucket contract's tripwire (ADVICE r15): a query whose
    // exact bucket holds no predicate-satisfying vector emits no rows —
    // legal, but if a fixture regen ever empties a gate query's bucket
    // this assert flags it instead of a silently thinner gate
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      s"every gate query must survive the filter: ${got.map(_._1).distinct.sorted.toSeq}")
    // the pre-filter must be airtight: the walk can never surface an
    // excluded node, because excluded nodes were never indexed
    got.foreach { case (q, n, _, _) =>
      assert(labels(n) % 2 == 0, s"neighbor $n of query $q violates the predicate")
      assert(n != q, "self must be excluded")
    }
    // exact scoring: wherever s1 ranked the same pair, doubles agree
    val exactSim = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    got.foreach { case (q, n, _, sim) =>
      exactSim.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-12))
    }
    // dense ranks per query
    got.groupBy(_._1).values.foreach { qs =>
      assert(qs.map(_._3).sorted.toSeq == (1L to qs.length).toSeq)
    }
  }

  test("s40: RRF fusion equals a hand-computed fusion of the two rank lists") {
    // independent lexical ranking: token-multiset overlap per query,
    // computed sequentially from the raw docs (no Spark aggregation)
    val docRows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = docRows.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (k, v) => k -> v.length }
    }.toMap
    def lexTop10(q: Long): Seq[(Long, Int)] = {
      val qtf = tf(q)
      docRows.map(_._1).filter(_ != q).flatMap { d =>
        val s = qtf.map { case (t, c) => math.min(c, tf(d).getOrElse(t, 0)) }.sum
        if (s > 0) Some(d -> s) else None
      }.sortBy { case (d, s) => (-s, d) }.take(10).toSeq
    }
    // vector ranking from the gate's own exact baseline (s1, k = 10)
    val vecRank = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Similarity.defs("s40_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val lexRank = lexTop10(q).zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      val expected = (lexRank.keySet ++
        vecRank.collect { case ((`q`, d), _) => d })
        .map { d =>
          val rrf = lexRank.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            vecRank.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (d, rrf)
        }.toSeq.sortBy { case (d, s) => (-s, d) }.take(5)
      val gotQ = rows.sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"query $q: ranks must be dense")
      assert(gotQ == expected, s"query $q: fusion diverges\n$gotQ\n$expected")
      // both retrievers must be live inputs to the fusion (on this
      // synthetic fixture the two top-10 lists rarely INTERSECT —
      // embeddings are independent of text — so liveness is per-list,
      // not per-doc)
      assert(lexRank.nonEmpty, s"query $q: lexical list empty")
      assert(vecRank.keys.exists(_._1 == q), s"query $q: vector list empty")
    }
  }

  test("s41: IDF-weighted fusion equals a hand-computed weighted ranking") {
    // independent lexical ranking: Σ min(tf_q, tf_d) · ((N·10⁶) / df) in
    // pure integer arithmetic, computed sequentially from the raw docs —
    // the rarity weighting is the only delta vs the s40 pin above
    val docRows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docRows.length.toLong
    val tf = docRows.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (k, v) => k -> v.length }
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, occ) => t -> occ.size.toLong }
    def lexTop10(q: Long): Seq[(Long, Long)] = {
      val qtf = tf(q)
      docRows.map(_._1).filter(_ != q).flatMap { d =>
        val s = qtf.map { case (t, c) =>
          math.min(c, tf(d).getOrElse(t, 0)).toLong * ((n * 1000000L) / df(t))
        }.sum
        if (s > 0) Some(d -> s) else None
      }.sortBy { case (d, s) => (-s, d) }.take(10).toSeq
    }
    val vecRank = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Similarity.defs("s41_hybrid_idf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val lexRank = lexTop10(q).zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      val expected = (lexRank.keySet ++
        vecRank.collect { case ((`q`, d), _) => d })
        .map { d =>
          val rrf = lexRank.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            vecRank.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (d, rrf)
        }.toSeq.sortBy { case (d, s) => (-s, d) }.take(5)
      val gotQ = rows.sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"query $q: ranks must be dense")
      assert(gotQ == expected, s"query $q: weighted fusion diverges\n$gotQ\n$expected")
    }
    // the weighting must MATTER on this fixture: at least one query's
    // lexical top-10 set differs from the unweighted (s40) one, or the
    // gate would not be isolating the idf delta at all
    val s40Docs = Similarity.defs("s40_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s41Docs = got.map(t => (t._1, t._2)).toSet
    assert(s40Docs != s41Docs,
      "idf weighting changed nothing — fixture does not separate the scorers")
  }

  test("s42: BM25 fusion equals a hand-computed exact-integer BM25 ranking") {
    // independent BM25: per query term, w·22·tf·T // (10·tf·T + 3·T +
    // 9·dl·N) with w = (N·10⁶)/df, all in BigInt floor arithmetic —
    // the cleared-denominator form of idf·tf·(k1+1)/(tf + k1·(1−b +
    // b·dl/avgdl)) at k1 = 6/5, b = 3/4, avgdl = T/N
    val docRows = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docRows.length.toLong
    val tf = docRows.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (k, v) => k -> v.length }
    }.toMap
    val dl = tf.map { case (id, m) => id -> m.values.sum.toLong }
    val tt = dl.values.sum
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, occ) => t -> occ.size.toLong }
    def bm25Top10(q: Long): Seq[(Long, BigInt)] = {
      val qtoks = tf(q).keySet
      docRows.map(_._1).filter(_ != q).flatMap { d =>
        val s = qtoks.toSeq.flatMap { t =>
          tf(d).get(t).map { c =>
            val w = BigInt(n * 1000000L) / df(t)
            (w * 22 * c * tt) /
              (BigInt(10) * c * tt + BigInt(3) * tt + BigInt(9) * dl(d) * n)
          }
        }.sum
        if (s > 0) Some(d -> s) else None
      }.sortBy { case (d, s) => (-s, d) }.take(10).toSeq
    }
    val vecRank = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Similarity.defs("s42_hybrid_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val lexRank = bm25Top10(q).zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      val expected = (lexRank.keySet ++
        vecRank.collect { case ((`q`, d), _) => d })
        .map { d =>
          val rrf = lexRank.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            vecRank.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (d, rrf)
        }.toSeq.sortBy { case (d, s) => (-s, d) }.take(5)
      val gotQ = rows.sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"query $q: ranks must be dense")
      assert(gotQ == expected, s"query $q: BM25 fusion diverges\n$gotQ\n$expected")
    }
  }

  test("s42: tf saturation + length norm flip s41's raw-idf rank on a stopword-heavy doc") {
    // VERDICT r16 item 2's pinned case: a LONG doc repeating a stopword
    // the query also repeats outranks a SHORT doc matching the query's
    // rare term under s41's linear Σ min(tf,qtf)·idf — BM25's saturation
    // caps the stopword's contribution and its length norm discounts the
    // verbosity, flipping the order. Crafted corpus: query doc 0 = one
    // "rare" + ten "the"; doc 10 = forty "the"; doc 11 = "rare the";
    // five filler docs keep df(the) = N and df(rare) = 3.
    import spark.implicits._
    val docs = Seq(
      0L -> (Seq.fill(10)("the") :+ "rare").mkString(" "),
      10L -> Seq.fill(40)("the").mkString(" "),
      11L -> "rare the",
      12L -> "rare filler0 the",
      13L -> "the filler1", 14L -> "the filler2",
      15L -> "the filler3", 16L -> "the filler4")
      .toDF("doc_id", "text")
    // s41's raw-idf scoring, computed sequentially
    val tf = Seq(0L, 10L, 11L, 12L, 13L, 14L, 15L, 16L)
      .zip(docs.orderBy("doc_id").collect().map(_.getString(1)))
      .map { case (id, t) =>
        id -> t.split(" ").groupBy(identity).map { case (k, v) => k -> v.length }
      }.toMap
    val n = tf.size.toLong
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, occ) => t -> occ.size.toLong }
    def idfScore(d: Long): Long = tf(0L).map { case (t, qc) =>
      math.min(qc, tf(d).getOrElse(t, 0)).toLong * ((n * 1000000L) / df(t))
    }.sum
    assert(idfScore(10L) > idfScore(11L),
      "fixture broken: raw idf must prefer the long stopword doc")
    // the engine's BM25 prefers the short rare-term doc
    val bm = Similarity.bm25Lex(docs)
      .filter(org.apache.spark.sql.functions.col("query_id") === 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(bm(11L) > bm(10L),
      s"BM25 must flip the rank: got doc11=${bm(11L)} doc10=${bm(10L)}")
  }

  test("s39 empty-bucket contract: an emptied query bucket emits zero rows") {
    // the entry point is the min-id index vector in the query's exact
    // bucket (Similarity.graphBeam); a predicate that empties that bucket
    // leaves the query no entry, and it emits nothing rather than walking
    // from an arbitrary far node
    import org.apache.spark.sql.functions.{col, lit}
    val planes = Similarity.autoPlanes(
      spark.read.parquet(s"$dir/embeddings.parquet").count())
    val q = 0L
    val bucket = Similarity.bucketed(spark, dir, planes)
      .filter(col("vec_id") === q).select("bucket").head().getInt(0)
    def queries(idxFilter: org.apache.spark.sql.Column): Set[Long] =
      Similarity.graphBeam(spark, dir, planes, idxFilter).collect().map(_.getLong(0)).toSet
    assert(queries(lit(true)).contains(q))
    assert(!queries(col("bucket") =!= bucket).contains(q),
      s"query $q must emit zero rows once its bucket empties")
  }

  test("s34: filtered ANN — predicate strictly enforced, exact cosines, dense ranks") {
    val got = Similarity.defs("s34_ann_filtered")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (q, n, label, _, sim) =>
      assert(label % 2 == 0, s"neighbor $n of query $q violates the predicate")
      assert(n != q, "self must be excluded")
      assert(sim >= -1.0000001 && sim <= 1.0000001)
    }
    got.groupBy(_._1).values.foreach { qs =>
      val sorted = qs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq,
        "ranks must be dense from 1")
      assert(sorted.map(_._5).reverse.sorted.reverse.toSeq == sorted.map(_._5).toSeq,
        "sims must be non-increasing with rank")
    }
    // pre-filter changes the candidate universe, not the scoring: shared
    // pairs agree with s1's exact cosine bit-for-bit
    val exactSim = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    got.foreach { case (q, n, _, _, sim) =>
      exactSim.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-12))
    }
  }

  test("s35: MMR — rank1 is the relevance argmax, picks distinct from top-10, scores non-increasing") {
    val exact = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val top10 = exact.map(t => (t._1, t._2)).toSet
    val rank1 = exact.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    val sim1 = exact.filter(_._3 == 1L).map(t => t._1 -> t._4).toMap
    val got = Similarity.defs("s35_mmr_rerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, qs) =>
      assert(qs.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L), "exactly ranks 1..3")
      assert(qs.map(_._2).distinct.length == 3, "picks must be distinct")
      qs.foreach(t => assert(top10((q, t._2)), "picks come from the candidate set"))
      // greedy round 1 is pure relevance: s1's rank-1, scored at sim/2 exactly
      val first = qs.find(_._3 == 1L).get
      assert(first._2 == rank1(q), "rank 1 must be the relevance argmax")
      assert(first._4 == sim1(q) / 2, "rank-1 MMR is exactly sim/2")
      // round 3's score cannot exceed round 2's: each candidate's marginal
      // score is non-increasing as the chosen set grows, and round 3
      // maximizes over a strict subset. (Rank 1 → rank 2 CAN rise — a
      // NEGATIVE max-cosine to the chosen set adds to the score — so the
      // pin deliberately starts at round 2.)
      val scores = qs.sortBy(_._3).map(_._4)
      assert(scores(1) >= scores(2),
        s"round-3 MMR exceeded round 2: ${scores.toSeq}")
    }
  }

  test("s5: 5 queries, ranks dense from 1, sims valid and non-increasing") {
    val rows = Similarity.defs("s5_ann_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { qs =>
      val sorted = qs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq, "ranks must be dense from 1")
      assert(sorted.map(_._4).reverse.sorted.reverse.toSeq == sorted.map(_._4).toSeq,
        "sims must be non-increasing with rank")
      qs.foreach { case (q, n, _, sim) =>
        assert(n != q, "self must be excluded")
        assert(sim >= -1.0000001 && sim <= 1.0000001)
      }
    }
  }

  test("s5 never ranks a candidate above a same-list candidate s1 ranks higher") {
    // s1 is the exact ordering; within the candidates s5 DID consider, its
    // relative order must match s1's global cosine order
    val exact = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val approx = Similarity.defs("s5_ann_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    approx.groupBy(_._1).values.foreach { qs =>
      val inOrder = qs.sortBy(_._3).map(_._4)
      assert(inOrder.zip(inOrder.tail).forall { case (a, b) => a >= b })
    }
    // spot-agreement: where s5's neighbor appears in s1's top-10, the cosine
    // values are identical (same math, both engines' proven fold)
    approx.foreach { case (q, n, _, sim) =>
      exact.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-9))
    }
  }

  test("s11 candidates are exactly s5's (same coarse lists); scores are s9's ADC") {
    // the composition must not invent candidates: every (query, neighbor)
    // s11 returns sits in a probed IVF list (= appears among s5's candidate
    // pairs, which share the probe logic), and its approx_sim equals the
    // ADC score s9 assigns the same pair (same codes, same LUT)
    val s5Pairs = Similarity.defs("s5_ann_ivf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s9Scores = Similarity.defs("s9_pq_ann")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val s11 = Similarity.defs("s11_ivf_pq")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(s11.nonEmpty)
    s11.groupBy(_._1).values.foreach { qs =>
      assert(qs.map(_._3).sorted.toSeq == (1L to qs.length).toSeq)
    }
    s11.foreach { case (q, n, _, sim) =>
      // s9's top-5 won't contain every s11 pair, but where both ranked the
      // pair the ADC score must be identical
      s9Scores.get((q, n)).foreach(s9 => assert(s9 == sim,
        s"ADC score diverged for ($q,$n): s9=$s9 s11=$sim"))
    }
    // candidate containment, against an INDEPENDENT test-local
    // recomputation of the probed-list candidate set (not s5's top-5,
    // which truncates): every s11 pair must lie in a probed IVF list —
    // if the cand join ever regressed to score all vectors (degenerating
    // to s9), this catches it
    val candSet = independentCandidates()
    s11.foreach { case (q, n, _, _) =>
      assert(candSet((q, n)), s"s11 pair ($q,$n) is not in any probed IVF list")
    }
    assert(s11.count { case (q, n, _, _) => s5Pairs((q, n)) } > 0,
      "s11 and s5 top-5 sets should overlap on the same probed lists")
  }

  /** The probed-list candidate set, recomputed with scalar driver-side
    * math (collect the tiny corpus, assign/probe in plain Scala) so the
    * pin does not share code with the implementation under test. */
  private def independentCandidates(): Set[(Long, Long)] = {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        r.getLong(r.fieldIndex("vec_id")) -> v.map(_ / nrm)
      }.toMap
    val cents = (100L to 107L).map(id => (id - 100) -> vecs(id))
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def ranked(u: Array[Double]) =
      cents.map { case (cid, cu) => (cid, dotp(u, cu)) }
        .sortBy { case (cid, sim) => (-sim, cid) }
    // .toSeq on both: a for-comprehension whose inner generator is a Map
    // would rebuild a Map from the yielded (q, id) pairs — deduping by q
    // and silently keeping ONE candidate per query
    val assign = vecs.toSeq.map { case (id, u) => id -> ranked(u).head._1 }
    val probes = vecs.keys.toSeq.filter(_ < 5)
      .map(q => q -> ranked(vecs(q)).take(2).map(_._1).toSet)
    (for {
      (q, lists) <- probes
      (id, cid) <- assign
      if id != q && lists(cid)
    } yield (q, id)).toSet
  }

  test("s11 reads parquet once: every branch consumes the checkpointed projection") {
    val p = Similarity.defs("s11_ivf_pq")(spark, dir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"s11 must derive all branches from the checkpoint ($scans scans)\n$p")
  }

  test("s14's exact re-rank dominates s11: recall@5 can only improve, sims are exact") {
    // Structural guarantee: s11's top-5 is the ADC head of the SAME top-20
    // shortlist s14 re-ranks, and any true top-5 neighbor inside the
    // shortlist must win its exact-score rank (only the true top-4 can
    // outscore it) — so recall(s14) >= recall(s11) on every corpus, not
    // just this one.
    val exact5 = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .filter(_.getLong(2) <= 5).map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSim = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val s11 = Similarity.defs("s11_ivf_pq")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s14 = Similarity.defs("s14_ann_rerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert((exact5 intersect s14.map(t => (t._1, t._2)).toSet).size >=
      (exact5 intersect s11).size,
      "re-ranking the shortlist must never lose recall vs the ADC order")
    // the re-ranked score is the EXACT cosine wherever s1 scored the pair
    // (dot over shared normalized vectors = cosine, up to fold rounding)
    s14.foreach { case (q, n, sim) =>
      exactSim.get((q, n)).foreach(es => assert(math.abs(es - sim) < 1e-9))
    }
  }

  test("s17's Lloyd step partitions the corpus and emits a full unit-bounded codebook") {
    val rows = Similarity.defs("s17_kmeans_step")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byCluster = rows.groupBy(_._1)
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // every cluster that won vectors reports all 64 dims with ONE shared n
    byCluster.foreach { case (cid, rs) =>
      assert(rs.map(_._2).toSet == (1L to 64L).toSet, s"cluster $cid dims")
      assert(rs.map(_._3).toSet.size == 1, s"cluster $cid has inconsistent n")
    }
    // the assignment is a partition: per-cluster counts sum to the corpus
    assert(byCluster.values.map(_.head._3).sum == total)
    assert(byCluster.size >= 2, "a useful step spreads vectors over seeds")
    // means of unit-normalized coordinates stay in [-1, 1]
    assert(rows.forall(r => r._4 >= -1.0 && r._4 <= 1.0))
  }

  test("s13 keeps exactly one representative per s6 cluster plus every unclustered vector") {
    val dir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val clusters = graft.operators.Similarity.defs("s6_embed_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val kept = graft.operators.Similarity.defs("s13_semantic_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(clusters.nonEmpty, "test premise: the corpus has semantic clusters")
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(kept) == 1, // exactly one survivor per cluster
        s"cluster $cid: expected 1 survivor among $members, kept ${members.intersect(kept)}")
    }
    val clustered = clusters.map(_._1).toSet
    assert((all -- clustered).subsetOf(kept),
      "every unclustered vector must survive semantic dedup")
    assert(kept.size == (all -- clustered).size + byCluster.size)
  }

  test("s19 sweep: volume and recall monotone in nprobe; np=2 point equals s7") {
    val rows = Similarity.defs("s19_nprobe_sweep")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.keySet == Set(1L, 2L, 4L), rows.toString)
    // widening the probe budget can only add candidates, and recall over a
    // superset of candidates can only rise
    assert(rows(1L)._1 < rows(2L)._1 && rows(2L)._1 < rows(4L)._1,
      s"candidate volume must grow with nprobe: $rows")
    assert(rows(1L)._2 <= rows(2L)._2 && rows(2L)._2 <= rows(4L)._2,
      s"recall must be monotone in nprobe: $rows")
    // the sweep's np=2 point must reproduce s7's single-point measurement
    val s7 = Similarity.defs("s7_ivf_recall")(spark, dir).collect()
      .map(_.getDouble(1))
    assert(math.abs(rows(2L)._2 - s7.sum / s7.length) < 1e-12,
      s"np=2 sweep point ${rows(2L)._2} vs s7 mean ${s7.sum / s7.length}")
  }

  test("s18 trains a complete unit-norm codebook; memberships partition the corpus") {
    val rows = Similarity.defs("s18_kmeans_train")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byCluster = rows.groupBy(_._1)
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    // every surviving cluster reports all 64 dims exactly once
    byCluster.foreach { case (cid, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to 64L), s"cluster $cid dims")
      assert(rs.map(_._2).distinct.length == 1, s"cluster $cid inconsistent size")
      // spherical: the trained centroid is unit-norm (sequential-fold sum
      // of squares of the emitted values)
      val norm2 = rs.sortBy(_._3).map(_._4).foldLeft(0.0)((a, x) => a + x * x)
      assert(math.abs(norm2 - 1.0) < 1e-9, s"cluster $cid norm² = $norm2")
    }
    // round-3 assignment partitions the corpus: sizes sum to |embeddings|
    assert(byCluster.values.map(_.head._2).sum == nVecs,
      s"membership must partition the ${nVecs}-vector corpus")
    // training must actually move the codebook off the raw seed vectors
    val seeds = Similarity.defs("s17_kmeans_step")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(rows.exists { case (cid, _, dim, c) =>
      seeds.get((cid, dim)).exists(s0 => math.abs(s0 - c) > 1e-9)
    }, "three rounds left every centroid identical to the one-step means")
  }

  test("bruteTopK query knob: the residue sample shrinks the |Q|·N expansion exactly") {
    // flood fixture: 300 vectors, 60 of them queries — the d9-style guard
    // must bound the brute baseline by the SAMPLED query count
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31.0 + d * 7.0)))
    }.toDF("vec_id", "v").localCheckpoint()
    val full = Similarity.bruteTopK(e, col("vec_id") < 60, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.map(_._1).distinct.length == 60, "fullSample must keep all 60 queries")
    val sampled = Similarity.bruteTopK(e, col("vec_id") < 60, k = 3, queryCap = "4")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // expected sample = the same md5-residue predicate evaluated independently
    val expected = e.filter(col("vec_id") < 60)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "4")
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < 30,
      s"test premise: cap '4' must thin the 60 queries (got ${expected.size})")
    assert(sampled.map(_._1).toSet == expected,
      "sampled run must score exactly the residue-sampled queries")
    assert(sampled.length == expected.size * 3,
      "each sampled query must still get its full top-k")
    // sampled results are the full run restricted — sampling never re-ranks
    assert(sampled.toSet == full.filter(t => expected(t._1)).toSet)
  }

  test("silhouette member knob: sampled scoring against FULL-member centroids") {
    // three clusters of identical vectors: every member of a cluster has
    // the same sil, so the sampled mean/min equal the full-pass values and
    // only the scored-member count may shrink — which pins both halves of
    // the knob's contract (score the sample, model on the full table)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val member = (0 until 240).map { i =>
      val c = i % 3
      (c.toLong, i.toLong,
        Array.tabulate(8)(d => if (d % 3 == c) 1.0 else 0.05 * (c + 1)))
    }.toDF("cluster_id", "vec_id", "v").localCheckpoint()
    val full = Similarity.silhouette(member).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val samp = Similarity.silhouette(member, memberCap = "8").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val expectedCounts = member
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "8")
      .groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.keySet == Set(0L, 1L, 2L) && samp.keySet == Set(0L, 1L, 2L))
    full.keys.foreach { c =>
      assert(full(c)._1 == 80L, s"full pass must score all of cluster $c")
      assert(samp(c)._1 == expectedCounts(c),
        s"sampled pass must score exactly the residue sample of cluster $c")
      assert(samp(c)._1 < full(c)._1, s"cap '8' must thin cluster $c")
      // identical members ⇒ per-member sil identical ⇒ rollups must agree
      assert(math.abs(samp(c)._2 - full(c)._2) < 1e-12, s"mean_sil cluster $c")
      assert(math.abs(samp(c)._3 - full(c)._3) < 1e-12, s"min_sil cluster $c")
    }
  }

  test("s37/s38: SQ8 matches a sequential quantize-dequantize-rerank reference; recall floor") {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val nd = rows.head._2.length
    val sc = (0 until nd).map(d =>
      math.max(rows.map(r => math.abs(r._2(d))).max, 1e-12)).toArray
    // the exact quantizer: half-up int8 code, dequantized as code * scale
    def deq(v: Array[Double]): Array[Double] =
      Array.tabulate(nd)(d => math.floor(v(d) / sc(d) * 127.0 + 0.5) * sc(d))
    def dotp(a: Array[Double], b: Array[Double]): Double =
      (0 until nd).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dotp(a, b) / (math.sqrt(dotp(a, a)) * math.sqrt(dotp(b, b)))
    val dq = rows.map { case (id, v) => id -> deq(v) }.toMap
    // every code must fit int8's symmetric range — the 4x-bytes claim
    rows.foreach { case (_, v) =>
      (0 until nd).foreach { d =>
        val code = math.floor(v(d) / sc(d) * 127.0 + 0.5)
        assert(code >= -127.0 && code <= 127.0, s"code $code out of int8 range")
      }
    }
    val want = (0L until 5L).flatMap { q =>
      rows.filter(_._1 != q)
        .map { case (id, _) => (id, cos(dq(q), dq(id))) }
        .sortBy { case (id, s) => (-s, id) }
        .take(5).zipWithIndex
        .map { case ((id, s), i) => (q, id, (i + 1).toLong, s) }
    }.toSet
    val got = Similarity.defs("s37_sq8_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.map(t => (t._1, t._2, t._3)) == want.map(t => (t._1, t._2, t._3)),
      s"distributed vs sequential SQ8 top-5 mismatch: " +
        s"${(got diff want).take(3)} / ${(want diff got).take(3)}")
    val wantSim = want.map(t => (t._1, t._2) -> t._4).toMap
    got.foreach { case (q, n, _, s) =>
      assert(math.abs(s - wantSim((q, n))) < 1e-12, s"sim drift on ($q, $n)")
    }
    // s38 must equal the recall of s37's pairs vs s1's float top-5, and the
    // 4x-smaller store should lose little at gate scale (alarm line 0.8)
    val exact5 = Similarity.defs("s1_knn_brute")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 <= 5).map(t => (t._1, t._2)).toSet
    val rec = Similarity.defs("s38_sq8_recall")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wantRec = (0L until 5L).map { q =>
      q -> got.count(t => t._1 == q && exact5((q, t._2))) / 5.0
    }.toMap
    assert(rec == wantRec, "s38 must equal s37-vs-s1 recall exactly")
    assert(rec.values.sum / rec.size >= 0.8,
      s"SQ8 mean recall ${rec.values.sum / rec.size} fell below the alarm line")
  }
}
