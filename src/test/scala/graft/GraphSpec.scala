package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** g1's degree-oriented triangle counting: exact counts on a known graph
  * (every triangle counted once, hubs generate no wedges) and the
  * no-quadratic-expansion plan shape. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** lineitem fixture whose co-order graph (support >= 2) is exactly:
    *  - K4 on parts 1-4 (two orders containing all four parts), and
    *  - a star: hub 10 joined to leaves 20-25 (each leaf pair-ordered with
    *    the hub twice, never with another leaf).
    * K4 has 4 triangles and, oriented, 4 wedges (all closed); the star's
    * leaves have out-degree 1, so it contributes ZERO wedges — the hub
    * never enumerates its neighborhood². */
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-graph").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val k4 = for (ok <- Seq(100L, 101L); pk <- Seq(1L, 2L, 3L, 4L))
      yield Row(ok, pk)
    val star = for {
      (leaf, i) <- (20L to 25L).zipWithIndex
      ok <- Seq(200L + 2 * i, 201L + 2 * i)
      pk <- Seq(10L, leaf)
    } yield Row(ok.toLong, pk)
    spark.createDataFrame(
        spark.sparkContext.parallelize(k4 ++ star, 3), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("g1 counts the known graph exactly: K4's 4 triangles, star contributes none") {
    val r = Graph.defs("g1_triangle_count")(spark, dir).collect().head
    assert(r.getLong(0) == 11, s"nodes: $r")     // 4 K4 + hub + 6 leaves
    assert(r.getLong(1) == 12, s"edges: $r")     // 6 K4 + 6 star
    assert(r.getLong(2) == 4, s"wedges: $r")     // all from K4, all closed
    assert(r.getLong(3) == 4, s"triangles: $r")  // C(4,3)
    assert(r.getDouble(4) == 1.0, s"closed_frac: $r")
  }

  test("g10 RA weights credit common neighbors by 1/degree, exactly") {
    // K4 pairs are all adjacent (anti-joined away); each star leaf pair's
    // only common neighbor is the hub (d=6), so all C(6,2)=15 pairs score
    // exactly 1000000 div 6 = 166666 ppm with cn=1
    val rows = Graph.defs("g10_resource_allocation")(spark, dir).collect()
    assert(rows.length == 15, s"expected 15 leaf pairs, got ${rows.length}")
    assert(rows.forall(r => r.getLong(2) == 1L), "cn must be 1 everywhere")
    assert(rows.forall(r => r.getLong(3) == 166666L),
      s"ra_ppm must be 1000000 div 6: ${rows.mkString(";")}")
    // total order: (ra_ppm desc, a, b) — first row is the smallest leaf pair
    assert(rows.head.getLong(0) == 20L && rows.head.getLong(1) == 21L)
  }

  test("g1's star wedges vanish under orientation even when the hub dominates") {
    // a pure star (no K4): any wedge would mean the hub enumerated two
    // neighbors — orientation must make the count zero, not O(deg²)
    val d = TestSpark.tempDir("graft-star").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = for {
      (leaf, i) <- (20L to 39L).zipWithIndex
      ok <- Seq(200L + 2 * i, 201L + 2 * i)
      pk <- Seq(10L, leaf)
    } yield Row(ok.toLong, pk)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graph.defs("g1_triangle_count")(spark, d).collect().head
    assert(r.getLong(1) == 20 && r.getLong(2) == 0 && r.getLong(3) == 0,
      s"star must yield zero wedges: $r")
  }

  test("power-law graph: orientation bounds out-degree at O(√m) and the wedge join's partition skew") {
    // The divisor graph — edges (i, k·i) for k >= 2 — is a deterministic
    // hub-heavy fixture: vertex v's degree is ~N/v + d(v), a power-law-ish
    // tail where vertex 1 touches every other vertex. Exactly the input
    // where a neighborhood² triangle count dies: without orientation the
    // hub contributes C(N-1, 2) wedges. The pins: (1) the theoretical
    // guarantee — after (degree, id) orientation every OUT-degree is
    // <= sqrt(2m) (a vertex with out-degree d has d neighbors of degree
    // >= its own >= d, and the sum of degrees is 2m); (2) the operational
    // consequence — the wedge self-join on the center vertex spreads over
    // the shuffle partitions instead of collapsing onto the hub's.
    val n = 1000
    val edges = for {
      i <- 1 to n; k <- 2 to n / i
    } yield (i.toLong, (k * i).toLong)
    val d = TestSpark.tempDir("graft-powerlaw").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    // two orders per edge, each holding exactly that edge's two parts →
    // co-order support exactly 2, no accidental extra edges
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(1000000L + 2 * i, 1000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")

    val e = Graph.coOrderEdges(spark.read.parquet(s"$d/lineitem.parquet"))
    val m = e.count()
    assert(m == edges.size, s"fixture edges must survive the support filter: $m")
    val hubDeg = Graph.degrees(e).agg(org.apache.spark.sql.functions.max("d"))
      .collect().head.getLong(0)
    val oe = Graph.oriented(e)
    val maxOut = oe.groupBy("u").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect().head.getLong(0)
    assert(hubDeg > math.sqrt(2.0 * m) * 4,
      s"test premise: the raw graph is hub-heavy (hub degree $hubDeg, m=$m)")
    assert(maxOut <= math.sqrt(2.0 * m).toLong + 1,
      s"orientation must bound out-degree at sqrt(2m)=${math.sqrt(2.0 * m).toInt}, got $maxOut")

    // per-CENTER wedge counts — the partition-agnostic skew metric (a hot
    // center key cannot be split across reducers, so this bounds what any
    // partition of the wedge join can receive). The orientation guarantee
    // caps it at C(maxOut, 2) regardless of the degree distribution.
    val w = Graph.wedges(oe)
    val total = w.count()
    assert(total > 0, "test premise: the divisor graph has wedges")
    val keyed = oe.select(org.apache.spark.sql.functions.col("u"))
      .groupBy("u").count()
      .selectExpr("max(count * (count - 1) div 2) AS mw")
      .collect().head.getLong(0)
    val cap = maxOut * (maxOut - 1) / 2
    assert(keyed <= cap,
      s"hottest center's wedges $keyed must respect the C(maxOut,2)=$cap cap")

    // partition histogram with AQE coalescing off (24k rows locally would
    // otherwise coalesce to ONE partition and measure nothing): the view a
    // 1000-executor shuffle sees — bounded max share, no hub collapse
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val hist = Graph.wedges(Graph.oriented(e)).rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect()
      val ht = hist.sum
      val maxShare = hist.max.toDouble / ht
      // 2× the uniform share, floored by the hottest key's unavoidable
      // share (a key is indivisible): measured 0.30 over 4 partitions
      // (uniform 0.25) with the hot center at 0.29 of all wedges — healthy;
      // a failed orientation puts ~all wedges on the hub's partition (→ ~1)
      val bound = math.max(2.0 / hist.length, 2.0 * keyed / total)
      assert(maxShare <= bound,
        s"wedge join must not collapse onto one partition: max share $maxShare " +
          s"(bound $bound) of $ht (histogram ${hist.sorted.reverse.take(8).mkString(",")})")
    } finally spark.conf.set(coalesceKey, prev)
  }

  test("g6 3-core of K4+star is exactly the K4, and peeling reaches fixpoint by round 12") {
    // K4 vertices all have degree 3 → survive; star leaves (degree 1) die
    // in round 1 and doom the hub in round 2
    val core = Graph.defs("g6_kcore")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")

    // the unrolled-12 claim, pinned where it bites: sf0.01 needs 10 peel
    // rounds to stabilize — round 11 and round 12 must agree edge-for-edge
    val e = Graph.coOrderEdges(graft.sources.Tables
      .load(spark, "/root/testdata/sf0.01", "lineitem"))
    def edges(rounds: Int) = Graph.kcorePeel(e, 3, rounds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r11 = edges(11)
    val r12 = edges(12)
    assert(r11.nonEmpty && r11 == r12,
      s"peeling must be at fixpoint by round 11/12: ${r11.size} vs ${r12.size}")
  }

  /** Sequential reference of g2's integer PageRank step — the same scaled
    * floor arithmetic, computed single-threaded over adjacency maps. The
    * distributed result must match it LONG-FOR-LONG: any partitioning or
    * order sensitivity in the joins/aggregates would break exact equality. */
  private def seqPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val S = 1000000000000L
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val deg = nbrs.map { case (v, ns) => v -> ns.size.toLong }
    val n = deg.size.toLong
    var r = deg.map { case (v, _) => v -> S / n }
    for (_ <- 1 to iters) {
      val c = r.map { case (v, pr) => v -> pr / deg(v) }
      r = nbrs.map { case (v, ns) =>
        v -> ((15L * (S / n)) / 100L + (85L * ns.map(c).sum) / 100L)
      }
    }
    r
  }

  test("g12 families form only over strong ties (c >= 3); weak-tie parts vanish") {
    // weighted fixture: triangle 1-2-3 at c=3, pair 10-11 at c=4,
    // pair 20-21 at c=2 (below threshold — excluded entirely)
    val wedges = Seq((1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 3L),
      (10L, 11L, 4L), (20L, 21L, 2L))
    val d = TestSpark.tempDir("graft-fam").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = wedges.zipWithIndex.flatMap { case ((a, b, w), i) =>
      (0L until w).flatMap(j =>
        Seq(Row(8000000L + 10 * i + j, a), Row(8000000L + 10 * i + j, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.defs("g12_product_families")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L))), s"got $got")
  }

  /** g11's arithmetic, sequentially: contributions split by edge weight,
    * every division floored. */
  private def seqWeightedPageRank(edges: Seq[(Long, Long, Long)],
      iters: Int): Map[Long, Long] = {
    val S = 1000000000000L
    val dirE = edges.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
    val out = dirE.groupBy(_._1)
    val wdeg = out.map { case (v, es) => v -> es.map(_._3).sum }
    val n = wdeg.size.toLong
    var r = wdeg.map { case (v, _) => v -> S / n }
    for (_ <- 1 to iters) {
      val in = dirE.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, c) => (r(u) * c) / wdeg(u) }.sum
      }
      r = wdeg.map { case (v, _) =>
        v -> ((15L * (S / n)) / 100L + (85L * in(v)) / 100L)
      }
    }
    r
  }

  test("g11 weighted pagerank: sequential parity on weighted; == g2 on equal weights") {
    // weighted graph: ~40 vertices, random edges with co-order counts 2-6
    // (the fixture materializes weight w as w orders holding the pair)
    val rnd = new scala.util.Random(11)
    val wedges = (1 to 80).map { _ =>
      val a = rnd.nextInt(40) + 1L; val b = rnd.nextInt(40) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
      .map { case (a, b) => (a, b, (rnd.nextInt(5) + 2).toLong) }
    val d = TestSpark.tempDir("graft-wpr").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = wedges.zipWithIndex.flatMap { case ((a, b, w), i) =>
      (0L until w).flatMap(j =>
        Seq(Row(9000000L + 10 * i + j, a), Row(9000000L + 10 * i + j, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.defs("g11_weighted_pagerank")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = seqWeightedPageRank(wedges, 3)
    assert(got == want, s"weighted mismatch: ${(got.toSet diff want.toSet).take(5)}")
    // equal weights (every edge c=2): floor(2p/2d) = floor(p/d), so the
    // weighted walk must reproduce g2 exactly on the standard fixture
    val g2r = Graph.defs("g2_pagerank")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g11r = Graph.defs("g11_weighted_pagerank")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g11r == g2r, "on an equal-weight graph g11 must equal g2")
  }

  test("g2 matches a sequential integer reference long-for-long on a random graph") {
    val rnd = new scala.util.Random(7)
    // ~60 vertices, ~150 random edges, self-loop-free and distinct
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = TestSpark.tempDir("graft-pr").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(5000000L + 2 * i, 5000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.defs("g2_pagerank")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = seqPageRank(edges, 3)
    assert(got == want, s"distributed vs sequential mismatch: " +
      s"${(got.toSet diff want.toSet).take(5)} / ${(want.toSet diff got.toSet).take(5)}")
  }

  test("g15 matches a sequential multi-source BFS on a random graph; layers partition") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = TestSpark.tempDir("graft-bfs").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(6000000L + 2 * i, 6000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.defs("g15_bfs_layers")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sequential reference: same (d DESC, v) seed rule, same 3 rounds
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val seeds = deg.toSeq.sortBy { case (v, dd) => (-dd, v) }.take(8).map(_._1)
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds.toSet
    for (i <- 1 to 3) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist = dist ++ next.map(_ -> i.toLong)
      frontier = next
    }
    assert(got == dist, s"distributed vs sequential BFS mismatch: " +
      s"${(got.toSet diff dist.toSet).take(5)} / ${(dist.toSet diff got.toSet).take(5)}")
    // layers are a partition: one distance per vertex, seeds at 0
    assert(got.values.count(_ == 0L) == 8)
    assert(got.size == got.keySet.size)
    assert(got.values.exists(_ == 3L), "test premise: some vertex must sit 3 hops out")
  }

  test("g16 matches sequential per-seed BFS harmonic centrality on a random graph") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = TestSpark.tempDir("graft-hc").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(7000000L + 2 * i, 7000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.defs("g16_hub_closeness")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val seeds = deg.toSeq.sortBy { case (v, dd) => (-dd, v) }.take(8).map(_._1)
    val h6 = Map(1L -> 6L, 2L -> 3L, 3L -> 2L)
    val expect = seeds.map { s0 =>
      var dist = Map(s0 -> 0L); var frontier = Set(s0)
      for (i <- 1 to 3) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist = dist ++ next.map(_ -> i.toLong); frontier = next
      }
      val reached = dist.filter(_._2 > 0)
      s0 -> ((reached.size.toLong, reached.values.map(h6).sum))
    }.toMap
    assert(got == expect, s"distributed vs sequential: " +
      s"${(got.toSet diff expect.toSet).take(5)} / ${(expect.toSet diff got.toSet).take(5)}")
    assert(expect.values.exists(_._2 > 0), "test premise: hubs must reach something")
  }

  test("g2 invariants: regular graphs stay uniform; rank mass is conserved up to floors") {
    // a 12-cycle is 2-regular: every vertex must hold EXACTLY S div 12 rank
    // at every iteration (contributions and damping are identical per
    // vertex, and the integer arithmetic is deterministic)
    val cyc = (0L until 12L).map(i => (i + 1L, (i + 1L) % 12L + 1L))
    val d = TestSpark.tempDir("graft-cycle").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = cyc.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(7000000L + 2 * i, 7000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val prs = Graph.defs("g2_pagerank")(spark, d).collect().map(_.getLong(1))
    val S = 1000000000000L
    // uniformity is EXACT (same arithmetic at every vertex); the value
    // drifts a few units below S/12 as each iteration's floors bite
    assert(prs.length == 12 && prs.toSet.size == 1,
      s"2-regular graph must stay uniform: ${prs.toSet}")
    assert(prs.head <= S / 12 && prs.head >= S / 12 - 100,
      s"uniform rank must be S/12 minus floor drift: ${prs.head}")
    // rank mass: each step only loses to floors — Σ pr stays within N·202
    // of S (each vertex floors ≤ 2 divisions of scale ≤ 100 plus its
    // contribution floors ≤ deg) and never exceeds it
    val sum = prs.sum
    assert(sum <= S && sum >= S - 12L * 1000L, s"rank mass off: $sum vs $S")
  }

  /** Write a lineitem fixture whose support-≥2 co-order graph is exactly
    * `edges` (two orders per edge, each holding only that edge's parts). */
  private def edgeFixture(edges: Seq[(Long, Long)], tag: String): String = {
    val d = TestSpark.tempDir(s"graft-$tag").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(9000000L + 2 * i, 9000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  test("g3 predicts the missing K4 edge (cn=2) above path-distance pairs") {
    // K4 minus the 3-4 edge: (3,4) shares neighbors {1,2} -> cn=2, the top
    // prediction; every other non-edge pair has fewer common neighbors
    val d = edgeFixture(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)), "lp")
    val top = Graph.defs("g3_link_prediction")(spark, d).collect()
    assert(top.nonEmpty)
    assert((top.head.getLong(0), top.head.getLong(1), top.head.getLong(2)) ==
      (3L, 4L, 2L), s"the missing K4 edge must rank first: ${top.head}")
  }

  test("g3's center cap excludes hub-mediated predictions entirely on a pure star") {
    // star with 70 leaves: the hub's degree (70) exceeds the 64 center
    // cap, so leaf pairs — whose ONLY common neighbor is the hub — get no
    // score and the prediction set is empty: a co-orders-with-everything
    // hub carries no link-prediction signal, and its deg² wedge expansion
    // never happens
    val d = edgeFixture((1L to 70L).map(l => (1000L, l)), "lpstar")
    assert(Graph.defs("g3_link_prediction")(spark, d).collect().isEmpty,
      "a super-cap hub must not mediate predictions")
  }

  test("g13 one LPA round adopts the (count DESC, label)-mode neighbor brand") {
    // path 1-2-3-4-5 with brand seeds A,A,B,C,C. Unique-neighbor vertices
    // copy that neighbor (1→A, 5→C); tied votes break to the smaller label
    // (2: {A,B}→A, 3: {A,C}→A, 4: {B,C}→B) — the transition matrix pins
    // both the mode and the deterministic tie-break.
    val d = edgeFixture(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), "lpa")
    val pschema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_brand", StringType)))
    val parts = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "C"))
      .map { case (k, b) => Row(k, b) }
    spark.createDataFrame(spark.sparkContext.parallelize(parts, 2), pschema)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val got = Graph.defs("g13_label_prop")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("A", "A", 2L), ("B", "A", 1L), ("C", "B", 1L),
      ("C", "C", 1L)), s"transition matrix diverges: $got")
  }

  test("g8 histogram on K4+star: degrees {1×6, 3×4, 6×1}, cumulative and ppm exact") {
    val rows = Graph.defs("g8_degree_histogram")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 6 leaves (d=1), 4 K4 corners (d=3), 1 hub (d=6); 11 vertices total
    assert(rows == Map(
      1L -> ((6L, 6L, 545454L)),
      3L -> ((4L, 10L, 363636L)),
      6L -> ((1L, 11L, 90909L))), rows.toString)
  }

  test("g9 assortativity is exactly −1 on a star and hand-recounts on a bridged mesh") {
    // star: every edge joins degree-L to degree-1 → perfect disassortativity,
    // and the integer-exact spelling must land on -1.0 EXACTLY
    val star = edgeFixture((1L to 6L).map(l => (100L, l)), "assortstar")
    val rs = Graph.defs("g9_assortativity")(spark, star).collect().head
    assert(rs.getDouble(4) == -1.0, s"star must score exactly -1: $rs")
    // two K4s joined by one bridge: most edges join equal-degree vertices
    val mesh = edgeFixture(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L), (12L, 14L), (13L, 14L),
      (4L, 14L)), "assortmesh")
    val rm = Graph.defs("g9_assortativity")(spark, mesh).collect().head
    // recompute sequentially: exact integer sums, one double division
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L), (12L, 14L), (13L, 14L),
      (4L, 14L))
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
    val sym = edges.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val m2 = sym.size.toLong
    val sx = sym.map(_._1.toLong).sum
    val sxy = sym.map(p => p._1.toLong * p._2).sum
    val sx2 = sym.map(p => p._1.toLong * p._1).sum
    val expected = (m2 * sxy - sx * sx).toDouble / (m2 * sx2 - sx * sx)
    assert(rm.getDouble(4) == expected, s"got ${rm.getDouble(4)}, expected $expected")
  }

  test("g7 jaccard ranks the tight pair above the hub-diluted pair") {
    // K4-minus-(3,4) ∪ an extra leaf 5 on vertex 1: pair (3,4) has cn=2,
    // d=2 each → jac 2/(2+2−2) = 1.0; pair (2,5) shares only vertex 1
    // (cn=1, d(2)=3, d(5)=1 → jac 1/3); (3,5)/(4,5) score 0.5. The
    // normalization is the point: hub-mediated pairs score by how much of
    // their combined neighborhood the overlap covers, not raw popularity
    val d = edgeFixture(
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (1L, 5L)), "njac")
    val rows = Graph.defs("g7_neighborhood_jaccard")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows((3L, 4L)) == ((2L, 2L, 2L, 1.0)), s"${rows.get((3L, 4L))}")
    assert(rows((2L, 5L)) == ((1L, 3L, 1L, 1.0 / 3)), rows.toString)
    assert(rows((3L, 5L)) == ((1L, 2L, 1L, 0.5)) &&
      rows((4L, 5L)) == ((1L, 2L, 1L, 0.5)), rows.toString)
    // every jaccard is cn/(da+db−cn) exactly
    rows.foreach { case (_, (cn, da, db, jac)) =>
      assert(jac == cn.toDouble / (da + db - cn))
    }
  }

  test("g4 lcc on K4-minus-an-edge: the clique corners score 1.0, the rest 2/3") {
    // same K4-minus-(3,4) graph: triangles {1,2,3} and {1,2,4}; vertices 1
    // and 2 have d=3 with 2 triangles each (lcc 2·2/(3·2) = 2/3), vertices
    // 3 and 4 have d=2 with 1 triangle each (lcc 2·1/(2·1) = 1.0)
    val d = edgeFixture(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)), "lcc")
    val m = Graph.defs("g4_clustering_coeff")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((3L, 2L, 2.0 / 3)) && m(2L) == ((3L, 2L, 2.0 / 3)), m.toString)
    assert(m(3L) == ((2L, 1L, 1.0)) && m(4L) == ((2L, 1L, 1.0)), m.toString)
  }

  test("g4 lcc is 0.0 on a triangle-free star, including the d<2 leaves") {
    val d = edgeFixture((1L to 70L).map(l => (1000L, l)), "lccstar")
    val rows = Graph.defs("g4_clustering_coeff")(spark, d).collect()
    assert(rows.length == 71)
    assert(rows.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0),
      "a star has no triangles and so no clustering anywhere")
  }

  test("g5 labels every component with its min id and exact size, across shapes") {
    // four known components: a path (min 1, size 4), an edge (min 10,
    // size 2), a triangle (min 20, size 3), and a 9-vertex path (min 30,
    // size 9 — deep enough that hook+contract needs the doubling pass)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)) ++
      (30L until 38L).map(v => (v, v + 1))
    val d = edgeFixture(edges, "cc")
    val got = Graph.defs("g5_components")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected =
      (1L to 4L).map(_ -> ((1L, 4L))) ++ Seq(10L -> ((10L, 2L)), 11L -> ((10L, 2L))) ++
        (20L to 22L).map(_ -> ((20L, 3L))) ++ (30L to 38L).map(_ -> ((30L, 9L)))
    assert(got == expected.toMap, got.toString)
  }

  test("g1's graph-scale joins are equi-joins; only the single-row count merge is a cross") {
    val p = Graph.defs("g1_triangle_count")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the wedge build and closure probe must be hash/merge equi-joins; the
    // only nested-loop joins allowed are the three single-row agg crosses
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 3, s"unexpected nested-loop join at graph scale ($nlj)\n$p")
    assert(p.contains("LeftSemi"), s"closure must be a semi-join\n$p")
  }

  test("g17 butterflies: every support-2 pair carries C(2,2)=1; per-part sums are exact") {
    // K4-from-two-orders: each of the 6 part pairs is co-ordered twice
    // (w=2 → 1 butterfly each); each star (hub, leaf) pair likewise.
    // Per part: K4 members sit in 3 pairs, the hub in 6, each leaf in 1.
    val got = Graph.defs("g17_butterflies")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (1L to 4L).foreach(p => assert(got(p) == ((3L, 3L)), s"part $p: ${got(p)}"))
    assert(got(10L) == ((6L, 6L)), s"hub: ${got(10L)}")
    (20L to 25L).foreach(p => assert(got(p) == ((1L, 1L)), s"leaf $p: ${got(p)}"))
    assert(got.size == 11, s"parts in the support-2 graph: ${got.keySet}")
  }

  test("g18 edge support: every K4 edge sits in exactly 2 triangles; star edges vanish") {
    val got = Graph.defs("g18_edge_support")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k4Edges = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(got.keySet == k4Edges.toSet,
      s"only K4 edges carry triangles: ${got.keySet}")
    assert(got.values.forall(_ == 2L),
      s"each K4 edge closes with both remaining vertices: $got")
  }

  test("g19 4-truss keeps K4 whole (support 2 everywhere); star edges never enter") {
    val got = Graph.defs("g19_ktruss")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k4Edges = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(got.keySet == k4Edges.toSet, s"truss: ${got.keySet}")
    assert(got.values.forall(_ == 2L), s"K4 is its own 4-truss: $got")
  }

  test("g25 HITS authorities match a sequential two-round power iteration") {
    // independent spelling: plain-Scala maps over the collected bipartite
    // edge set, exactly h0=1 / a1=in-degree / h1 / a2 — then the top-20
    // under (score DESC, part ASC) must be g25's rows verbatim
    val sf = "/root/testdata/sf0.001"
    val ords = graft.sources.Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val edges = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .flatMap(r => ords.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .distinct
    val a1 = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val h1 = edges.groupBy(_._1).view
      .mapValues(_.map(e => a1(e._2)).sum).toMap
    val a2 = edges.groupBy(_._2).view
      .mapValues(_.map(e => h1(e._1)).sum).toMap
    val expected = a2.toSeq.sortBy { case (p, a) => (-a, p) }.take(20)
      .zipWithIndex.map { case ((p, a), i) => (p, a, i + 1L) }
    val got = Graph.defs("g25_hits")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.head._2 > got.last._2, "test premise: scores separate")
  }

  test("g19 reached fixpoint at sf0.001: one more peel round removes nothing") {
    val rows = Graph.defs("g19_ktruss")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "premise: the sf0.001 4-truss must be non-empty")
    assert(rows.forall(_._3 >= 2L),
      "at fixpoint every surviving edge holds support >= 2 in the truss")
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val eDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq.map(r => Row(r._1, r._2)), 4),
      schema)
    val kept = Graph.supportOf(eDf)
      .filter(org.apache.spark.sql.functions.col("support") >= 2).count()
    assert(kept == rows.length,
      s"round 8 would peel ${rows.length - kept} more edges — not a fixpoint")
  }

  test("g17 matches sequential butterfly counting on sf0.001") {
    val li = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairW = li.groupBy(_._1).values.toSeq.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      .filter(_._2 >= 2)
    val expect = pairW.toSeq
      .flatMap { case ((a, b), w) =>
        val bf = w * (w - 1) / 2
        Seq(a -> bf, b -> bf)
      }
      .groupBy(_._1)
      .map { case (p, vs) => p -> ((vs.size.toLong, vs.map(_._2).sum)) }
    val got = Graph.defs("g17_butterflies")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(expect.nonEmpty, "premise: sf0.001 must have support-2 pairs")
    assert(got == expect, s"got ${got.size} parts, expect ${expect.size}")
  }

  test("g21 assortativity: star pins r = -1, regular graph pins NULL (zero variance)") {
    // a star's directed endpoint-degree points are (n,1)×n and (1,n)×n —
    // all on one negative-slope line, so r = -1 exactly (up to the one
    // final IEEE division); K4 has constant degrees, so the variance
    // guard must emit NULL, not a 0/0
    val star = edgeFixture((2L to 6L).map(l => (1L, l)), "astar")
    val sRow = Graph.defs("g21_assortativity")(spark, star).collect().head
    assert(sRow.getLong(0) == 10L, s"directed edge count: ${sRow.getLong(0)}")
    assert(math.abs(sRow.getDouble(1) + 1.0) < 1e-12,
      s"star r must be -1, got ${sRow.getDouble(1)}")
    val k4 = edgeFixture(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)), "ak4")
    val kRow = Graph.defs("g21_assortativity")(spark, k4).collect().head
    assert(kRow.isNullAt(1), "constant-degree graph must emit NULL r")
  }

  test("g20 matches a sequential synchronous LPA on a random graph; communities form") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = edgeFixture(edges, "lpa")
    // sequential reference: 3 SYNCHRONOUS rounds, mode of neighbor labels
    // under the (count DESC, label ASC) total tie-break
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (v, ns) =>
        val votes = ns.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Graph.defs("g20_label_propagation")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.values.toSet.size < lbl.size,
      "test premise: labels must coalesce into communities")
    assert(got == lbl, s"distributed vs sequential mismatch: " +
      s"${(got.toSet diff lbl.toSet).take(5)} / ${(lbl.toSet diff got.toSet).take(5)}")
  }

  test("g27: one red/black Louvain round never lowers Q below its LPA seed") {
    // the optimizer's contract (VERDICT r15 item 4): g26's Q for the
    // moved labels must be >= the seed's, on a crafted random graph AND
    // on the real gate corpus (where the naive synchronous variant this
    // replaced measurably LOWERED Q — see louvainRound's scaladoc)
    val rnd = new scala.util.Random(23) // the g20 fixture's graph
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = edgeFixture(edges, "louvain")
    val got = Graph.defs("g27_louvain_round")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set("lpa", "louvain1"))
    assert(got("louvain1")._2 >= got("lpa")._2,
      s"the optimizer lowered Q on the fixture: $got")
    val real = Graph.defs("g27_louvain_round")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(real("louvain1") > real("lpa"), s"sf0.001 must show ΔQ > 0: $real")
    // the move round is a relabeling of the SAME vertex set, and
    // deterministic under re-execution (no arrival-order dependence)
    val e = Graph.coOrderEdges(graft.sources.Tables.load(spark, d, "lineitem"))
    val lpa = Graph.lpaLabels(e).localCheckpoint()
    val m1 = Graph.louvainRound(e, lpa).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = Graph.louvainRound(e, lpa).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vs = lpa.collect().map(_.getLong(0)).toSet
    assert(m1.keySet == vs, "moves must relabel exactly the vertex set")
    assert(m1 == m2, "the phased round must be deterministic")
  }

  test("g28: the contracted level's Q never drops below louvain1 and the ladder is monotone") {
    // VERDICT r16 item 1's contract: Q(original, unfolded coarse labels)
    // == Q(coarse weighted graph, coarse labels), so every positive-gain
    // coarse move lifts original-graph Q — level 2 must sit at or above
    // louvain1, which sits at or above the LPA seed (the g27 pin)
    val rnd = new scala.util.Random(23) // the g20/g27 fixture's graph
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = edgeFixture(edges, "louvain2")
    val got = Graph.defs("g28_louvain_multilevel")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set("lpa", "louvain1", "louvain2"))
    assert(got("louvain1")._2 >= got("lpa")._2, s"level 1 lowered Q: $got")
    assert(got("louvain2")._2 >= got("louvain1")._2,
      s"the coarse level lowered Q: $got")
    // on the real gate corpus the coarse grain must do REAL work:
    // communities merge and Q strictly improves (394 -> 221 communities,
    // +38% Q at sf0.01; sf0.001 shows the same shape)
    val real = Graph.defs("g28_louvain_multilevel")(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(real("louvain2")._2 > real("louvain1")._2,
      s"sf0.001 must show a strict level-2 gain: $real")
    assert(real("louvain2")._1 < real("louvain1")._1,
      s"sf0.001 must show coarse merges: $real")
    // the g27 rows embedded in the ladder equal g27's own readout (the
    // shared-generator claim: adding a level must not perturb level 1)
    val g27 = Graph.defs("g27_louvain_round")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(real("lpa") == g27("lpa") && real("louvain1") == g27("louvain1"),
      s"g28's ladder drifted from g27: $real vs $g27")
  }

  test("perSeedBfs: 64 seeds batched 8 at a time == one unbatched wave (seed-axis knob)") {
    // VERDICT r10 item 3: the seed axis must be batchable with no result
    // change. Fixture: a 2-row × 100-column grid (each vertex joined to its
    // horizontal and vertical neighbors) — diameter large enough that every
    // round expands, plus multi-path reachability so distinct/anti-join do
    // real work. Seeds: 64 of the 200 vertices.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0L until 100L).flatMap { c =>
      val top = c; val bot = c + 100L
      Seq((top, bot)) ++ (if (c < 99) Seq((top, top + 1), (bot, bot + 1)) else Nil)
    }
    val sym = edges.toDF("src", "dst")
      .unionAll(edges.map(_.swap).toDF("src", "dst"))
      .localCheckpoint()
    val seeds = (0L until 64L).map(_ * 3).toDF("seed").localCheckpoint()
    def rows(b: Int) = Graph.perSeedBfs(sym, seeds, rounds = 3, seedBatch = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batched = rows(8)
    val oneShot = rows(64)
    assert(batched.nonEmpty && batched.exists(_._3 == 3L),
      "premise: rounds must reach distance 3")
    assert(batched == oneShot,
      "seed-axis batching changed the per-seed BFS result")
  }

  test("g26 matches a sequential modularity reference on a random labeled graph") {
    val rnd = new scala.util.Random(31)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(60) + 1L; val b = rnd.nextInt(60) + 1L
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val d = TestSpark.tempDir("graft-mod").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType)))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq(7000000L + 2 * i, 7000001L + 2 * i).flatMap(ok => Seq(Row(ok, a), Row(ok, b)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), schema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val pschema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_brand", StringType)))
    val prows = (1L to 60L).map(v => Row(v, s"B${v % 3}"))
    spark.createDataFrame(spark.sparkContext.parallelize(prows, 2), pschema)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val got = Graph.defs("g26_modularity")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    // sequential reference: the same one-round LPA vote (count DESC, label
    // ASC argmax), then Newman's Q per community in BigInt floor division
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val brand = (1L to 60L).map(v => v -> s"B${v % 3}").toMap
    val comm = adj.map { case (u, nbrs) =>
      val cnt = nbrs.groupBy(brand).view.mapValues(_.size).toMap
      u -> cnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
    }
    val m = edges.size.toLong
    val want = comm.groupBy(_._2).map { case (c, vs) =>
      val members = vs.keySet
      val intra = edges.count(e =>
        comm(e._1) == c && comm(e._2) == c).toLong
      val degSum = members.toSeq.map(v => adj(v).size.toLong).sum
      val q = (BigInt(intra) * BigInt(1000000000)) / BigInt(m) -
        (BigInt(degSum) * BigInt(degSum) * BigInt(1000000000)) /
          (BigInt(4) * BigInt(m) * BigInt(m))
      (c, members.size.toLong, intra, degSum, q.toLong)
    }.toSet
    assert(got == want, s"distributed vs sequential modularity mismatch: " +
      s"${(got diff want).take(3)} / ${(want diff got).take(3)}")
    // identities: Σ_c D_c = 2m, Σ_c m_c <= m
    assert(got.toSeq.map(_._4).sum == 2 * m, "degree mass must total 2m")
    assert(got.toSeq.map(_._3).sum <= m, "intra edges cannot exceed m")
  }
}
