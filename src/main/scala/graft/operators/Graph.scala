package graft.operators

import graft.GraftCkpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.Tables

/** Graph analytics over relationally-derived graphs.
  *
  * The reference engine has no graph surface (SURVEY.md §2.2); this pack is a
  * §7 extension alongside the connected-components operator that Dedup's
  * d11/s6 embed (operators/Components.scala). The graph here is the co-order
  * ("market-basket") graph: parts are vertices, and an edge joins two parts
  * that appear together in >= 2 orders (the support floor keeps the long tail
  * of one-off co-occurrences out, t9/w4 discipline).
  *
  * Scale posture (100 TB): triangle counting is the classic quadratic-blowup
  * trap — enumerating every vertex's neighborhood² explodes on hubs. The
  * degree-orientation algorithm (Cohen's MapReduce triangle counting;
  * Suri-Vassilvitskii) bounds it: orient every edge from the (degree, id)-
  * smaller endpoint to the larger, so every vertex's OUT-degree is O(√m),
  * wedges are built only from out-neighbor pairs (≤ C(out-deg, 2) per
  * vertex — a hub with a million neighbors but low out-degree generates
  * almost none), and each triangle is counted exactly once, at its
  * smallest-degree corner. Both joins are equi-keyed (wedge build on the
  * center u; closure on the (x, y) edge key) — never a cross join, never an
  * unbounded neighborhood expansion.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Support-≥2 co-order edge list from a lineitem frame, checkpointed
    * (g1 consumes it three times). Package-private so GraphSpec can probe
    * the pipeline's stages (skew histograms) without re-deriving them. */
  private[graft] def coOrderEdges(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(collect_set("pk").as("ps"))
      // native pair expansion (OPTIMIZATION r18): the composed HOF chain
      // ran interpreted and was duplicated under the explode by
      // InferFiltersFromGenerate — see graft.functions.LtPairs
      .select(explode(graft.functions.LtPairs.ltPairs(col("ps"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select("a", "b")
      .graftCkpt()

  /** Weighted co-order edge list: (a, b, c) with c = co-order count
    * (support ≥ 2 kept as the weight g11 splits rank flow by). Same
    * single-shuffle in-row pair expansion as [[coOrderEdges]]. */
  private[graft] def coOrderEdgesW(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(collect_set("pk").as("ps"))
      .select(explode(graft.functions.LtPairs.ltPairs(col("ps"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .graftCkpt()

  /** Both orientations of an (a, b) edge list as (x, y), with the `carry`
    * columns kept on each row. */
  private[graft] def symmetric(e: DataFrame, x: String, y: String,
      carry: String*): DataFrame = {
    val kept = carry.map(col)
    e.select(col("a").as(x) +: col("b").as(y) +: kept: _*)
      .unionAll(e.select(col("b").as(x) +: col("a").as(y) +: kept: _*))
  }

  /** Degree table of an (a, b) edge list. */
  private[graft] def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Edges oriented from the (degree, id)-smaller endpoint: (u, v, dv),
    * checkpointed (wedge self-join + closure probe). Out-degree of every
    * vertex is O(√m) — the property the skew pin measures. */
  private[graft] def oriented(e: DataFrame): DataFrame = {
    val deg = degrees(e)
    val da = deg.select(col("v").as("a"), col("d").as("dda"))
    val db = deg.select(col("v").as("b"), col("d").as("ddb"))
    val aFirst = col("dda") < col("ddb") ||
      (col("dda") === col("ddb") && col("a") < col("b"))
    e.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("ddb")).otherwise(col("dda")).as("dv"))
      .graftCkpt()
  }

  /** Orientation-ordered wedges (x, y) from the oriented edges — the
    * equi-join on the center vertex u that the skew probe measures. */
  private[graft] def wedges(oe: DataFrame): DataFrame = {
    val e1 = oe.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = oe.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    e1.join(e2, "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select("x", "y")
  }

  /** Batched per-seed multi-source BFS (g16's engine; VERDICT r10 item 3 —
    * the s23-memberCap discipline applied to the seed axis): visited
    * (seed, v, dist) rows over `rounds` frontier expansions, computed in
    * deterministic seed-order slices of at most `seedBatch` seeds, unioned.
    * Peak in-flight state is ≤ seedBatch × vertices no matter how many
    * seeds the caller passes — a thousand hubs run as ⌈1000/B⌉ sequential
    * waves, each the same edge-linear equi-join → distinct → anti-join
    * rounds g15 takes, instead of a single 1000×-vertex frontier. Slicing
    * is sound because per-seed BFS has no cross-seed state: each seed's
    * reachable set is independent, so the union over slices is exactly the
    * unbatched result (GraphSpec pins batched == unbatched at 64 seeds).
    * `seeds`: one `seed` column, assumed small (hub sets, query sets);
    * the count() sizing action is over that small frame only. */
  private[graft] def perSeedBfs(sym: DataFrame, seeds: DataFrame,
      rounds: Int, seedBatch: Int): DataFrame = {
    val n = seeds.count()
    val nBatches = math.max(1, ((n + seedBatch - 1) / seedBatch).toInt)
    val ranked = seeds.withColumn("_b",
      ((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("seed")) - 1) / seedBatch).cast("int"))
      .graftCkpt()
    (0 until nBatches).map { b =>
      val ss = ranked.filter(col("_b") === b).select("seed")
      var visited = ss
        .select(col("seed"), col("seed").as("v"), lit(0L).as("dist"))
        .graftCkpt()
      var frontier = visited.select("seed", "v")
      for (i <- 1 to rounds) {
        val next = sym
          .join(frontier.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("seed"), col("dst").as("v")).distinct()
          .join(visited.select("seed", "v"), Seq("seed", "v"), "left_anti")
          .withColumn("dist", lit(i.toLong))
          .graftCkpt()
        visited = visited.unionAll(next).graftCkpt()
        frontier = next.select("seed", "v")
      }
      visited
    }.reduce(_ unionAll _)
  }

  val defs: Map[String, Q] = Map(
    // Synchronous label-propagation community detection (Raghavan 2007's
    // LPA, the deterministic synchronous variant), 3 unrolled rounds —
    // the CHEAP community extractor next to g12's threshold+components
    // (no support cut: every edge votes) and g5's pure connectivity.
    // Each vertex starts as its own label; per round every vertex adopts
    // the MODE of its neighbors' labels under the total
    // (count DESC, label ASC) tie-break — fully deterministic, so three
    // float-free integer rounds hash-gate cross-engine (async LPA's
    // arrival-order nondeterminism is exactly what this spelling
    // removes). Per round: ONE edge-linear equi-join against the label
    // table, a (v, label) hash agg, and a degree-bounded per-vertex
    // argmax window — the g2 rank-step shape with mode instead of sum;
    // rounds checkpointed flat (the g2/g6 lineage discipline). 100 TB
    // posture: state is one label per vertex, shuffles are edge-linear
    // per round, nothing corpus-sized sorts. GraphSpec pins sequential
    // parity on a crafted two-community graph.
    "g20_label_propagation" -> { (s, dir) =>
      lpaLabels(coOrderEdges(t(s, dir, "lineitem")))
    },

    // ONE GREEDY MODULARITY ROUND (Louvain's move phase, red/black —
    // VERDICT r15 item 4): g26 SCORES a partition and g20 EXTRACTS one,
    // but nothing OPTIMIZED Q — the scorer had no optimizer to grade.
    // Seeded from g20's LPA labels, each vertex evaluates moving to its
    // NEIGHBORING communities with the standard Louvain gain —
    // ΔQ(v→d) ∝ k_{v,d} − k_v·Σtot_d/2m, compared across candidates in
    // EXACT integers as 2m·k_{v,d} − k_v·(Σtot_d − [d=own]·k_v) — in
    // TWO parity phases (even movers against the frozen labeling, odd
    // movers against the updated one; see louvainRound for the measured
    // 57× Q gap vs the naive synchronous round this replaced). The
    // emitted readout is the OPTIMIZER'S CONTRACT: g26's total Q for
    // the seed labels and for the moved labels, side by side, so
    // ΔQ > 0 is in the gated output (and pinned ≥ in GraphSpec).
    // Scale: per phase, one vote-shaped shuffle for k_{v,d}
    // (edge-linear, g13's shape), |communities|-row tot, per-vertex
    // argmax over a DEGREE-bounded candidate set (never a corpus
    // window), then two g26 scoring passes — a Louvain round costs two
    // LPA rounds, at any corpus.
    "g27_louvain_round" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      // ONE checkpointed degree table threads through the move round and
      // both scoring passes (OPTIMIZATION r17) — previously each consumer
      // recomputed the edge-linear degree aggregation from scratch.
      val dg = degrees(e).graftCkpt()
      // m (|E|, one row) likewise computed once — each scoring pass and
      // the move round otherwise re-counts the full edge set
      val mdf = e.agg(count(lit(1)).as("m")).graftCkpt()
      val lpa = lpaLabels(e).graftCkpt() // scored AND seeds the moves
      val moved = louvainRound(e, lpa, Some(dg), Some(mdf))
      modularityTotal(e, lpa, Some(dg), Some(mdf))
        .select(lit("lpa").as("method"), col("n_communities"), col("q_ppb"))
        .unionAll(modularityTotal(e, moved, Some(dg), Some(mdf))
          .select(lit("louvain1").as("method"), col("n_communities"),
            col("q_ppb")))
    },

    // MULTI-LEVEL LOUVAIN (VERDICT r16 item 1) — g27 is ONE move phase;
    // real Louvain CONTRACTS the moved communities into super-vertices
    // and repeats the move phase at the coarse grain, which is where the
    // big modularity gains live (a fine-grained vertex can only join a
    // NEIGHBORING community; a contracted community can merge whole
    // groups at once). Level 2 here: g27's moved labels become the
    // vertex set of a weighted graph — edge weight = inter-community
    // edge count (the Components hook+contract shape), coarse degree =
    // SUM of member degrees (= 2·intra + inter, so self-loops are
    // carried implicitly and the total weight m is conserved) — and the
    // IDENTICAL weighted gain 2m·k_{v,d} − k_v·(Σtot_d − [d=own]·k_v)
    // re-runs in the same two red/black parity phases (louvainPhases —
    // one spelling for every level, so the optimizer and its oracle
    // cannot drift). Unfolding composes the labelings; Q(original,
    // unfolded) ≡ Q(coarse weighted, coarse) is the Louvain invariant
    // that makes each positive-gain coarse move a positive ΔQ on the
    // original graph, so the emitted ladder lpa → louvain1 → louvain2
    // is monotone (pinned in GraphSpec; ΔQ per level is IN the gated
    // output). Scale: the contraction is two edge-linear label joins +
    // one |inter-community-edges| agg; every phase above level 1 runs
    // on the COARSE graph (|communities| vertices), so each added level
    // costs less than the one below it — the multigrid property that
    // makes multi-level Louvain tractable where fine-grained hill
    // climbing stalls. All arithmetic stays exact-integer DECIMAL(38,0).
    "g28_louvain_multilevel" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      // shared checkpointed degrees (g27's r17 note): the move round, the
      // coarse degree build, and all THREE scoring passes read it
      val dg = degrees(e).graftCkpt()
      val mdf = e.agg(count(lit(1)).as("m")).graftCkpt()
      val lpa = lpaLabels(e).graftCkpt()
      val l1 = louvainRound(e, lpa, Some(dg), Some(mdf))
        .graftCkpt() // level-1 labels
      // contract: inter-community edges with multiplicity as weight
      val ce = e
        .join(l1.select(col("v").as("a"), col("lbl").as("ca")), "a")
        .join(l1.select(col("v").as("b"), col("lbl").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("sa"),
          greatest(col("ca"), col("cb")).as("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).cast(LongType).as("w"))
        .graftCkpt() // both parity phases probe it
      val symW = ce.select(col("sa").as("src"), col("sb").as("dst"), col("w"))
        .unionAll(ce.select(col("sb").as("src"), col("sa").as("dst"),
          col("w")))
      val degC = dg.join(l1, "v")
        .groupBy(col("lbl").as("v")).agg(sum("d").cast(LongType).as("d"))
        .graftCkpt()
      val l2c = louvainPhases(symW, degC, mdf,
        degC.select(col("v"), col("v").as("lbl")))
      val l2 = l1.select(col("v"), col("lbl").as("c1"))
        .join(l2c.select(col("v").as("c1"), col("lbl").as("l2")), "c1")
        .select(col("v"), col("l2").as("lbl"))
      modularityTotal(e, lpa, Some(dg), Some(mdf))
        .select(lit("lpa").as("method"), col("n_communities"), col("q_ppb"))
        .unionAll(modularityTotal(e, l1, Some(dg), Some(mdf))
          .select(lit("louvain1").as("method"), col("n_communities"),
            col("q_ppb")))
        .unionAll(modularityTotal(e, l2, Some(dg), Some(mdf))
          .select(lit("louvain2").as("method"), col("n_communities"),
            col("q_ppb")))
    },

    // DEGREE ASSORTATIVITY — the one-number graph-health readout (Newman
    // 2002): the Pearson correlation of endpoint degrees over directed
    // (symmetrized) edges. Positive = hubs link hubs (social shape),
    // negative = hubs link leaves (the hub-and-spoke catalog shape this
    // co-order graph should show) — the diagnostic that says whether
    // g2's rank mass concentrates or disperses BEFORE running it. The
    // q63 exactness discipline: power sums in DECIMAL(38,0) over exact
    // integer degrees, ONE final IEEE division — both engines compute
    // the identical double, so a float correlation hash-gates. Plan: two
    // vertex-sized degree joins onto the edge list, one global agg — no
    // windows, no iteration; at 100 TB the degree table is the graph
    // family's standard first materialization.
    "g21_assortativity" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val sym = symmetric(e, "src", "dst")
      val dg = degrees(e)
      val agg = sym
        .join(dg.select(col("v").as("src"), col("d").as("x0")), Seq("src"))
        .join(dg.select(col("v").as("dst"), col("d").as("y0")), Seq("dst"))
        .select(col("x0").cast(dec).as("x"), col("y0").cast(dec).as("y"))
        .agg(count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val dx = col("m") * col("sxx") - col("sx") * col("sx")
      val dy = col("m") * col("syy") - col("sy") * col("sy")
      val num = col("m") * col("sxy") - col("sx") * col("sy")
      agg.select(col("m").as("n_edges_directed"),
        when(dx <= 0 || dy <= 0, lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType)
            / (sqrt(dx.cast(DoubleType)) * sqrt(dy.cast(DoubleType))))
          .as("r"))
    },

    // Multi-source BFS LAYERS from the hub products — the frontier-
    // expansion iterative shape the family's other loops don't cover
    // (g2 propagates rank, g5/g12 contract components, g6 peels): which
    // vertices sit within 1/2/3 hops of the top-8 highest-degree hubs,
    // the catalog-coverage / blast-radius diagnostic. Seeds are a total
    // (d DESC, v) order so the set is engine-independent; each round is
    // ONE edge-linear equi-join of the symmetrized edges against the
    // (shrinking or plateauing) frontier, a distinct, and a vertex-sized
    // anti-join against visited — the textbook distributed BFS step, per
    // round checkpointed (the g2/g6 flat-lineage discipline). Distances
    // are exact integers, so the layer table hash-gates. Unvisited
    // vertices (> 3 hops or disconnected) are absent — the reachability
    // complement is g5's components question.
    "g15_bfs_layers" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val sym = symmetric(e, "src", "dst")
        .graftCkpt() // 3 rounds probe it
      val seeds = degrees(e).orderBy(col("d").desc, col("v")).limit(8)
        .select(col("v"), lit(0L).as("dist")).graftCkpt()
      var visited = seeds
      var frontier = seeds.select("v")
      for (i <- 1 to 3) {
        val next = sym
          .join(frontier.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v")).distinct()
          .join(visited.select("v"), Seq("v"), "left_anti")
          .select(col("v"), lit(i.toLong).as("dist"))
          .graftCkpt()
        visited = visited.unionAll(next).graftCkpt()
        frontier = next.select("v")
      }
      visited
    },

    // Per-hub HARMONIC centrality — g15's multi-source BFS refined to
    // per-seed distances (g15's layers give the SET-min distance; which
    // hub reaches how much, and how closely, needs (seed, v) state —
    // bounded by seeds × vertices, 8× here). Same frontier-expansion
    // rounds: edge-linear equi-join of the symmetrized edges against the
    // (seed, v)-keyed frontier, distinct, anti-join against visited,
    // per round checkpointed. The readout is EXACT: harmonic centrality
    // Σ 1/dist over 3 hops scaled ×6 (6/1, 6/2, 6/3 are integers), so
    // the row hash-gates where a float 1/3 sum never would. 100 TB
    // posture: per-seed BFS multiplies frontier volume by |seeds|, not
    // rounds — the standard batched multi-source trick — and the seed
    // axis is BATCHED by perSeedBfs's seedBatch knob (VERDICT r10
    // item 3): peak (seed, v) state stays ≤ seedBatch × vertices
    // regardless of how many hubs the caller asks about.
    "g16_hub_closeness" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val sym = symmetric(e, "src", "dst")
        .graftCkpt() // 3 rounds probe it
      val seeds = degrees(e).orderBy(col("d").desc, col("v")).limit(8)
        .select(col("v").as("seed")).graftCkpt()
      perSeedBfs(sym, seeds, rounds = 3, seedBatch = 8)
        .filter(col("dist") > 0)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(when(col("dist") === 1, 6L)
            .when(col("dist") === 2, 3L).otherwise(2L))
            .cast(LongType).as("harmonic_x6"))
    },

    // Damped PageRank over the co-order graph, INTEGER-EXACT: ranks are
    // scaled by 1e12 and every step uses floor division (`div`), so three
    // unrolled iterations produce bit-identical longs in any engine — the
    // hash-gateable spelling of an algorithm whose float form never
    // cross-engine-compares (per-vertex float sums are order-sensitive).
    // Plan per iteration: vertex-sized equi-join (rank ⋈ degree) → edge-
    // sized equi-join (directed edges ⋈ per-vertex contribution) → hash
    // aggregate on the destination (partial+final, so a hub's in-flow
    // combines map-side). The damping constant re-injection is a 1-row
    // broadcast. 100 TB posture: each iteration is one edge-linear join +
    // one agg — the standard distributed PageRank step; nothing holds a
    // neighborhood in memory and no step is quadratic in degree.
    "g2_pagerank" -> { (s, dir) =>
      val S = 1000000000000L // rank scale: Σ ranks ≈ S, max product 85·S ≪ 2^63
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val deg = degrees(e).graftCkpt() // 4 consumers: n + 3 iterations
      // ONE edge materialization total (OPTIMIZATION r18, VERDICT r17
      // item 2): the symmetrized directed edges and the 1-row vertex count
      // are checkpointed once and re-read by all three rank iterations —
      // previously each iteration re-derived the union and re-aggregated
      // n, so the rank vector is now the only per-round shuffle (§2, §5).
      val n = deg.agg(count(lit(1)).as("n")).graftCkpt()
      val de = symmetric(e, "src", "dst")
        .graftCkpt()
      var r = deg.join(broadcast(n))
        .select(col("v"), expr(s"CAST($S div n AS BIGINT)").as("pr"))
      for (_ <- 1 to 3) {
        val rc = r.join(deg, "v")
          .select(col("v").as("src"), expr("pr div d").as("c"))
        r = de.join(rc, "src")
          .groupBy(col("dst").as("v")).agg(sum(col("c")).as("sc"))
          .join(broadcast(n))
          .select(col("v"), expr(
            s"CAST((15 * ($S div n)) div 100 + (85 * sc) div 100 AS BIGINT)")
            .as("pr"))
      }
      r
    },

    // PageRank CONVERGENCE readout — the monitoring row an iterative job
    // emits per round so the operator (human or auto-tuner) knows when to
    // stop: L1 and max rank movement between consecutive rounds, exact
    // longs off g2's integer ranks (the float form's per-round residual
    // never cross-engine-compares). Each round adds one vertex-keyed
    // equi-join of consecutive rank tables and a 1-row aggregate — noise
    // next to the round itself; at 100 TB this is how "run until
    // converged" replaces "run 3 rounds and hope". Rounds replay g2's
    // exact arithmetic, so round-3 ranks here ARE g2's output.
    "g14_rank_convergence" -> { (s, dir) =>
      val S = 1000000000000L
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val deg = degrees(e).graftCkpt()
      // g2's r18 discipline: symmetrized edges + n checkpointed ONCE,
      // re-read by every round and every delta join
      val n = deg.agg(count(lit(1)).as("n")).graftCkpt()
      val de = symmetric(e, "src", "dst")
        .graftCkpt()
      var r = deg.join(broadcast(n))
        .select(col("v"), expr(s"CAST($S div n AS BIGINT)").as("pr"))
        .graftCkpt()
      val deltas = (1 to 3).map { i =>
        val rc = r.join(deg, "v")
          .select(col("v").as("src"), expr("pr div d").as("c"))
        val next = de.join(rc, "src")
          .groupBy(col("dst").as("v")).agg(sum(col("c")).as("sc"))
          .join(broadcast(n))
          .select(col("v"), expr(
            s"CAST((15 * ($S div n)) div 100 + (85 * sc) div 100 AS BIGINT)")
            .as("pr"))
          .graftCkpt()
        val d0 = next.join(r.withColumnRenamed("pr", "prev"), "v")
          .select(abs(col("pr") - col("prev")).as("delta"))
          .agg(sum("delta").cast("long").as("l1_delta"),
            max("delta").cast("long").as("max_delta"))
          .select(lit(i.toLong).as("round"), col("l1_delta"), col("max_delta"))
        r = next
        d0
      }
      deltas.reduce(_.unionAll(_))
    },

    // Weighted damped PageRank — g2 on the weighted co-order graph, the
    // realistic regime (edges carry co-order counts, and a pair ordered
    // together 30× should pull 30× the rank flow of a pair at the support
    // floor). Each vertex splits its rank proportionally to edge weight:
    // contribution over edge (u→v) = (pr_u · c_uv) div wdeg_u, with
    // wdeg_u = Σ c over u's edges — still integer-exact (floors agree in
    // both engines; max product ~pr·c ≪ 2^63), so three unrolled rounds
    // hash-gate like g2's. Note the floor now LOSES up to wdeg_u − 1
    // units per vertex per round (g2 loses deg_u − 1), conserved ranks up
    // to floors pinned the same way. Plan per iteration is g2's exactly:
    // vertex-sized rank⋈wdeg equi-join → edge-linear weighted-edge⋈
    // contribution equi-join → partial+final agg on the destination.
    "g11_weighted_pagerank" -> { (s, dir) =>
      val S = 1000000000000L
      val e = coOrderEdgesW(t(s, dir, "lineitem"))
      // g2's r18 discipline: the symmetrized weighted edges checkpoint
      // once and feed wdeg plus all three iterations (one |E|
      // materialization total); n likewise
      val de = symmetric(e, "src", "dst", "c")
        .graftCkpt()
      val wdeg = de.groupBy(col("src").as("v"))
        .agg(sum("c").cast("long").as("wd"))
        .graftCkpt() // 4 consumers: n + 3 iterations
      val n = wdeg.agg(count(lit(1)).as("n")).graftCkpt()
      var r = wdeg.join(broadcast(n))
        .select(col("v"), expr(s"CAST($S div n AS BIGINT)").as("pr"))
      for (_ <- 1 to 3) {
        val rc = r.join(wdeg, "v")
          .select(col("v").as("src"), col("pr"), col("wd"))
        r = de.join(rc, "src")
          .select(col("dst"), expr("(pr * c) div wd").as("ct"))
          .groupBy(col("dst").as("v")).agg(sum(col("ct")).as("sc"))
          .join(broadcast(n))
          .select(col("v"), expr(
            s"CAST((15 * ($S div n)) div 100 + (85 * sc) div 100 AS BIGINT)")
            .as("pr"))
      }
      r
    },

    // Link prediction by common-neighbor count — the classic structural
    // baseline: which part pairs are NOT yet co-ordered but share many
    // co-order neighbors (candidates for "bought together" suggestions).
    // Exact common-neighbor counting is inherently Σ deg(center)² — the
    // one graph primitive orientation CANNOT fix (a wedge must be counted
    // at its center whatever the center's degree) — so centers above
    // degree 64 are excluded from the center role, mirrored in the oracle
    // (a hub that co-orders with everything carries no signal for link
    // prediction, the d20 cap argument on the graph axis; the co-order
    // graph's max degree is ~13, so the cap is headroom, not a filter).
    // Per-center pair expansion is then ≤ C(64, 2); the wedge join is
    // equi-keyed on the center; the final top-20 is TakeOrdered with a
    // full (cn, a, b) tiebreak, never a global sort.
    "g3_link_prediction" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val degc = degrees(e).select(col("v").as("u"), col("d"))
      val ctr = und.join(degc, "u").filter(col("d") <= 64).select("u", "v")
      val cn = ctr.as("x").join(ctr.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .groupBy(col("x.v").as("a"), col("y.v").as("b"))
        .agg(count(lit(1)).as("cn"))
      cn.join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(20)
    },

    // Global triangle census of the co-order graph: nodes, edges, wedges
    // (open or closed two-paths in orientation order), triangles, and the
    // closed-wedge fraction. Plan: per-order distinct (order, part) pairs
    // self-join WITHIN the order (bounded by C(items-per-order, 2) — TPC-H
    // orders hold ~4 items) → support-filtered edge list, checkpointed
    // (three consumers) → degree table → oriented edges carrying both
    // endpoint degrees, checkpointed (wedge self-join + closure probe) →
    // wedge equi-join on the center vertex → closure equi-join on the
    // wedge's far pair. The exact integer counts make the closed-wedge
    // ratio bit-portable (one division of two exact longs).
    "g1_triangle_count" -> { (s, dir) =>
      // per-order part sets via collect_set (orders hold ~4 items — the
      // aggregation buffer is bounded by the order, NEVER corpus-scale, so
      // this is not the d3 viral-bucket shape) and in-row pair expansion:
      // one shuffle on the order key replaces distinct + self-join's three
      // (no change at sf0.1 where fixed overhead dominates; 32 s → 25 s on
      // a 100× volume-pure replica, where the saved shuffles carry real
      // volume)
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val deg = degrees(e)
      val oe = oriented(e)
      val wedge = wedges(oe)
      val closed = wedge.join(oe,
        wedge("x") === oe("u") && wedge("y") === oe("v"), "left_semi")
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(wedge.agg(count(lit(1)).as("n_wedges")))
        .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
        .withColumn("closed_frac",
          when(col("n_wedges") === 0, lit(0.0))
            .otherwise(col("n_triangles").cast("double") / col("n_wedges")))
    },

    // Per-vertex local clustering coefficient — g1's global census refined
    // to the vertex level: lcc(v) = 2·tri(v) / (d(v)·(d(v)−1)), the
    // "how clique-like is this part's co-order neighborhood" score that
    // separates parts bought in coherent bundles (lcc → 1) from parts that
    // merely co-occur with everything (hub, lcc → 0). Same oriented
    // triangle enumeration as g1 (out-degree O(√m), wedge join equi-keyed
    // on the center, closure a semi-join) — the only addition is keeping
    // the wedge's center so each found triangle explodes to its THREE
    // corners before a per-vertex hash aggregate; credit assignment is
    // 3 rows per triangle, never a neighborhood expansion. The coefficient
    // is one division of two exact longs — bit-portable.
    "g4_clustering_coeff" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val deg = degrees(e)
      val oe = oriented(e)
      val e1 = oe.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      val e2 = oe.select(col("u"), col("v").as("y"), col("dv").as("dy"))
      val wedge = e1.join(e2, "u")
        .filter(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")))
        .select("u", "x", "y")
      val tri = wedge.join(
        oe.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "left_semi")
      val corners = tri
        .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n_tri"))
      deg.join(corners, Seq("v"), "left")
        .select(col("v"), col("d"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("lcc",
          when(col("d") < 2, lit(0.0))
            .otherwise((col("n_tri") * 2).cast("double")
              / (col("d") * (col("d") - lit(1)))))
    },

    // Connected components of the co-order graph — the "substitutable
    // product families" view: every part labeled with the smallest part id
    // reachable through support-≥2 co-order edges, plus its component
    // size. Reuses the hook+contract pointer-doubling loop Dedup embeds
    // for near-dup clusters (operators/Components.scala) — but in the
    // OPPOSITE graph regime: d11's input is thousands of tiny clusters
    // (diameter ~1-2); the co-order graph at some SFs is one giant
    // component holding ~99% of the vertices (1,860 of 1,880 at sf0.01),
    // so this query exercises the O(log diameter) convergence claim where
    // it actually matters. 100 TB posture: each round is edge-linear
    // equi-joins on a CONTRACTING graph (hook map re-join is on the
    // shrinking vertex set, never the corpus), state is two checkpointed
    // rounds max, and the only driver action is the is-empty convergence
    // probe. Sizes come from a vertex-count aggregate over the final
    // labels (|components| rows) broadcast back onto the label table —
    // the labels themselves are checkpointed by the loop, so the two
    // consumers trigger zero recomputation.
    "g5_components" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val cl = Components.minLabel(e)
        .select(col("v"), col("lbl").as("component_id"))
      val sizes = cl.groupBy("component_id")
        .agg(count(lit(1)).as("comp_size"))
      cl.join(broadcast(sizes), "component_id")
        .select(col("v"), col("component_id"), col("comp_size"))
    },

    // 3-core of the co-order graph by iterative peeling — the standard
    // "dense substructure" preprocessing (drop parts that don't sit in a
    // mutually-dense co-purchase neighborhood before mining it). Peeling
    // is anti-monotone (removing a vertex can doom its neighbors), so it
    // cannot be a recursive CTE; the g2 discipline applies instead: a
    // FIXED unrolled round count (12), spelled operand-for-operand in the
    // oracle, with the fixpoint-by-round-12 claim pinned in GraphSpec at
    // the gate SFs (round 11 == round 12; sf0.01 needs 10) rather than
    // assumed — at sf0.1 the peel provably EMPTIES the graph (no 3-core
    // survives the support-2 edge floor), itself a corpus-density
    // readout the oracle confirms with zero rows. Each round
    // is one degree aggregate + two semi-joins against the survivor set —
    // edge-linear on a CONTRACTING graph, never a neighborhood expansion;
    // rounds checkpoint so the lineage stays flat (Components discipline).
    "g6_kcore" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      kcorePeel(e, k = 3, rounds = 12)
        .groupBy(col("u").as("v")).agg(count(lit(1)).as("residual_deg"))
    },

    // Degree-distribution audit — the graph-health readout (w9's Zipf
    // audit on the graph axis): how many vertices carry each degree, the
    // cumulative coverage, and each degree class's ppm share. The shape a
    // skew review reads before trusting the wedge-join pins: a power-law
    // tail here is the early warning for g1/g7's orientation bound. One
    // vertex-keyed degree aggregate, one |distinct degrees|-row histogram —
    // everything windowed is histogram-sized, never graph-sized.
    "g8_degree_histogram" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = degrees(coOrderEdges(t(s, dir, "lineitem")))
        .groupBy("d").agg(count(lit(1)).as("n_vertices"))
      val cum = Window.partitionBy().orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.select(col("d"), col("n_vertices"),
          sum("n_vertices").over(cum).as("cum_vertices"),
          sum("n_vertices").over(Window.partitionBy()).as("total"))
        .withColumn("share_ppm", expr("(n_vertices * 1000000) div total"))
        .drop("total")
    },

    // Degree assortativity — the second graph-health scalar next to g8's
    // histogram: the Pearson correlation of endpoint degrees over the
    // symmetrized edge list. Positive = parts co-occur with similarly
    // connected parts (mesh-like), negative = hub-and-spoke (the regime
    // where the orientation bound earns its keep). Over the symmetrized
    // list both marginals coincide, so the denominator's sqrt cancels
    // exactly and r is ONE division of two exactly-computed integers —
    // bit-portable where a textbook float Pearson never is. Sums are
    // edge-linear aggregates; the cross-products run in DECIMAL(38,0)
    // (m2·Σxy overflows a long at the 100× smoke's edge volume; decimal
    // products are exact, and DuckDB's HUGEINT mirrors them).
    "g9_assortativity" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val deg = degrees(e)
      val xy = und
        .join(deg.select(col("v").as("u"), col("d").as("dx")), "u")
        .join(deg.select(col("v"), col("d").as("dy")), "v")
      def dec(c: org.apache.spark.sql.Column) =
        c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
      xy.agg(count(lit(1)).as("m2"),
          sum("dx").cast("long").as("sx"),
          sum(col("dx") * col("dy")).cast("long").as("sxy"),
          sum(col("dx") * col("dx")).cast("long").as("sx2"))
        .withColumn("assortativity",
          (dec(col("m2")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sx")))
            .cast("double") /
            (dec(col("m2")) * dec(col("sx2")) - dec(col("sx")) * dec(col("sx")))
              .cast("double"))
    },

    // Neighborhood-Jaccard link prediction — g3's common-neighbor scores
    // normalized by the neighborhood union: jac = cn / (d(a)+d(b)−cn), so a
    // shared neighbor between two low-degree parts outranks the same count
    // between two hubs (the grader a recommender actually ships; raw cn
    // just finds popular parts). Same capped-center wedge pipeline as g3
    // (common neighbors counted through centers with degree ≤ 64 — the
    // hub-safety cap, making cn a LOWER bound and jac conservative on
    // boilerplate-hub paths); the normalization adds two vertex-sized
    // degree equi-joins on top, nothing graph-scale. The division is two
    // exact longs (g4's lcc discipline) and the top-20 is total-ordered
    // (jac desc, a, b) so the result hash-gates.
    "g7_neighborhood_jaccard" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val degc = degrees(e).select(col("v").as("u"), col("d"))
      val ctr = und.join(degc, "u").filter(col("d") <= 64).select("u", "v")
      val cn = ctr.as("x").join(ctr.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .groupBy(col("x.v").as("a"), col("y.v").as("b"))
        .agg(count(lit(1)).as("cn"))
      val deg = degrees(e)
      cn.join(e, Seq("a", "b"), "left_anti")
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .withColumn("jac",
          col("cn").cast("double") / (col("da") + col("db") - col("cn")))
        .select(col("a"), col("b"), col("cn"), col("da"), col("db"), col("jac"))
        .orderBy(col("jac").desc, col("a"), col("b"))
        .limit(20)
    },

    // Strong-tie product families — g5's components restricted to edges
    // with co-order count ≥ 3: the support-2 graph dissolves into one
    // giant component (g5 measures exactly that), so the FAMILY view a
    // merchandiser can act on needs the weak ties cut first — classic
    // strength-thresholded community extraction, and the graph twin of
    // d11's verified-edges-then-components discipline (never cluster on
    // unverified candidates). Same hook+contract loop; the threshold is
    // part of the semantics and mirrored in the oracle. Family sizes ride
    // a broadcast back onto the checkpointed labels (g5's shape).
    "g12_product_families" -> { (s, dir) =>
      val strong = coOrderEdgesW(t(s, dir, "lineitem"))
        .filter(col("c") >= 3).select("a", "b")
      val cl = Components.minLabel(strong)
        .select(col("v"), col("lbl").as("family_id"))
      val sizes = cl.groupBy("family_id")
        .agg(count(lit(1)).as("family_size"))
      cl.join(broadcast(sizes), "family_id")
        .select(col("v"), col("family_id"), col("family_size"))
    },

    // Resource-allocation link prediction — the third grader in the g3/g7
    // family, and the one that needs CENTER-weighted credit: each common
    // neighbor z contributes 1/d(z), so a rare shared neighbor outweighs a
    // promiscuous one (Zhou-Lü-Zhang's RA index, the empirically strongest
    // of the degree-penalized family). The weight is carried on the wedge
    // leg as integer ppm (1000000 div d — one floor both engines spell
    // identically), so the per-pair score is an exact long sum where the
    // textbook Σ 1/d(z) float sum is partition-order-sensitive and never
    // hash-gates. Same capped-center pipeline as g3 (centers d ≤ 64 — the
    // hub-safety cap that bounds per-center pair expansion at C(64,2));
    // the weight join is vertex-sized; top-20 totally ordered.
    "g10_resource_allocation" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val degc = degrees(e).select(col("v").as("u"), col("d"))
      val ctr = und.join(degc, "u").filter(col("d") <= 64)
        .select(col("u"), col("v"), expr("1000000 div d").as("w"))
      val ra = ctr.as("x").join(ctr.as("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .groupBy(col("x.v").as("a"), col("y.v").as("b"))
        .agg(count(lit(1)).as("cn"),
          sum(col("x.w")).cast("long").as("ra_ppm"))
      ra.join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("ra_ppm").desc, col("a"), col("b"))
        .limit(20)
    },

    // One synchronous label-propagation round with ATTRIBUTE seeds — the
    // community-detection primitive g5/g12 (structural components) can't
    // express: every part starts from its brand, then adopts the most
    // frequent label among its co-order neighbors (ties broken by label
    // order, the deterministic spelling of classic LPA's random
    // tie-break). Output is the brand→brand transition matrix — which
    // seed communities the graph structure blends — so the result stays
    // |brands|² whatever the corpus. One vote shuffle (directed edges ⋈
    // part labels on the neighbor key), one (vertex, label) partial+final
    // count, and a per-vertex argmax window bounded by the vertex's
    // distinct neighbor labels; at 100 TB every step is an equi-join on
    // the vertex key — LPA's per-round cost is one pass over the edges,
    // which is why it's the scalable community baseline.
    "g13_label_prop" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val lbl = t(s, dir, "part")
        .select(col("p_partkey").as("v"), col("p_brand").as("lbl"))
      // per-vertex vote argmax as min(struct(-c, lbl)) — the lpaLabels
      // r17 rewrite: partial+final hash agg instead of a window sort,
      // one candidate per (map partition, vertex) crossing the shuffle
      val votes = und.join(lbl, "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      val newLbl = votes
        .groupBy("u")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("top"))
        .select(col("u"), col("top.lbl").as("new_lbl"))
      newLbl.join(lbl.select(col("v").as("u"), col("lbl").as("old_lbl")), "u")
        .groupBy("old_lbl", "new_lbl")
        .agg(count(lit(1)).as("n_parts"))
    },

    // BUTTERFLY census — the BIPARTITE motif the unipartite rows project
    // away: a butterfly is a 4-cycle (order₁, part₁, order₂, part₂), the
    // smallest unit of bipartite clustering (Sanei-Mehri et al., KDD'18),
    // and the co-purchase-strength signal g1's triangles can't see (the
    // order-part graph is bipartite — it HAS no triangles; triangles only
    // appear after the co-order projection discards how many orders back
    // each edge). Identity: a part pair co-ordered by w orders carries
    // C(w,2) butterflies, so the census is one arithmetic map over the
    // weighted co-order edges g11 already materializes — per part,
    // Σ_{pairs ∋ p} C(w,2) (each butterfly counted once per part side,
    // alongside its pair degree). Exact longs throughout. Scale: the pair
    // expansion is coOrderEdgesW's bounded in-row transform (per-order
    // basket, never a global wedge self-join — the vertex-priority trick
    // from the literature is for wedge-skewed graphs; basket-bounded data
    // caps the expansion at C(basket,2) per order); everything after is
    // edge-linear: one per-part rollup over a melt of the edge list. The
    // support-≥2 filter is exactly the butterfly support (w < 2 ⇒
    // C(w,2) = 0 contributes nothing), so no signal is lost.
    "g17_butterflies" -> { (s, dir) =>
      val bf = coOrderEdgesW(t(s, dir, "lineitem"))
        .select(col("a"), col("b"), expr("(c * (c - 1)) div 2").as("bf"))
      bf.select(col("a").as("part"), col("bf"))
        .unionAll(bf.select(col("b").as("part"), col("bf")))
        .groupBy("part")
        .agg(count(lit(1)).as("n_pairs"),
          sum("bf").cast("long").as("n_butterflies"))
    },

    // EDGE SUPPORT — per-edge triangle counts, the k-truss precursor and
    // the per-EDGE robustness readout g4's per-VERTEX coefficient can't
    // give: an edge embedded in many triangles is a structural tie (its
    // endpoints share context), one in none is a bridge or noise — the
    // edge-pruning signal a recommender applies before mining families
    // (g12 thresholds on co-order COUNT; support thresholds on shared
    // NEIGHBORHOOD — orthogonal evidence). Same degree-oriented wedge
    // join as g1 (out-degree O(√m) per vertex, the skew pin's property),
    // wedges KEEP their center here, the closure probe is an equi-join on
    // the (least, greatest) normalized closing pair, and each triangle
    // credits its three edges via a fixed ×3 in-row explode — edge-linear
    // in the triangle count, never a neighborhood² enumeration.
    "g18_edge_support" -> { (s, dir) =>
      supportOf(coOrderEdges(t(s, dir, "lineitem")))
    },

    // K-TRUSS (k=4) — the cohesive-subgraph EXTRACTION the pointwise
    // rows stop short of: iteratively peel edges whose triangle support
    // drops below k−2 = 2 until fixpoint (Cohen '08); what survives is
    // the subgraph where every tie is reinforced by ≥2 shared contexts —
    // the community core family mining actually wants (g12 thresholds
    // RAW co-order counts; truss-ness is structural and survives count
    // inflation). Anti-monotone like g6's k-core, so the same
    // fixed-unroll discipline: 7 rounds (GraphSpec pins fixpoint by
    // round 6 at sf0.001; the denser-replicated sf0.001 graph is the
    // slow case — sf0.01/sf0.1 empty by round 3, the honest
    // corpus-density readout, exactly g6's 3-core precedent), each round
    // checkpointed (the support pipeline consumes its edge list three
    // times). Output is the truss with support RECOMPUTED on the final
    // edge set — the number a consumer reads as "ties inside the core".
    // Scale: the corpus-sized work is the ONE coOrderEdges build; every
    // peel round is g18's edge-linear support pass on a CONTRACTING
    // graph.
    "g19_ktruss" -> { (s, dir) =>
      var e = coOrderEdges(t(s, dir, "lineitem"))
      for (_ <- 1 to 7) {
        e = supportOf(e).filter(col("support") >= 2)
          .select("a", "b").graftCkpt()
      }
      supportOf(e)
    },

    // COMPONENT-SIZE HISTOGRAM — the connectivity-shape readout over g5's
    // labels (g8's histogram discipline on the component axis): how many
    // components exist at each size, each size class's exact vertex-share
    // ppm, and the giant-component share — the one number that says
    // whether this graph is "one blob plus dust" (percolated: component-
    // local algorithms degenerate to whole-graph) or genuinely clustered.
    // Plan: the corpus-scale work is g5's pipeline (edge build + min-label
    // rounds); everything after is a |components|-row agg, a |distinct
    // sizes|-row histogram, and a 1-row total broadcast. Products ride
    // DECIMAL(38,0) (size × count squares past int64 at corpus scale);
    // ppm floors via div match the oracle's // exactly.
    "g22_component_sizes" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val sizes = Components.minLabel(e)
        .groupBy(col("lbl").as("component_id"))
        .agg(count(lit(1)).as("comp_size"))
        .graftCkpt() // feeds the histogram AND the totals
      val tot = sizes.agg(sum("comp_size").as("n_vertices"),
        max("comp_size").as("giant"))
      sizes.groupBy("comp_size").agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot))
        .select(col("comp_size"), col("n_components"),
          expr("CAST((CAST(comp_size AS DECIMAL(38,0)) * n_components" +
            " * 1000000) div n_vertices AS BIGINT)").as("vertex_share_ppm"),
          expr("CAST((CAST(giant AS DECIMAL(38,0)) * 1000000)" +
            " div n_vertices AS BIGINT)").as("giant_share_ppm"))
    },

    // WEIGHTED SINGLE-SOURCE SHORTEST PATHS — the min-plus semiring
    // iteration the graph family lacked (g15's BFS is the unweighted
    // special case): edge cost = 1e6 div co-order support, so strongly
    // tied parts are CLOSE and the distance reads as relationship
    // strength along the best path (the recommendation-radius number).
    // Four Bellman-Ford rounds unrolled (g2's fixed-round discipline —
    // min-plus relaxation is monotone non-increasing, so each round is a
    // contraction toward the fixpoint and the oracle restates the same
    // four rounds operand for operand; integer costs make min exact).
    // Scale: each round is ONE frontier⋈edges equi-join + a min agg —
    // edge-linear like g2's rank step, distances-table-sized state,
    // checkpointed rounds keep the lineage flat. Source = the min-id
    // vertex (deterministic, oracle-restated).
    "g23_weighted_sssp" -> { (s, dir) =>
      val e = coOrderEdgesW(t(s, dir, "lineitem"))
        .select(col("a"), col("b"), expr("CAST(1000000 div c AS BIGINT)").as("cost"))
      val und = e.unionAll(
        e.select(col("b").as("a"), col("a").as("b"), col("cost")))
        .graftCkpt() // read once per round
      val src = und.agg(min("a").as("v")).select(col("v"), lit(0L).as("dist"))
      var dist = src.graftCkpt()
      for (_ <- 1 to 4) {
        dist = dist.unionAll(
            dist.join(und, dist("v") === und("a"))
              .select(und("b").as("v"), (dist("dist") + und("cost")).as("dist")))
          .groupBy("v").agg(min("dist").as("dist"))
          .graftCkpt()
      }
      dist.select(col("v"), col("dist").as("dist_units"))
    },

    // PERSONALIZED PAGERANK — g2's integer machinery with the teleport
    // mass CONCENTRATED on a seed set (the 3 min-id vertices) instead of
    // uniform: rank measures proximity-weighted reachability FROM the
    // seeds — the "related items" recommender primitive (Pixie-style
    // retrieval) and the localized-importance score uniform PageRank
    // cannot express. Mass spreads as a SPARSE frontier: only vertices
    // reached by round r carry rows, so early rounds touch the seed
    // neighborhood, not the graph (the locality that makes PPR cheap at
    // corpus scale — cost tracks the personalized neighborhood, never
    // N). Same scaled-integer arithmetic as g2 (S = 1e12, 15/85 damping,
    // div floors) so three rounds hash-gate; vertices whose rank floors
    // to zero drop out, oracle-mirrored. */
    // HITS (Kleinberg's hubs-and-authorities) on the DIRECTED bipartite
    // purchase graph customer → part — the other classic eigenvector
    // ranking next to PageRank (g2), and the one that distinguishes
    // ENDORSERS from ENDORSED: a hub is a customer whose basket spans
    // authoritative parts, an authority is a part bought by strong hubs.
    // Two UNNORMALIZED power rounds in exact integer arithmetic (h0 = 1;
    // a1 = in-degree; h1 = Σ a1 over the customer's parts; a2 = Σ h1
    // over the part's buyers) — normalization only rescales, the RANKING
    // is identical, and integer sums hash-gate where per-round float
    // division would drift. Plan: the distinct edge build is the one
    // corpus shuffle (orders⋈lineitem on the order key, then (c, p)
    // distinct); each round is one edge-linear equi-join + hash agg on
    // the vertex key — the g2/g23 iterative posture; the top-20 readout
    // is TakeOrdered (no global window, ranks stamped on 20 rows).
    "g25_hits" -> { (s, dir) =>
      val ed = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .graftCkpt() // read by all three rounds
      val a1 = ed.groupBy("p").agg(count(lit(1)).as("a"))
      val h1 = ed.join(a1, "p").groupBy("c").agg(sum("a").as("h"))
      val a2 = ed.join(h1, "c").groupBy("p").agg(sum("h").as("a"))
      a2.orderBy(col("a").desc, col("p")).limit(20)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("a").desc, col("p")))
            .cast(LongType))
        .select(col("p").as("part_id"), col("a").cast(LongType).as("authority"),
          col("rnk"))
    },

    "g24_personalized_pagerank" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val deg = degrees(e).graftCkpt() // 3 iterations re-join it
      val de = symmetric(e, "src", "dst")
        .graftCkpt() // one |E| materialization; 3 rounds re-read it
      val tele = deg.orderBy("v").limit(3)
        .select(col("v"), lit(333333333333L).as("t"))
        .graftCkpt() // seeds: teleport term in every round
      var r = tele.select(col("v"), col("t").as("pr"))
      for (_ <- 1 to 3) {
        val rc = r.join(deg, "v")
          .select(col("v").as("src"), expr("pr div d").as("c"))
        r = de.join(rc, "src")
          .groupBy(col("dst").as("v")).agg(sum(col("c")).as("sc"))
          .join(tele, Seq("v"), "full_outer")
          .select(col("v"), expr("CAST((15 * coalesce(t, 0)) div 100" +
            " + (85 * coalesce(sc, 0)) div 100 AS BIGINT)").as("pr"))
          .filter(col("pr") > 0)
          .graftCkpt()
      }
      r.select(col("v"), col("pr").as("ppr"))
    },

    // MODULARITY — the community-QUALITY readout the graph family lacked
    // (s23's silhouette grades metric clusters; nothing graded graph
    // communities): Newman's Q, per community, for the partition g13's
    // LPA round produces — Q_c = m_c/m − (D_c/2m)², where m is the edge
    // count, m_c the intra-community edges, and D_c the community's
    // degree mass. Σ_c Q_c is THE number that says whether the detected
    // communities beat the configuration-model null (Q near 0 = the
    // partition explains nothing; this is how a 100 TB pipeline decides
    // whether to trust LPA labels before sharding by them). Exact
    // integer arithmetic end to end: both ppb terms floor via div on
    // DECIMAL(38,0) products (D_c² · 1e9 squares past int64 — g22's
    // decimal discipline), so the subtraction of two floored terms
    // hash-gates. Scale: the corpus work is g13's one vote shuffle plus
    // two edge-linear equi-joins on the vertex key (edge → endpoint
    // communities); everything after is |communities|-row with a 1-row
    // broadcast m — LPA costs one pass, its audit costs two.
    "g26_modularity" -> { (s, dir) =>
      val e = coOrderEdges(t(s, dir, "lineitem"))
      val und = symmetric(e, "u", "v")
      val lbl = t(s, dir, "part")
        .select(col("p_partkey").as("v"), col("p_brand").as("lbl"))
      // vote argmax via min(struct(-c, lbl)) — g13's r17 rewrite
      val votes = und.join(lbl, "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
      val comm = votes
        .groupBy("u")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("top"))
        .select(col("u").as("v"), col("top.lbl").as("community"))
        .graftCkpt() // the intra-edge and degree joins both read it
      val m = e.agg(count(lit(1)).as("m"))
      val intra = e
        .join(comm.select(col("v").as("a"), col("community").as("ca")), "a")
        .join(comm.select(col("v").as("b"), col("community").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("intra_edges"))
      val degc = degrees(e).join(comm, "v")
        .groupBy("community")
        .agg(count(lit(1)).as("n_vertices"),
          sum("d").cast(LongType).as("deg_sum"))
      degc.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(m))
        .select(col("community"), col("n_vertices"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          col("deg_sum"),
          expr("CAST((CAST(coalesce(intra_edges, 0) AS DECIMAL(38,0))" +
            " * 1000000000) div m" +
            " - (CAST(deg_sum AS DECIMAL(38,0)) * deg_sum * 1000000000)" +
            " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)").as("q_ppb"))
    }
  )

  /** Per-edge triangle support of an (a, b) a<b edge list (g18's pipeline,
    * factored for g19's peel rounds): degree-oriented wedges with centers
    * kept, closure as a (least, greatest) equi-join, each triangle
    * crediting its three edges via a fixed ×3 in-row explode. */
  private[graft] def supportOf(e: DataFrame): DataFrame = {
    val oe = oriented(e)
    val e1 = oe.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = oe.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedge = e1.join(e2, "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    val tri = wedge.join(e,
        least(col("x"), col("y")) === col("a")
          && greatest(col("x"), col("y")) === col("b"))
      .select(col("u"), col("x"), col("y"))
    tri.select(explode(array(
        struct(least(col("u"), col("x")).as("ea"),
          greatest(col("u"), col("x")).as("eb")),
        struct(least(col("u"), col("y")).as("ea"),
          greatest(col("u"), col("y")).as("eb")),
        struct(least(col("x"), col("y")).as("ea"),
          greatest(col("x"), col("y")).as("eb")))).as("p"))
      .groupBy(col("p.ea").as("a"), col("p.eb").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** g20's three synchronous LPA rounds, factored so g27's move round
    * seeds from the IDENTICAL labeling (one spelling, or the extractor
    * and the optimizer drift). Each vertex starts as its own label and
    * per round adopts the mode of its neighbors' labels under the
    * (count DESC, label ASC) total tie-break; rounds checkpointed flat
    * (the g2/g6 lineage discipline). Returns (v, lbl). */
  private[graft] def lpaLabels(e: DataFrame): DataFrame = {
    val sym = symmetric(e, "src", "dst")
      .graftCkpt()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")).graftCkpt()
    for (_ <- 1 to 3) {
      // per-vertex argmax under (count DESC, label ASC) as min(struct(-c,
      // nl)) — a DECLARATIVE aggregate instead of a row_number window
      // (OPTIMIZATION r17): same total order, same single row per vertex,
      // but partial+final hash aggregation replaces the window's
      // partition sort, and the shuffle ships one candidate per (map
      // partition, vertex) instead of every (vertex, label) vote row.
      labels = sym
        .join(labels.select(col("v").as("dst"), col("lbl").as("nl")),
          Seq("dst"))
        .groupBy(col("src").as("v"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("nl"))).as("top"))
        .select(col("v"), col("top.nl").as("lbl"))
        .graftCkpt()
    }
    labels
  }

  /** Total Newman Q of a (v, lbl) labeling over edge list `e`, in g26's
    * exact arithmetic: per community, (intra·10⁹) div m − (D_c²·10⁹) div
    * (4m²) on DECIMAL(38,0) products floored to BIGINT, then summed —
    * the one-row readout g27 emits for both its partitions. Corpus work
    * is two edge-linear endpoint-label joins; everything after is
    * |communities|-row. Returns (n_communities, q_ppb). */
  private[graft] def modularityTotal(e: DataFrame, labels: DataFrame,
      deg: Option[DataFrame] = None,
      mDf: Option[DataFrame] = None): DataFrame = {
    val m = mDf.getOrElse(e.agg(count(lit(1)).as("m")))
    val intra = e
      .join(labels.select(col("v").as("a"), col("lbl").as("ca")), "a")
      .join(labels.select(col("v").as("b"), col("lbl").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degc = deg.getOrElse(degrees(e)).join(labels, "v")
      .groupBy(col("lbl").as("community"))
      .agg(sum("d").cast(LongType).as("deg_sum"))
    degc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(expr("CAST((CAST(coalesce(intra_edges, 0) AS DECIMAL(38,0))" +
        " * 1000000000) div m" +
        " - (CAST(deg_sum AS DECIMAL(38,0)) * deg_sum * 1000000000)" +
        " div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)").as("q_ppb"))
      .agg(count(lit(1)).as("n_communities"),
        sum("q_ppb").cast(LongType).as("q_ppb"))
  }

  /** One Louvain move round over labeling `labels0`, as TWO parity
    * phases (red/black Gauss-Seidel): even vertices adopt their best
    * move against the frozen labeling, then odd vertices against the
    * UPDATED one. Per phase every vertex ranks its neighboring
    * communities plus its own by the exact-integer gain
    * 2m·k_{v,d} − k_v·(Σtot_d − [d=own]·k_v) (g26's arithmetic without
    * the ppb scaling — a rank needs only monotonicity), preferring to
    * STAY on ties (move only on strict improvement, Louvain's rule).
    * Why phased: the pure synchronous (Jacobi) round moves every vertex
    * on STALE state and the gains stop composing — measured at sf0.01,
    * Jacobi DROPS Q 7.61M → 4.69M ppb where red/black lifts it to
    * 270.5M (the pairwise-swap/pile-on pathology the parallel-Louvain
    * literature splits rounds to avoid); both phases stay deterministic
    * (a parity set moves against a frozen complement — no arrival-order
    * nondeterminism, so the gate hashes). DECIMAL(38,0) keeps 2m·k
    * exact past int64 at corpus scale (g22's discipline). Candidate
    * sets are degree-bounded; no corpus windows. Returns (v, lbl). */
  private[graft] def louvainRound(e: DataFrame, labels0: DataFrame,
      deg: Option[DataFrame] = None,
      mDf: Option[DataFrame] = None): DataFrame = {
    val sym = symmetric(e, "src", "dst")
      .withColumn("w", lit(1L))
      .graftCkpt() // both phases probe it
    louvainPhases(sym, deg.getOrElse(degrees(e).graftCkpt()),
      mDf.getOrElse(e.agg(count(lit(1)).as("m"))), labels0)
  }

  /** The WEIGHTED phase engine behind [[louvainRound]] (g27 passes unit
    * weights; g28's coarse level passes inter-community edge counts —
    * the contraction makes every higher Louvain level a WEIGHTED
    * instance of the same move problem, so there is exactly one gain
    * spelling to keep in sync with the oracle). Inputs: `symW` the
    * symmetrized (src, dst, w) edge list WITHOUT self-loops (a coarse
    * vertex's self-loop — its intra-community weight — travels with it
    * on any move, contributing equally to every candidate destination,
    * so it cancels out of the argmax and is deliberately not
    * materialized); `deg` the (v, d) weighted degrees where d counts
    * twice any implicit self-loop (for a contracted community this is
    * simply the SUM of its members' original degrees = 2·intra + inter);
    * `m` the one-row total edge weight (conserved by contraction).
    * Gain, parity phasing, stay-on-ties, and determinism are exactly
    * louvainRound's — see its scaladoc. Returns (v, lbl) for every
    * vertex in `labels0` (a vertex with no symW row — an isolated
    * community — stays, via the own-community candidate). */
  private[graft] def louvainPhases(symW: DataFrame, deg: DataFrame,
      m: DataFrame, labels0: DataFrame): DataFrame = {
    def phase(labels: DataFrame, par: Int): DataFrame = {
      val tot = deg.join(labels, "v")
        .groupBy(col("lbl").as("cl")).agg(sum("d").cast(LongType).as("tot"))
      val kid = symW
        .join(labels.select(col("v").as("dst"), col("lbl").as("cl")),
          Seq("dst"))
        .groupBy(col("src").as("v"), col("cl"))
        .agg(sum("w").cast(LongType).as("kid"))
      // staying is always a candidate, even with no intra neighbor: the
      // own community rides in with k_{v,own} = 0 and max() collapses
      // the duplicate when an intra neighbor already put it there
      val cand = kid
        .unionByName(labels.select(col("v"), col("lbl").as("cl"),
          lit(0L).as("kid")))
        .groupBy("v", "cl").agg(max("kid").as("kid"))
      // per-vertex argmax under (gain DESC, stay-first, cl ASC) as
      // min(struct(-gain, stay, cl)) — same total order (cl is unique per
      // candidate row, so the trailing own field never decides), but a
      // partial+final hash aggregate instead of a row_number window
      // (OPTIMIZATION r17): no per-vertex sort, and the shuffle ships one
      // best-candidate struct per (map partition, vertex) instead of the
      // whole degree-bounded candidate set. `own` rides the struct so the
      // post-agg projection needs no extra join back to `labels`.
      cand
        .join(deg.select(col("v"), col("d").as("kv")), "v")
        .join(labels.select(col("v"), col("lbl").as("own")), "v")
        .join(tot, "cl")
        .crossJoin(broadcast(m))
        .select(col("v"), col("cl"), col("own"),
          expr("2 * CAST(m AS DECIMAL(38,0)) * kid" +
            " - CAST(kv AS DECIMAL(38,0))" +
            " * (tot - (CASE WHEN cl = own THEN kv ELSE 0 END))").as("gain"))
        .groupBy("v")
        .agg(min(struct((-col("gain")).as("ng"),
          when(col("cl") === col("own"), 0).otherwise(1).as("st"),
          col("cl").as("cl"), col("own").as("own"))).as("top"))
        .select(col("v"),
          when(col("v") % 2 === par, col("top.cl")).otherwise(col("top.own"))
            .as("lbl"))
        .graftCkpt() // phase 2 + both scoring passes read it
    }
    phase(phase(labels0, 0), 1)
  }

  /** `rounds` peeling rounds toward the k-core: directed edge list after
    * repeatedly dropping vertices of degree < k. Package-private so
    * GraphSpec can pin the fixpoint claim (round N == round N+1). */
  private[graft] def kcorePeel(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = symmetric(e, "u", "v")
      .graftCkpt()
    for (_ <- 1 to rounds) {
      val keep = und.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      und = und.join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .graftCkpt()
    }
    und
  }

  /** Shared relational spelling of the co-order graph build (edge list +
    * degree table) — the common WITH-prefix of every g-oracle, so the two
    * engines' graphs can never drift apart per query. */
  private val graphSql: String =
    """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
      |          FROM lp l1 JOIN lp l2
      |            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
      |edges AS (SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
      |deg AS (SELECT v, count(*) AS d
      |        FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges) t
      |        GROUP BY v)""".stripMargin

  /** g20's three LPA rounds as CTEs (requires `sym` and `deg` in scope) —
    * shared by the g20 oracle and g27's seed so the extractor and the
    * optimizer can never drift apart. MATERIALIZED for peelStepSql's
    * reason: g27 references l3 six times (tot/kid/cand/own/score/Q), and
    * inlined, each reference re-runs the whole l1→l2→l3 chain — the
    * multiplicative recomputation that exhausted DuckDB's temp space at
    * sf0.1 in the r16 close (hint only; results identical). */
  private val lpaSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""l$i AS MATERIALIZED (SELECT v, nl AS lbl FROM (
         |         SELECT s.src AS v, l.lbl AS nl, count(*) AS c,
         |           row_number() OVER (PARTITION BY s.src
         |             ORDER BY count(*) DESC, l.lbl) AS rk
         |         FROM sym s JOIN l${i - 1} l ON s.dst = l.v
         |         GROUP BY s.src, l.lbl) t WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT v, v AS lbl FROM deg),
       |$rounds""".stripMargin
  }

  /** One parity phase of the Louvain move round as CTEs (g27's oracle,
    * shared with g28's fine level): recompute tot/k_{v,d}/candidates/
    * gains from `inLbl`, rank, and let only v % 2 = par adopt its
    * argmax. The phase output is MATERIALIZED (lpaSql's reason): p0
    * feeds six references in phase 2 + two in the scoring pass, and
    * inlining re-runs the whole chain below it per reference. */
  private def louvainMoveSql(inLbl: String, out: String, par: Int) =
    s"""tot_$out AS (SELECT $inLbl.lbl AS cl,
       |    CAST(sum(deg.d) AS BIGINT) AS tot
       |  FROM deg JOIN $inLbl ON deg.v = $inLbl.v GROUP BY 1),
       |kid_$out AS (SELECT s.src AS v, l.lbl AS cl, count(*) AS kid
       |  FROM sym s JOIN $inLbl l ON s.dst = l.v GROUP BY 1, 2),
       |cand_$out AS (SELECT v, cl, max(kid) AS kid FROM (
       |    SELECT v, cl, kid FROM kid_$out
       |    UNION ALL SELECT v, lbl AS cl, 0 AS kid FROM $inLbl) u
       |  GROUP BY 1, 2),
       |sc_$out AS (SELECT c.v, c.cl, o.lbl AS own,
       |    2 * CAST(m.m AS HUGEINT) * c.kid
       |      - CAST(deg.d AS HUGEINT)
       |        * (t.tot - (CASE WHEN c.cl = o.lbl THEN deg.d ELSE 0 END))
       |      AS gain
       |  FROM cand_$out c JOIN deg ON c.v = deg.v
       |       JOIN $inLbl o ON c.v = o.v
       |       JOIN tot_$out t ON c.cl = t.cl
       |  CROSS JOIN m),
       |$out AS MATERIALIZED (SELECT v,
       |    CASE WHEN v % 2 = $par THEN cl ELSE own END AS lbl
       |  FROM (SELECT v, cl, own, row_number() OVER (PARTITION BY v
       |          ORDER BY gain DESC,
       |            CASE WHEN cl = own THEN 0 ELSE 1 END, cl) AS rk
       |        FROM sc_$out) t WHERE rk = 1)""".stripMargin

  /** The WEIGHTED parity phase (g28's coarse level — louvainPhases'
    * oracle spelling): identical to [[louvainMoveSql]] with `wsym`
    * (src, dst, w) for sym and sum(s.w) for count(*), and `wdeg` for
    * deg. One generator per grain, both mirroring one Spark engine. */
  private def louvainWMoveSql(inLbl: String, out: String, par: Int) =
    s"""tot_$out AS (SELECT $inLbl.lbl AS cl,
       |    CAST(sum(wdeg.d) AS BIGINT) AS tot
       |  FROM wdeg JOIN $inLbl ON wdeg.v = $inLbl.v GROUP BY 1),
       |kid_$out AS (SELECT s.src AS v, l.lbl AS cl,
       |    CAST(sum(s.w) AS BIGINT) AS kid
       |  FROM wsym s JOIN $inLbl l ON s.dst = l.v GROUP BY 1, 2),
       |cand_$out AS (SELECT v, cl, max(kid) AS kid FROM (
       |    SELECT v, cl, kid FROM kid_$out
       |    UNION ALL SELECT v, lbl AS cl, 0 AS kid FROM $inLbl) u
       |  GROUP BY 1, 2),
       |sc_$out AS (SELECT c.v, c.cl, o.lbl AS own,
       |    2 * CAST(m.m AS HUGEINT) * c.kid
       |      - CAST(wdeg.d AS HUGEINT)
       |        * (t.tot - (CASE WHEN c.cl = o.lbl THEN wdeg.d ELSE 0 END))
       |      AS gain
       |  FROM cand_$out c JOIN wdeg ON c.v = wdeg.v
       |       JOIN $inLbl o ON c.v = o.v
       |       JOIN tot_$out t ON c.cl = t.cl
       |  CROSS JOIN m),
       |$out AS MATERIALIZED (SELECT v,
       |    CASE WHEN v % 2 = $par THEN cl ELSE own END AS lbl
       |  FROM (SELECT v, cl, own, row_number() OVER (PARTITION BY v
       |          ORDER BY gain DESC,
       |            CASE WHEN cl = own THEN 0 ELSE 1 END, cl) AS rk
       |        FROM sc_$out) t WHERE rk = 1)""".stripMargin

  /** g26's total-Q arithmetic applied to labeling CTE `lbl` as CTEs
    * ending in q_<tag> — shared by g27's two readouts and g28's three. */
  private def modularityQSql(lbl: String, tag: String) =
    s"""intra_$tag AS (SELECT la.lbl AS community, count(*) AS intra
       |  FROM edges JOIN $lbl la ON edges.a = la.v
       |              JOIN $lbl lb ON edges.b = lb.v
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |degc_$tag AS (SELECT l.lbl AS community,
       |    CAST(sum(deg.d) AS BIGINT) AS deg_sum
       |  FROM deg JOIN $lbl l ON deg.v = l.v GROUP BY 1),
       |q_$tag AS (SELECT count(*) AS n_communities,
       |    CAST(sum((CAST(coalesce(i.intra, 0) AS HUGEINT) * 1000000000) // m.m
       |      - (CAST(dc.deg_sum AS HUGEINT) * dc.deg_sum * 1000000000)
       |        // (4 * CAST(m.m AS HUGEINT) * m.m)) AS BIGINT) AS q_ppb
       |  FROM degc_$tag dc LEFT JOIN intra_$tag i
       |    ON dc.community = i.community
       |  CROSS JOIN m)""".stripMargin

  /** One integer PageRank step as a SQL CTE pair: s<i> sums floor-divided
    * contributions over directed edges; r<i> applies damping in the same
    * scaled-integer arithmetic as the Spark side (`//` and `div` both
    * truncate, and every operand is positive, so the floors agree). */
  private def prStepSql(i: Int): String =
    s"""s$i AS (SELECT de.dst AS v, CAST(sum(r${i - 1}.pr // deg.d) AS BIGINT) AS sc
       |        FROM de JOIN r${i - 1} ON de.src = r${i - 1}.v
       |                JOIN deg ON de.src = deg.v
       |        GROUP BY de.dst),
       |r$i AS (SELECT s$i.v,
       |          CAST((15 * (1000000000000 // n.n)) // 100 + (85 * sc) // 100 AS BIGINT) AS pr
       |        FROM s$i, n)""".stripMargin

  /** One WEIGHTED integer PageRank step (g11): contributions split
    * proportionally to edge weight, floor-divided by the weighted degree —
    * operand-for-operand the Spark side. */
  private def wprStepSql(i: Int): String =
    s"""s$i AS (SELECT de.dst AS v, CAST(sum((r${i - 1}.pr * de.c) // wdeg.wd) AS BIGINT) AS sc
       |        FROM de JOIN r${i - 1} ON de.src = r${i - 1}.v
       |                JOIN wdeg ON de.src = wdeg.v
       |        GROUP BY de.dst),
       |r$i AS (SELECT s$i.v,
       |          CAST((15 * (1000000000000 // n.n)) // 100 + (85 * sc) // 100 AS BIGINT) AS pr
       |        FROM s$i, n)""".stripMargin

  /** One peeling round as SQL CTEs: k<i> is the surviving vertex set of
    * round i (degree >= 3 in u<i-1>), u<i> the edges both of whose
    * endpoints survive — operand-for-operand the Spark round. */
  private def peelStepSql(i: Int): String =
    // MATERIALIZED: each round references its predecessor three times
    // (the edge list + both survivor-set probes) — inlined, the 12-round
    // unroll expands to 3^12 scans of lineitem and DuckDB runs out of
    // file handles; materialized, each round is computed once
    s"""k$i AS MATERIALIZED (
       |  SELECT u FROM (SELECT u, count(*) AS d FROM u${i - 1} GROUP BY u) t
       |  WHERE d >= 3),
       |u$i AS MATERIALIZED (
       |  SELECT u${i - 1}.u, u${i - 1}.v FROM u${i - 1}
       |  JOIN k$i x ON u${i - 1}.u = x.u
       |  JOIN k$i y ON u${i - 1}.v = y.u)""".stripMargin

  /** One truss-peel round as SQL CTEs, operand-for-operand the Spark
    * round: tri<i> enumerates each triangle of e<i-1> once (a < b < c),
    * m<i> credits its three edges, sup<i> counts, e<i> keeps support ≥ 2.
    * MATERIALIZED for the same 3^rounds-expansion reason as peelStepSql. */
  private def trussStepSql(i: Int): String =
    s"""tri$i AS MATERIALIZED (
       |  SELECT ab.a AS x, ab.b AS y, ac.b AS z
       |  FROM e${i - 1} ab JOIN e${i - 1} ac ON ab.a = ac.a AND ab.b < ac.b
       |  JOIN e${i - 1} bc ON bc.a = ab.b AND bc.b = ac.b),
       |m$i AS (SELECT x AS a, y AS b FROM tri$i
       |        UNION ALL SELECT x, z FROM tri$i
       |        UNION ALL SELECT y, z FROM tri$i),
       |e$i AS MATERIALIZED (
       |  SELECT a, b FROM (SELECT a, b, count(*) AS s FROM m$i GROUP BY 1, 2)
       |  WHERE s >= 2)""".stripMargin

  /** Oracle-side twin of [[symmetric]]: CTE `cte` holding both
    * orientations of `edges` as (x, y). */
  private def symSql(cte: String, x: String, y: String): String =
    s"$cte AS (SELECT a AS $x, b AS $y FROM edges UNION ALL SELECT b AS $x, a AS $y FROM edges)"

  val oracles: Map[String, String] = Map(
    // same graph, same (d DESC, v) seed order, three unrolled frontier
    // rounds with NOT-IN visited guards (all vertex ids non-null, so
    // NOT IN is safe)
    // the same decimal power sums over the same symmetrized endpoint
    // degrees, one final IEEE division
    "g21_assortativity" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |xy AS (SELECT CAST(dx.d AS DECIMAL(38,0)) AS x,
        |         CAST(dy.d AS DECIMAL(38,0)) AS y
        |       FROM sym JOIN deg dx ON sym.src = dx.v
        |                JOIN deg dy ON sym.dst = dy.v),
        |a AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM xy)
        |SELECT CAST(m AS BIGINT) AS n_edges_directed,
        |  CASE WHEN m*sxx - sx*sx <= 0 OR m*syy - sy*sy <= 0 THEN NULL
        |       ELSE CAST(m*sxy - sx*sy AS DOUBLE)
        |         / (sqrt(CAST(m*sxx - sx*sx AS DOUBLE))
        |            * sqrt(CAST(m*syy - sy*sy AS DOUBLE))) END AS r
        |FROM a""".stripMargin,

    // three synchronous mode-adoption rounds, each a join + group +
    // row_number argmax under the SAME (count DESC, label ASC) total
    // tie-break as the Spark window (lpaSql — the block g27's oracle
    // seeds from, one spelling)
    "g20_label_propagation" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |$lpaSql
        |SELECT v, lbl FROM l3""".stripMargin,

    // the same LPA seed (lpaSql), the same exact-integer gain rank
    // 2m·k_{v,d} − k_v·(Σtot_d − [d=own]·k_v) with the same stay-on-ties
    // ordering, the same two parity phases (even movers first, phase 2
    // recomputed from phase 1's output), and g26's Q arithmetic applied
    // to both labelings — HUGEINT mirrors DECIMAL(38,0), `//` mirrors
    // div on positive floors
    "g27_louvain_round" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |$lpaSql,
        |m AS (SELECT count(*) AS m FROM edges),
        |${louvainMoveSql("l3", "p0", 0)},
        |${louvainMoveSql("p0", "p1", 1)},
        |${modularityQSql("l3", "a")},
        |${modularityQSql("p1", "b")}
        |SELECT 'lpa' AS method, n_communities, q_ppb FROM q_a
        |UNION ALL
        |SELECT 'louvain1' AS method, n_communities, q_ppb FROM q_b""".stripMargin,

    // the same LPA seed and fine move phases as g27 (shared generators —
    // one spelling per level), then the contraction restated: weighted
    // inter-community edges, member-degree sums as coarse degrees, the
    // WEIGHTED move phases (louvainWMoveSql — sum(w) where the fine
    // phase counts, wdeg where it reads deg, the same HUGEINT gain and
    // parity argmax), the label composition, and g26's Q arithmetic
    // applied to all three labelings
    "g28_louvain_multilevel" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |$lpaSql,
        |m AS (SELECT count(*) AS m FROM edges),
        |${louvainMoveSql("l3", "p0", 0)},
        |${louvainMoveSql("p0", "p1", 1)},
        |ce AS MATERIALIZED (SELECT least(la.lbl, lb.lbl) AS sa,
        |    greatest(la.lbl, lb.lbl) AS sb, count(*) AS w
        |  FROM edges JOIN p1 la ON edges.a = la.v
        |             JOIN p1 lb ON edges.b = lb.v
        |  WHERE la.lbl <> lb.lbl GROUP BY 1, 2),
        |wsym AS (SELECT sa AS src, sb AS dst, w FROM ce
        |         UNION ALL SELECT sb, sa, w FROM ce),
        |wdeg AS MATERIALIZED (SELECT p1.lbl AS v,
        |    CAST(sum(deg.d) AS BIGINT) AS d
        |  FROM deg JOIN p1 ON deg.v = p1.v GROUP BY 1),
        |c0 AS (SELECT v, v AS lbl FROM wdeg),
        |${louvainWMoveSql("c0", "c1", 0)},
        |${louvainWMoveSql("c1", "c2", 1)},
        |p2 AS MATERIALIZED (SELECT p1.v, c2.lbl
        |  FROM p1 JOIN c2 ON p1.lbl = c2.v),
        |${modularityQSql("l3", "a")},
        |${modularityQSql("p1", "b")},
        |${modularityQSql("p2", "c")}
        |SELECT 'lpa' AS method, n_communities, q_ppb FROM q_a
        |UNION ALL
        |SELECT 'louvain1' AS method, n_communities, q_ppb FROM q_b
        |UNION ALL
        |SELECT 'louvain2' AS method, n_communities, q_ppb FROM q_c""".stripMargin,

    "g15_bfs_layers" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |seeds AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM deg
        |          ORDER BY d DESC, v LIMIT 8),
        |f1 AS (SELECT DISTINCT sym.dst AS v
        |       FROM sym JOIN seeds ON sym.src = seeds.v
        |       WHERE sym.dst NOT IN (SELECT v FROM seeds)),
        |v1 AS (SELECT v, dist FROM seeds
        |       UNION ALL SELECT v, CAST(1 AS BIGINT) FROM f1),
        |f2 AS (SELECT DISTINCT sym.dst AS v
        |       FROM sym JOIN f1 ON sym.src = f1.v
        |       WHERE sym.dst NOT IN (SELECT v FROM v1)),
        |v2 AS (SELECT v, dist FROM v1
        |       UNION ALL SELECT v, CAST(2 AS BIGINT) FROM f2),
        |f3 AS (SELECT DISTINCT sym.dst AS v
        |       FROM sym JOIN f2 ON sym.src = f2.v
        |       WHERE sym.dst NOT IN (SELECT v FROM v2))
        |SELECT v, dist FROM v2
        |UNION ALL SELECT v, CAST(3 AS BIGINT) AS dist FROM f3""".stripMargin,

    // g15's rounds per seed: (seed, v)-keyed frontiers with NOT EXISTS
    // visited guards; the same ×6 integer harmonic readout
    "g16_hub_closeness" ->
      s"""WITH $graphSql,
        |${symSql("sym", "src", "dst")},
        |seeds AS (SELECT v AS seed FROM deg ORDER BY d DESC, v LIMIT 8),
        |v0 AS (SELECT seed, seed AS v FROM seeds),
        |f1 AS (SELECT DISTINCT v0.seed, sym.dst AS v
        |       FROM sym JOIN v0 ON sym.src = v0.v
        |       WHERE NOT EXISTS (SELECT 1 FROM v0 x
        |                         WHERE x.seed = v0.seed AND x.v = sym.dst)),
        |v1 AS (SELECT seed, v FROM v0 UNION ALL SELECT seed, v FROM f1),
        |f2 AS (SELECT DISTINCT f1.seed, sym.dst AS v
        |       FROM sym JOIN f1 ON sym.src = f1.v
        |       WHERE NOT EXISTS (SELECT 1 FROM v1 x
        |                         WHERE x.seed = f1.seed AND x.v = sym.dst)),
        |v2 AS (SELECT seed, v FROM v1 UNION ALL SELECT seed, v FROM f2),
        |f3 AS (SELECT DISTINCT f2.seed, sym.dst AS v
        |       FROM sym JOIN f2 ON sym.src = f2.v
        |       WHERE NOT EXISTS (SELECT 1 FROM v2 x
        |                         WHERE x.seed = f2.seed AND x.v = sym.dst)),
        |reached AS (
        |  SELECT seed, 1 AS dist FROM f1
        |  UNION ALL SELECT seed, 2 FROM f2
        |  UNION ALL SELECT seed, 3 FROM f3)
        |SELECT seed, count(*) AS n_reached,
        |  CAST(sum(CASE dist WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
        |    AS BIGINT) AS harmonic_x6
        |FROM reached GROUP BY seed""".stripMargin,

    // same graph; twelve unrolled peeling rounds (fixpoint by round 12
    // is pinned in GraphSpec, not assumed)
    "g6_kcore" ->
      s"""WITH $graphSql,
        |${symSql("u0", "u", "v")},
        |${(1 to 12).map(peelStepSql).mkString(",\n")}
        |SELECT u AS v, count(*) AS residual_deg FROM u12 GROUP BY u""".stripMargin,

    // identical graph build + orientation, spelled relationally; the
    // closure is a semi-join in both engines so a multi-edge can never
    // double-count (edges are distinct by construction, but the intent is
    // explicit)
    "g1_triangle_count" ->
      s"""WITH $graphSql,
        |oe AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN e.a ELSE e.b END AS u,
        |              CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN e.b ELSE e.a END AS v,
        |              CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN db.d ELSE da.d END AS dv
        |       FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |wedge AS (SELECT e1.v AS x, e2.v AS y
        |          FROM oe e1 JOIN oe e2 ON e1.u = e2.u
        |          WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)),
        |closed AS (SELECT x, y FROM wedge
        |           WHERE EXISTS (SELECT 1 FROM oe WHERE oe.u = wedge.x AND oe.v = wedge.y))
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM edges) AS n_edges,
        |       (SELECT count(*) FROM wedge) AS n_wedges,
        |       (SELECT count(*) FROM closed) AS n_triangles,
        |       CASE WHEN (SELECT count(*) FROM wedge) = 0 THEN 0.0
        |            ELSE CAST((SELECT count(*) FROM closed) AS DOUBLE)
        |                   / (SELECT count(*) FROM wedge) END AS closed_frac""".stripMargin,

    // the weighted graph keeps its co-order counts; same damping, same
    // floors, contributions split by (pr · c) // wdeg
    "g11_weighted_pagerank" ->
      s"""WITH $graphSql,
        |ew AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b
        |       HAVING count(*) >= 2),
        |de AS (SELECT a AS src, b AS dst, c FROM ew
        |       UNION ALL SELECT b AS src, a AS dst, c FROM ew),
        |wdeg AS (SELECT src AS v, CAST(sum(c) AS BIGINT) AS wd
        |         FROM de GROUP BY src),
        |n AS (SELECT count(*) AS n FROM wdeg),
        |r0 AS (SELECT v, CAST(1000000000000 // n.n AS BIGINT) AS pr FROM wdeg, n),
        |${wprStepSql(1)},
        |${wprStepSql(2)},
        |${wprStepSql(3)}
        |SELECT v, pr FROM r3""".stripMargin,

    // same graph; the three unrolled integer steps — arithmetic spelled
    // operand-for-operand like the Spark side so every floor agrees
    "g2_pagerank" ->
      s"""WITH $graphSql,
        |n AS (SELECT count(*) AS n FROM deg),
        |${symSql("de", "src", "dst")},
        |r0 AS (SELECT v, CAST(1000000000000 // n.n AS BIGINT) AS pr FROM deg, n),
        |${prStepSql(1)},
        |${prStepSql(2)},
        |${prStepSql(3)}
        |SELECT v, pr FROM r3""".stripMargin,

    // g2's rounds verbatim; per-round deltas off the same integer ranks
    "g14_rank_convergence" ->
      s"""WITH $graphSql,
        |n AS (SELECT count(*) AS n FROM deg),
        |${symSql("de", "src", "dst")},
        |r0 AS (SELECT v, CAST(1000000000000 // n.n AS BIGINT) AS pr FROM deg, n),
        |${prStepSql(1)},
        |${prStepSql(2)},
        |${prStepSql(3)},
        |${(1 to 3).map(i =>
          s"""d$i AS (SELECT CAST($i AS BIGINT) AS round,
             |  CAST(sum(abs(r$i.pr - r${i - 1}.pr)) AS BIGINT) AS l1_delta,
             |  CAST(max(abs(r$i.pr - r${i - 1}.pr)) AS BIGINT) AS max_delta
             |FROM r$i JOIN r${i - 1} ON r$i.v = r${i - 1}.v)""".stripMargin)
          .mkString(",\n")}
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3""".stripMargin,

    // same graph; the degree cap on the CENTER role is part of the
    // semantics (mirrored), the top-20 tiebreak is total
    "g3_link_prediction" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |ctr AS (SELECT und.u, und.v FROM und JOIN deg ON und.u = deg.v
        |        WHERE deg.d <= 64),
        |cn AS (SELECT x.v AS a, y.v AS b, count(*) AS cn
        |       FROM ctr x JOIN ctr y ON x.u = y.u AND x.v < y.v
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.a, cn.b, cn.cn FROM cn
        |       WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                         WHERE e.a = cn.a AND e.b = cn.b))
        |SELECT a, b, cn FROM ne ORDER BY cn DESC, a, b LIMIT 20""".stripMargin,

    // same graph, same orientation; the wedge CTE keeps its center so the
    // closed set explodes to per-corner credit
    "g4_clustering_coeff" ->
      s"""WITH $graphSql,
        |oe AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN e.a ELSE e.b END AS u,
        |              CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN e.b ELSE e.a END AS v,
        |              CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |                   THEN db.d ELSE da.d END AS dv
        |       FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |wedge AS (SELECT e1.u AS u, e1.v AS x, e2.v AS y
        |          FROM oe e1 JOIN oe e2 ON e1.u = e2.u
        |          WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)),
        |tri AS (SELECT u, x, y FROM wedge
        |        WHERE EXISTS (SELECT 1 FROM oe WHERE oe.u = wedge.x AND oe.v = wedge.y)),
        |corners AS (SELECT v, count(*) AS n_tri FROM (
        |              SELECT unnest([u, x, y]) AS v FROM tri) t GROUP BY v)
        |SELECT deg.v, deg.d,
        |  CAST(coalesce(corners.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN deg.d < 2 THEN 0.0
        |       ELSE CAST(2 * coalesce(corners.n_tri, 0) AS DOUBLE)
        |              / (deg.d * (deg.d - 1)) END AS lcc
        |FROM deg LEFT JOIN corners ON deg.v = corners.v""".stripMargin,

    // the strength threshold cuts before the closure; the reachability
    // spelling is g5's
    "g12_product_families" ->
      s"""WITH RECURSIVE $graphSql,
        |ew AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b
        |       HAVING count(*) >= 3),
        |und AS (SELECT a, b FROM ew UNION ALL SELECT b, a FROM ew),
        |reach(v, r) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.v),
        |cl AS (SELECT v, min(r) AS family_id FROM reach GROUP BY v),
        |sz AS (SELECT family_id, count(*) AS family_size FROM cl GROUP BY family_id)
        |SELECT cl.v, cl.family_id, sz.family_size
        |FROM cl JOIN sz USING (family_id)""".stripMargin,

    // same graph; min-reachable-id labels via recursive reachability (the
    // d11 closure pattern) — tractable because the closure is bounded by
    // Σ comp_size², ~3.5M pairs at the giant-component SF
    "g5_components" ->
      s"""WITH RECURSIVE $graphSql,
        |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |reach(v, r) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.v),
        |cl AS (SELECT v, min(r) AS component_id FROM reach GROUP BY v),
        |sz AS (SELECT component_id, count(*) AS comp_size FROM cl GROUP BY component_id)
        |SELECT cl.v, cl.component_id, sz.comp_size
        |FROM cl JOIN sz USING (component_id)""".stripMargin,

    // same distinct edge build, same integer power rounds, rank stamped
    // after the LIMIT under the identical total order
    "g25_hits" ->
      """WITH ed AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT p, count(*) AS a FROM ed GROUP BY p),
        |h1 AS (SELECT ed.c, sum(a1.a) AS h FROM ed JOIN a1 USING (p) GROUP BY ed.c),
        |a2 AS (SELECT ed.p, CAST(sum(h1.h) AS BIGINT) AS a
        |       FROM ed JOIN h1 USING (c) GROUP BY ed.p)
        |SELECT p AS part_id, a AS authority,
        |  CAST(row_number() OVER (ORDER BY a DESC, p) AS BIGINT) AS rnk
        |FROM a2 ORDER BY a DESC, p LIMIT 20""".stripMargin,

    // the same LPA vote round, intra-edge count, degree mass, and
    // HUGEINT floor-divided ppb terms (Spark's DECIMAL(38,0) twin)
    "g26_modularity" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |votes AS (SELECT und.u, p.p_brand AS lbl, count(*) AS c
        |          FROM und JOIN part p ON und.v = p.p_partkey
        |          GROUP BY und.u, p.p_brand),
        |comm AS (SELECT u AS v, lbl AS community FROM (
        |           SELECT u, lbl,
        |             row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rk
        |           FROM votes) t WHERE rk = 1),
        |m AS (SELECT count(*) AS m FROM edges),
        |intra AS (SELECT ca.community, count(*) AS intra_edges
        |          FROM edges e JOIN comm ca ON e.a = ca.v
        |                       JOIN comm cb ON e.b = cb.v
        |          WHERE ca.community = cb.community
        |          GROUP BY ca.community),
        |degc AS (SELECT comm.community, count(*) AS n_vertices,
        |           CAST(sum(deg.d) AS BIGINT) AS deg_sum
        |         FROM deg JOIN comm ON deg.v = comm.v
        |         GROUP BY comm.community)
        |SELECT degc.community, degc.n_vertices,
        |  CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
        |  degc.deg_sum,
        |  CAST((CAST(coalesce(intra.intra_edges, 0) AS HUGEINT) * 1000000000) // m.m
        |    - (CAST(degc.deg_sum AS HUGEINT) * degc.deg_sum * 1000000000)
        |      // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT) AS q_ppb
        |FROM degc LEFT JOIN intra USING (community) CROSS JOIN m""".stripMargin,

    // the same seed teleport, contribution floors, and 15/85 damping —
    // three rounds unrolled, zero-rank rows dropped both sides
    "g24_personalized_pagerank" -> {
      val rounds = (1 to 3).map { r =>
        val prev = s"r${r - 1}"
        s"""s$r AS (SELECT de.dst AS v, CAST(sum(p.pr // deg.d) AS BIGINT) AS sc
           |       FROM de JOIN $prev p ON de.src = p.v
           |       JOIN deg ON deg.v = p.v
           |       GROUP BY 1),
           |r$r AS (SELECT v, pr FROM (
           |    SELECT coalesce(s$r.v, tele.v) AS v,
           |      CAST((15 * coalesce(t, 0)) // 100
           |        + (85 * coalesce(sc, 0)) // 100 AS BIGINT) AS pr
           |    FROM s$r FULL OUTER JOIN tele ON s$r.v = tele.v) q
           |  WHERE pr > 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphSql,
        |de AS (SELECT a AS src, b AS dst FROM edges
        |       UNION ALL SELECT b, a FROM edges),
        |tele AS (SELECT v, CAST(333333333333 AS BIGINT) AS t
        |         FROM (SELECT v FROM deg ORDER BY v LIMIT 3) s),
        |r0 AS (SELECT v, t AS pr FROM tele),
        |$rounds
        |SELECT v, pr AS ppr FROM r3""".stripMargin
    },

    // the same weighted edges, the same 1e6 // support costs, the same
    // four min-plus rounds unrolled from the same min-id source
    "g23_weighted_sssp" -> {
      val rounds = (1 to 4).map { r =>
        val prev = s"d${r - 1}"
        s"""d$r AS (SELECT v, min(dist) AS dist FROM (
           |    SELECT v, dist FROM $prev
           |    UNION ALL
           |    SELECT de.dst AS v, p.dist + de.cost AS dist
           |    FROM $prev p JOIN de ON de.src = p.v) u
           |  GROUP BY v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphSql,
        |ew AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b
        |       HAVING count(*) >= 2),
        |de AS (SELECT a AS src, b AS dst, CAST(1000000 // c AS BIGINT) AS cost
        |       FROM ew
        |       UNION ALL
        |       SELECT b AS src, a AS dst, CAST(1000000 // c AS BIGINT) AS cost
        |       FROM ew),
        |d0 AS (SELECT min(src) AS v, CAST(0 AS BIGINT) AS dist FROM de),
        |$rounds
        |SELECT v, dist AS dist_units FROM d4""".stripMargin
    },

    // g5's labels, then histogram + totals; HUGEINT products and // floors
    // mirror the Spark side's DECIMAL(38,0) div exactly
    "g22_component_sizes" ->
      s"""WITH RECURSIVE $graphSql,
        |und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |reach(v, r) AS (
        |  SELECT a, a FROM und
        |  UNION
        |  SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.v),
        |cl AS (SELECT v, min(r) AS component_id FROM reach GROUP BY v),
        |sz AS (SELECT component_id, count(*) AS comp_size FROM cl
        |       GROUP BY component_id),
        |tot AS (SELECT CAST(sum(comp_size) AS BIGINT) AS n_vertices,
        |          CAST(max(comp_size) AS BIGINT) AS giant FROM sz),
        |h AS (SELECT comp_size, count(*) AS n_components FROM sz GROUP BY 1)
        |SELECT comp_size, n_components,
        |  CAST((CAST(comp_size AS HUGEINT) * n_components * 1000000)
        |    // n_vertices AS BIGINT) AS vertex_share_ppm,
        |  CAST((CAST(giant AS HUGEINT) * 1000000)
        |    // n_vertices AS BIGINT) AS giant_share_ppm
        |FROM h CROSS JOIN tot""".stripMargin,

    // symmetrized marginals coincide → the sqrt cancels; HUGEINT products
    // mirror the Spark side's DECIMAL(38,0) exactly
    "g9_assortativity" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |xy AS (SELECT dx.d AS dx, dy.d AS dy
        |       FROM und JOIN deg dx ON und.u = dx.v JOIN deg dy ON und.v = dy.v),
        |sums AS (SELECT count(*) AS m2,
        |           CAST(sum(dx) AS BIGINT) AS sx,
        |           CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |           CAST(sum(dx * dx) AS BIGINT) AS sx2
        |         FROM xy)
        |SELECT m2, sx, sxy, sx2,
        |  CAST(CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |    / CAST(CAST(m2 AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |    AS assortativity
        |FROM sums""".stripMargin,

    "g8_degree_histogram" ->
      s"""WITH $graphSql,
        |h AS (SELECT d, count(*) AS n_vertices FROM deg GROUP BY d)
        |SELECT d, n_vertices,
        |  CAST(sum(n_vertices) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vertices,
        |  CAST((n_vertices * 1000000) // (sum(n_vertices) OVER ()) AS BIGINT) AS share_ppm
        |FROM h""".stripMargin,

    // g3's capped-center CTEs with the ppm weight attached on the wedge
    // leg; `//` and `div` both floor positive operands identically
    "g10_resource_allocation" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |ctr AS (SELECT und.u, und.v, 1000000 // deg.d AS w
        |        FROM und JOIN deg ON und.u = deg.v
        |        WHERE deg.d <= 64),
        |ra AS (SELECT x.v AS a, y.v AS b, count(*) AS cn,
        |         CAST(sum(x.w) AS BIGINT) AS ra_ppm
        |       FROM ctr x JOIN ctr y ON x.u = y.u AND x.v < y.v
        |       GROUP BY 1, 2),
        |ne AS (SELECT ra.a, ra.b, ra.cn, ra.ra_ppm FROM ra
        |       WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                         WHERE e.a = ra.a AND e.b = ra.b))
        |SELECT a, b, cn, ra_ppm FROM ne
        |ORDER BY ra_ppm DESC, a, b LIMIT 20""".stripMargin,

    // g3's capped-center common-neighbor CTEs verbatim, plus the two
    // degree joins and the union normalization
    "g7_neighborhood_jaccard" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |ctr AS (SELECT und.u, und.v FROM und JOIN deg ON und.u = deg.v
        |        WHERE deg.d <= 64),
        |cn AS (SELECT x.v AS a, y.v AS b, count(*) AS cn
        |       FROM ctr x JOIN ctr y ON x.u = y.u AND x.v < y.v
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.a, cn.b, cn.cn FROM cn
        |       WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                         WHERE e.a = cn.a AND e.b = cn.b))
        |SELECT ne.a, ne.b, ne.cn, da.d AS da, db.d AS db,
        |  CAST(ne.cn AS DOUBLE) / (da.d + db.d - ne.cn) AS jac
        |FROM ne JOIN deg da ON ne.a = da.v JOIN deg db ON ne.b = db.v
        |ORDER BY jac DESC, ne.a, ne.b LIMIT 20""".stripMargin,

    // same graph, same vote count, same (count DESC, label) argmax
    "g13_label_prop" ->
      s"""WITH $graphSql,
        |${symSql("und", "u", "v")},
        |votes AS (SELECT und.u, p.p_brand AS lbl, count(*) AS c
        |          FROM und JOIN part p ON und.v = p.p_partkey
        |          GROUP BY und.u, p.p_brand),
        |win AS (SELECT u, lbl,
        |          row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rk
        |        FROM votes),
        |nl AS (SELECT u, lbl AS new_lbl FROM win WHERE rk = 1)
        |SELECT p.p_brand AS old_lbl, nl.new_lbl, count(*) AS n_parts
        |FROM nl JOIN part p ON nl.u = p.p_partkey
        |GROUP BY 1, 2""".stripMargin,

    // same weighted pairs (the HAVING keeps the count g17 squares), same
    // integer C(w,2) floor, same per-side melt
    "g17_butterflies" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |          FROM lp l1 JOIN lp l2
        |            ON l1.l_orderkey = l2.l_orderkey
        |           AND l1.l_partkey < l2.l_partkey),
        |we AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b
        |       HAVING count(*) >= 2),
        |bf AS (SELECT a, b, (c * (c - 1)) // 2 AS bf FROM we),
        |m AS (SELECT a AS part, bf FROM bf
        |      UNION ALL SELECT b AS part, bf FROM bf)
        |SELECT part, count(*) AS n_pairs,
        |  CAST(sum(bf) AS BIGINT) AS n_butterflies
        |FROM m GROUP BY part""".stripMargin,

    // triangles enumerated once each (a < b < c), each crediting its
    // three edges
    "g18_edge_support" ->
      s"""WITH $graphSql,
        |tri AS (SELECT ab.a AS x, ab.b AS y, ac.b AS z
        |        FROM edges ab JOIN edges ac
        |          ON ab.a = ac.a AND ab.b < ac.b
        |        JOIN edges bc ON bc.a = ab.b AND bc.b = ac.b),
        |m AS (SELECT x AS a, y AS b FROM tri
        |      UNION ALL SELECT x, z FROM tri
        |      UNION ALL SELECT y, z FROM tri)
        |SELECT a, b, count(*) AS support FROM m GROUP BY 1, 2""".stripMargin,

    // the 7 unrolled peel rounds, then support recomputed on the final
    // edge set — operand-for-operand the Spark loop
    "g19_ktruss" ->
      s"""WITH $graphSql,
        |e0 AS MATERIALIZED (SELECT a, b FROM edges),
        |${(1 to 7).map(trussStepSql).mkString(",\n")},
        |trif AS (SELECT ab.a AS x, ab.b AS y, ac.b AS z
        |         FROM e7 ab JOIN e7 ac ON ab.a = ac.a AND ab.b < ac.b
        |         JOIN e7 bc ON bc.a = ab.b AND bc.b = ac.b),
        |mf AS (SELECT x AS a, y AS b FROM trif
        |       UNION ALL SELECT x, z FROM trif
        |       UNION ALL SELECT y, z FROM trif)
        |SELECT a, b, count(*) AS support FROM mf GROUP BY 1, 2""".stripMargin
  )
}
