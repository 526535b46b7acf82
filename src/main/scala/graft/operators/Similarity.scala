package graft.operators

import graft.GraftCkpt
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * The reference has no vector operations at all (SURVEY.md §2.2); this is the
  * §7 extension row "similarity search over embeddings" from the builder brief:
  * brute-force cosine top-k as the correctness baseline, and a random-
  * hyperplane-LSH bucketed variant as the 100 TB scale path.
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate`, codegen'd) — no UDFs. Floats are widened to double before any
  * arithmetic; both Spark's `aggregate` fold and DuckDB's `list_sum` reduce
  * sequentially left-to-right, so cosine values are bit-identical across
  * engines (verified empirically) and safe to hash-compare.
  *
  * Scale posture:
  *  - s1 broadcasts the (small) query set against a single scan of the corpus
  *    and keeps top-k per query via a window — O(|Q|·N) with one shuffle of
  *    the per-query candidate rows only.
  *  - s2 buckets every vector by the sign pattern of 4 fixed pseudo-random
  *    hyperplanes (derived from md5, so both engines build identical planes)
  *    and joins query buckets to candidate buckets — an equi-join on the
  *    bucket key, never an all-pairs cross join. More planes = smaller
  *    buckets; recall is tuned by multi-probe or plane count.
  *  - s3 blocks pair generation on the `label` column (a coarse IVF-style
  *    partition) — the pair join shuffles on the blocking key.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))

  /** Sequential-fold dot product — bit-identical to DuckDB list_sum.
    * Native codegen'd expression (graft.functions.DotProduct): the composed
    * zip_with+aggregate form is interpreted (HOFs are CodegenFallback) and
    * dominated s1/s2/s3 at pair-join cardinalities. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine in the DuckDB dialect, mirroring the fold order exactly. */
  private def cosSql(a: String, b: String): String = {
    def n(x: String) = s"sqrt(list_sum(list_transform($x, p -> p*p)))"
    s"${dSql(a, b)} / (${n(a)} * ${n(b)})"
  }

  private val numPlanes = 4
  private val dims = 64

  /** s31's graph-ANN knobs: out-degree of the k-NN graph, beam width, and
    * fixed unroll depth. 6 rounds ≥ the bucket hypercube's diameter (4) +
    * slack, so the walk can reach any bucket from the entry point; the
    * (8, 12) degree/beam point came from a measured sweep (recall@5 at
    * sf0.001/0.01/0.1: 0.72/0.56/0.52 vs 0.52/0.44/0.36 for (6, 8) with
    * a global entry — the bucket-local entry is worth ~0.1 alone). */
  private[graft] val graphDegree = 8
  private[graft] val beamWidth = 12
  private[graft] val beamRounds = 6

  /** s31's per-bucket candidate cap for the edge BUILD: with a fixed
    * plane count, bucket population grows linearly with the corpus and
    * the probe join quadratically. Capping the TARGET side of each probe
    * bucket at 256 deterministically-ranked members ((md5(id), id) —
    * d30's band-cap idiom, mirrored in the oracle) bounds build volume
    * at N·(planes+1)·256 pairs, linear in N — measured: the 100×
    * volume-pure replica (200k vectors, cap active) ran 78 s vs 15 s at
    * 10× vs 3.3 s at 1×, i.e. ~5× wall per 10× rows (SCALE_FULL.json
    * s31_ann_graph_beam@100x; PLANS.md round 13). INACTIVE at every gate
    * SF (max bucket 169 at sf0.1), so gate results are unchanged. The
    * cap trades recall for boundedness once buckets overflow it — the
    * recall lever is the PLANE-COUNT knob (graphBeam's `planes`,
    * measured curve in PLANS.md: at N=20k recall@5 goes 0.16→1.0 from
    * planes 4→8 as population falls back under the cap; at N=2k planes=4
    * is already optimal and more planes only shed candidates). Policy:
    * planes ≈ log2(N / targetPop) with targetPop ≲ this cap. */
  private[graft] val beamBucketCap = 256

  /** The plane-count POLICY as code (VERDICT r13 item 1): the smallest
    * plane count ≥ [[numPlanes]] whose expected bucket population
    * N / 2^planes stays within [[beamBucketCap]] — i.e. the documented
    * `planes ≈ log2(N / targetPop)` formula, spelled in EXACT integer
    * arithmetic (`n ≤ cap · 2^p`, never a float log whose rounding could
    * diverge between engines at a power-of-two boundary). Measured basis
    * (SCALE_FULL.json, PLANS.md round 13): at 10× N the fixed default
    * planes=4 reads recall 0.16 because buckets overflow the cap and the
    * edge build thins them, while the first cap-respecting count reads
    * ≥ 0.9 — the knob is a QUALITY cliff, so s36 derives it from the
    * corpus instead of trusting a constant. Unbounded above (a 100 TB
    * corpus keeps growing planes with log2 N); the ORACLE's restatement
    * saturates at [[maxOraclePlanes]], far beyond any gate corpus. */
  private[graft] def autoPlanes(n: Long): Int = {
    var p = numPlanes
    while (n > (beamBucketCap.toLong << p)) p += 1
    p
  }

  /** Upper bound on the plane terms materialized in s36's SQL oracle
    * (12 planes covers N ≤ 256·2^12 ≈ 1M vectors — three orders of
    * magnitude above the largest gate corpus). SQL needs a static term
    * list; the Scala policy has no such bound. */
  private[graft] val maxOraclePlanes = 12

  /** Random-hyperplane ±1 components derived from md5("p_d"). The planes are
    * CONSTANTS: computed once driver-side (same md5 → same values the DuckDB
    * oracle derives in SQL) and shipped as array literals — not recomputed as
    * rows × dims md5 calls inside the projection. */
  private def planeSigns(p: Int): Seq[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (1 to dims).map { d =>
      val hex = digest.digest(s"${p}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      ((("0123456789abcdef".indexOf(hex.charAt(0))) % 2) * 2 - 1).toDouble
    }
  }

  private def planeBitSql(p: Int): String = {
    val sign = s"(((instr('0123456789abcdef', substr(md5('${p}_' || d), 1, 1)) - 1) % 2) * 2 - 1)"
    s"CASE WHEN list_sum(list_transform(generate_series(1, $dims), d -> $sign * v[d])) >= 0 THEN ${1 << p} ELSE 0 END"
  }

  /** Integer bucket code: bit p set iff the vector is on plane p's positive
    * side. Integer codes make multi-probe neighbors plain xor bit flips.
    * `planes` is the scale knob (VERDICT r12 item 7): bucket count is
    * 2^planes, so the right policy at corpus scale is planes ≈ log2(N/B)
    * for a target bucket population B — s31 runs that policy as the
    * DEFAULT (autoPlanes-derived count), s32 gates the knob at a fixed
    * planes = 6 and the recall sweep in PLANS.md measures the curve. */
  private[graft] def bucketed(s: SparkSession, dir: String,
      planes: Int = numPlanes): DataFrame =
    emb(s, dir).withColumn("bucket",
      (0 until planes).map { p =>
        when(dot(col("v"), typedLit(planeSigns(p))) >= 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _))

  private def bucketSqlFor(planes: Int): String =
    (0 until planes).map(planeBitSql).mkString(" + ")

  private val bucketSql: String = bucketSqlFor(numPlanes)

  /** One beam-expansion round: frontier ∪ frontier's out-neighbors. The
    * FRONTIER side broadcasts (≤ |queries|·beamWidth rows by the round
    * invariant); the corpus-sized k-NN edge table (N·graphDegree rows)
    * stays partitioned and streams through the hash join. Hinting the
    * broadcast the other way was round 12's one plan defect — at corpus
    * scale an 8·N-row build side is un-broadcastable (VERDICT r12 item 1).
    * PlanSpec pins the build side by asserting no BroadcastExchange in
    * the round plan ever outputs the edge table's columns. */
  private[graft] def beamExpand(beam: DataFrame, edges: DataFrame): DataFrame = {
    val frontier = beam.select("query_id", "node")
    frontier.unionAll(
      broadcast(frontier).join(edges, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node")))
      .distinct()
  }

  /** s31/s32's shared graph-ANN build + beam search, parameterized by
    * hyperplane count — the scale knob (see [[bucketed]]): bucket
    * population is N/2^planes, so growing planes with log2(N) keeps the
    * df-capped edge build linear AND recall flat (measured curve in
    * PLANS.md round 13); [[beamBucketCap]] is the backstop for a
    * mis-sized plane count. Plan shape and determinism are identical at
    * every plane count — s31/s36 gate the autoPlanes-derived default,
    * s32 gates fixed planes = 6. */
  private[graft] def graphBeam(s: SparkSession, dir: String,
      planes: Int, idxFilter: Column = lit(true)): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).graftCkpt()
    // ball carries every vector (query buckets must resolve even for a
    // query outside the predicate); b is the INDEX side — s39's
    // pre-filter restricts it BEFORE the edge build, so recall within
    // the filtered subset equals unfiltered recall by construction
    // (s34's pre-vs-post-filter argument, applied to the graph walk)
    val ball = bucketed(s, dir, planes)
      .select(col("vec_id"), col("v"), col("bucket"), col("label"))
    val b = ball.filter(idxFilter)
      .select(col("vec_id"), col("v"), col("bucket"))
    val probes = col("bucket") +: (0 until planes).map(p =>
      col("bucket").bitwiseXOR(lit(1 << p)))
    val srcs = b.select(col("vec_id").as("src"), col("v").as("sv"),
      explode(array(probes: _*)).as("probe"))
    // target side capped per bucket (see beamBucketCap) — every node
    // still SOURCES edges; only megabucket targets are thinned
    val bc = b.withColumn("crk", row_number().over(
        Window.partitionBy("bucket")
          .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))))
      .filter(col("crk") <= beamBucketCap)
      .select(col("vec_id"), col("v"), col("bucket"))
    // per-src degree selection by the mergeable TopKAgg (OPTIMIZATION
    // r17, r15-item-1 discipline extended to the edge BUILD): the rank
    // window shuffled and sorted the FULL probe-join candidate volume —
    // N·(planes+1) probes × capped bucket populations — on the src key,
    // where the aggregate reduces each map partition to ≤graphDegree
    // payloads per src before the exchange. Each (src, dst) candidate is
    // unique (dst lives in exactly one bucket; a src's probes are
    // distinct buckets), so (esim DESC, dst ASC) is the same total order
    // the window used and the selected edge set is identical (TopKSpec's
    // window-equivalence pin); the oracle keeps its rank-window spelling.
    val edges = bc.join(srcs,
        col("bucket") === col("probe") && col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        cosine(col("sv"), col("v")).as("esim"))
      .groupBy("src")
      .agg(graft.functions.TopKAgg.topK(graphDegree)(
        col("esim"), col("dst")).as("tk"))
      .select(col("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.id").as("dst"))
      .graftCkpt() // read once per round — never rebuilt
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // EMPTY-BUCKET CONTRACT (ADVICE r15): the entry point is the min-id
    // index vector sharing the query's EXACT bucket. Under an idxFilter
    // whose predicate empties that bucket, the inner join drops the
    // query and it emits ZERO rows — deliberate: an index probe that
    // finds no co-bucketed entry inside the tenant/license subset
    // surfaces "no entry" rather than walking from an arbitrary far
    // node (both engines agree — the oracle's en CTE is the same inner
    // join — so the gate stays exact). Per-query completeness is
    // therefore data-dependent; AnnIvfSpec pins that every gate query
    // survives the s39 predicate at the gate SFs, so a fixture regen
    // that empties a bucket trips a spec, not a silent 20-row gate.
    val entry = ball.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("bucket").as("qbk"))
      .join(b.select(col("vec_id"), col("bucket")), col("bucket") === col("qbk"))
      .groupBy("query_id").agg(min("vec_id").as("node"))
    val wb = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("node"))
    var beam = q.join(broadcast(entry), "query_id")
      .join(e, col("node") === col("vec_id"))
      .select(col("query_id"), col("node"),
        cosine(col("qv"), col("v")).as("sim"))
      .graftCkpt()
    for (_ <- 1 to beamRounds) {
      val cand = beamExpand(beam, edges)
      beam = cand.join(e, cand("node") === e("vec_id"))
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("node"),
          cosine(col("qv"), col("v")).as("sim"))
        .withColumn("brk", row_number().over(wb))
        .filter(col("brk") <= beamWidth)
        .select("query_id", "node", "sim")
        .graftCkpt() // keeps the 6-round lineage flat (s20's idiom)
    }
    val wf = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    beam.filter(col("node") =!= col("query_id"))
      .select(col("query_id"), col("node").as("neighbor_id"), col("sim"))
      .withColumn("rnk", row_number().over(wf).cast(LongType))
      .filter(col("rnk") <= 5)
      .select("query_id", "neighbor_id", "rnk", "sim")
  }

  /** Unit-normalized (vec_id, u) projection, CHECKPOINTED — every caller
    * (s5/s9/s11) fans it into 3+ consumers which would each re-scan
    * parquet otherwise. Shared between the IVF and PQ blocks so the seed
    * choice and normalization can never drift between them (the Scala-side
    * twin of the oracle's shared pqBase CTEs). */
  private def normalized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))
      .graftCkpt()

  /** Deterministic md5-residue evaluator sample — d9's truth-guard idiom
    * on the vector axis (VERDICT r9 item 2), now a CODE knob instead of a
    * comment: keep a row iff the first hex char of md5(id) < `hexCap`, so
    * "8" keeps ~50%, "4" ~25%, and [[fullSample]] ("g", above every hex
    * char) keeps everything. This is the guard the linear-but-wide
    * evaluator passes expose — s23's O(N·K) member×centroid scoring and
    * s1/s4's O(|Q|·N) brute baselines: the GATE runs the full evaluation
    * (at gate scale the full pass is the point, and the oracle compares
    * full passes), while a 100 TB caller passes "8"/"4"/"1" to bound the
    * expansion by the sample. md5-residue determinism makes a sampled
    * evaluation reproducible across retries, partitionings, and engines
    * (the predicate is pure SQL on both sides — d9's truthSqlCte proves
    * the cross-engine md5 parity). AnnIvfSpec pins the knob on a flood
    * fixture: the scored expansion shrinks to exactly the sampled rows. */
  private[graft] val fullSample = "g"
  private[graft] def sampledId(id: Column, hexCap: String): Column =
    substring(md5(id.cast(StringType)), 1, 1) < lit(hexCap)

  /** s1's brute-force cosine top-k, factored with the evaluator knob: the
    * query universe (`queryPred`) optionally thinned by the [[sampledId]]
    * residue sample. Cost is |Q_sampled|·N — the sample bounds the one
    * axis that grows with the query log. Ranking is the MERGEABLE
    * TopKAgg (r16, completing VERDICT r15 item 1 across the family):
    * the rank-window form shuffled and sorted all |Q|·N scored rows on
    * the query key — a corpus-sized partition per query — where the
    * aggregate reduces each map partition to ≤k payloads per query
    * before the exchange. Selection is identical (the (sim DESC, id)
    * total order — TopKSpec's window-equivalence pin), so every
    * consumer's oracle keeps its rank-window spelling. */
  private[graft] def bruteTopK(e: DataFrame, queryPred: Column, k: Int,
      queryCap: String = fullSample): DataFrame = {
    val q = e.filter(queryPred)
      .filter(sampledId(col("vec_id"), queryCap))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k)(
        col("sim"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.score").as("sim"))
  }

  /** s4's recall evaluation with the query-side knob: the exact baseline
    * (the O(|Q|·N) term) scores only the sampled queries; the approximate
    * side joins unrestricted (hits exist only for sampled queries after
    * the left join). The gate runs the full 5-query set. */
  private[graft] def annRecall(s: SparkSession, dir: String,
      queryCap: String = fullSample): DataFrame = {
    val exact5 = bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10, queryCap)
      .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
    val approx5 = defs("s2_ann_lsh")(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact5.join(approx5, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
  }

  /** s6's clustered vectors (cluster_id, vec_id, v), checkpointed —
    * shared base of the cluster-quality family (s23/s26). */
  private def s6Members(s: SparkSession, dir: String): DataFrame =
    defs("s6_embed_clusters")(s, dir)
      .join(emb(s, dir).select(col("vec_id"), col("v")), "vec_id")
      .graftCkpt()

  /** Simplified (centroid) silhouette per cluster — the clustering-quality
    * grader the s6/s15 family lacks: for each clustered vector,
    * a = cosine distance to its OWN centroid, b = the nearest OTHER
    * centroid, sil = (b − a) / max(a, b) ∈ [−1, 1] (negative ⇒ the vector
    * sits closer to a foreign centroid — a mis-clustering readout). The
    * centroid form is the O(N·K) silhouette — the classic all-pairs
    * definition is O(N²) and dead at corpus scale — and K dashboard-sized
    * centroids BROADCAST into one pass over the members.
    *
    * `memberCap` is the evaluator sampling knob (VERDICT r9 item 2,
    * [[sampledId]]): the member×centroid expansion scores only the
    * residue-sampled members, while the CENTROIDS still come from the
    * full member table (sample the scored side, never the model side).
    * The gate passes [[fullSample]] (full evaluation — the point at gate
    * scale); a 100 TB caller caps the one axis that is corpus-sized.
    * Under sampling, n_members counts the SCORED members.
    *
    * Norms are HOISTED out of the expansion: per-pair work must be ONE
    * dot product — the in-join spelling recomputes both self-dots per
    * pair, a measured 3× on the 100× volume-pure replica. Same operand
    * order (dot / (na·nb)), so every double is bit-identical; centroids
    * are davg-exact per dimension (s15's decimal discipline) and a/b come
    * from order-independent conditional MINs, so the rollup hash-gates. */
  private[graft] def silhouette(member: DataFrame,
      memberCap: String = fullSample): DataFrame = {
    val cent = centroidsOf(member)
    val sil = member
      .filter(sampledId(col("vec_id"), memberCap))
      .withColumn("vnrm", sqrt(dot(col("v"), col("v"))))
      .crossJoin(broadcast(cent.select(col("cluster_id").as("cid"), col("cv"),
        sqrt(dot(col("cv"), col("cv"))).as("cnrm"))))
      .select(col("vec_id"), col("cluster_id"), col("cid"),
        (lit(1.0) - dot(col("v"), col("cv")) / (col("vnrm") * col("cnrm")))
          .as("dist"))
      .groupBy("vec_id", "cluster_id")
      .agg(min(when(col("cid") === col("cluster_id"), col("dist"))).as("a"),
        min(when(col("cid") =!= col("cluster_id"), col("dist"))).as("b"))
      .withColumn("sil",
        // b is NULL only when the whole corpus is ONE cluster (no other
        // centroid exists) — silhouette is undefined there; pin 0 in both
        // engines (greatest-with-NULL also differs between them)
        when(col("b").isNull || greatest(col("a"), col("b")) <= lit(0.0),
          lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
    sil.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        graft.Exprs.davg(col("sil"), 6).as("mean_sil"),
        min("sil").as("min_sil"))
  }

  /** davg-exact per-cluster centroids assembled in dim order (cluster_id,
    * cv) — the s15 discipline, factored for s23/s26. */
  private def centroidsOf(member: DataFrame): DataFrame =
    member
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster_id", "pos")
      .agg(graft.Exprs.davg(col("x"), 6).as("c"))
      .groupBy("cluster_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), p -> p.c)")
        .as("cv"))

  /** Coarse-quantizer codebook: 8 deterministic seed centroids (cid, cu). */
  private def coarseCentroids(n: DataFrame): DataFrame =
    n.filter(col("vec_id").between(100, 107))
      .select((col("vec_id") - 100).as("cid"), col("u").as("cu"))

  /** Every vector assigned to its argmax-cosine centroid: (vec_id, u, cid). */
  private def coarseAssign(n: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))
    n.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("u"), col("cid"), dot(col("u"), col("cu")).as("csim"))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("u"), col("cid"))
  }

  /** Each query's nprobe nearest lists: (query_id, qu, cid). */
  private def coarseProbes(n: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid"))
    n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("qu"), col("cid"), dot(col("qu"), col("cu")).as("csim"))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= nprobe)
      .select(col("query_id"), col("qu"), col("cid"))
  }

  private val pqSub = 4
  private val pqSubDim = 16

  /** Per-row subspace split of the normalized vector column `u`. */
  private def pqSubCols: Seq[Column] = (0 until pqSub).map(m =>
    struct(lit(m).as("m"), slice(col("u"), m * pqSubDim + 1, pqSubDim).as("su")))

  /** Per-subspace codebook from the same seed vectors: (cid, m, cu). */
  private def pqCentroids(n: DataFrame): DataFrame =
    n.filter(col("vec_id").between(100, 107))
      .select((col("vec_id") - 100).as("cid"), explode(array(pqSubCols: _*)).as("e"))
      .select(col("cid"), col("e.m").as("m"), col("e.su").as("cu"))

  /** Three-dot L2 identity — bit-portable argmin ordering. */
  private def pqL2: Column =
    dot(col("su"), col("su")) - lit(2.0) * dot(col("su"), col("cu")) +
      dot(col("cu"), col("cu"))

  /** L2-argmin PQ codes per (vector, subspace): (vec_id, m, cid). */
  private def pqCodes(n: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "m").orderBy(col("l2"), col("cid"))
    n.select(col("vec_id"), explode(array(pqSubCols: _*)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.su").as("su"))
      .join(broadcast(cent), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"), pqL2.as("l2"))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") === 1)
      .select("vec_id", "m", "cid")
  }

  /** Query LUT: each query-subvector × centroid dot: (query_id, m, cid, pdot). */
  private def pqLut(n: DataFrame, cent: DataFrame): DataFrame =
    n.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), explode(array(pqSubCols: _*)).as("e"))
      .select(col("query_id"), col("e.m").as("m"), col("e.su").as("qsu"))
      .join(broadcast(cent), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        dot(col("qsu"), col("cu")).as("pdot"))

  /** IVF candidate pairs (query_id, vec_id): every vector in a probed
    * coarse list, self-pairs excluded — the Scala twin of the oracle's
    * shared casg/cprobes/cand CTEs, factored so s11 and s14 can never
    * drift apart (AnnIvfSpec's dominance pin assumes s14 re-ranks the
    * head of s11's EXACT candidate set). */
  private def ivfCandidates(n: DataFrame, nprobe: Int = 2): DataFrame = {
    val ccent = coarseCentroids(n)
    val casg = coarseAssign(n, ccent)
      .select(col("vec_id"), col("cid").as("ivf"))
    val cprobes = coarseProbes(n, ccent, nprobe)
      .select(col("query_id"), col("cid").as("ivf"))
    casg.join(broadcast(cprobes), Seq("ivf"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
  }

  /** ADC top-k from (query_id, vec_id, m, pdot) rows: pivot to the four
    * fixed-order subspace partials (never a float groupBy-sum), Σ_m, rank. */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame = {
    val ps = (0 until pqSub).map(m =>
      max(when(col("m") === m, col("pdot"))).as(s"p$m"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    scored
      .groupBy("query_id", "vec_id")
      .agg(ps.head, ps.tail: _*)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("p0") + col("p1") + col("p2") + col("p3")).as("approx_sim"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk", "approx_sim")
  }

  private def adcTop5(scored: DataFrame): DataFrame = adcTopK(scored, 5)

  val defs: Map[String, Q] = Map(
    // One spherical k-means (Lloyd) step from the deterministic seed
    // codebook — the TRAINING side of the IVF family: s5/s11 consume a
    // coarse quantizer, this is the iteration that builds one. Assignment
    // is s5's exact argmax-cosine against the 8 broadcast seeds (bit-exact
    // sequential-fold dots, total (csim, cid) tiebreak); the update is
    // s15's per-(cluster, dim) decimal-mean shape over the normalized
    // coordinates. Everything downstream of the broadcast is one
    // posexplode projection + one partial+final hash aggregate — the
    // standard distributed k-means step (no driver round-trip; a full
    // trainer unrolls this g2-style or foldLeft-checkpoints per round).
    "s17_kmeans_step" -> { (s, dir) =>
      val n = normalized(s, dir)
      val asg = coarseAssign(n, coarseCentroids(n))
      asg.select(col("cid"), posexplode(col("u")).as(Seq("pos", "x")))
        .select(col("cid").as("cluster_id"),
          (col("pos") + 1).cast(LongType).as("dim"), col("x"))
        .groupBy("cluster_id", "dim")
        .agg(count(lit(1)).as("n"), graft.Exprs.davg(col("x"), 6).as("centroid"))
    },

    // Full spherical k-means training: THREE unrolled assignment→update
    // iterations (the g2/g6 fixed-unroll discipline — data-dependent
    // convergence loops don't hash-gate; a fixed round count, spelled
    // operand-for-operand in the oracle, does). Each round is s17's exact
    // step plus the spherical re-normalization: per-(cluster, dim) DECIMAL
    // means (order-free, hash-gateable) rebuilt into an array, divided by
    // the array's own norm (sqrt and the sequential-fold dot are both
    // IEEE-deterministic cross-engine). Per round the corpus pays one
    // broadcast-centroid argmax scan and one (cluster, dim) hash agg —
    // nothing is ever vector×vector; the 8-row codebook checkpoints each
    // round so the unrolled lineage stays flat. Output: the trained
    // codebook (cluster, dim, centroid) with round-3 membership counts —
    // exactly the artifact s5/s11's IVF would load as its quantizer.
    "s18_kmeans_train" -> { (s, dir) =>
      val n = normalized(s, dir)
      var cent = coarseCentroids(n).graftCkpt()
      var asg: DataFrame = null
      for (_ <- 1 to 3) {
        asg = coarseAssign(n, cent)
        val mean = asg.select(col("cid"), posexplode(col("u")).as(Seq("pos", "x")))
          .groupBy(col("cid"), (col("pos") + 1).as("dim"))
          .agg(graft.Exprs.davg(col("x"), 6).as("c"))
        cent = mean.groupBy("cid")
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
            x => x.getField("c")).as("cl"))
          .withColumn("nrm", sqrt(dot(col("cl"), col("cl"))))
          .select(col("cid"), transform(col("cl"), x => x / col("nrm")).as("cu"))
          .graftCkpt()
      }
      val sizes = asg.groupBy("cid").agg(count(lit(1)).as("n_members"))
      cent.join(sizes, "cid")
        .select(col("cid"), col("n_members"), posexplode(col("cu")).as(Seq("pos", "c")))
        .select(col("cid").as("cluster_id"), col("n_members"),
          (col("pos") + 1).cast(LongType).as("dim"), col("c").as("centroid"))
    },

    // Farthest-first (Gonzalez k-center) seeding — the PRINCIPLED seed
    // selection s17/s18 punt on (their codebook is "vectors 100..107", fine
    // for pinning the training math, useless as a quantizer policy):
    // greedily pick the vector LEAST similar to everything chosen so far,
    // giving the 2-approximation to the k-center objective and the spread
    // k-means++ wants — also exactly MMR diversity selection at λ=1, the
    // "pick maximally diverse exemplars" curation op. Deterministic by
    // construction where sampling-based ++ seeding is not: start from the
    // min vec_id, then each round argmin over the corpus of max-cosine to
    // the chosen set ((ms ASC, vec_id) total order), so the seed set
    // hash-gates cross-engine (per-pair dots are sequential folds; max and
    // argmin are order-free). Plan per round: the checkpointed normalized
    // corpus × a ≤ k-row BROADCAST of chosen vectors → per-vector max →
    // TakeOrdered(1) — k−1 corpus-linear scans with nothing ever
    // vector×vector; at 100 TB each round is one broadcast-probe scan, the
    // same shape as s5's assignment (and the chosen row rides back via a
    // 1-row broadcast join, never a collect).
    "s20_kcenter_seed" -> { (s, dir) =>
      val nv = normalized(s, dir)
      val k = 4
      var chosen = nv.orderBy("vec_id").limit(1)
        .select(lit(1L).as("seed_rank"), col("vec_id"),
          lit(null).cast(DoubleType).as("max_sim"), col("u"))
        .graftCkpt()
      for (r <- 2 to k) {
        val ms = nv.crossJoin(broadcast(chosen.select(col("u").as("cu"))))
          .select(col("vec_id"), dot(col("u"), col("cu")).as("d"))
          .groupBy("vec_id").agg(max(col("d")).as("ms"))
        val next = ms.orderBy(col("ms").asc, col("vec_id")).limit(1)
        val nx = nv.join(broadcast(next), "vec_id")
          .select(lit(r.toLong).as("seed_rank"), col("vec_id"),
            col("ms").as("max_sim"), col("u"))
        chosen = chosen.unionAll(nx).graftCkpt()
      }
      chosen.select("seed_rank", "vec_id", "max_sim")
    },

    // Brute-force cosine top-10 for query vectors (vec_id < 5): the exact
    // baseline every ANN variant is measured against. The |Q|·N expansion
    // carries the sampledId query knob (bruteTopK) — the gate scores the
    // full 5-query set; a corpus-scale recall audit passes a residue cap.
    "s1_knn_brute" -> { (s, dir) =>
      bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
    },

    // s29's reduction COMPOSED WITH THE INDEX — the scale path the
    // augmentation exists for: the augmented-normalized corpus
    // u = v/√M ⊕ √(1−|v|²/M²) is unit-norm BY CONSTRUCTION, so s5's
    // coarse IVF machinery serves MIPS completely unchanged (same
    // centroid seeds, same argmax-cosine assign, same nprobe=2 probe) —
    // only the QUERY side differs (q/|q| ⊕ 0: a query has no norm
    // completion). Candidates come from probed lists instead of the
    // corpus, exact augmented-cosine re-ranks them, and the emitted ip
    // is the raw 64-dim dot of the ORIGINAL vectors. Inherits IVF's
    // recall caveat exactly as s5 does (s7 measures it for cosine;
    // AnnIvfSpec pins s30 ⊆ s29's exact candidate semantics here).
    // At corpus scale this is the operative MIPS plan: one broadcast
    // codebook pass + per-list probes, never the brute cross.
    "s30_mips_ivf" -> { (s, dir) =>
      val e = emb(s, dir)
      val withN = e.select(col("vec_id"), col("v"),
        dot(col("v"), col("v")).as("ns"))
      val mm = withN.agg(max("ns").as("mm"))
      val n = withN.crossJoin(broadcast(mm))
        .select(col("vec_id"), col("v"),
          concat(expr("transform(v, x -> x / sqrt(mm))"),
            array(sqrt(greatest(lit(0.0), lit(1.0) - col("ns") / col("mm")))))
            .as("u"))
        .graftCkpt() // centroids + assign + verify all read it
      val cent = n.filter(col("vec_id").between(100, 107))
        .select((col("vec_id") - 100).as("cid"), col("u").as("cu"))
      val asg = coarseAssign(n.select(col("vec_id"), col("u")), cent)
      val qs = withN.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          concat(expr("transform(v, x -> x / sqrt(ns))"), array(lit(0.0)))
            .as("qu"))
      val pw = Window.partitionBy("query_id")
        .orderBy(col("csim").desc, col("cid"))
      val probes = qs.crossJoin(broadcast(cent))
        .select(col("query_id"), col("qu"), col("qv"), col("cid"),
          dot(col("qu"), col("cu")).as("csim"))
        .withColumn("crk", row_number().over(pw))
        .filter(col("crk") <= 2)
        .select("query_id", "qu", "qv", "cid")
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      asg.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(n.select(col("vec_id"), col("v")), Seq("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qu"), col("u")).as("sim"),
          dot(col("qv"), col("v")).as("ip"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "ip")
    },

    // MAXIMUM-INNER-PRODUCT search via the augmented-vector reduction
    // (Bachrach RecSys'14 / Shrivastava-Li NIPS'14): recommendation
    // scores are raw DOTS (norm matters — a long vector IS a stronger
    // item), which cosine indexes can't serve directly. The reduction:
    // append sqrt(M² − |x|²) to every corpus vector (M = max corpus
    // norm) and 0 to the query — every augmented corpus vector has norm
    // exactly M, so cos(q̂, x̂) = dot(q, x) / (|q|·M) is a per-query
    // monotone transform of the inner product, and ANY cosine-ANN
    // machinery (s2's LSH, s5's IVF — unchanged) now answers MIPS. This
    // query runs the reduction end-to-end exactly: the ranking column IS
    // the augmented cosine (the appended component never enters it —
    // the query side is zero — so the fold is bit-identical to the raw
    // 64-dim dot both engines compute), the emitted ip is the raw inner
    // product the recommender wants. Corpus-scale posture: M is ONE agg;
    // at scale the probe side swaps the brute pass for the s2/s5 index
    // over the augmented corpus — the whole point of the reduction.
    // AnnIvfSpec pins argmax-by-augmented-cosine == argmax-by-raw-dot.
    "s29_mips_topk" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // mergeable top-5 ranked on the RAW dot (r16): within one query the
      // augmented cosine ip/(√qn·√mm) is a positive-constant multiple of
      // ip, so the two rankings are identical — the reduction's own
      // theorem, pinned in AnnIvfSpec and still exercised cross-engine by
      // the ORACLE's augmented spelling (same selection, same emitted ip)
      // and by s30, where the augmentation shapes the index itself. mm is
      // what the augmentation would divide by; it cancels out of the rank
      // and out of the emitted payload, so only the agg remains.
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qv"), col("v")).as("ip"))
        .groupBy("query_id")
        .agg(graft.functions.TopKAgg.topK(5)(
          col("ip"), col("neighbor_id")).as("tk"))
        .select(col("query_id"), posexplode(col("tk")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).cast(LongType).as("rnk"),
          col("col.score").as("ip"))
    },

    // Dimension-TRUNCATION recall sweep — the Matryoshka question every
    // embedding store faces: how much neighbor quality survives keeping
    // only the first 16 / 32 of 64 dims (4×/2× less storage AND scan)?
    // ONE corpus×queries pass scores all three widths (the truncated
    // dots are prefixes of the same row — no second scan), three rank
    // windows cut exact top-5s per width, and recall@5 vs the full-width
    // baseline comes from the s4/s7/s10 evaluation join. The width-64
    // rows are the 1.0 sanity diagonal. At 100 TB this sweep is how the
    // 4× cheaper index EARNS the right to replace the full one.
    "s25_dim_truncation_recall" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v")).as("sim_64"),
          cosine(slice(col("qv"), 1, 32), slice(col("v"), 1, 32)).as("sim_32"),
          cosine(slice(col("qv"), 1, 16), slice(col("v"), 1, 16)).as("sim_16"))
        .graftCkpt() // one pass feeds three rank windows + baseline
      def top5(wd: Int): DataFrame = {
        val w = Window.partitionBy("query_id")
          .orderBy(col(s"sim_$wd").desc, col("neighbor_id"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      }
      val exact = top5(64).withColumn("hit", lit(1))
      Seq(16, 32, 64).map { wd =>
        top5(wd)
          .join(exact, Seq("query_id", "neighbor_id"), "left")
          .groupBy(lit(wd.toLong).as("width"), col("query_id"))
          .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
      }.reduce(_.unionAll(_))
    },

    // Multi-probe LSH ANN: each query probes its own bucket PLUS the four
    // hamming-1 neighbor codes (xor bit flips) — the standard recall fix for
    // bucketed ANN (a near neighbor straddling one hyperplane lands one bit
    // away). Still an equi-join on the bucket code; exact cosine only within
    // probed buckets; top-5 per query. The 100 TB path.
    "s2_ann_lsh" -> { (s, dir) =>
      val b = bucketed(s, dir)
      val probes = col("qb") +: (0 until numPlanes).map(p =>
        col("qb").bitwiseXOR(lit(1 << p)))
      val q = b.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("bucket").as("qb"))
        .select(col("query_id"), col("qv"),
          explode(array(probes: _*)).as("probe"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      b.join(broadcast(q), col("bucket") === col("probe")
          && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "sim")
    },

    // ANN quality measurement: recall@5 of the multi-probe LSH (s2) against
    // the exact baseline (s1) per query — the evaluation loop any ANN
    // deployment runs to tune plane count / probe count.
    "s4_ann_recall" -> { (s, dir) => annRecall(s, dir) },

    // IVF-style ANN — the other classic scale path next to hyperplane LSH
    // (s2): a tiny coarse-quantizer codebook (8 deterministic seed centroids,
    // broadcast), every vector assigned to its nearest centroid (the
    // "inverted file" — an equi-partition by cid), queries probe their
    // nprobe=2 nearest lists, exact cosine only within probed lists. At
    // 100 TB the codebook comes from k-means on a sample; the seed-centroid
    // stand-in keeps the query engine-checkable (same argmax/probe/join
    // plan) while the "training" step stays swappable.
    "s5_ann_ivf" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cent = coarseCentroids(n)
      val wTop = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
      coarseAssign(n, cent)
        .join(broadcast(coarseProbes(n, cent, nprobe = 2)), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qu"), col("u")).as("sim"))
        .withColumn("rnk", row_number().over(wTop).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "sim")
    },

    // Range search — the OTHER retrieval mode next to top-k (s5): all
    // corpus vectors within a similarity radius (sim ≥ 0.3) of each query,
    // rolled up per query (match count + best sim; a query with an empty
    // ball still reports, via the left join against the query set). Radius
    // queries are what dedup-ish retrieval actually wants — "everything
    // this similar", not "the 5 nearest whatever their distance" — and
    // k-bounded windows can't express them. Same IVF pruning as s5
    // (broadcast codebook, nprobe=2 probed lists, exact dots only within
    // probed lists), so the scan shrinks identically; the rollup is a
    // per-query partial+final agg (count + max, both order-free) instead
    // of a rank window — nothing result-sized is ever sorted. Recall
    // caveat inherited from IVF: a ball member in an unprobed list is
    // missed (s7 measures that loss for the same probes).
    "s21_range_search" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cent = coarseCentroids(n)
      val cand = coarseAssign(n, cent)
        .join(broadcast(coarseProbes(n, cent, nprobe = 2)), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qu"), col("u")).as("sim"))
        .filter(col("sim") >= 0.3)
      val qs = n.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"))
      qs.join(cand.groupBy("query_id")
          .agg(count(lit(1)).as("n_matches"), max("sim").as("max_sim")),
        Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"), col("max_sim"))
    },

    // Per-list quantization error — the IVF training diagnostic read
    // BEFORE trusting a codebook (s18 trains one; this grades it): each
    // vector's cosine distance to its assigned centroid, rolled up per
    // list (member count, decimal-exact mean error, max error). A list
    // with high mean error needs splitting (more centroids); one with a
    // high max holds outliers that will miss under any nprobe — the two
    // numbers that size k and nprobe before a corpus commits. Plan:
    // coarseAssign's broadcast-argmax scan + one |clusters|-sized
    // partial+final agg — corpus-linear, nothing pairwise. The mean is a
    // DECIMAL(18,6) sum over exact-deterministic per-row doubles (t8's
    // discipline), so it hash-gates.
    "s22_quantization_error" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cent = coarseCentroids(n)
      coarseAssign(n, cent)
        .join(broadcast(cent), "cid")
        .select(col("cid"), (lit(1.0) - dot(col("u"), col("cu"))).as("err"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          graft.Exprs.davg(col("err"), 6).as("mean_err"),
          max("err").as("max_err"))
    },

    // Simplified (centroid) silhouette per cluster — see [[silhouette]]
    // for the full O(N·K) design notes and the memberCap sampling knob
    // (the gate runs the full evaluation; production caps the member
    // side).
    "s23_silhouette" -> { (s, dir) => silhouette(s6Members(s, dir)) },

    // Cluster MERGE candidates — the lifecycle step after clustering:
    // centroid pairs whose cosine clears the merge bar are the clusters
    // a curator merges (near-dup clustering fragments one semantic group
    // across LSH bands; the centroid pass stitches them). The bar is
    // corpus-relative: trained embeddings use ~0.9; the synthetic
    // corpus's random directions top out at ~0.38, so 0.25 selects the
    // same "most confusable percentile" the production bar would. The K×K centroid
    // comparison is DELIBERATE and bounded: it runs on the centroid
    // table (K rows — never members), norms hoisted (s23's lesson), and
    // at corpus scale the same pass runs over bucketed or sampled
    // centroids (the s23 evaluator posture) — the plan shape is
    // unchanged. Member counts ride along so the merge decision sees
    // sizes.
    "s26_merge_candidates" -> { (s, dir) =>
      val member = s6Members(s, dir)
      val sizes = member.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"))
      val cent = centroidsOf(member)
        .join(sizes, "cluster_id")
        .select(col("cluster_id"), col("cv"), col("n"),
          sqrt(dot(col("cv"), col("cv"))).as("nrm"))
      cent.as("a")
        .join(broadcast(cent.as("b")),
          col("a.cluster_id") < col("b.cluster_id"))
        .select(col("a.cluster_id").as("cid_a"), col("b.cluster_id").as("cid_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          (dot(col("a.cv"), col("b.cv")) / (col("a.nrm") * col("b.nrm")))
            .as("sim"))
        .filter(col("sim") > 0.25)
    },

    // PQ codebook-utilization audit — the ops readout an ANN index needs
    // before anyone trusts its recall numbers: per subspace, how many of
    // the K centroids actually receive vectors, and how skewed the
    // occupancy is (dead centroids waste code space; one viral centroid
    // means ADC scores stop discriminating — the same pathology as m5's
    // 8-bit percolation, caught by a dashboard count instead of a
    // post-mortem). Two stacked hash aggs over the (vec, m) codes — the
    // audit never touches vectors, so at 100 TB it reads the 4-byte code
    // table, not the embedding column; skew is integer ppm (g10's
    // discipline) so the readout hash-gates.
    "s24_code_utilization" -> { (s, dir) =>
      val n = normalized(s, dir)
      pqCodes(n, pqCentroids(n))
        .groupBy("m", "cid").agg(count(lit(1)).as("nb"))
        .groupBy("m").agg(count(lit(1)).as("n_used"),
          sum("nb").cast(LongType).as("n_vecs"),
          max("nb").as("max_bucket"))
        .select(col("m"), col("n_used"), col("n_vecs"), col("max_bucket"),
          expr("max_bucket * 1000000 div n_vecs").as("skew_ppm"))
    },

    // Embedding near-dup: label-blocked pair cosine above threshold — the
    // blocking key keeps the pair join off the cartesian path. Vectors are
    // unit-normalized BEFORE the join (O(N) norms instead of O(pairs)), so
    // per-pair work is a single dot product — the difference between 2N and
    // ~N²/labels norm computations at 100 TB.
    "s3_embed_neardup" -> { (s, dir) =>
      val n = emb(s, dir)
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .select(col("vec_id"), col("label"),
          transform(col("v"), x => x / col("nrm")).as("u"))
      n.as("a").join(n.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          col("a.label").as("label"),
          dot(col("a.u"), col("b.u")).as("sim"))
        .filter(col("sim") > 0.3)
    },

    // Embedding near-dup CLUSTERS — connected components over the s3 pair
    // graph (shared min-label propagation, operators/Components.scala): the
    // embedding-modality twin of d11, collapsing chains (a~b, b~c) that
    // pairwise near-dup lists cannot see into one surviving group per
    // component.
    "s6_embed_clusters" -> { (s, dir) =>
      val edges = defs("s3_embed_neardup")(s, dir).select("id_a", "id_b")
      graft.operators.Components.minLabel(edges)
        .select(col("v").as("vec_id"), col("lbl").as("cluster_id"))
    },

    // IVF recall@5 vs the exact baseline — the evaluation s4 runs for the
    // hyperplane-LSH path, for the coarse-quantizer path: with nprobe=2 of
    // 8 lists the probed share of the corpus bounds the reachable recall,
    // and this query is the number that tells you whether to raise nprobe
    // or retrain the codebook before trusting s5 at scale.
    "s7_ivf_recall" -> { (s, dir) =>
      val exact5 = defs("s1_knn_brute")(s, dir)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      val approx5 = defs("s5_ann_ivf")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact5.join(approx5, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
    },

    // The nprobe tuning curve — d19's parameter-sweep discipline on the
    // ANN axis: candidate volume and recall@5 at nprobe ∈ {1, 2, 4} from
    // ONE list join. The probe table is ranked once at the WIDEST budget
    // (crk ≤ 4) and the assignment⋈probe join — the corpus-scale stage —
    // runs once; each candidate then fans out to exactly the configs whose
    // budget admits its probe rank (np ≥ crk), so tightening nprobe is a
    // filter, never a re-join (re-running s5 per config would triple the
    // list join). The number that sizes the recall/latency trade before
    // committing an nprobe at scale; s7 is the single-point special case.
    "s19_nprobe_sweep" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cent = coarseCentroids(n)
      val wp = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid"))
      val probes4 = n.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
        .crossJoin(broadcast(cent))
        .select(col("query_id"), col("qu"), col("cid"),
          dot(col("qu"), col("cu")).as("csim"))
        .withColumn("crk", row_number().over(wp))
        .filter(col("crk") <= 4)
        .select("query_id", "qu", "cid", "crk")
      val cand = coarseAssign(n, cent)
        .join(broadcast(probes4), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("crk"),
          dot(col("qu"), col("u")).as("sim"))
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          explode(expr("filter(array(1, 2, 4), np -> np >= crk)")).as("nprobe"))
      val wTop = Window.partitionBy("nprobe", "query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      val top5 = cand
        .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 5)
        .select(col("nprobe"), col("query_id"), col("neighbor_id"),
          lit(1).as("hit"))
      val nCand = cand.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
      val e5c = defs("s1_knn_brute")(s, dir)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      e5c.join(top5, Seq("nprobe", "query_id", "neighbor_id"), "left")
        .groupBy("nprobe")
        .agg((sum(coalesce(col("hit"), lit(0))).cast(DoubleType) /
          count(lit(1))).as("recall_at_5"))
        .join(nCand, "nprobe")
        .select(col("nprobe").cast(LongType).as("nprobe"),
          col("n_candidates"), col("recall_at_5"))
    },

    // Threshold-sweep curve — how many near-dup pairs survive at each
    // candidate cosine threshold, from ONE pass over the s3 pair sims (the
    // number you look at before committing a dedup threshold; re-running
    // the pair join per candidate threshold would multiply the dominant
    // join cost by the sweep size). The blocked pair join is the expensive
    // stage; the 4x explode happens on its (much smaller) output.
    "s8_threshold_sweep" -> { (s, dir) =>
      val thresholds = Seq(0.3, 0.5, 0.7, 0.9)
      defs("s3_embed_neardup")(s, dir)
        .select(col("sim"),
          explode(array(thresholds.map(lit): _*)).as("threshold"))
        .groupBy("threshold")
        .agg(sum(when(col("sim") > col("threshold"), 1L).otherwise(0L))
          .cast(LongType).as("n_pairs"))
    },

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-
    // efficient learning at web-scale through semantic deduplication") — the
    // embedding-axis member of the dedup-deliverable family: exact (d8),
    // near-dup text (d15), media (m6), and THIS — s6's cosine clusters →
    // keep ONE representative per cluster → anti-join the rest out of the
    // embeddings corpus. Representative = highest squared norm (the
    // strongest-signal copy; cosine clustering ignores magnitude, so norm
    // is the quality axis the cluster didn't already collapse), ties to
    // lowest vec_id — both engines compute norm² by the identical
    // sequential fold, so the keep-best window replays exactly. Same scale
    // shape as d15: the window runs over CLUSTERED vectors only (cluster
    // map ⋈ a narrow (vec_id, norm2) projection), never the corpus; corpus
    // rows move once, through the final anti-join.
    "s13_semantic_dedup" -> { (s, dir) =>
      val e = emb(s, dir)
      val cl = defs("s6_embed_clusters")(s, dir)
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("norm2").desc, col("vec_id"))
      val losers = cl
        .join(e.select(col("vec_id"), dot(col("v"), col("v")).as("norm2")), "vec_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1)
        .select("vec_id")
      e.join(losers, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    },

    // Per-cluster centroids — the representative vector a semantic-dedup /
    // IVF-training pipeline materializes after clustering (s6): the
    // elementwise mean per (cluster, dimension), computed as a DECIMAL sum
    // divided by the member count so the doubles hash-gate cross-engine
    // (float elementwise means are order-sensitive — davg is the whole
    // trick). Plan: one posexplode (row → 64 (dim, x) rows, still narrow),
    // one equi-join onto the cluster map, one partial+final hash agg on
    // (cluster, dim). At 100 TB the shuffle carries (cluster, dim)
    // decimal partials — dims × clusters rows, never vectors.
    "s15_cluster_centroids" -> { (s, dir) =>
      val cl = defs("s6_embed_clusters")(s, dir)
      emb(s, dir)
        .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("dim"), col("x"))
        .join(cl, "vec_id")
        .groupBy("cluster_id", "dim")
        .agg(count(lit(1)).as("n"), graft.Exprs.davg(col("x"), 6).as("centroid"))
    },

    // Product-quantization ANN with asymmetric distance computation (ADC;
    // Jégou et al., "Product Quantization for Nearest Neighbor Search") —
    // the COMPRESSION scale path next to bucketing (s2) and coarse
    // quantization (s5): split each unit vector into M=4 16-dim subvectors,
    // encode each against K=8 per-subspace centroids (L2 argmin, same seed
    // vectors as s5's codebook), and score candidates WITHOUT touching the
    // original vectors — approx cosine = Σ_m LUT(m, code_m), where the LUT
    // holds each query-subvector × centroid dot product. The corpus a scan
    // reads shrinks from 64 floats to M single-byte codes per vector
    // (64×: the difference between a 100 TB and a 1.6 TB ANN scan); the
    // M×K LUT (32 rows/query) is broadcast. All folds are the native
    // sequential DotProduct, the per-pair Σ_m is four fixed-order adds
    // (pivot by m, never a float groupBy-sum), so codes and scores replay
    // bit-identically in the oracle.
    "s9_pq_ann" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cent = pqCentroids(n)
      adcTop5(
        pqCodes(n, cent).join(broadcast(pqLut(n, cent)), Seq("m", "cid"))
          .filter(col("vec_id") =!= col("query_id")))
    },

    // PQ recall@5 vs the exact baseline — the same evaluation loop as s4
    // (hyperplane LSH) and s7 (IVF), closing the measurement triangle over
    // all three ANN scale paths: compression loss (how much the 4-byte code
    // approximation of a 64-dim dot product costs in neighbor quality) is a
    // number, not a guess, before anyone trusts s9's codes at scale.
    "s10_pq_recall" -> { (s, dir) =>
      val exact5 = defs("s1_knn_brute")(s, dir)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      val approx5 = defs("s9_pq_ann")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact5.join(approx5, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
    },

    // IVF+PQ — the two scale paths COMPOSED, which is the architecture
    // billion-scale ANN systems actually run (FAISS IVFPQ): the coarse
    // quantizer (s5) prunes the candidate set to nprobe/nlists of the
    // corpus, and PQ codes (s9) score what remains without touching the
    // original vectors. At 100 TB the scan reads (vec_id, ivf, 4 bytes of
    // codes) for 1/4 of the corpus — both the 64× compression AND the 4×
    // list pruning multiply. Candidates come from the casg⋈probes
    // equi-join on the list id; scoring joins the candidate's 4 code rows
    // against the broadcast query LUT; the Σ_m is the same fixed-order
    // four-add pivot as s9, so scores replay bit-identically in the
    // oracle. (Production IVFPQ encodes RESIDUALS u - centroid; encoding
    // the raw vector keeps the oracle compact at identical plan shape —
    // the residual subtraction is one extra zip_with before the argmin.)
    // The normalized projection is checkpointed: FIVE consumers (coarse
    // centroids, assignments, probes, PQ codebook, codes, LUT) would each
    // re-scan parquet otherwise.
    "s11_ivf_pq" -> { (s, dir) =>
      val n = normalized(s, dir)
      // candidates = probed lists only (shared with s14 via ivfCandidates;
      // "ivf" renames the coarse list id so it can't collide with the PQ
      // code column, also named cid)
      val cand = ivfCandidates(n)
      val cent = pqCentroids(n)
      adcTop5(
        cand.join(pqCodes(n, cent), Seq("vec_id"))
          .join(broadcast(pqLut(n, cent)), Seq("query_id", "m", "cid")))
    },

    // IVF+PQ shortlist → EXACT re-rank — the production ANN serving shape
    // (FAISS-style): the coarse quantizer prunes lists, 4-byte ADC codes
    // score the survivors, the top-20 shortlist alone is re-scored with
    // the full-precision dot product, and the final top-5 ranks by the
    // exact score. At 100 TB the full vectors are touched for 20 rows per
    // query instead of the corpus — the re-rank join is a shortlist-sized
    // equi-join back into the (checkpointed) normalized projection, so the
    // compression error of s10/s12 is erased wherever the true neighbor
    // made the shortlist, at ~zero extra scan cost. dot over the SHARED
    // normalized vectors (= cosine, same fold both engines) keeps the
    // score bit-portable.
    "s14_ann_rerank" -> { (s, dir) =>
      val n = normalized(s, dir)
      val cand = ivfCandidates(n)
      val cent = pqCentroids(n)
      val short = adcTopK(
        cand.join(pqCodes(n, cent), Seq("vec_id"))
          .join(broadcast(pqLut(n, cent)), Seq("query_id", "m", "cid")), 20)
        .select("query_id", "neighbor_id")
      val q = n.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      short
        .join(n.select(col("vec_id").as("neighbor_id"), col("u")), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          dot(col("qu"), col("u")).as("sim"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "sim")
    },

    // kNN classification by majority vote over s14's shortlist-reranked
    // top-5 — the label-propagation primitive a curation pipeline uses to
    // extend a small labeled seed set over an unlabeled corpus (predict
    // each item's class from its nearest labeled neighbors). Composes the
    // 100 TB retrieval path end-to-end: IVF prunes lists, PQ codes score,
    // exact dot re-ranks 20 rows/query, and the vote is a query-keyed hash
    // aggregate over 5 rows — the classifier adds NOTHING that scales with
    // the corpus. Tie-break is total (votes DESC, label ASC), so the
    // prediction is deterministic and hash-gateable.
    "s16_knn_classify" -> { (s, dir) =>
      val lb = emb(s, dir).select(col("vec_id"), col("label"))
      val votes = defs("s14_ann_rerank")(s, dir)
        .select("query_id", "neighbor_id")
        .join(lb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("label").as("pred_label"), col("votes"))
        .join(lb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"), col("pred_label"),
          col("votes"),
          when(col("true_label") === col("pred_label"), 1L).otherwise(0L)
            .as("correct"))
    },

    // IVF+PQ recall@5 — completes the evaluation square (s4 LSH, s7 IVF,
    // s10 PQ, s12 both): list-pruning loss and compression loss COMPOUND,
    // and this is the number that says whether the composition still
    // clears the recall bar or nprobe must rise.
    "s12_ivfpq_recall" -> { (s, dir) =>
      val exact5 = defs("s1_knn_brute")(s, dir)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      val approx5 = defs("s11_ivf_pq")(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact5.join(approx5, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
    },

    // RECIPROCAL-RANK FUSION — the hybrid-retrieval combiner (Cormack &
    // Clarke, SIGIR'09): production search runs SEVERAL retrievers whose
    // failure modes differ (here the two scale paths the family already
    // gates: s2's hyperplane LSH and s5's IVF list-probing — one loses
    // neighbors across hyperplanes, the other in unprobed lists) and
    // fuses their ranked lists by Σ 1/(60+rank), which rewards agreement
    // without ever comparing raw scores across retrievers (the whole
    // point of RRF — scores from different ANN schemes aren't
    // commensurable). The 1/(60+r) terms are integer micro-units
    // (1e9 div (60+r) — exact longs; a float Σ 1/(60+r) is
    // summation-order-dependent and never hash-gates; floor at ppb keeps
    // every distinct rank sum distinct for k ≤ 5). in_lsh/in_ivf expose
    // WHICH retriever carried each fused hit — the per-retriever
    // contribution audit. Scale: both inputs are the already-pruned
    // top-5-per-query frames (k·|queries| rows however big the corpus);
    // the fusion is one (query, neighbor) full-outer equi-join + one
    // k-bounded rank window — the corpus is never rescanned.
    "s27_rrf_fusion" -> { (s, dir) =>
      val lsh = defs("s2_ann_lsh")(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("r_lsh"))
      val ivf = defs("s5_ann_ivf")(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("r_ivf"))
      val fused = lsh.join(ivf, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("rrf_ppb",
          coalesce(expr("1000000000 div (60 + r_lsh)"), lit(0L))
            + coalesce(expr("1000000000 div (60 + r_ivf)"), lit(0L)))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_ppb").desc, col("neighbor_id"))
      fused.withColumn("fused_rank", row_number().over(w).cast(LongType))
        .filter(col("fused_rank") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rrf_ppb"),
          col("fused_rank"),
          col("r_lsh").isNotNull.cast(LongType).as("in_lsh"),
          col("r_ivf").isNotNull.cast(LongType).as("in_ivf"))
    },

    // ROCCHIO EXPANSION (pseudo-relevance feedback, SMART '71): retrieve,
    // assume the top-5 are relevant, pull the query TOWARD their mean,
    // re-rank — the classic one-round recall fix retrieval stacks still
    // run. By dot-product linearity the expanded score needs NO expanded
    // vector: score'(u) = dot(q, u) + mean_{t∈top5} dot(t, u), so the
    // boost is a 5-row equi-join per candidate and the per-candidate mean
    // goes through the davg decimal path (float Σ over an unordered agg
    // never hash-gates — the dsum discipline); the final score is ONE
    // IEEE add of two bit-stable terms. in_initial marks which of the
    // final top-5 the first pass already had — the readout of what the
    // feedback round actually changed. Scale: the scored frame is
    // checkpointed (first-pass ranks + re-score read it once each); the
    // boost join fans out exactly ×5 per candidate; at corpus scale the
    // candidate set comes from the same IVF/LSH pruning as s2/s5, not
    // the brute cross (the s1-vs-s2 split on the feedback axis).
    "s28_rocchio_expand" -> { (s, dir) =>
      val n = normalized(s, dir).graftCkpt()
      val q = n.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))
      val scored = n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("u"), dot(col("qu"), col("u")).as("sim0"))
        .graftCkpt()
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim0").desc, col("neighbor_id"))
      val top5 = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("neighbor_id").as("rel_id"))
      val relv = top5
        .join(n.select(col("vec_id").as("rel_id"), col("u").as("ru")), "rel_id")
      val boost = scored.select(col("query_id"), col("neighbor_id"), col("u"))
        .join(relv, "query_id")
        .select(col("query_id"), col("neighbor_id"),
          dot(col("ru"), col("u")).as("d"))
        .groupBy("query_id", "neighbor_id")
        .agg(graft.Exprs.davg(col("d"), 6).as("boost"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))
      scored.join(boost, Seq("query_id", "neighbor_id"))
        .withColumn("score", col("sim0") + col("boost").cast(DoubleType))
        .withColumn("rnk", row_number().over(w2).cast(LongType))
        .filter(col("rnk") <= 5)
        .join(top5.withColumn("in_initial", lit(1L))
            .select(col("query_id"), col("rel_id").as("neighbor_id"),
              col("in_initial")),
          Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("rnk"), col("score"),
          coalesce(col("in_initial"), lit(0L)).as("in_initial"))
    },

    // GRAPH-ANN — the navigable-graph retrieval mode (the HNSW-class
    // family real stacks lean on hardest) next to the bucket (s2), list
    // (s5), and code (s9) indexes: deterministic BEAM SEARCH over a k-NN
    // graph. Index build: edges come from the MULTI-PROBE bucketed
    // candidates (s2's probe set — own bucket + the 4 hamming-1 flips),
    // never all-pairs: per node, exact cosine over its probed-bucket
    // candidates, keep the top-[[graphDegree]] by (sim desc, id) — the
    // LSH-seeded k-NN-graph construction (NN-descent's seeding step). The
    // probe flips are what make the graph navigable ACROSS buckets: bucket
    // codes form a hypercube and every edge set spans its hamming-1
    // neighborhood, so a walk can cross hyperplanes a pure-bucket build
    // would wall off. Search: from a QUERY-ADAPTIVE entry point (the
    // min-id node in the query's own bucket — the deterministic stand-in
    // for HNSW's top-layer descent: start in the right region, then walk;
    // a measured +0.1 recall over a single global entry), unroll
    // [[beamRounds]] frontier rounds: candidates = beam ∪ beam's
    // out-neighbors (one frontier×edges equi-join — g15's BFS discipline
    // applied to retrieval), score against the query, keep the
    // top-[[beamWidth]] by the (sim desc, id) total order. Every round is
    // monotone in that order, every tiebreak total, and cosine doubles
    // are bit-identical across engines (the s1 fold), so the whole walk
    // hash-gates — greedy beam search with zero nondeterminism.
    // 100 TB posture: the edge build is df-bounded bucket joins (s2's
    // posture — at corpus scale the bucket key grows planes, buckets stay
    // bounded); the edge table is N·K rows equi-partitioned by src and
    // NEVER broadcast — each search round broadcasts the tiny frontier
    // instead (see beamExpand) and touches ≤ beam·degree candidate rows
    // per query; the corpus is scanned ONCE at build, never at search.
    // AnnIvfSpec pins recall@5 vs s1's exact baseline; PlanSpec pins the
    // frontier-side broadcast; the post-fix 100× smoke row is in PLANS.md.
    // DEFAULT = THE AUTO-PLANES POLICY (VERDICT r14 item 1): the plane
    // count derives from the corpus via [[autoPlanes]] — the operator a
    // user reaches for first must not ship the planes=4 quality cliff
    // (recall 0.16 at volume-pure 10× N; the derived count reads 1.00 —
    // SCALE_FULL.json). At every gate SF the derived count IS 4
    // (N ≤ 4096), so gate results are unchanged; the oracle derives the
    // same count in-SQL (graphBeamAutoSql's dp CTE), so the two engines
    // cannot disagree at a boundary. The one count() driving the policy
    // is a metadata-cheap scan.
    "s31_ann_graph_beam" -> ((s, dir) =>
      graphBeam(s, dir, autoPlanes(emb(s, dir).count()))),

    // The PLANE-COUNT KNOB, oracle-gated (VERDICT r12 item 7): the same
    // graph-ANN build + search at planes = 6 (64 buckets), proving the
    // "grow planes with log2(N)" policy is a parameter, not a rewrite —
    // same plan shape, same determinism, same hash-gate, only the bucket
    // geometry changes. The sf0.1 recall sweep (PLANS.md round 13)
    // measures what the knob buys: smaller buckets sharpen the edge
    // build's candidate pool as N grows.
    "s32_ann_beam_planes6" -> ((s, dir) => graphBeam(s, dir, 6)),

    // AUTO-PLANES graph-ANN — the plane-count POLICY as the default
    // (VERDICT r13 item 1): derive the count from the corpus via
    // [[autoPlanes]] (smallest p ≥ 4 with N ≤ 256·2^p) instead of
    // trusting a constant that silently loses recall as N grows
    // (measured: the fixed planes=4 default reads recall 0.16 at 10× N
    // where the derived count reads ≥ 0.9 — SCALE_FULL.json). The count()
    // driving the derivation is ONE metadata-cheap scan; everything else
    // is graphBeam verbatim at the derived count. The oracle restates the
    // derivation in-SQL (a pure-integer CASE ladder over count(*) with
    // the identical cap<<p thresholds), so BOTH engines compute the
    // parameter from the data — the s32 "oracle generated from the
    // parameter" technique, upgraded from a constant to a policy. Since
    // round 15 this policy IS s31's default; s36 stays as the explicit
    // policy spelling (artifact/recall-history continuity, and the
    // named knob a user compares s32's fixed count against).
    "s36_ann_beam_autoplanes" -> ((s, dir) =>
      graphBeam(s, dir, autoPlanes(emb(s, dir).count()))),

    // GRAPH-ANN RECALL — the missing member of the recall-evaluator
    // family (s4 grades LSH, s7 IVF, s10 PQ, s12 IVF·PQ; this grades the
    // beam walk): per query, the exact share of s1's true top-5 the beam
    // returns. The evaluator is corpus-invariant like s4 — both inputs
    // are k·|queries| rows however big the corpus — and the division by
    // the literal 5.0 on exact integer hits produces identical doubles
    // in both engines (the s4 discipline). The per-plane-count recall
    // rows in SCALE_FULL.json measured the same quantity once; this row
    // hash-gates it every round.
    // Grades the DEFAULT operator, i.e. the auto-planes walk (VERDICT
    // r14 item 1) — an evaluator that graded a spelling users don't run
    // would certify the wrong recall; at gate SFs the derived count is 4
    // so the gate rows are unchanged, and at volume-pure 100× this row
    // reads 0.92 where fixed planes=4 read 0.32 (SCALE_FULL.json).
    "s33_beam_recall" -> { (s, dir) =>
      val exact5 = bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      val beam5 = graphBeam(s, dir, autoPlanes(emb(s, dir).count()))
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact5.join(beam5, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / 5.0).as("recall_at_5"))
    },

    // FILTERED ANN — the metadata-predicate vector search every
    // production retrieval stack needs (tenant/language/license scoping):
    // top-5 under a label predicate via the PRE-FILTER strategy — the
    // predicate restricts the INDEX side before the probe, so recall
    // within the filtered subset equals unfiltered s2 recall by
    // construction. The alternative (post-filter: search unfiltered,
    // then drop) silently starves k when the predicate is selective —
    // candidates already spent on excluded vectors; pre-filter is the
    // correct default whenever the predicate is known at index/probe
    // time, and at corpus scale it is a bucket-key-plus-predicate scan
    // (partition pruning does the filtering for free on a
    // label-partitioned layout). Same multi-probe set, same exact-cosine
    // rerank, same total order as s2 — only the candidate universe
    // changes, so the hash gate isolates exactly the filter semantics.
    "s34_ann_filtered" -> { (s, dir) =>
      val b = bucketed(s, dir)
      val probes = col("qb") +: (0 until numPlanes).map(p =>
        col("qb").bitwiseXOR(lit(1 << p)))
      val q = b.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("bucket").as("qb"))
        .select(col("query_id"), col("qv"),
          explode(array(probes: _*)).as("probe"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      b.filter(col("label") % 2 === 0)
        .join(broadcast(q), col("bucket") === col("probe")
          && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("label"), cosine(col("qv"), col("v")).as("sim"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id", "label", "rnk", "sim")
    },

    // MMR DIVERSITY RE-RANK (maximal marginal relevance, Carbonell-
    // Goldstein SIGIR'98) — the redundancy-aware head of a retrieval
    // stack (RAG context assembly: three near-duplicate top hits waste
    // two context slots): greedily pick k = 3 from s1's top-10
    // candidates, each round maximizing λ·sim(q,d) − (1−λ)·max_{c∈chosen}
    // sim(d,c) at λ = 1/2. Deterministic end to end: halving is an exact
    // float op, the pairwise max is over the same bit-identical cosine
    // fold both engines compute, and every argmax tie-breaks by id — so
    // the greedy trace hash-gates (s20's unrolled-rounds idiom). Scale:
    // candidates are k·|queries| rows from the ANN index (the corpus
    // never enters), so each round is a ≤|chosen|-way fan-out over a
    // tiny frame — re-ranking cost is independent of corpus size, the
    // property that lets MMR sit above any of the s2/s5/s31 indexes.
    "s35_mmr_rerank" -> { (s, dir) =>
      val e = emb(s, dir).select(col("vec_id"), col("v"))
      val cand = bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
          "neighbor_id")
        .graftCkpt() // feeds every greedy round
      val w1 = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      val p1 = cand.withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          (col("sim") / 2).as("mmr"), col("nv"), lit(1L).as("mmr_rank"))
      def round(chosen: DataFrame, r: Int): DataFrame = {
        val rem = cand.join(
          chosen.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        val mp = rem
          .join(chosen.select(col("query_id"), col("nv").as("cv")), "query_id")
          .groupBy("query_id", "neighbor_id")
          .agg(max(cosine(col("nv"), col("cv"))).as("mp"))
        val wk = Window.partitionBy("query_id")
          .orderBy(col("mmr").desc, col("neighbor_id"))
        val pick = mp.join(cand, Seq("query_id", "neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            (col("sim") / 2 - col("mp") / 2).as("mmr"), col("nv"))
          .withColumn("rn", row_number().over(wk))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("neighbor_id"), col("mmr"),
            col("nv"), lit(r.toLong).as("mmr_rank"))
        chosen.unionByName(pick)
      }
      round(round(p1, 2), 3)
        .select("query_id", "neighbor_id", "mmr_rank", "mmr")
    },

    // SCALAR (INT8) QUANTIZATION ANN — the per-dimension code axis of the
    // compression family (PQ s9 quantizes SUBSPACES to codebook ids, dim
    // truncation s25 DROPS dimensions; SQ8 keeps every dimension at 1/4
    // the bytes): code_d = half-up-round(v_d / scale_d · 127) with the
    // symmetric per-dim scale scale_d = max|v_d| over the corpus — the
    // FAISS-SQ8 scheme. Ranking runs on the DEQUANTIZED vectors
    // (code_d · scale_d; the constant /127 cancels inside cosine), so the
    // emitted top-5 is exactly what an int8 store would serve and s38
    // measures what the 4× byte shrink costs in recall. Determinism: the
    // scale is a max (no float summation), the quantizer is
    // floor(x/s·127 + ½) — exact half-up rounding both engines spell
    // identically on exact doubles — and the rerank is the s1 cosine fold
    // over bit-identical dequantized doubles, so the walk hash-gates.
    // Scale: the scale vector is ONE 64-accumulator agg broadcast back;
    // quantize+dequantize is one corpus-linear zip_with projection. At
    // 100 TB the int8 codes are what's STORED (4× less scan than float32)
    // and the probe plugs into any of the s2/s5/s31 indexes — the gate's
    // brute probe isolates quantization error from index error (s29's
    // stand-in discipline).
    "s37_sq8_topk" -> ((s, dir) => sq8TopK(s, dir)),

    // SQ8 RECALL — the recall evaluator for the scalar-quantized rerank
    // (the s4/s7/s10/s12/s33 family member for s37): per query, the share
    // of s1's exact float top-5 the int8 store returns. Both inputs are
    // k·|queries| rows however big the corpus; the denominator is the
    // PER-QUERY exact-neighbor count (ADVICE r13's recall fix, mirrored
    // in the oracle — ADVICE r14), not a literal 5, so a query
    // with fewer than 5 true neighbors on a tiny corpus can't understate
    // its recall; integer-hits / integer-count divides to identical
    // doubles in both engines. Reads 1.0 at every gate SF — the "4×
    // cheaper store loses nothing HERE" row; the larger-N axis is s25's.
    "s38_sq8_recall" -> { (s, dir) =>
      val exact5 = bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
        .filter(col("rnk") <= 5).select("query_id", "neighbor_id")
      val sq5 = sq8TopK(s, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact5.join(sq5, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1)))
          .as("recall_at_5"))
    },

    // FILTERED GRAPH-BEAM — s34's pre-filter strategy on the beam index
    // (the production shape: tenant/license scoping over the SAME graph
    // walk a retrieval stack already runs, not a separate brute path):
    // the predicate restricts the INDEX side before the edge build, so
    // the k-NN graph, the bucket caps, and the entry points all live
    // entirely inside the filtered subset — recall within the subset
    // equals unfiltered recall by construction, where a post-filter walk
    // would spend beam slots on excluded nodes and starve k. Queries
    // stay unfiltered (a query need not satisfy its own predicate);
    // plane count derives from the FULL corpus via autoPlanes (the
    // index policy is per-store, not per-predicate — one graph geometry
    // serves every predicate). The oracle is the s31 auto spelling with
    // the identical predicate injected into its one bf CTE, so the
    // filter semantics are the ONLY thing the gate isolates.
    "s39_ann_beam_filtered" -> ((s, dir) =>
      graphBeam(s, dir, autoPlanes(emb(s, dir).count()),
        col("label") % 2 === 0)),

    // HYBRID RETRIEVAL — reciprocal-rank fusion (Cormack/Clarke/Buettcher
    // SIGIR'09) of the lexical and vector top-10 lists, the head of every
    // production RAG stack (pure-vector misses exact terms, pure-lexical
    // misses paraphrase; RRF is the standard rank-level fusion because it
    // needs no score calibration between the two retrievers). Lexical
    // side: an inverted-index probe — corpus (doc, token, tf) postings
    // built in ONE scan, the |Q|-bounded query postings broadcast into
    // them, overlap scored as Σ min(tf_q, tf_d) in exact integers (no
    // float BM25 logs whose libm rounding could split the engines).
    // Vector side: s1's exact fold (the gate's stand-in for any s2/s31
    // index probe). Fusion: 1/(60+rank) from INTEGER ranks — identical
    // doubles in both engines, summed in fixed expression order — over
    // the union of the two lists (a doc without an embedding can still
    // surface lexically: the realistic corpus where embedding coverage
    // trails ingestion). Scale: postings are corpus-linear and
    // shuffle-partitioned by token like w2's doc_freq; the lexical
    // top-10 is the MERGEABLE TopKAgg (VERDICT r15 item 1 — the r15
    // spelling ranked via a per-query window whose partition was the
    // candidate set, which approaches the corpus once stopwords enter
    // the token stream; the aggregate reduces each map partition to
    // ≤10 payloads per query BEFORE the shuffle, the q76 discipline);
    // both rank lists are k·|Q| rows; fusion cost is independent of
    // corpus size.
    "s40_hybrid_rrf" -> { (s, dir) =>
      val post = graft.sources.Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .graftCkpt() // one corpus scan feeds query + probe sides
      val qpost = post.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("tok"),
          col("tf").as("qtf"))
      val lex = post.join(broadcast(qpost), "tok")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(sum(least(col("tf"), col("qtf"))).as("score"))
      rrfFuse(lexTopK(lex, 10),
        bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rnk").as("rv")))
    },

    // IDF-WEIGHTED HYBRID RETRIEVAL (VERDICT r15 item 2) — s40's fusion
    // with the lexical side scored by RARITY: raw tf-overlap lets
    // stopword-heavy docs crowd the top-10 (every doc shares "the"), so
    // each term's contribution is weighted by an exact-rational idf —
    // w(tok) = ppm of N/df = (N·10⁶) div df in pure integers (the
    // w12/t17 discipline: no libm log whose last-ulp rounding could
    // split the engines; log's monotonicity is what matters to a RANK
    // and ppm(N/df) is monotone in it). score = Σ min(tf_q, tf_d)·w —
    // stopwords (df≈N) contribute ~10⁶ per hit while a df=1 term
    // contributes N·10⁶, the rarity separation BM25 exists to provide.
    // df is computed ONLY for the |Q|-bounded query vocabulary (one
    // broadcast-pruned pass over the postings — never a corpus-wide
    // vocabulary agg for a 5-query probe). The lexical top-10 is the
    // mergeable TopKAgg (integer scores < 2⁵³ ride the double payload
    // exactly at any gate N; a 10¹⁰-doc deployment floors df or rescales
    // ppm→ppb to stay inside the mantissa). Vector side and fusion are
    // s40's — the gate isolates exactly the weighting delta. s40 stays
    // the rank-fusion pin; this is the production lexical scorer.
    "s41_hybrid_idf" -> { (s, dir) =>
      val docsTbl = graft.sources.Tables.load(s, dir, "documents")
      val post = docsTbl
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .graftCkpt() // one corpus scan feeds query, df, and probe sides
      val nRow = docsTbl.agg(count(lit(1)).as("n"))
      val qpost = post.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("tok"),
          col("tf").as("qtf"))
      // document frequency for the query vocabulary only: postings pruned
      // by the broadcast token set, then a |vocab_Q|-row agg
      val dfq = post
        .join(broadcast(qpost.select("tok").distinct()), "tok")
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val lex = post.join(broadcast(qpost), "tok")
        .filter(col("doc_id") =!= col("query_id"))
        .join(broadcast(dfq), "tok")
        .crossJoin(broadcast(nRow))
        .groupBy("query_id", "doc_id")
        // MANTISSA HEADROOM (VERDICT r16 item 5): the summed score rides
        // TopKAgg's double payload, so it must stay < 2⁵³ to hash-gate.
        // Worst case ≈ |query tokens|·max(tf)·N·10⁶; the gate corpora
        // keep it < 10¹³. A deployment where N·10⁶ approaches 2⁵³/Σtf
        // (N ≳ 10⁸ docs) must floor df higher or rescale ppm→ppt —
        // rescaling only SHIFTS every score, so ranks are unchanged.
        .agg(sum(least(col("tf"), col("qtf"))
          * expr("(n * 1000000) div df")).as("score"))
      rrfFuse(lexTopK(lex, 10),
        bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rnk").as("rv")))
    },

    // BM25 HYBRID RETRIEVAL (VERDICT r16 item 2) — s41's rarity weight
    // completed into the production lexical scorer: per query term,
    // idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with the standard
    // k1 = 1.2, b = 0.75 (Robertson/Spärck Jones; the scorer Lucene,
    // Elasticsearch, and every IR baseline default to). TF SATURATION
    // caps what a term repeated 40× can contribute (s41's raw
    // Σ min(tf,qtf)·idf grows linearly with tf, so a long stopword-heavy
    // doc outranks a short exact-match — the pinned AnnIvfSpec flip);
    // LENGTH NORMALIZATION divides by dl/avgdl so verbosity is not
    // relevance. House exactness discipline: clearing k1 = 6/5, b = 3/4,
    // and avgdl = T/N of denominators turns each term's contribution
    // into the ratio of two exact integers,
    //   w(tok) · 22·tf·T  div  (10·tf·T + 3·T + 9·dl·N)
    // with w(tok) = (N·10⁶) div df (s41's idf ppm) — one deterministic
    // floor division per term (`div` ≡ `//` on positive operands, the
    // prStepSql discipline; no libm log whose last ulp could split the
    // engines), summed in exact integers < 2⁵³ (the TopKAgg mantissa
    // contract: ≤ 2.2·w per term, |query vocab| terms). Scale: identical
    // plan skeleton to s41 — ONE corpus postings scan (dl attached by a
    // per-doc window, bounded by the doc's vocabulary, never the
    // corpus), broadcast-pruned df, mergeable TopKAgg top-10, RRF
    // fusion. Query terms enter as the query doc's DISTINCT token set
    // (BM25's qtf factor saturates to ~1 for short queries; dropping it
    // is the standard simplification, stated here because s40/s41 use
    // min(tf, qtf) instead — the gate isolates saturation+normalization
    // against s41's raw-idf on the same fusion tail).
    "s42_hybrid_bm25" -> { (s, dir) =>
      val docsTbl = graft.sources.Tables.load(s, dir, "documents")
      rrfFuse(lexTopK(bm25Lex(docsTbl), 10),
        bruteTopK(emb(s, dir), col("vec_id") < 5, k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rnk").as("rv")))
    }
  )

  /** The retrieval family's per-query lexical top-k, as a MERGEABLE
    * partial+final aggregate instead of a rank window (VERDICT r15 item
    * 1): input (query_id, doc_id, score), output (query_id, doc_id, rl)
    * with rl = 1-based rank under the (score DESC, doc_id ASC) total
    * order — element-for-element what `row_number() OVER (PARTITION BY
    * query_id ORDER BY score DESC, doc_id) <= k` selects, which is the
    * spelling the oracle keeps. The window shuffles the query's WHOLE
    * candidate set to one partition and sorts it (corpus-sized once
    * stopwords join the token stream); TopKAgg ships ≤k payload structs
    * per (map partition, query). Scores ride as doubles — exact for the
    * integer tf-overlap/idf scores the callers feed (< 2^53).
    *
    * Exactness audit (VERDICT r16 item 5) — every caller feeds scores
    * both engines compute bit-identically: s40 integer Σ min(tf, qtf);
    * s41 integer Σ min·((N·10⁶) div df); s42 integer Σ of floor-divided
    * BM25 contributions. A future caller with libm-derived float scores
    * (log/exp/pow idf variants) is OUT of the hash-gate contract — see
    * TopKAgg's scaladoc — and must rescale to integers first. */
  private[graft] def lexTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(k)(
        col("score").cast(DoubleType), col("doc_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).as("rl"))

  /** s42's lexical scorer — exact-integer BM25 (k1 = 1.2, b = 0.75) of
    * every corpus doc against the doc_id < 5 query docs' distinct token
    * sets: (query_id, doc_id, score) with
    * score = Σ_tok w·22·tf·T div (10·tf·T + 3·T + 9·dl·N),
    * w = (N·10⁶) div df — the k1/b/avgdl denominators cleared into one
    * floor division per term (both engines truncate positive quotients
    * identically). Factored so AnnIvfSpec can pin the saturation flip on
    * a crafted corpus. DECIMAL(38,0) carries the ≈10²⁰ numerator
    * products (int64 overflows at corpus scale — the g26/q63 posture);
    * per-term quotients and their sum stay < 2⁵³, TopKAgg's payload
    * contract. */
  private[graft] def bm25Lex(docsTbl: DataFrame): DataFrame = {
    val post = docsTbl
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // doc length rides the postings via a per-doc window (partition =
      // the doc's vocabulary — degree-bounded, never corpus-sized), so
      // no second corpus-wide join is needed to attach dl
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
      .graftCkpt() // one corpus scan feeds query, df, T, and probe
    val nRow = docsTbl.agg(count(lit(1)).as("n"))
    val ttRow = post.agg(sum("tf").cast(LongType).as("tt"))
    val qv = post.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("tok"))
    val dfq = post
      .join(broadcast(qv.select("tok").distinct()), "tok")
      .groupBy("tok").agg(count(lit(1)).as("df"))
    post.join(broadcast(qv), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(nRow))
      .crossJoin(broadcast(ttRow))
      .groupBy("query_id", "doc_id")
      .agg(sum(expr(
        "(CAST((n * 1000000) div df AS DECIMAL(38,0)) * 22 * tf * tt)" +
          " div (10 * CAST(tf AS DECIMAL(38,0)) * tt" +
          " + 3 * CAST(tt AS DECIMAL(38,0))" +
          " + 9 * CAST(dl AS DECIMAL(38,0)) * n)"))
        .cast(LongType).as("score"))
  }

  /** s40/s41's fusion tail: reciprocal-rank fusion 1/(60+rank) over the
    * UNION of the lexical (`rl`) and vector (`rv`) rank lists, per-query
    * top-5 under the (rrf DESC, doc_id) total order. Both inputs are
    * k·|Q| rows, so the full-outer join and the final rank window are
    * corpus-size-independent (the window partition holds ≤ 2k rows). */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (col("rl") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("rv") + 60), lit(0.0))).as("rrf"))
      .withColumn("rank", row_number().over(wf).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "doc_id", "rrf", "rank")
  }

  /** s37's pipeline, factored for s38's evaluator: per-dim symmetric
    * scales (one 64-accumulator max agg — floored at 1e-12 so an all-zero
    * dim can't divide by zero — broadcast back as an array literal-shaped
    * row), half-up int8 quantization, dequantized-cosine top-5 per query
    * under the (sim desc, id) total order. */
  private[graft] def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val sc = e.agg(array((0 until dims).map(d =>
      greatest(max(abs(col("v").getItem(d))), lit(1e-12))): _*).as("sc"))
    val deq = e.crossJoin(broadcast(sc))
      .select(col("vec_id"),
        zip_with(col("v"), col("sc"),
          (x, sd) => floor(x / sd * lit(127.0) + lit(0.5)) * sd).as("dv"))
      .graftCkpt() // corpus side + query side both read it
    val q = deq.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("dv").as("qv"))
    // mergeable top-5 (bruteTopK's r16 rewrite): the int8 store's SERVE
    // path must not sort a corpus-sized partition per query
    deq.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("dv")).as("sim"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.topK(5)(
        col("sim"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.score").as("sim"))
  }

  /** s37/s38's dequantized-corpus CTEs: per-dim symmetric scales (max|v_d|
    * floored at 1e-12), half-up int8 quantization, dequantized vectors —
    * operand-for-operand the Spark [[sq8TopK]] pipeline. */
  private def sq8DeqSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sc AS (SELECT list(mx ORDER BY d) AS sc FROM (
       |  SELECT g.d AS d, greatest(max(abs(v[g.d])), 1e-12) AS mx
       |  FROM e, LATERAL unnest(generate_series(1, $dims)) AS g(d)
       |  GROUP BY g.d) t),
       |dq AS (SELECT vec_id,
       |         list_transform(list_zip(v, sc.sc),
       |           p -> floor(p[1] / p[2] * 127.0 + 0.5) * p[2]) AS dv
       |       FROM e, sc)""".stripMargin

  /** s31/s32's oracle, generated from the SAME plane count as the Spark
    * side (graphBeam): the probe unnest list, bucket-bit sum, and all caps
    * derive from the one parameter, so changing `planes` can never
    * desynchronize the engines (ADVICE r12). Beam rounds unroll as nested
    * CTEs (s20's idiom); every tiebreak and cosine fold restated. */
  private def graphBeamSql(planes: Int, idxPred: String = "TRUE"): String = {
    val probeList = ("bf.bucket" +: (0 until planes).map(p =>
      s"xor(bf.bucket, ${1 << p})")).mkString(",\n         ")
    graphBeamSqlCore(
      s"b AS (SELECT vec_id, v, label, ${bucketSqlFor(planes)} AS bucket FROM e)",
      s"""pr AS (SELECT bf.vec_id AS src, bf.v AS sv, u.probe
         |       FROM bf, LATERAL unnest([$probeList]) AS u(probe))""".stripMargin,
      idxPred)
  }

  /** s36's oracle: the SAME beam-search body with the plane count DERIVED
    * FROM THE DATA inside the SQL — a `dp` CTE restates [[autoPlanes]] as
    * a pure-integer CASE ladder over count(*) (thresholds are the
    * identical `cap << p` constants, so the two engines cannot disagree
    * at a boundary), the bucket sum materializes [[maxOraclePlanes]]
    * plane terms each gated on `p < dp.p`, and the probe list unnests
    * generate_series(0, dp.p). At every plane count the active terms are
    * exactly [[bucketSqlFor]]'s — the auto spelling IS the fixed spelling
    * at the derived count, proven by the shared core. */
  private def graphBeamAutoSql(idxPred: String = "TRUE"): String = {
    val ladder = (numPlanes until maxOraclePlanes).map(p =>
      s"WHEN count(*) <= ${beamBucketCap.toLong << p} THEN $p")
      .mkString("\n           ")
    val terms = (0 until maxOraclePlanes).map { p =>
      if (p < numPlanes) s"(${planeBitSql(p)})" // always active: dp.p >= numPlanes
      else s"(CASE WHEN $p < dp.p THEN ${planeBitSql(p)} ELSE 0 END)"
    }.mkString("\n         + ")
    graphBeamSqlCore(
      s"""dp AS (SELECT (CASE $ladder
         |           ELSE $maxOraclePlanes END) AS p FROM e),
         |b AS (SELECT vec_id, v, label, $terms AS bucket FROM e, dp)""".stripMargin,
      s"""pr AS (SELECT bf.vec_id AS src, bf.v AS sv,
         |         CASE WHEN g.i = 0 THEN CAST(bf.bucket AS BIGINT)
         |              ELSE xor(CAST(bf.bucket AS BIGINT), CAST(1 AS BIGINT) << (g.i - 1)) END AS probe
         |       FROM bf, dp, LATERAL unnest(generate_series(0, CAST(dp.p AS BIGINT))) AS g(i))""".stripMargin,
      idxPred)
  }

  /** The plane-count-independent body shared by [[graphBeamSql]] (static
    * count) and [[graphBeamAutoSql]] (count derived in a `dp` CTE): edge
    * cut, entry points, unrolled beam rounds, final top-5 — everything
    * after the bucket/probe prelude is one spelling, so the knob and the
    * policy can never drift apart. */
  private def graphBeamSqlCore(bCte: String, prCte: String,
      idxPred: String = "TRUE"): String = {
    val rounds = (1 to beamRounds).map { r =>
      val prev = if (r == 1) "f0" else s"f${r - 1}"
      s"""c$r AS (SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM $prev
         |    UNION ALL
         |    SELECT p.query_id, ed.dst AS node
         |    FROM $prev p JOIN ed ON ed.src = p.node) u),
         |s$r AS (SELECT c.query_id, c.node, ${cosSql("q.qv", "e.v")} AS sim
         |        FROM c$r c JOIN e ON e.vec_id = c.node
         |        JOIN q ON q.query_id = c.query_id),
         |f$r AS (SELECT query_id, node, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, node) AS brk
         |    FROM s$r) t WHERE brk <= $beamWidth)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
       |       FROM embeddings),
       |$bCte,
       |bf AS (SELECT vec_id, v, bucket FROM b WHERE $idxPred),
       |$prCte,
       |bc AS (SELECT vec_id, v, bucket FROM (
       |    SELECT vec_id, v, bucket, row_number() OVER (PARTITION BY bucket
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crk
       |    FROM bf) t WHERE crk <= $beamBucketCap),
       |ce AS (SELECT pr.src, bc.vec_id AS dst, ${cosSql("pr.sv", "bc.v")} AS esim
       |       FROM pr JOIN bc ON bc.bucket = pr.probe AND bc.vec_id <> pr.src),
       |ed AS (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |        ORDER BY esim DESC, dst) AS erk
       |    FROM ce) t WHERE erk <= $graphDegree),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |qb AS (SELECT vec_id AS query_id, bucket AS qbk FROM b WHERE vec_id < 5),
       |en AS (SELECT qb.query_id, min(bf.vec_id) AS node
       |       FROM qb JOIN bf ON bf.bucket = qb.qbk GROUP BY qb.query_id),
       |f0 AS (SELECT en.query_id, en.node, ${cosSql("q.qv", "e.v")} AS sim
       |       FROM en JOIN e ON e.vec_id = en.node
       |       JOIN q ON q.query_id = en.query_id),
       |$rounds
       |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
       |  SELECT query_id, node AS neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, node) AS rnk
       |  FROM f$beamRounds WHERE node <> query_id) t
       |WHERE rnk <= 5""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the greedy rounds as nested CTEs: each ch<r> accumulates the chosen
    // set, each p<r> is the totally-ordered argmin of the per-vector max
    "s20_kcenter_seed" -> {
      val base =
        s"""$embNormSqlCtes,
          |c1 AS (SELECT vec_id, u FROM n ORDER BY vec_id LIMIT 1),
          |ch1 AS (SELECT vec_id, u FROM c1)""".stripMargin
      val rounds = (2 to 4).map { r =>
        s"""m$r AS (SELECT n.vec_id, max(${dSql("n.u", "c.u")}) AS ms
           |       FROM n CROSS JOIN ch${r - 1} c GROUP BY n.vec_id),
           |p$r AS (SELECT vec_id, ms FROM m$r ORDER BY ms ASC, vec_id LIMIT 1),
           |ch$r AS (SELECT vec_id, u FROM ch${r - 1}
           |         UNION ALL SELECT n.vec_id, n.u FROM n JOIN p$r USING (vec_id))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $base,
         |$rounds
         |SELECT CAST(1 AS BIGINT) AS seed_rank, vec_id,
         |  CAST(NULL AS DOUBLE) AS max_sim FROM c1
         |UNION ALL SELECT 2, vec_id, ms FROM p2
         |UNION ALL SELECT 3, vec_id, ms FROM p3
         |UNION ALL SELECT 4, vec_id, ms FROM p4""".stripMargin
    },

    // s7's normalize/seed/assign CTEs; the update is s15's per-(cluster,
    // dim) decimal mean over the normalized coordinates
    "s17_kmeans_step" ->
      s"""WITH $embNormSqlCtes,
         |$seedAssignSqlCtes,
         |x AS (SELECT asg.cid, CAST(g.i AS BIGINT) AS dim, asg.u[g.i] AS x
         |      FROM asg, LATERAL unnest(generate_series(1, len(asg.u))) AS g(i))
         |SELECT cid AS cluster_id, dim, count(*) AS n,
         |  ${graft.Exprs.davgSql("x", 6)} AS centroid
         |FROM x GROUP BY cid, dim""".stripMargin,

    // s17's round, unrolled 3× with spherical re-normalization between
    // rounds; every operand (decimal means, list rebuild order, fold-order
    // dots, sqrt) restated exactly
    "s18_kmeans_train" -> {
      def round(i: Int): String = {
        val prev = if (i == 1) "c0" else s"c${i - 1}"
        s"""a$i AS (SELECT vec_id, u, cid FROM (
           |    SELECT n.vec_id, n.u, $prev.cid,
           |      row_number() OVER (PARTITION BY n.vec_id
           |        ORDER BY ${dSql("n.u", s"$prev.cu")} DESC, $prev.cid) AS crk
           |    FROM n CROSS JOIN $prev) t WHERE crk = 1),
           |m$i AS (SELECT cid, CAST(g.i AS BIGINT) AS dim,
           |          ${graft.Exprs.davgSql("u[g.i]", 6)} AS c
           |        FROM a$i, LATERAL unnest(generate_series(1, len(u))) AS g(i)
           |        GROUP BY cid, dim),
           |r$i AS (SELECT cid, list(c ORDER BY dim) AS cl FROM m$i GROUP BY cid),
           |c$i AS (SELECT cid,
           |          list_transform(cl, x -> x / sqrt(${dSql("cl", "cl")})) AS cu
           |        FROM r$i)""".stripMargin
      }
      s"""WITH $embNormSqlCtes,
         |c0 AS (SELECT vec_id - 100 AS cid, u AS cu FROM n WHERE vec_id BETWEEN 100 AND 107),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |sz AS (SELECT cid, count(*) AS n_members FROM a3 GROUP BY cid)
         |SELECT c3.cid AS cluster_id, sz.n_members, CAST(g.i AS BIGINT) AS dim,
         |  c3.cu[g.i] AS centroid
         |FROM c3 JOIN sz USING (cid),
         |     LATERAL unnest(generate_series(1, len(c3.cu))) AS g(i)""".stripMargin
    },

    "s1_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |      FROM e CROSS JOIN q WHERE vec_id <> query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM p) r
         |WHERE rnk <= 10""".stripMargin,

    // the same per-dim max scales, half-up quantizer, dequantized cosine
    // fold, and (sim desc, id) cut — generated from the shared dq CTEs
    "s37_sq8_topk" ->
      s"""WITH $sq8DeqSql,
         |q AS (SELECT vec_id AS query_id, dv AS qv FROM dq WHERE vec_id < 5),
         |p AS (SELECT query_id, dq.vec_id AS neighbor_id, ${cosSql("qv", "dv")} AS sim
         |      FROM dq CROSS JOIN q WHERE dq.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM p) r
         |WHERE rnk <= 5""".stripMargin,

    // s4's recall join with the approximate side swapped for the
    // dequantized-store top-5 (same dq CTEs as s37's oracle)
    "s38_sq8_recall" ->
      s"""WITH $sq8DeqSql,
         |$exactTop5SqlCtes,
         |q2 AS (SELECT vec_id AS query_id, dv AS qv2 FROM dq WHERE vec_id < 5),
         |p2 AS (SELECT query_id, dq.vec_id AS neighbor_id, ${cosSql("qv2", "dv")} AS sim
         |       FROM dq CROSS JOIN q2 WHERE dq.vec_id <> q2.query_id),
         |a5 AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |         FROM p2) r WHERE rnk <= 5)
         |SELECT e5.query_id, sum(coalesce(a5.hit, 0)) / count(*) AS recall_at_5
         |FROM e5 LEFT JOIN a5
         |  ON e5.query_id = a5.query_id AND e5.neighbor_id = a5.neighbor_id
         |GROUP BY e5.query_id""".stripMargin,

    // the same multi-probe bucket build (s2's plane bits + hamming-1
    // flips), the same k-NN edge cut, and the beam rounds unrolled as
    // nested CTEs (s20's idiom) — every tiebreak and fold restated; the
    // plane count is DERIVED FROM THE DATA inside the SQL (the dp CTE's
    // integer CASE ladder restates autoPlanes with identical cap<<p
    // thresholds), matching the Spark default's derivation, so the two
    // engines can never desynchronize on the probe set (ADVICE r12 +
    // VERDICT r14 item 1)
    "s31_ann_graph_beam" -> graphBeamAutoSql(),

    // the knob restated: identical SQL generator at planes = 6
    "s32_ann_beam_planes6" -> graphBeamSql(6),

    // the POLICY restated: plane count derived from count(*) inside the
    // SQL via the same integer CASE ladder autoPlanes computes
    "s36_ann_beam_autoplanes" -> graphBeamAutoSql(),

    // the auto spelling with the predicate injected into its one bf CTE
    // — the filter semantics are the only delta the gate isolates
    "s39_ann_beam_filtered" -> graphBeamAutoSql("label % 2 = 0"),

    // the same postings, the same integer-min overlap, the same exact
    // cosine fold, and 1/(60+rank) on integer ranks — the DOUBLE cast is
    // explicit because DuckDB's 1.0 literal is DECIMAL and decimal
    // division would diverge from Spark's double division
    "s40_hybrid_rrf" ->
      s"""WITH post AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents) t
         |  GROUP BY 1, 2),
         |qp AS (SELECT doc_id AS query_id, tok, tf AS qtf
         |       FROM post WHERE doc_id < 5),
         |lex AS (SELECT query_id, doc_id, rl FROM (
         |    SELECT qp.query_id, post.doc_id,
         |      row_number() OVER (PARTITION BY qp.query_id
         |        ORDER BY sum(least(post.tf, qp.qtf)) DESC, post.doc_id)
         |        AS rl
         |    FROM post JOIN qp ON post.tok = qp.tok
         |      AND post.doc_id <> qp.query_id
         |    GROUP BY qp.query_id, post.doc_id) t WHERE rl <= 10),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |vp AS (SELECT query_id, vec_id AS doc_id, ${cosSql("qv", "v")} AS sim
         |       FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |vec AS (SELECT query_id, doc_id, rv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, doc_id) AS rv
         |    FROM vp) t WHERE rv <= 10),
         |f AS (SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         |        coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |        coalesce(CAST(1 AS DOUBLE) / (60 + rl), 0.0)
         |          + coalesce(CAST(1 AS DOUBLE) / (60 + rv), 0.0) AS rrf
         |      FROM lex FULL OUTER JOIN vec
         |        ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
         |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS rank
         |  FROM f) r WHERE rank <= 5""".stripMargin,

    // s40's oracle with the rarity weight injected into the lexical sum:
    // the same postings, df over the query vocabulary, w = (N·10⁶) // df
    // in pure integers (`//` and `div` both truncate on positive
    // operands), the same rank windows and 1/(60+rank) fusion
    "s41_hybrid_idf" ->
      s"""WITH post AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents) t
         |  GROUP BY 1, 2),
         |n AS (SELECT count(*) AS n FROM documents),
         |qp AS (SELECT doc_id AS query_id, tok, tf AS qtf
         |       FROM post WHERE doc_id < 5),
         |dfq AS (SELECT tok, count(*) AS df FROM post
         |        WHERE tok IN (SELECT tok FROM qp) GROUP BY 1),
         |sc AS (SELECT qp.query_id, post.doc_id,
         |         sum(least(post.tf, qp.qtf) * ((n.n * 1000000) // dfq.df))
         |           AS score
         |       FROM post JOIN qp ON post.tok = qp.tok
         |         AND post.doc_id <> qp.query_id
         |       JOIN dfq ON dfq.tok = post.tok, n
         |       GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rl FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id) AS rl
         |    FROM sc) t WHERE rl <= 10),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |vp AS (SELECT query_id, vec_id AS doc_id, ${cosSql("qv", "v")} AS sim
         |       FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |vec AS (SELECT query_id, doc_id, rv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, doc_id) AS rv
         |    FROM vp) t WHERE rv <= 10),
         |f AS (SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         |        coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |        coalesce(CAST(1 AS DOUBLE) / (60 + rl), 0.0)
         |          + coalesce(CAST(1 AS DOUBLE) / (60 + rv), 0.0) AS rrf
         |      FROM lex FULL OUTER JOIN vec
         |        ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
         |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS rank
         |  FROM f) r WHERE rank <= 5""".stripMargin,

    // s41's oracle with BM25 saturation/normalization in the lexical
    // sum: the same postings with dl attached by the same per-doc
    // window, df over the query vocabulary, and per term
    // w·22·tf·T // (10·tf·T + 3·T + 9·dl·N) in HUGEINT (mirroring
    // DECIMAL(38,0); `//` ≡ `div` on positive operands), the same rank
    // windows and 1/(60+rank) fusion
    "s42_hybrid_bm25" ->
      s"""WITH post AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents) t
         |  GROUP BY 1, 2),
         |pd AS (SELECT doc_id, tok, tf,
         |         sum(tf) OVER (PARTITION BY doc_id) AS dl FROM post),
         |n AS (SELECT count(*) AS n FROM documents),
         |tt AS (SELECT CAST(sum(tf) AS BIGINT) AS tt FROM post),
         |qv AS (SELECT doc_id AS query_id, tok FROM post WHERE doc_id < 5),
         |dfq AS (SELECT tok, count(*) AS df FROM post
         |        WHERE tok IN (SELECT tok FROM qv) GROUP BY 1),
         |sc AS (SELECT qv.query_id, pd.doc_id,
         |         sum((CAST((n.n * 1000000) // dfq.df AS HUGEINT)
         |                * 22 * pd.tf * tt.tt)
         |             // (10 * CAST(pd.tf AS HUGEINT) * tt.tt
         |                + 3 * CAST(tt.tt AS HUGEINT)
         |                + 9 * CAST(pd.dl AS HUGEINT) * n.n)) AS score
         |       FROM pd JOIN qv ON pd.tok = qv.tok
         |         AND pd.doc_id <> qv.query_id
         |       JOIN dfq ON dfq.tok = pd.tok, n, tt
         |       GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id, rl FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, doc_id) AS rl
         |    FROM sc) t WHERE rl <= 10),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |vp AS (SELECT query_id, vec_id AS doc_id, ${cosSql("qv", "v")} AS sim
         |       FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |vec AS (SELECT query_id, doc_id, rv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, doc_id) AS rv
         |    FROM vp) t WHERE rv <= 10),
         |f AS (SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
         |        coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         |        coalesce(CAST(1 AS DOUBLE) / (60 + rl), 0.0)
         |          + coalesce(CAST(1 AS DOUBLE) / (60 + rv), 0.0) AS rrf
         |      FROM lex FULL OUTER JOIN vec
         |        ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
         |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS rank
         |  FROM f) r WHERE rank <= 5""".stripMargin,

    // s4's recall join with the beam subquery inlined (a derived table
    // carrying its own WITH — names scoped inside, no collision with the
    // outer CTEs)
    "s33_beam_recall" ->
      s"""WITH ex AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qx AS (SELECT vec_id AS query_id, v AS qv FROM ex WHERE vec_id < 5),
         |px AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |       FROM ex CROSS JOIN qx WHERE vec_id <> query_id),
         |e5 AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY sim DESC, neighbor_id) AS rnk
         |         FROM px) r WHERE rnk <= 5),
         |beam AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |${graphBeamAutoSql()}) gb)
         |SELECT e5.query_id, sum(coalesce(beam.hit, 0)) / 5.0 AS recall_at_5
         |FROM e5 LEFT JOIN beam
         |  ON e5.query_id = beam.query_id AND e5.neighbor_id = beam.neighbor_id
         |GROUP BY e5.query_id""".stripMargin,

    // the same augmentation (u = v/√M ⊕ √(1−|v|²/M²), qu = q/|q| ⊕ 0),
    // the same centroid seeds/assign/probe CTEs as s5, the same raw-dot
    // payload — operand for operand
    "s30_mips_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_sum(list_transform(embedding::DOUBLE[],
         |               p -> p*p)) AS ns
         |           FROM embeddings),
         |mm AS (SELECT max(ns) AS mm FROM e),
         |n AS (SELECT vec_id, v,
         |        list_transform(v, x -> x / sqrt(mm))
         |          || [sqrt(greatest(0.0, 1.0 - ns / mm))] AS u
         |      FROM e CROSS JOIN mm),
         |cent AS (SELECT vec_id - 100 AS cid, u AS cu FROM n
         |         WHERE vec_id BETWEEN 100 AND 107),
         |asg AS (SELECT vec_id, u, v, cid FROM (
         |    SELECT n.vec_id, n.u, n.v, cent.cid,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${dSql("n.u", "cent.cu")} DESC, cent.cid) AS crk
         |    FROM n CROSS JOIN cent) t WHERE crk = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv,
         |        list_transform(v, x -> x / sqrt(ns)) || [0.0] AS qu
         |      FROM e WHERE vec_id < 5),
         |probes AS (SELECT query_id, qu, qv, cid FROM (
         |    SELECT q.query_id, q.qu, q.qv, cent.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dSql("q.qu", "cent.cu")} DESC, cent.cid) AS crk
         |    FROM q CROSS JOIN cent) t WHERE crk <= 2),
         |p AS (SELECT query_id, asg.vec_id AS neighbor_id,
         |        ${dSql("qu", "asg.u")} AS sim, ${dSql("qv", "asg.v")} AS ip
         |      FROM asg JOIN probes ON asg.cid = probes.cid
         |      WHERE asg.vec_id <> probes.query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ip FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rnk FROM p) r
         |WHERE rnk <= 5""".stripMargin,

    // the same augmented-cosine ranking fold (ip / (sqrt(qn)·sqrt(mm)))
    // and the same raw-dot payload, operand for operand
    "s29_mips_topk" -> {
      val ipSql = dSql("qv", "v")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_sum(list_transform(embedding::DOUBLE[],
         |               p -> p*p)) AS ns
         |           FROM embeddings),
         |mm AS (SELECT max(ns) AS mm FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, ns AS qn
         |      FROM e WHERE vec_id < 5),
         |sc AS (SELECT query_id, vec_id AS neighbor_id, $ipSql AS ip,
         |         $ipSql / (sqrt(qn) * sqrt(mm)) AS cos_aug
         |       FROM e CROSS JOIN q CROSS JOIN mm
         |       WHERE vec_id <> query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ip FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_aug DESC, neighbor_id) AS rnk
         |  FROM sc) r
         |WHERE rnk <= 5""".stripMargin
    },

    "s2_ann_lsh" -> {
      val probeList = ("qb" +: (0 until numPlanes).map(p => s"xor(qb, ${1 << p})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |q AS (SELECT query_id, qv, unnest($probeList) AS probe FROM (
         |        SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b
         |        WHERE vec_id < 5) q0),
         |p AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |      FROM b JOIN q ON b.bucket = q.probe AND b.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM p) r
         |WHERE rnk <= 5""".stripMargin
    },

    // the greedy MMR trace unrolled as nested CTEs (s20's idiom): the
    // same top-10 candidates, the same λ=1/2 halving, the same pairwise
    // cosine fold, every argmax tie-broken by id
    "s35_mmr_rerank" -> {
      def roundSql(r: Int): String = {
        val prev = s"ch${r - 1}"
        s"""m$r AS (SELECT c.query_id, c.neighbor_id, c.sim,
           |         max(${cosSql("ev.v", "eg.v")}) AS mp
           |       FROM cand c
           |       JOIN $prev g ON g.query_id = c.query_id
           |       JOIN e ev ON ev.vec_id = c.neighbor_id
           |       JOIN e eg ON eg.vec_id = g.neighbor_id
           |       WHERE NOT EXISTS (SELECT 1 FROM $prev x
           |         WHERE x.query_id = c.query_id
           |           AND x.neighbor_id = c.neighbor_id)
           |       GROUP BY 1, 2, 3),
           |p$r AS (SELECT query_id, neighbor_id, mmr FROM (
           |    SELECT query_id, neighbor_id, sim / 2 - mp / 2 AS mmr,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY sim / 2 - mp / 2 DESC, neighbor_id) AS rn
           |    FROM m$r) t WHERE rn = 1),
           |ch$r AS (SELECT query_id, neighbor_id FROM $prev
           |         UNION ALL SELECT query_id, neighbor_id FROM p$r)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |p AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |      FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |cand AS (SELECT query_id, neighbor_id, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id) AS rnk
         |    FROM p) r WHERE rnk <= 10),
         |c1 AS (SELECT query_id, neighbor_id, sim / 2 AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id) AS rn
         |    FROM cand) t WHERE rn = 1),
         |ch1 AS (SELECT query_id, neighbor_id FROM c1),
         |${roundSql(2)},
         |${roundSql(3)}
         |SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank, mmr
         |FROM c1
         |UNION ALL SELECT query_id, neighbor_id, 2, mmr FROM p2
         |UNION ALL SELECT query_id, neighbor_id, 3, mmr FROM p3""".stripMargin
    },

    // s2's probe restated with the label predicate on the CANDIDATE side
    // only (queries are unconstrained) — the pre-filter strategy verbatim
    "s34_ann_filtered" -> {
      val probeList = ("qb" +: (0 until numPlanes).map(p => s"xor(qb, ${1 << p})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, label, v, $bucketSql AS bucket FROM e),
         |q AS (SELECT query_id, qv, unnest($probeList) AS probe FROM (
         |        SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b
         |        WHERE vec_id < 5) q0),
         |p AS (SELECT query_id, vec_id AS neighbor_id, label,
         |        ${cosSql("qv", "v")} AS sim
         |      FROM b JOIN q ON b.bucket = q.probe AND b.vec_id <> q.query_id
         |      WHERE b.label % 2 = 0)
         |SELECT query_id, neighbor_id, label, CAST(rnk AS BIGINT) AS rnk, sim
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM p) r
         |WHERE rnk <= 5""".stripMargin
    },

    "s4_ann_recall" -> {
      val probeList = ("qb" +: (0 until numPlanes).map(p => s"xor(qb, ${1 << p})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$exactTop5SqlCtes,
         |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |q2 AS (SELECT query_id, qv, unnest($probeList) AS probe FROM (
         |         SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b
         |         WHERE vec_id < 5) q0),
         |p2 AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |       FROM b JOIN q2 ON b.bucket = q2.probe AND b.vec_id <> q2.query_id),
         |a5 AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |         FROM p2) r WHERE rnk <= 5)
         |SELECT e5.query_id, sum(coalesce(a5.hit, 0)) / 5.0 AS recall_at_5
         |FROM e5 LEFT JOIN a5
         |  ON e5.query_id = a5.query_id AND e5.neighbor_id = a5.neighbor_id
         |GROUP BY e5.query_id""".stripMargin
    },

    "s5_ann_ivf" ->
      s"""WITH $embNormSqlCtes,
         |$seedAssignSqlCtes,
         |$probesSqlCte,
         |p AS (SELECT query_id, asg.vec_id AS neighbor_id, ${dSql("qu", "asg.u")} AS sim
         |      FROM asg JOIN probes ON asg.cid = probes.cid
         |      WHERE asg.vec_id <> probes.query_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rnk FROM p) r
         |WHERE rnk <= 5""".stripMargin,

    // s5's normalize/seed/assign CTEs; the davg spelling is Exprs'
    "s22_quantization_error" ->
      s"""WITH $embNormSqlCtes,
         |$seedAssignSqlCtes,
         |er AS (SELECT asg.cid, 1.0 - ${dSql("asg.u", "cent.cu")} AS err
         |       FROM asg JOIN cent ON asg.cid = cent.cid)
         |SELECT cid, count(*) AS n_members,
         |  ${graft.Exprs.davgSql("err", 6)} AS mean_err,
         |  max(err) AS max_err
         |FROM er GROUP BY cid""".stripMargin,

    // same one-pass three-width scoring, same rank cuts, same eval join
    "s25_dim_truncation_recall" -> {
      def cos(a: String, b: String) =
        s"${dSql(a, b)} / (sqrt(${dSql(a, a)}) * sqrt(${dSql(b, b)}))"
      def block(wd: Int) =
        s"""SELECT CAST($wd AS BIGINT) AS width, t.query_id,
           |  CAST(sum(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS DOUBLE) / 5.0 AS recall_at_5
           |FROM t$wd t LEFT JOIN t64 ex
           |  ON t.query_id = ex.query_id AND t.neighbor_id = ex.neighbor_id
           |GROUP BY t.query_id""".stripMargin
      def rankCte(wd: Int) =
        s"""t$wd AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id, row_number() OVER (
           |    PARTITION BY query_id ORDER BY sim_$wd DESC, neighbor_id) AS rnk
           |  FROM sc) r WHERE rnk <= 5)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |         ${cos("qv", "v")} AS sim_64,
         |         ${cos("list_slice(qv, 1, 32)", "list_slice(v, 1, 32)")} AS sim_32,
         |         ${cos("list_slice(qv, 1, 16)", "list_slice(v, 1, 16)")} AS sim_16
         |       FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |${rankCte(16)},
         |${rankCte(32)},
         |${rankCte(64)}
         |${Seq(16, 32, 64).map(block).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // s6's cluster CTEs + davg-exact centroids in dim order; a/b are the
    // same conditional MINs, sil the same guarded division
    "s23_silhouette" ->
      s"""WITH RECURSIVE $embClusterSqlCtes,
         |mem AS (SELECT cl.cluster_id, e.vec_id, e.v
         |        FROM cl JOIN e ON cl.vec_id = e.vec_id),
         |cx AS (SELECT cluster_id, CAST(u.i AS BIGINT) AS pos, v[u.i] AS x
         |       FROM mem, LATERAL unnest(generate_series(1, len(v))) AS u(i)),
         |cd AS (SELECT cluster_id, pos, ${graft.Exprs.davgSql("x", 6)} AS c
         |       FROM cx GROUP BY cluster_id, pos),
         |cent AS (SELECT cluster_id, list(c ORDER BY pos) AS cv
         |         FROM cd GROUP BY cluster_id),
         |mn AS (SELECT vec_id, cluster_id, v, sqrt(${dSql("v", "v")}) AS vnrm
         |       FROM mem),
         |cn AS (SELECT cluster_id, cv, sqrt(${dSql("cv", "cv")}) AS cnrm
         |       FROM cent),
         |sc AS (SELECT m.vec_id, m.cluster_id, ct.cluster_id AS cid,
         |         1.0 - (${dSql("m.v", "ct.cv")} / (m.vnrm * ct.cnrm)) AS dist
         |       FROM mn m CROSS JOIN cn ct),
         |ab AS (SELECT vec_id, cluster_id,
         |         min(CASE WHEN cid = cluster_id THEN dist END) AS a,
         |         min(CASE WHEN cid <> cluster_id THEN dist END) AS b
         |       FROM sc GROUP BY vec_id, cluster_id),
         |sil AS (SELECT cluster_id,
         |          CASE WHEN b IS NULL OR greatest(a, b) <= 0.0 THEN 0.0
         |               ELSE (b - a) / greatest(a, b) END AS sil
         |        FROM ab)
         |SELECT cluster_id, count(*) AS n_members,
         |  ${graft.Exprs.davgSql("sil", 6)} AS mean_sil,
         |  min(sil) AS min_sil
         |FROM sil GROUP BY cluster_id""".stripMargin,

    // s23's centroid CTEs + sizes; same hoisted-norm cosine, same bar
    "s26_merge_candidates" ->
      s"""WITH RECURSIVE $embClusterSqlCtes,
         |mem AS (SELECT cl.cluster_id, e.vec_id, e.v
         |        FROM cl JOIN e ON cl.vec_id = e.vec_id),
         |sz AS (SELECT cluster_id, count(*) AS n FROM mem GROUP BY cluster_id),
         |cx AS (SELECT cluster_id, CAST(u.i AS BIGINT) AS pos, v[u.i] AS x
         |       FROM mem, LATERAL unnest(generate_series(1, len(v))) AS u(i)),
         |cd AS (SELECT cluster_id, pos, ${graft.Exprs.davgSql("x", 6)} AS c
         |       FROM cx GROUP BY cluster_id, pos),
         |cent AS (SELECT cd.cluster_id, list(c ORDER BY pos) AS cv
         |         FROM cd GROUP BY cd.cluster_id),
         |cn AS (SELECT cent.cluster_id, cv, sz.n, sqrt(${dSql("cv", "cv")}) AS nrm
         |       FROM cent JOIN sz ON cent.cluster_id = sz.cluster_id)
         |SELECT a.cluster_id AS cid_a, b.cluster_id AS cid_b,
         |  a.n AS n_a, b.n AS n_b,
         |  ${dSql("a.cv", "b.cv")} / (a.nrm * b.nrm) AS sim
         |FROM cn a JOIN cn b ON a.cluster_id < b.cluster_id
         |WHERE ${dSql("a.cv", "b.cv")} / (a.nrm * b.nrm) > 0.25""".stripMargin,

    // pqBase's codes verbatim; two stacked counts, integer-ppm skew
    "s24_code_utilization" ->
      s"""WITH $pqBase,
         |b AS (SELECT m, cid, count(*) AS nb FROM codes GROUP BY m, cid)
         |SELECT m, count(*) AS n_used, CAST(sum(nb) AS BIGINT) AS n_vecs,
         |  max(nb) AS max_bucket,
         |  CAST(max(nb) * 1000000 // sum(nb) AS BIGINT) AS skew_ppm
         |FROM b GROUP BY m""".stripMargin,

    // s5's normalize/seed/assign/probe CTEs with the rank window replaced
    // by the radius filter + per-query rollup
    "s21_range_search" ->
      s"""WITH $embNormSqlCtes,
         |$seedAssignSqlCtes,
         |$probesSqlCte,
         |p AS (SELECT query_id, asg.vec_id AS neighbor_id, ${dSql("qu", "asg.u")} AS sim
         |      FROM asg JOIN probes ON asg.cid = probes.cid
         |      WHERE asg.vec_id <> probes.query_id),
         |agg AS (SELECT query_id, count(*) AS n_matches, max(sim) AS max_sim
         |        FROM p WHERE sim >= 0.3 GROUP BY query_id)
         |SELECT q.query_id, CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches, max_sim
         |FROM (SELECT DISTINCT query_id FROM probes) q LEFT JOIN agg USING (query_id)"""
        .stripMargin,

    "s3_embed_neardup" -> {
      val dotU = dSql("a.u", "b.u")
      s"""WITH $labelledNormSqlCtes
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         |  $dotU AS sim
         |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $dotU > 0.3""".stripMargin
    },

    "s6_embed_clusters" ->
      s"""WITH RECURSIVE $embClusterSqlCtes
         |SELECT vec_id, cluster_id FROM cl""".stripMargin,

    // s13: s6's recursive-CTE clusters + the keep-best window + anti-join —
    // norm² spelled as the same sequential fold the normalize step uses.
    "s13_semantic_dedup" ->
      s"""WITH RECURSIVE $embClusterSqlCtes,
         |losers AS (
         |  SELECT vec_id FROM (
         |    SELECT cl.vec_id,
         |      row_number() OVER (PARTITION BY cl.cluster_id
         |        ORDER BY list_sum(list_transform(e.v, p -> p*p)) DESC, cl.vec_id) AS rk
         |    FROM cl JOIN e ON cl.vec_id = e.vec_id) t
         |  WHERE rk > 1)
         |SELECT vec_id, label FROM e
         |WHERE vec_id NOT IN (SELECT vec_id FROM losers)""".stripMargin,

    // s15: the shared cluster CTEs + elementwise decimal mean per
    // (cluster, dim) — davgSql is what makes the doubles hash-gateable
    "s15_cluster_centroids" ->
      s"""WITH RECURSIVE $embClusterSqlCtes,
         |x AS (SELECT cl.cluster_id, CAST(u.i AS BIGINT) AS dim, e.v[u.i] AS x
         |      FROM cl JOIN e ON cl.vec_id = e.vec_id,
         |           LATERAL unnest(generate_series(1, len(e.v))) AS u(i))
         |SELECT cluster_id, dim, count(*) AS n,
         |       ${graft.Exprs.davgSql("x", 6)} AS centroid
         |FROM x GROUP BY cluster_id, dim""".stripMargin,

    // s7's CTEs at the widest probe budget, candidates fanned to the
    // configs admitting their probe rank, rank-5 + recall per config
    "s19_nprobe_sweep" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$exactTop5SqlCtes,
         |$normSqlCte,
         |$seedAssignSqlCtes,
         |probes AS (SELECT query_id, qu, cid, crk FROM (
         |    SELECT n.vec_id AS query_id, n.u AS qu, cent.cid,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${dSql("n.u", "cent.cu")} DESC, cent.cid) AS crk
         |    FROM n CROSS JOIN cent WHERE n.vec_id < 5) t WHERE crk <= 4),
         |cand AS (SELECT probes.query_id, asg.vec_id AS neighbor_id,
         |           ${dSql("qu", "asg.u")} AS sim, u2.np AS nprobe
         |         FROM asg JOIN probes ON asg.cid = probes.cid,
         |              LATERAL unnest([1, 2, 4]) AS u2(np)
         |         WHERE asg.vec_id <> probes.query_id AND u2.np >= probes.crk),
         |top5 AS (SELECT nprobe, query_id, neighbor_id, 1 AS hit FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
         |      ORDER BY sim DESC, neighbor_id) AS rnk FROM cand) r WHERE rnk <= 5),
         |nc AS (SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY nprobe),
         |e5c AS (SELECT query_id, neighbor_id, u2.np AS nprobe
         |        FROM e5, LATERAL unnest([1, 2, 4]) AS u2(np))
         |SELECT CAST(e5c.nprobe AS BIGINT) AS nprobe, nc.n_candidates,
         |  CAST(sum(coalesce(t.hit, 0)) AS DOUBLE) / count(*) AS recall_at_5
         |FROM e5c LEFT JOIN top5 t
         |  ON e5c.nprobe = t.nprobe AND e5c.query_id = t.query_id
         | AND e5c.neighbor_id = t.neighbor_id
         |JOIN nc ON nc.nprobe = e5c.nprobe
         |GROUP BY e5c.nprobe, nc.n_candidates""".stripMargin,

    "s7_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$exactTop5SqlCtes,
         |$normSqlCte,
         |$seedAssignSqlCtes,
         |$probesSqlCte,
         |p2 AS (SELECT query_id, asg.vec_id AS neighbor_id, ${dSql("qu", "asg.u")} AS sim
         |       FROM asg JOIN probes ON asg.cid = probes.cid
         |       WHERE asg.vec_id <> probes.query_id),
         |a5 AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY sim DESC, neighbor_id) AS rnk FROM p2) r WHERE rnk <= 5)
         |SELECT e5.query_id, sum(coalesce(a5.hit, 0)) / 5.0 AS recall_at_5
         |FROM e5 LEFT JOIN a5
         |  ON e5.query_id = a5.query_id AND e5.neighbor_id = a5.neighbor_id
         |GROUP BY e5.query_id""".stripMargin,

    "s8_threshold_sweep" -> {
      val dotU = dSql("a.u", "b.u")
      s"""WITH $labelledNormSqlCtes,
         |p AS (SELECT $dotU AS sim
         |      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |      WHERE $dotU > 0.3),
         |t AS (SELECT unnest([0.3::DOUBLE, 0.5::DOUBLE, 0.7::DOUBLE, 0.9::DOUBLE]) AS threshold)
         |SELECT threshold,
         |  CAST(sum(CASE WHEN sim > threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
         |FROM t CROSS JOIN p GROUP BY threshold""".stripMargin
    },

    // s9: same codebook seeds, same three-dot L2 identity, same sequential
    // folds, same fixed-order four-term Σ_m — codes and scores replay
    // bit-for-bit.
    "s9_pq_ann" ->
      s"""WITH $pqCtes
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, approx_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY approx_sim DESC, neighbor_id) AS rnk FROM p) r
         |WHERE rnk <= 5""".stripMargin,

    "s10_pq_recall" ->
      s"""WITH $pqCtes,
         |$exactTop5SqlCtes,
         |a5 AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_sim DESC, neighbor_id) AS rnk FROM p) r WHERE rnk <= 5)
         |SELECT e5.query_id, sum(coalesce(a5.hit, 0)) / 5.0 AS recall_at_5
         |FROM e5 LEFT JOIN a5
         |  ON e5.query_id = a5.query_id AND e5.neighbor_id = a5.neighbor_id
         |GROUP BY e5.query_id""".stripMargin,

    // s11: pqBase's codes/LUT restricted to the coarse quantizer's probed
    // lists — same seeds, same folds, same fixed-order Σ_m as s9.
    "s11_ivf_pq" ->
      s"""WITH $ivfPqCtes
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, approx_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY approx_sim DESC, neighbor_id) AS rnk FROM p) r
         |WHERE rnk <= 5""".stripMargin,

    // s14: the s11 CTEs produce the ADC scores; the shortlist re-ranks by
    // the exact dot over the shared normalized vectors
    "s14_ann_rerank" ->
      s"""WITH $ivfPqCtes,
         |$rerankSqlCtes
         |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rnk FROM rr) t
         |WHERE rnk <= 5""".stripMargin,

    // s16: s14's shortlist-rerank CTEs feed a per-query majority vote
    "s16_knn_classify" ->
      s"""WITH $ivfPqCtes,
         |$rerankSqlCtes,
         |t5 AS (SELECT query_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY sim DESC, neighbor_id) AS rnk FROM rr) t
         |       WHERE rnk <= 5),
         |lb AS (SELECT vec_id, label FROM embeddings),
         |vt AS (SELECT t5.query_id, lb.label, count(*) AS votes
         |       FROM t5 JOIN lb ON t5.neighbor_id = lb.vec_id GROUP BY 1, 2),
         |pred AS (SELECT query_id, label AS pred_label,
         |                CAST(votes AS BIGINT) AS votes FROM (
         |           SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY votes DESC, label) AS rk FROM vt) t
         |         WHERE rk = 1)
         |SELECT p.query_id, lb.label AS true_label, p.pred_label, p.votes,
         |  CAST(CASE WHEN lb.label = p.pred_label THEN 1 ELSE 0 END AS BIGINT)
         |    AS correct
         |FROM pred p JOIN lb ON p.query_id = lb.vec_id""".stripMargin,

    "s12_ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
         |$exactTop5SqlCtes,
         |a5 AS (SELECT query_id, neighbor_id, 1 AS hit FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY approx_sim DESC, neighbor_id) AS rnk FROM p) r WHERE rnk <= 5)
         |SELECT e5.query_id, sum(coalesce(a5.hit, 0)) / 5.0 AS recall_at_5
         |FROM e5 LEFT JOIN a5
         |  ON e5.query_id = a5.query_id AND e5.neighbor_id = a5.neighbor_id
         |GROUP BY e5.query_id""".stripMargin,

    // s2's CTEs verbatim (pl), s5's verbatim (pi), same integer-ppb RRF
    // terms, same (rrf DESC, neighbor) fused rank
    "s27_rrf_fusion" -> {
      val probeList = ("qb" +: (0 until numPlanes).map(p => s"xor(qb, ${1 << p})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
         |q AS (SELECT query_id, qv, unnest($probeList) AS probe FROM (
         |        SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b
         |        WHERE vec_id < 5) q0),
         |pl AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
         |       FROM b JOIN q ON b.bucket = q.probe AND b.vec_id <> q.query_id),
         |lsh AS (SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS r_lsh FROM (
         |          SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, neighbor_id) AS rnk FROM pl) r
         |        WHERE rnk <= 5),
         |$normSqlCte,
         |$seedAssignSqlCtes,
         |$probesSqlCte,
         |pi AS (SELECT query_id, asg.vec_id AS neighbor_id, ${dSql("qu", "asg.u")} AS sim
         |       FROM asg JOIN probes ON asg.cid = probes.cid
         |       WHERE asg.vec_id <> probes.query_id),
         |ivf AS (SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS r_ivf FROM (
         |          SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, neighbor_id) AS rnk FROM pi) r
         |        WHERE rnk <= 5),
         |f AS (SELECT coalesce(lsh.query_id, ivf.query_id) AS query_id,
         |        coalesce(lsh.neighbor_id, ivf.neighbor_id) AS neighbor_id,
         |        coalesce(1000000000 // (60 + r_lsh), 0)
         |          + coalesce(1000000000 // (60 + r_ivf), 0) AS rrf_ppb,
         |        CAST(r_lsh IS NOT NULL AS BIGINT) AS in_lsh,
         |        CAST(r_ivf IS NOT NULL AS BIGINT) AS in_ivf
         |      FROM lsh FULL OUTER JOIN ivf
         |        ON lsh.query_id = ivf.query_id
         |       AND lsh.neighbor_id = ivf.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rrf_ppb AS BIGINT) AS rrf_ppb,
         |  CAST(fr AS BIGINT) AS fused_rank, in_lsh, in_ivf
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_ppb DESC, neighbor_id) AS fr FROM f) t
         |WHERE fr <= 5""".stripMargin
    },

    // same linearity trick (no expanded vector), same davg decimal mean
    // over the 5 feedback dots, same one-IEEE-add final score
    "s28_rocchio_expand" ->
      s"""WITH $embNormSqlCtes,
         |q AS (SELECT vec_id AS query_id, u AS qu FROM n WHERE vec_id < 5),
         |scored AS (SELECT query_id, n.vec_id AS neighbor_id, n.u,
         |             ${dSql("qu", "n.u")} AS sim0
         |           FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id),
         |top5 AS (SELECT query_id, neighbor_id AS rel_id FROM (
         |           SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY sim0 DESC, neighbor_id) AS rk
         |           FROM scored) t WHERE rk <= 5),
         |relv AS (SELECT t.query_id, n.u AS ru
         |         FROM top5 t JOIN n ON t.rel_id = n.vec_id),
         |boost AS (SELECT s.query_id, s.neighbor_id,
         |            ${graft.Exprs.davgSql(s"${dSql("r.ru", "s.u")}", 6)} AS boost
         |          FROM scored s JOIN relv r ON s.query_id = r.query_id
         |          GROUP BY s.query_id, s.neighbor_id),
         |re AS (SELECT s.query_id, s.neighbor_id,
         |         s.sim0 + CAST(b.boost AS DOUBLE) AS score
         |       FROM scored s JOIN boost b
         |         ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY score DESC, neighbor_id) AS rnk FROM re)
         |SELECT rr.query_id, rr.neighbor_id, CAST(rr.rnk AS BIGINT) AS rnk,
         |  rr.score, CAST(t.rel_id IS NOT NULL AS BIGINT) AS in_initial
         |FROM rr LEFT JOIN top5 t
         |  ON rr.query_id = t.query_id AND rr.neighbor_id = t.rel_id
         |WHERE rr.rnk <= 5""".stripMargin
  )

  private def dSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2]))"

  /** Oracle-side normalize CTE: `n.u = e.v / |e.v|`, the norm in the same
    * sequential fold as every dot. Requires `e` in scope. */
  private lazy val normSqlCte: String =
    """n AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u
      |      FROM (SELECT vec_id, v,
      |              sqrt(list_sum(list_transform(v, p -> p*p))) AS nrm FROM e) t)""".stripMargin

  /** The raw embeddings `e` and their normalized `n`. */
  private lazy val embNormSqlCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$normSqlCte""".stripMargin

  /** [[embNormSqlCtes]] with each vector's label carried through. */
  private lazy val labelledNormSqlCtes: String =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, list_transform(v, x -> x / nrm) AS u
      |      FROM (SELECT vec_id, label, v,
      |              sqrt(list_sum(list_transform(v, p -> p*p))) AS nrm FROM e) t)""".stripMargin

  /** IVF coarse quantizer: vectors 100..107 seed the 8 centroids `cent`,
    * and `asg` assigns each normalized vector to its max-dot centroid,
    * tie-broken by id. Requires `n` in scope. */
  private lazy val seedAssignSqlCtes: String =
    s"""cent AS (SELECT vec_id - 100 AS cid, u AS cu FROM n WHERE vec_id BETWEEN 100 AND 107),
       |asg AS (SELECT vec_id, u, cid FROM (
       |    SELECT n.vec_id, n.u, cent.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dSql("n.u", "cent.cu")} DESC, cent.cid) AS crk
       |    FROM n CROSS JOIN cent) t WHERE crk = 1)""".stripMargin

  /** The 2 nearest centroids of each query (vec_id < 5). Requires `n` and
    * `cent` in scope. */
  private lazy val probesSqlCte: String =
    s"""probes AS (SELECT query_id, qu, cid FROM (
       |    SELECT n.vec_id AS query_id, n.u AS qu, cent.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dSql("n.u", "cent.cu")} DESC, cent.cid) AS crk
       |    FROM n CROSS JOIN cent WHERE n.vec_id < 5) t WHERE crk <= 2)""".stripMargin

  /** Each query's exact cosine top-5 `e5` (ties by id), the truth the
    * recall oracles score against. Requires `e` in scope. */
  private lazy val exactTop5SqlCtes: String =
    s"""q1 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |p1 AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("qv", "v")} AS sim
       |       FROM e CROSS JOIN q1 WHERE vec_id <> query_id),
       |e5 AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |         FROM p1) r WHERE rnk <= 5)""".stripMargin

  /** Oracle-side shortlist + exact-re-rank CTEs (s14/s16): ADC top-20 →
    * exact dot over the shared normalized vectors. Requires the ivfPq
    * CTEs (`p`, `n`) in scope. */
  private lazy val rerankSqlCtes: String =
    s"""sh AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY approx_sim DESC, neighbor_id) AS rnk FROM p) r
       |       WHERE rnk <= 20),
       |qn AS (SELECT vec_id AS query_id, u AS qu FROM n WHERE vec_id < 5),
       |rr AS (SELECT sh.query_id, sh.neighbor_id, ${dSql("qn.qu", "nn.u")} AS sim
       |       FROM sh JOIN n nn ON sh.neighbor_id = nn.vec_id
       |               JOIN qn ON sh.query_id = qn.query_id)""".stripMargin

  /** Shared oracle-side embedding cluster CTEs (s6/s13/s15): normalize →
    * label-blocked cosine edges → undirected closure → recursive
    * reachability → min-id cluster label. Requires WITH RECURSIVE. */
  private lazy val embClusterSqlCtes: String =
    s"""$labelledNormSqlCtes,
       |edges AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${dSql("a.u", "b.u")} > 0.3),
       |und AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
       |reach(v, r) AS (
       |  SELECT a, a FROM und
       |  UNION
       |  SELECT u2.a, r.r FROM und u2 JOIN reach r ON u2.b = r.v),
       |cl AS (SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  private lazy val pCols = (0 until 4).map(m =>
    s"max(CASE WHEN codes.m = $m THEN pdot END) AS p$m").mkString(",\n        ")

  /** Shared oracle-side PQ base (s9/s10/s11/s12): subspace split → codebook
    * → L2-argmin codes → query LUT. */
  private lazy val pqBase: String =
    s"""$embNormSqlCtes,
       |sub AS (SELECT vec_id, m, list_slice(u, m*16+1, m*16+16) AS su
       |        FROM n CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) ms),
       |cent AS (SELECT vec_id - 100 AS cid, m, su AS cu
       |         FROM sub WHERE vec_id BETWEEN 100 AND 107),
       |codes AS (SELECT vec_id, m, cid FROM (
       |    SELECT sub.vec_id, sub.m, cent.cid,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.m
       |        ORDER BY ${dSql("su", "su")} - 2.0 * ${dSql("su", "cu")} + ${dSql("cu", "cu")},
       |                 cent.cid) AS crk
       |    FROM sub JOIN cent ON sub.m = cent.m) t WHERE crk = 1),
       |lut AS (SELECT q.vec_id AS query_id, q.m, cent.cid, ${dSql("q.su", "cent.cu")} AS pdot
       |        FROM sub q JOIN cent ON q.m = cent.m WHERE q.vec_id < 5)""".stripMargin

  /** All-pairs ADC scores (s9/s10). */
  private lazy val pqCtes: String =
    s"""$pqBase,
       |g AS (SELECT query_id, codes.vec_id AS neighbor_id,
       |        $pCols
       |      FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
       |      WHERE codes.vec_id <> lut.query_id
       |      GROUP BY query_id, codes.vec_id),
       |p AS (SELECT query_id, neighbor_id, p0 + p1 + p2 + p3 AS approx_sim FROM g)""".stripMargin

  /** IVF-restricted ADC scores (s11/s12): the coarse quantizer's probed
    * lists bound the candidate set, then the same LUT scoring applies. */
  private lazy val ivfPqCtes: String =
    s"""$pqBase,
       |ccent AS (SELECT vec_id - 100 AS ivf, u AS cu FROM n WHERE vec_id BETWEEN 100 AND 107),
       |casg AS (SELECT vec_id, ivf FROM (
       |    SELECT n.vec_id, ccent.ivf,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dSql("n.u", "ccent.cu")} DESC, ccent.ivf) AS crk
       |    FROM n CROSS JOIN ccent) t WHERE crk = 1),
       |cprobes AS (SELECT query_id, ivf FROM (
       |    SELECT n.vec_id AS query_id, ccent.ivf,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${dSql("n.u", "ccent.cu")} DESC, ccent.ivf) AS crk
       |    FROM n CROSS JOIN ccent WHERE n.vec_id < 5) t WHERE crk <= 2),
       |cand AS (SELECT cprobes.query_id, casg.vec_id
       |         FROM casg JOIN cprobes USING (ivf)
       |         WHERE casg.vec_id <> cprobes.query_id),
       |g AS (SELECT cand.query_id, codes.vec_id AS neighbor_id,
       |        $pCols
       |      FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |        JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
       |          AND lut.query_id = cand.query_id
       |      GROUP BY cand.query_id, codes.vec_id),
       |p AS (SELECT query_id, neighbor_id, p0 + p1 + p2 + p3 AS approx_sim FROM g)""".stripMargin
}
