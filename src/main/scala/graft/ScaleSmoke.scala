package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forward-scaling smoke: replicate the documents corpus N× and time the
  * document-table queries on it — the "would this hold at 10×/100× the
  * data" question answered by measurement instead of plan-reading.
  *
  * Replication is VOLUME-pure: every replica's tokens are prefixed with a
  * replica tag (`r3_word`), so all shingles/fingerprints/tokens differ
  * across replicas — no cross-replica duplicate or near-dup structure is
  * created, each replica carries exactly the original corpus's dup
  * structure, and the workload is the original difficulty at N× the rows.
  * (Identical-text replication is the OTHER experiment — the viral-bucket
  * stress — and lives in DedupScaleSpec.) `doc_id`s are re-keyed
  * `id·N + replica` to stay unique; `n_chars` is recomputed to keep the
  * `length(text)` invariant the quality queries rely on.
  *
  * Usage: runMain graft.ScaleSmoke [baseSfDir] [factor] [q1,q2,...]
  * Each query is measured by [[Bench.measure]] (warm-up, median of 3
  * noop-forced timed runs, contention re-run); prints one JSON line whose
  * `errors` map lists the queries that failed (those rows are not merged
  * into the artifact). Only documents- (d/t/w),
  * embeddings- (s), and g1's two-column lineitem-backed queries are valid
  * — each table is replicated only when a selected query needs it, and
  * the replicated lineitem carries ONLY (l_orderkey, l_partkey), so other
  * lineitem queries are not valid against this dir. For embeddings,
  * corpus-wide queries (s3 near-dup, s6 components) are the meaningful
  * targets; the fixed `vec_id < 5` query sets of s1/s2/s5/s9 change
  * meaning under re-keying.
  */
object ScaleSmoke {

  /** `factor` copies of `df`, copy `i` re-keyed by `rekey(df, i)`, unioned.
    * The re-keys below are the replica rules StreamScaleSmoke shares. */
  def replicate(df: DataFrame, factor: Int)(
      rekey: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(rekey(df, _)).reduce(_ union _)

  /** Copy `i` with each of `keys` re-keyed `key·factor + i`: disjoint. */
  def offsetKeys(factor: Int, keys: String*)(df: DataFrame, i: Int): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) * factor + i))

  /** Events as `factor` disjoint user populations on the SAME time axis:
    * per-user sessions are the original's, the hour histogram keeps its
    * shape, and per-hour concurrency scales `factor`×. */
  def disjointUsers(factor: Int): (DataFrame, Int) => DataFrame =
    offsetKeys(factor, "user_id", "event_id")

  /** Events with only `event_id` re-keyed: user keys, and so a
    * point-in-time join's rate, stay the original's. */
  def factsOnly(factor: Int): (DataFrame, Int) => DataFrame =
    offsetKeys(factor, "event_id")

  /** Documents, volume-pure (tagged tokens, recomputed `n_chars`; see
    * above). */
  def volumePureDocs(factor: Int)(df: DataFrame, i: Int): DataFrame =
    offsetKeys(factor, "doc_id")(df, i)
      .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val names = SparkEntry.select(Some(args.lift(2).getOrElse(
      "d1_exact_dedup,d2_minhash_sig,d3_lsh_pairs,d4_jaccard_pairs,d13_dup_shingles,t8_tfidf,w1_wordcount")),
      SparkEntry.queries.keys)
    val spark = GraftSession.start()

    val dir = s"/tmp/graft-scale-$factor"
    def put(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    def read(table: String): DataFrame = spark.read.parquet(s"$base/$table.parquet")
    // replicate only what the selected queries read — an absent table in
    // `base` stays a non-issue unless a query actually needs it
    val needsDocs = names.exists(n =>
      n.startsWith("d") || n.startsWith("t") || n.startsWith("w") ||
        n.startsWith("m") || // multimodal queries are documents-backed too
        // the hybrids read docs (lexical side) + embeddings (vector side)
        n == "s40_hybrid_rrf" || n == "s41_hybrid_idf" ||
        n == "s42_hybrid_bm25")
    val needsEmb = names.exists(_.startsWith("s"))
    // g25 reads orders TOO (the bipartite customer->part graph) — it runs
    // on the star-join facts branch below, where customers and parts stay
    // fixed and the factor× re-keyed orders stress the pre-distinct edge
    // BUILD (the distinct edge set itself is invariant by construction)
    val needsLineitem = names.exists(n => n.startsWith("g") && n != "g25_hits")
    if (needsDocs)
      put("documents", replicate(read("documents"), factor)(volumePureDocs(factor)))
    // embeddings: volume-pure means re-keying the LABEL too — with shared
    // labels, replicas land in the same blocking group and the s3 pair join
    // grows by factor² instead of factor. Re-keyed, group sizes (and the
    // near-dup structure inside each) are the original's, at factor× the
    // group count; vectors themselves are unchanged.
    if (needsEmb)
      put("embeddings", replicate(read("embeddings"), factor)(
        offsetKeys(factor, "vec_id", "label")))
    // lineitem (g1's graph source), volume-pure: re-keying BOTH orderkey
    // and partkey makes the replicated co-order graph N disjoint copies of
    // the original — same degrees, same triangles per copy, N× the volume.
    // Only the two columns g1 reads are written.
    if (needsLineitem)
      put("lineitem", replicate(
        read("lineitem").select(col("l_orderkey"), col("l_partkey")), factor)(
        offsetKeys(factor, "l_orderkey", "l_partkey")))
    // g26 joins part for its LPA seed labels: replicate part on the SAME
    // re-key as the g-branch lineitem so every replicated vertex keeps its
    // brand — factor disjoint copies of the labeled graph. Communities
    // merge by brand NAME across copies, so the output stays
    // |brands|-sized while every community carries factor× the vertices.
    if (names.contains("g26_modularity"))
      put("part", replicate(
        read("part").select(col("p_partkey"), col("p_brand")), factor)(
        offsetKeys(factor, "p_partkey")))
    // TPC-H star-join facts (q53/q55/q61 — VERDICT r9 item 3): replicate
    // lineitem and orders with re-keyed ORDER keys only; dimensions
    // (customer/nation/region) stay fixed — the realistic 100 TB shape
    // (facts grow, dims don't), so every customer carries factor× the
    // orders, the per-(year, nation) and per-priority groups grow factor×
    // deep at the same group count, and the broadcast side stays
    // broadcast-sized. Mutually exclusive with the g-branch's two-column
    // lineitem above (different shapes of the same file).
    val relationalFactQs =
      Set("q53_customer_returns", "q55_market_share", "q61_fulfillment_span",
        // the skew audit reads the same replicated facts: group COUNT stays,
        // group sizes grow factor× — the "facts grow" histogram shape
        "q66_join_skew_audit",
        // the salted join's axis is the same (l_partkey groups grow factor×
        // deep, part stays fixed); uniform growth moves the mean with the
        // groups, so the measured path is the production COLD path (count
        // pass + SMJ) at factor× volume — the hot path is SkewJoinSpec's
        // flooded fixture
        "q67_salted_join",
        // islands: o_orderkey re-keyed on BOTH facts keeps the per-order
        // collapse intact while every customer carries factor× the
        // intervals — the per-customer window-depth stress
        "q68_interval_islands",
        // reconciliation reads only lineitem; replication grows every
        // bucket factor× deep at the same bucket count
        "q71_rollup_reconciliation",
        // HITS: the order-key re-key multiplies the pre-distinct edge
        // rows factor× while the distinct (customer, part) graph — and
        // so the power rounds' answer — stays the original's
        "g25_hits")
    val needsFacts = names.exists(relationalFactQs.contains)
    require(!(needsFacts && needsLineitem),
      "g-queries and relational fact queries replicate lineitem differently — run them separately")
    if (needsFacts) {
      put("lineitem", replicate(read("lineitem"), factor)(offsetKeys(factor, "l_orderkey")))
      put("orders", replicate(read("orders"), factor)(offsetKeys(factor, "o_orderkey")))
      for (t <- Seq("customer", "nation", "region", "part")) put(t, read(t))
    }
    // q62's scale axis is the DIMENSION itself (an SCD apply maps over
    // however many dimension rows exist): replicate customer on re-keyed
    // custkey. Exclusive with the star-join branch's fixed-dims copy.
    val needsDim = names.contains("q62_scd2_merge")
    require(!(needsDim && needsFacts),
      "q62 replicates customer; the star-join branch copies it fixed — run them separately")
    if (needsDim)
      put("customer", replicate(read("customer"), factor)(offsetKeys(factor, "c_custkey")))
    // events (the behavioral queries' source), volume-pure as
    // `disjointUsers`. Valid for user-keyed event-time queries
    // (q16/q42/q43/q45/q46); value/props-analytics keep their meaning too.
    val needsEvents =
      names.exists(n => n.startsWith("q") && n != "q64_temporal_join" &&
        n != "q62_scd2_merge" && !relationalFactQs.contains(n))
    if (needsEvents)
      put("events", replicate(graft.sources.Tables.load(spark, base, "events"),
        factor)(disjointUsers(factor)))

    // q64's scale axis is the FACT: `factsOnly` events, with the versioned
    // customer dimension copied fixed so it stays broadcast-sized.
    // Exclusive with the generic events branch (which re-keys user_id and
    // would silently zero the dimension join) and with the branches that
    // write customer in other shapes.
    val needsPit = names.contains("q64_temporal_join")
    require(!(needsPit && needsEvents),
      "q64 replicates events keeping user keys; the generic events branch re-keys them — run separately")
    require(!(needsPit && (needsFacts || needsDim)),
      "q64 copies customer fixed; other branches write it differently — run separately")
    if (needsPit) {
      put("events", replicate(graft.sources.Tables.load(spark, base, "events"),
        factor)(factsOnly(factor)))
      put("customer", read("customer"))
    }

    // PEAK-STORAGE SAMPLER (OPTIMIZATION r18, VERDICT r17 item 8): the
    // Components rewrite holds every round's hook map live until the
    // end-of-loop composition — O(Σ|mᵢ|) = O(V) peak block-manager
    // storage by the geometric-shrink argument, but the argument needed a
    // measured datapoint at a large vertex set. A daemon thread samples
    // the block manager's total persisted bytes (mem + disk) every 50 ms
    // across each query's whole measurement (warm-up included); the
    // per-query max rides the artifact as peak_storage_mb.
    // Measurement-tool only — no query-path change.
    @volatile var peak = 0L
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val cur = spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum
          if (cur > peak) peak = cur
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val peaks = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      peak = 0L; sampling = true
      val m = Bench.measure(spark, name, dir, 3)
      sampling = false
      m.error match {
        case Some(e) => errors(name) = e
        case None =>
          timings(name) = m.median
          peaks(name) = peak / 1e6
      }
    }
    println(Bench.json.writeValueAsString(ListMap("metric" -> "scale_smoke",
      "factor" -> factor, "base" -> base, "queries" -> timings,
      "errors" -> errors)))
    // persist as a committed, diffable artifact keyed query@factor
    // (VERDICT r12 item 6) — accumulates across per-family invocations
    SmokeArtifact.merge(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_FULL.json"),
      timings.toSeq.map { case (k, v) =>
        s"$k@${factor}x" -> Bench.json.writeValueAsString(ListMap(
          "sec" -> v, "base" -> base,
          "peak_storage_mb" -> Bench.fixed(peaks(k), 1))) })
    spark.stop()
  }
}
