package graft

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
  * Prints one JSON line per the Bench format (median of 3 timed runs
  * after a warm-up, noop-write forcing). Only documents- (d/t/w),
  * embeddings- (s), and g1's two-column lineitem-backed queries are valid
  * — each table is replicated only when a selected query needs it, and
  * the replicated lineitem carries ONLY (l_orderkey, l_partkey), so other
  * lineitem queries are not valid against this dir. For embeddings,
  * corpus-wide queries (s3 near-dup, s6 components) are the meaningful
  * targets; the fixed `vec_id < 5` query sets of s1/s2/s5/s9 change
  * meaning under re-keying.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val names = (if (args.length > 2) args(2) else
      "d1_exact_dedup,d2_minhash_sig,d3_lsh_pairs,d4_jaccard_pairs,d13_dup_shingles,t8_tfidf,w1_wordcount")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.start()

    val dir = s"/tmp/graft-scale-$factor"
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
    if (needsDocs) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") * factor + i)
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // embeddings: volume-pure means re-keying the LABEL too — with shared
    // labels, replicas land in the same blocking group and the s3 pair join
    // grows by factor² instead of factor. Re-keyed, group sizes (and the
    // near-dup structure inside each) are the original's, at factor× the
    // group count; vectors themselves are unchanged.
    if (needsEmb) {
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      (0 until factor).map { i =>
        emb.withColumn("vec_id", col("vec_id") * factor + i)
          .withColumn("label", col("label") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    // lineitem (g1's graph source), volume-pure: re-keying BOTH orderkey
    // and partkey makes the replicated co-order graph N disjoint copies of
    // the original — same degrees, same triangles per copy, N× the volume.
    // Only the two columns g1 reads are written.
    if (needsLineitem) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      (0 until factor).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") * factor + i)
          .withColumn("l_partkey", col("l_partkey") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    // g26 joins part for its LPA seed labels: replicate part on the SAME
    // re-key as the g-branch lineitem so every replicated vertex keeps its
    // brand — factor disjoint copies of the labeled graph. Communities
    // merge by brand NAME across copies, so the output stays
    // |brands|-sized while every community carries factor× the vertices.
    if (names.contains("g26_modularity")) {
      val part = spark.read.parquet(s"$base/part.parquet")
        .select(col("p_partkey"), col("p_brand"))
      (0 until factor).map { i =>
        part.withColumn("p_partkey", col("p_partkey") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
    }
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
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until factor).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$base/orders.parquet")
      (0 until factor).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      for (t <- Seq("customer", "nation", "region", "part"))
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // q62's scale axis is the DIMENSION itself (an SCD apply maps over
    // however many dimension rows exist): replicate customer on re-keyed
    // custkey. Exclusive with the star-join branch's fixed-dims copy.
    val needsDim = names.contains("q62_scd2_merge")
    require(!(needsDim && needsFacts),
      "q62 replicates customer; the star-join branch copies it fixed — run them separately")
    if (needsDim) {
      val cust = spark.read.parquet(s"$base/customer.parquet")
      (0 until factor).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }
    // events (the behavioral queries' source), volume-pure: re-keying
    // user_id and event_id makes the replicated stream N disjoint user
    // populations over the SAME time axis — per-user session structure is
    // the original's, the hour histogram keeps its shape at N× the rows,
    // and per-hour concurrency scales ×N (exactly the hot-hour stress a
    // sweep-line must absorb). Valid for user-keyed event-time queries
    // (q16/q42/q43/q45/q46); value/props-analytics keep their meaning too.
    val needsEvents =
      names.exists(n => n.startsWith("q") && n != "q64_temporal_join" &&
        n != "q62_scd2_merge" && !relationalFactQs.contains(n))
    if (needsEvents) {
      val ev = graft.sources.Tables.load(spark, base, "events")
      (0 until factor).map { i =>
        ev.withColumn("user_id", col("user_id") * factor + i)
          .withColumn("event_id", col("event_id") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    // q64's scale axis is the FACT: replicate events re-keying event_id
    // ONLY — user keys stay intact so the PIT join rate is the original's,
    // each user carries factor× the events, and the versioned customer
    // dimension (copied fixed) stays broadcast-sized. Exclusive with the
    // generic events branch (which re-keys user_id and would silently
    // zero the dimension join) and with the branches that write customer
    // in other shapes.
    val needsPit = names.contains("q64_temporal_join")
    require(!(needsPit && needsEvents),
      "q64 replicates events keeping user keys; the generic events branch re-keys them — run separately")
    require(!(needsPit && (needsFacts || needsDim)),
      "q64 copies customer fixed; other branches write it differently — run separately")
    if (needsPit) {
      val ev = graft.sources.Tables.load(spark, base, "events")
      (0 until factor).map { i =>
        ev.withColumn("event_id", col("event_id") * factor + i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      spark.read.parquet(s"$base/customer.parquet")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }

    val clearBlocks = GraftSession.blockCleaner(spark)

    // PEAK-STORAGE SAMPLER (OPTIMIZATION r18, VERDICT r17 item 8): the
    // Components rewrite holds every round's hook map live until the
    // end-of-loop composition — O(Σ|mᵢ|) = O(V) peak block-manager
    // storage by the geometric-shrink argument, but the argument needed a
    // measured datapoint at a large vertex set. A daemon thread samples
    // the block manager's total persisted bytes (mem + disk) every 50 ms
    // while each query runs; the per-query max rides the artifact as
    // peak_storage_mb. Measurement-tool only — no query-path change.
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
    names.foreach { name =>
      GraftSession.force(spark, name, dir); clearBlocks()
      peak = 0L; sampling = true
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        GraftSession.force(spark, name, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        clearBlocks()
        dt
      }.sorted
      sampling = false
      timings(name) = ts(1)
      peaks(name) = peak / 1e6
    }
    val qs = timings.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","factor":$factor,"base":"$base","queries":$qs}""")
    // persist as a committed, diffable artifact keyed query@factor
    // (VERDICT r12 item 6) — accumulates across per-family invocations
    SmokeArtifact.merge(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_FULL.json"),
      timings.toSeq.map { case (k, v) =>
        val pk = String.format(java.util.Locale.ROOT, "%.1f",
          Double.box(peaks(k)))
        s"$k@${factor}x" -> s"""{"sec":$v,"base":"$base","peak_storage_mb":$pk}""" })
    spark.stop()
  }
}
