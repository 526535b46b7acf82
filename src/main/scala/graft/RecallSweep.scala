package graft

import scala.collection.immutable.ListMap

/** Measure the graph-ANN plane-count knob (VERDICT r12 item 7): recall@5
  * of graphBeam at each requested hyperplane count against s1's exact
  * brute-force top-5, on a real data dir. The knob's policy is
  * planes ≈ log2(N / targetBucketPop) — this harness produces the measured
  * curve that justifies it (recall flattens once buckets are small enough
  * for the df-capped edge build to see every true neighbor candidate).
  * Results merge into SCALE_FULL.json keyed `s31_recall@<dir>@p<planes>`.
  *
  * Usage: runMain graft.RecallSweep [sfDir] [p1,p2,...]
  * A token `auto` derives the count from the corpus via the s36 policy
  * (Similarity.autoPlanes) and keys the artifact row `...@pauto<derived>`.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val tokens = (if (args.length > 1) args(1) else "4,6,8")
      .split(",").map(_.trim).toSeq
    val spark = GraftSession.start()

    val exact5 = graft.operators.Similarity.defs("s1_knn_brute")(spark, dir)
      .collect().filter(_.getLong(2) <= 5)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sfTag = dir.split('/').last
    lazy val derived = graft.operators.Similarity.autoPlanes(
      spark.read.parquet(s"$dir/embeddings.parquet").count())
    val entries = tokens.map { tok =>
      // token "sq8" measures the scalar-quantized store (s37) instead of
      // the beam walk — quantization recall should be corpus-size-
      // INDEPENDENT (per-dim rounding error doesn't grow with N), and the
      // volume-pure fixture rows are the evidence
      val (got, key, probe) =
        if (tok == "sq8") {
          val g = graft.operators.Similarity.sq8TopK(spark, dir)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          // keyed by the EVALUATOR's query id (s38 grades the s37 store),
          // so artifact keys map 1:1 to gate query ids (ADVICE r14)
          (g, s"s38_recall@$sfTag", "store" -> "sq8")
        } else {
          val (p, label) =
            if (tok == "auto") (derived, s"auto$derived") else (tok.toInt, tok)
          val g = graft.operators.Similarity.graphBeam(spark, dir, p)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          (g, s"s31_recall@$sfTag@p$label", "planes" -> p)
        }
      // denominator is the exact ground-truth PAIR COUNT, not 5·|queries|:
      // on a tiny data dir a query can have < 5 neighbors, and assuming 5
      // silently understates recall (ADVICE r13)
      val recall = got.count(exact5) / exact5.size.toDouble
      println(Bench.json.writeValueAsString(ListMap("metric" -> "ann_recall",
        "dir" -> dir, probe, "recall_at_5" -> recall)))
      key -> Bench.fixed(recall, 3).toString
    }
    SmokeArtifact.merge(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_FULL.json"), entries)
    spark.stop()
  }
}
