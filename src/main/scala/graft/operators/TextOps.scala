package graft.operators

import graft.{GraftCkpt, TempRoot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Text-analysis operators over the `documents` table.
  *
  * `w1_wordcount` is the reference's entire capability surface re-expressed
  * declaratively: tokenize (hw4.cc:457-466 `split`) → map to KV (hw4.cc:468-474
  * `map_func`) → shuffle/group/sum (hw4.cc:369-382 `group`, 359-367 `red`) all
  * fuse into `explode(split(...))` + `groupBy.count` — one shuffle, partial
  * aggregation map-side (the combiner the reference lacks, SURVEY.md §2.1 #10).
  *
  * The rest is the LLM-training-pipeline text surface: token stats, quality
  * scoring, language ID (stopword heuristic), fingerprinting. All expressions
  * are codegen'd built-ins (no UDFs) and all per-doc math is exact integer /
  * single-division arithmetic so the DuckDB oracle matches bit-for-bit.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** t33/t35's shared oracle: the same normalization over the parquet twin
    * of the staged JSONL — lossless round trip for long/string columns, so
    * row equality IS the ingestion proof. */
  private val crawlIngestSql: String =
    """SELECT doc_id, lower(trim(lang)) AS lang, source,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
      |FROM documents
      |WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |  AND length(text) > 0""".stripMargin

  /** t33/t35's shared arrival normalization: contract filter (non-null id,
    * non-empty text), lang canonicalized, token count stamped — ONE
    * definition so the two ingestion formats can never drift (they share
    * the oracle too). One codegen'd projection, no shuffle. */
  private def crawlNormalize(raw: DataFrame): DataFrame = raw
    .filter(col("doc_id").isNotNull && col("text").isNotNull &&
      length(col("text")) > 0)
    .select(col("doc_id"), lower(trim(col("lang"))).as("lang"),
      col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
      col("n_chars"))

  /** The explicit ingestion contract for raw-crawl JSONL — schema-on-read
    * with a DECLARED schema, never inference (inference is a full extra
    * pass over 100 TB and a schema lottery per shard). */
  private[graft] val crawlSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Function words for the stopword-ratio heuristics (shared with oracles
    * and with the d10 corpus pipeline). */
  private[operators] val stopwords = Seq("the", "a", "of", "to", "in", "and", "is")
  private[operators] val stopSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Stage the t2 quality inputs on a documents frame: token array `w`,
    * `n_tokens`, `n_stop`. ONE definition feeds t2, t7, and Dedup.d10 —
    * the quality bar must not drift between the scorer and its consumers. */
  private[operators] def withQualityCols(df: DataFrame): DataFrame = df
    .withColumn("w", split(col("text"), " "))
    .withColumn("n_tokens", size(col("w")).cast(LongType))
    .withColumn("n_stop",
      size(expr(s"filter(w, x -> x IN ($stopSqlList))")).cast(LongType))

  /** t27's overlapping-chunk manifest (128-token windows, stride 96) over
    * ANY documents-schema frame — factored so d28's duplicate-chunk
    * detector consumes exactly the chunks t27 ships. */
  private[graft] def ragChunks(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast(LongType).as("n"))
      .select(col("doc_id"), col("w"), col("n"),
        posexplode(expr("transform(sequence(0L, (greatest(n, 1L) - 1) div 96)," +
          " i -> i * 96)")).as(Seq("chunk_id", "tok_start")))
      .withColumn("chunk_len", least(lit(128L), col("n") - col("tok_start")))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        col("tok_start"), col("chunk_len"),
        md5(concat_ws(" ",
          expr("slice(w, CAST(tok_start + 1 AS INT), CAST(chunk_len AS INT))")))
          .as("chunk_fp"))

  /** The chunk manifest in the shared SQL dialect (`ch` CTE) — the oracle
    * twin of [[ragChunks]], shared by t27/d28. */
  private[graft] val ragChunkSqlCte: String =
    """ch AS (
      |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_id,
      |    CAST((u.i - 1) * 96 AS BIGINT) AS tok_start,
      |    least(128, n - (u.i - 1) * 96) AS chunk_len,
      |    md5(array_to_string(
      |      w[(u.i - 1) * 96 + 1 : (u.i - 1) * 96 + least(128, n - (u.i - 1) * 96)],
      |      ' ')) AS chunk_fp
      |  FROM (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
      |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t0) t,
      |       LATERAL unnest(generate_series(1, (greatest(n, 1) - 1) // 96 + 1)) AS u(i))""".stripMargin

  /** The t2 quality bar over the staged columns (Spark side). */
  private[operators] val qualityOkCol: org.apache.spark.sql.Column =
    col("n_tokens") >= 20 &&
      col("n_stop").cast(DoubleType) / col("n_tokens") > 0.01

  /** The same bar in the shared SQL dialect (oracle side). */
  private[operators] val qualityOkSql: String =
    "n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens > 0.01"

  /** PII patterns (t13), cross-engine-safe by construction: character
    * classes and explicit repetition only — no shorthand classes (\d, \w
    * differ in Unicode scope between Java regex and RE2), no backslash
    * escapes ([.] instead of \.), no single quotes (patterns are inlined
    * into SQL string literals on both sides). */
  private[operators] val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+"
  private[operators] val phoneRe = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  private[operators] val idRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** PII detection + redaction over a (doc_id, text) frame — factored off
    * the table loader so the spec can drive it with constructed strings
    * (the synthetic corpus contains no PII; the gate run proves the
    * plumbing, the spec proves the logic). Redaction order matters:
    * emails first (their dotted local/domain parts could otherwise be
    * half-eaten by the phone pattern), then the more specific 3-2-4 id
    * shape, then phones. Narrow projection — zero shuffle. */
  private[graft] def piiScrub(df: DataFrame): DataFrame = df
    .withColumn("n_emails",
      size(expr(s"regexp_extract_all(text, '$emailRe', 0)")).cast(LongType))
    .withColumn("n_phones",
      size(expr(s"regexp_extract_all(text, '$phoneRe', 0)")).cast(LongType))
    .withColumn("n_ids",
      size(expr(s"regexp_extract_all(text, '$idRe', 0)")).cast(LongType))
    .withColumn("redacted",
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          idRe, "<ID>"),
        phoneRe, "<PHONE>"))

  /** Gopher-style quality-rule columns (Rae et al. 2021, adapted to this
    * corpus) over a (doc_id, text) frame. Every FLAG is integer-exact
    * arithmetic (5·n_alpha >= 4·n_words, not a 0.8 double threshold):
    * FP-boundary comparisons are not reliably bit-portable across engines,
    * integer cross-multiplication is (the m5 quantizer lesson). The double
    * ratio columns are informational, each a single division. */
  private[graft] def withGopherCols(df: DataFrame): DataFrame = df
    .withColumn("w", split(col("text"), " "))
    .withColumn("n_words", size(col("w")).cast(LongType))
    .withColumn("n_alpha",
      size(expr("filter(w, x -> x rlike '^[a-zA-Z]+$')")).cast(LongType))
    .withColumn("n_stop",
      size(expr(s"filter(w, x -> x IN ($stopSqlList))")).cast(LongType))
    .withColumn("n_types", size(array_distinct(col("w"))).cast(LongType))
    .withColumn("nsp_chars",
      length(regexp_replace(col("text"), " ", "")).cast(LongType))
    .withColumn("avg_word_len",
      col("nsp_chars").cast(DoubleType) / col("n_words"))
    .withColumn("alpha_frac", col("n_alpha").cast(DoubleType) / col("n_words"))
    .withColumn("rep_frac",
      (col("n_words") - col("n_types")).cast(DoubleType) / col("n_words"))
    .withColumn("ok_word_count",
      when(col("n_words").between(50, 100000), 1L).otherwise(0L))
    .withColumn("ok_word_len",
      when(col("nsp_chars") >= col("n_words") * 3
        && col("nsp_chars") <= col("n_words") * 10, 1L).otherwise(0L))
    .withColumn("ok_alpha",
      when(col("n_alpha") * 5 >= col("n_words") * 4, 1L).otherwise(0L))
    .withColumn("ok_stop", when(col("n_stop") >= 2, 1L).otherwise(0L))
    .withColumn("ok_repetition",
      when((col("n_words") - col("n_types")) * 5 <= col("n_words") * 3, 1L)
        .otherwise(0L))
    .withColumn("gopher_ok",
      when(col("ok_word_count") === 1 && col("ok_word_len") === 1
        && col("ok_alpha") === 1 && col("ok_stop") === 1
        && col("ok_repetition") === 1, 1L).otherwise(0L))

  /** One row per adjacent token pair: (doc_id, w1, w2). ONE definition
    * feeds both the t9 count table and the w3 LM table — the bigram
    * extraction must not drift between them (same reason withQualityCols
    * exists). Docs with <2 tokens produce no rows; `sequence(1, 0)` would
    * step BACKWARD, hence the guard filter. */
  private def bigramPairs(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .filter(size(col("w")) >= 2)
    .select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
    .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  val defs: Map[String, Q] = Map(
    // The reference job: WordCount. One narrow stage + one shuffle.
    "w1_wordcount" -> { (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
    },

    // Document frequency. Two-phase, not countDistinct+count in one agg:
    // mixed distinct/plain aggregation plans an Expand that doubles shuffle
    // volume. Phase 1 groups by (word, doc) — map-side partial dedup — and
    // phase 2 counts docs and sums occurrences from the tiny intermediate.
    "w2_doc_freq" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("word")
        .agg(count(lit(1)).as("df"), sum("c").cast(LongType).as("cnt"))
    },

    // Per-document token statistics — no shuffle at all (narrow projection).
    "t1_token_stats" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("w")).cast(LongType).as("n_tokens"),
          size(array_distinct(col("w"))).cast(LongType).as("n_types"),
          col("n_chars"),
          (size(array_distinct(col("w"))).cast(DoubleType) / size(col("w")))
            .as("type_token_ratio"))
    },

    // Quality scoring: length/stopword-ratio heuristics, exact arithmetic.
    "t2_quality_score" -> { (s, dir) =>
      withQualityCols(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          (length(regexp_replace(col("text"), " ", "")).cast(DoubleType)
            / col("n_tokens")).as("avg_token_len"),
          (col("n_stop").cast(DoubleType) / col("n_tokens")).as("stop_ratio"),
          when(qualityOkCol, 1L).otherwise(0L).as("quality_ok"))
    },

    // Language ID: function-word-hit heuristic vs the labeled lang column.
    "t3_langid" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_hits",
          size(expr(s"filter(w, x -> x IN ($stopSqlList))")).cast(LongType))
        .select(col("doc_id"), col("lang"), col("n_hits"),
          when(col("n_hits") >= 2, "en").otherwise("und").as("lang_pred"),
          when((when(col("n_hits") >= 2, "en").otherwise("und")) === col("lang"), 1L)
            .otherwise(0L).as("is_match"))
    },

    // Document fingerprint: whitespace-normalized lowercase md5.
    "t4_fingerprint" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          // explicit whitespace class: Java \s includes \x0B, RE2's doesn't —
          // keep Spark and the DuckDB oracle byte-identical (ADVICE r1).
          md5(lower(trim(regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")))).as("fp"))
    },

    // BPE-ish token counting: regex pre-tokenizer (alpha runs | digit runs |
    // single other-glyph — the shape real BPE pre-tokenizers use), plus
    // per-class counts. Narrow projection, zero shuffle.
    "t5_token_count" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("tk",
          expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
        .select(col("doc_id"),
          size(col("tk")).cast(LongType).as("n_bpe_tokens"),
          size(expr("filter(tk, x -> x rlike '^[a-zA-Z]+$')")).cast(LongType).as("n_alpha"),
          size(expr("filter(tk, x -> x rlike '^[0-9]+$')")).cast(LongType).as("n_num"))
        .withColumn("n_other", (col("n_bpe_tokens") - col("n_alpha") - col("n_num")).cast(LongType))
    },

    // Polynomial rolling hash over the raw character stream (base 31 mod
    // 1e9+7) — the order-sensitive fingerprint complement to t4's
    // order-normalized md5. Native codegen'd fold (graft.functions
    // .RollingHash); the DuckDB oracle performs the identical integer fold.
    "t6_rolling_hash" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.RollingHash.rollingHash(col("text")).as("rhash"))
    },

    // Corpus rollup per (lang, source) — the dataset-card numbers every
    // training corpus publishes: doc/token/char totals and how many docs
    // clear the t2 quality bar. One partial+final hash aggregate; all
    // integer arithmetic (deterministic without decimal staging).
    "t7_corpus_stats" -> { (s, dir) =>
      withQualityCols(docs(s, dir))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("total_tokens"),
          sum(col("n_chars")).cast(LongType).as("total_chars"),
          sum(when(qualityOkCol, 1L).otherwise(0L)).cast(LongType).as("n_quality_ok"))
    },

    // Top-5 TF-IDF terms per document — the per-doc keyword surface (topic
    // tagging / dedup-explanations in a training pipeline). tf and df are
    // both derived from ONE (doc, term, tf) intermediate (its term-grouped
    // rollup IS df — no second corpus scan), N rides in via a broadcast
    // scalar. The score uses the RATIONAL idf tf·N/df: ln() is not
    // bit-portable across engines (libm vs JVM intrinsic), while integer
    // multiply + one double divide is IEEE-exact in both — same ranking,
    // hashable score. Top-k via row_number (score desc, term asc): one
    // doc_id window after vocab-sized joins.
    "t8_tfidf" -> { (s, dir) =>
      // the tokenize + first shuffle is the expensive pass; checkpoint it
      // once so the df rollup and the final join both read the same blocks
      // (without it Spark plans three corpus scans — measured, no
      // ReusedExchange fires across the aggregation boundary)
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .graftCkpt()
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfT, "term").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n")).cast(DoubleType) / col("df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "score")
    },

    // Bigram conditional probabilities — the actual LM table built from the
    // t9-style counts: p(w2 | w1) = cnt(w1 w2) / sum over continuations of
    // cnt(w1 ·), top-3 continuations per prefix among bigrams seen >= 2
    // times. The denominator is the prefix-marginal of the SAME bigram
    // counts (not the unigram count), so the distribution sums to 1 over
    // the kept support; one token shuffle, one prefix window, integer
    // counts + a single double divide (hash-portable).
    "w3_bigram_lm" -> { (s, dir) =>
      // empty tokens (split artifacts from doubled/leading spaces) are
      // excluded, like every token query (w1/w2/t8) — '' must not become
      // an LM prefix or displace a real continuation
      val bg = bigramPairs(docs(s, dir))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      val win = org.apache.spark.sql.expressions.Window.partitionBy("w1")
      val rk = org.apache.spark.sql.expressions.Window.partitionBy("w1")
        .orderBy(col("c").desc, col("w2"))
      bg.withColumn("tot", sum("c").over(win))
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select(col("w1"), col("w2"), col("c"),
          (col("c").cast(DoubleType) / col("tot")).as("p"))
    },

    // Deterministic stratified sampling — the corpus-MIXING step a training
    // pipeline runs last (per-stratum inclusion rates, e.g. upweight one
    // source, downsample another). The sampling key is a hash-mod bucket
    // from md5(doc_id), NOT rand(): reproducible across engines, retries,
    // and partitionings (rand() in a distributed scan is none of those).
    // Pure narrow filter — no shuffle; the predicate evaluates inside the
    // scan stage (it is md5-derived, so it is NOT a source-pushed filter
    // and prunes no row groups — every row is read once, none shuffled).
    "t10_stratified_sample" -> { (s, dir) =>
      val bucket = graft.functions.HexPrefixToLong
        .hex8(md5(col("doc_id").cast(StringType))) % 100
      val rate = when(col("lang") === "en", lit(75))
        .when(col("lang") === "zh", lit(25))
        .otherwise(lit(50))
      docs(s, dir)
        .withColumn("bucket", bucket.cast(LongType))
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
    },

    // Corpus bigram table — the n-gram LM / contamination-check building
    // block. Two-phase like w2 (per-doc partial dedup before the global
    // rollup); bigrams with a single occurrence are dropped (the long tail
    // is noise and at corpus scale dominates the output size).
    "t9_bigram_counts" -> { (s, dir) =>
      bigramPairs(docs(s, dir))
        .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("bigram"))
        .groupBy("bigram", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("bigram")
        .agg(sum("c").cast(LongType).as("cnt"), count(lit(1)).as("n_docs"))
        .filter(col("cnt") >= 2)
    },

    // Word co-occurrence association table — rational PMI (the exp of PMI:
    // P(a,b)/(P(a)P(b)) = n_both·N/(df_a·df_b), kept as the ratio because
    // ln() is not bit-portable cross-engine, see t8): which word pairs
    // co-occur in documents more than chance. Per-doc DISTINCT tokens
    // self-join WITHIN the doc — quadratic in doc VOCABULARY, linear in the
    // corpus (the per-doc type count is bounded; this is the standard
    // co-occurrence-matrix build). The n_both >= 5 support floor keeps the
    // long tail out of the output, and the unigram df table joins back by
    // plain equi-join (at 100 TB it is far bigger than broadcastable).
    "w4_cooccur_pmi" -> { (s, dir) =>
      val dt = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").distinct()
      val df = dt.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      dt.as("a").join(dt.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 5)
        .join(df.select(col("w").as("w1"), col("df").as("df1")), "w1")
        .join(df.select(col("w").as("w2"), col("df").as("df2")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("n_both"),
          (col("n_both").cast(DoubleType) * col("n") / col("df1") / col("df2"))
            .as("lift"))
    },

    // Distribution-relative quality gate — the curation step after t2's
    // absolute bar: keep documents at or above the corpus's own 25th
    // percentile of stopword ratio (a threshold learned from the score
    // distribution, not hardcoded — how real pipelines set their bars).
    // Plan: one scored scan → a ONE-ROW exact-percentile aggregate →
    // broadcast back over the scores (a scalar threshold never shuffles
    // the corpus; the filter is a broadcast-join residual). At 100 TB the
    // exact percentile over one global group is the one full-sort buffer —
    // swap in approx_percentile there (q23's path) at identical plan shape.
    "t11_quality_gate" -> { (s, dir) =>
      val scored = withQualityCols(docs(s, dir))
        .select(col("doc_id"),
          (col("n_stop").cast(DoubleType) / col("n_tokens")).as("score"))
      val thr = scored.agg(expr("percentile(score, 0.25D)").as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("score") >= col("thr"))
    },

    // Gopher-style rule filter — the multi-rule absolute quality bar
    // (word-count window, mean word length, alpha fraction, stopword
    // floor, repetition cap) every curation pipeline stacks in front of
    // the learned bars (t11). Narrow projection, zero shuffle; flags are
    // integer-exact (see withGopherCols).
    "t12_gopher_rules" -> { (s, dir) =>
      withGopherCols(docs(s, dir))
        .select(col("doc_id"), col("n_words"), col("avg_word_len"),
          col("alpha_frac"), col("rep_frac"), col("ok_word_count"),
          col("ok_word_len"), col("ok_alpha"), col("ok_stop"),
          col("ok_repetition"), col("gopher_ok"))
    },

    // Corpus mixture weights — the data-MIXING step after curation: per
    // language, its token share and the sampling weight that would equalize
    // shares (weight = T/(k·tokens), the uniform-target special case of
    // target/actual reweighting). One partial+final hash aggregate over
    // per-doc token counts; the k-row rollup joins back as a broadcast
    // scalar. All integer arithmetic until one final division per column.
    "t14_mixture_weights" -> { (s, dir) =>
      val g = withQualityCols(docs(s, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast(LongType).as("tokens"))
      val tot = g.agg(sum("tokens").cast(LongType).as("t"),
        count(lit(1)).as("k"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("tokens"),
          (col("tokens").cast(DoubleType) / col("t")).as("token_share"),
          (col("t").cast(DoubleType) / (col("k") * col("tokens"))).as("weight"))
    },

    // Bigram novelty scoring — the memorization-risk / fluency signal per
    // document: what fraction of its bigram OCCURRENCES are unique in the
    // corpus (novel), plus the average and minimum corpus frequency of its
    // bigrams (low avg = novel or noisy, high avg = templated). d13 is the
    // same diagnostic at shingle-set granularity; this one scores token
    // transitions with multiplicity. One checkpointed tokenize pass feeds
    // both the corpus counts and the join-back (the t8/d13 share-the-
    // expensive-projection pattern); the count join adds one row per bigram
    // occurrence — linear, never quadratic, in a viral bigram's frequency.
    "w5_bigram_novelty" -> { (s, dir) =>
      val bg = bigramPairs(docs(s, dir))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("bigram"))
        .graftCkpt()
      val cnt = bg.groupBy("bigram").agg(count(lit(1)).as("cnt"))
      bg.join(cnt, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast(LongType).as("n_novel"),
          sum("cnt").cast(LongType).as("sum_freq"),
          min("cnt").cast(LongType).as("min_bigram_freq"))
        .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
          (col("n_novel").cast(DoubleType) / col("n_bigrams")).as("novelty"),
          (col("sum_freq").cast(DoubleType) / col("n_bigrams")).as("avg_bigram_freq"),
          col("min_bigram_freq"))
    },

    // Within-document repetition — the Gopher repetition signal at bigram
    // granularity: how much of a document is the same phrase over and over
    // (templated/boilerplate text scores high and gets filtered before
    // training). Two chained equi-keyed hash aggregates — per (doc, bigram)
    // occurrence counts, then the per-doc rollup (total, distinct, max) —
    // both partial+final; a pathologically repetitive document costs its
    // bigram count linearly, and the fractions are single divisions of two
    // exact longs (bit-portable, g1's closed_frac discipline). w5 scores a
    // doc's bigrams against the CORPUS distribution; this scores them
    // against the document itself — the two axes curation needs.
    "t15_repetition" -> { (s, dir) =>
      bigramPairs(docs(s, dir))
        .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast(LongType).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max("c").cast(LongType).as("top_n"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_n"),
          ((col("n_bigrams") - col("n_distinct")).cast(DoubleType) /
            col("n_bigrams")).as("dup_frac"),
          (col("top_n").cast(DoubleType) / col("n_bigrams")).as("top_frac"))
    },

    // PII scrub — detection counts + redacted text, the compliance pass a
    // training pipeline runs before shipping a corpus. Zero shuffle; the
    // regex work is per-row inside the scan stage. The synthetic corpus
    // contains no PII (all counts 0, redacted == text) — the gate run
    // proves the plumbing at scale, OperatorSpec proves the detection and
    // redaction logic on constructed strings.
    "t13_pii_scrub" -> { (s, dir) =>
      piiScrub(docs(s, dir))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ids"), col("redacted"))
    },

    // EXACT heavy hitters in bounded memory — the two-pass sketch-then-
    // recount shape (q37's approximate-prune / exact-residual discipline on
    // the aggregation axis): pass 1 folds the token stream into a mergeable
    // Misra-Gries summary (functions/MisraGriesAgg, ObjectHashAggregate —
    // partial aggregation ships <= 127 counters per map partition, the
    // long tail NEVER reaches the shuffle), whose kept keys are a
    // guaranteed superset of every token above n/128 of the stream; pass 2
    // recounts ONLY those candidates exactly (broadcast the <= 127 keys
    // into the scan) and keeps tokens above the n/64 threshold. w1's
    // full-vocab
    // groupBy shuffles every distinct token; at 100 TB the frequent-token
    // question doesn't need that shuffle, and the sketch's partitioning-
    // dependent key set is erased by the exact recount (the reason this is
    // oracle-gateable while the raw sketch is not — pinned by
    // MisraGriesSpec under adversarial partitionings). The integer-exact
    // threshold (cnt·64 > n) avoids division entirely; on the test corpus
    // it keeps the ~30 dominant boilerplate tokens (non-degenerate at
    // every SF).
    "w6_heavy_hitters" -> { (s, dir) =>
      val mg = udaf(new graft.functions.MisraGriesAgg(127))
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      // ONE fused pass computes the sketch AND the total count, and its
      // single row explodes into ONE broadcast carrying (candidate word, n)
      // — a single consumer, so the pass runs once with no checkpoint and
      // the whole query is two token passes (this one and the exact
      // recount) inside ONE execution, where the broadcast subtree and the
      // probe scan overlap. Measured against the alternatives at sf0.1:
      // three lazy passes (r7) parallelize well but triple the corpus IO
      // at scale; checkpointing the token STREAM pins a corpus-sized
      // explode in storage memory; checkpointing the one-row aggregate
      // serializes two jobs (+0.25 s locally). This shape is the minimum
      // two passes AND the single-execution overlap.
      val cand = toks
        .agg(mg(col("word")).as("sk"), count(lit(1)).as("n"))
        .select(explode(map_keys(col("sk"))).as("word"), col("n"))
      toks.join(broadcast(cand), Seq("word"))
        .groupBy("word", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 64 > col("n"))
        .select(col("word"), col("cnt"))
    },

    // Source-distribution shift — which tokens a source over-represents
    // relative to the corpus (rational lift, w4's discipline on the source
    // axis): the mirror/scrape/SEO-farm diagnostic a curation pipeline
    // runs before trusting a source's mixture weight (t14). ONE
    // checkpointed (source, token) count table feeds the per-source
    // totals, the per-token totals, the global total AND the join-back —
    // the t8 share-the-expensive-projection pattern; the token-marginal
    // join is equi-keyed (a corpus vocabulary is not broadcastable), the
    // ~|sources| marginals broadcast. Lift is the same sequential
    // double mult/div spelling as w4, bit-portable from exact longs.
    "w8_source_shift" -> { (s, dir) =>
      val sw = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
        .graftCkpt()
      val ts = sw.groupBy("source").agg(sum("n_sw").cast(LongType).as("t_s"))
      val nw = sw.groupBy("w").agg(sum("n_sw").cast(LongType).as("n_w"))
      val t = sw.agg(sum("n_sw").cast(LongType).as("t"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("lift").desc, col("word"))
      sw.filter(col("n_sw") >= 5)
        .join(nw, "w")
        .join(broadcast(ts), "source")
        .crossJoin(broadcast(t))
        .select(col("source"), col("w").as("word"), col("n_sw"),
          (col("n_sw").cast(DoubleType) * col("t") / col("n_w") / col("t_s"))
            .as("lift"))
        .withColumn("rnk", row_number().over(win).cast(LongType))
        .filter(col("rnk") <= 5)
    },

    // Per-source distribution divergence — the single-number companion to
    // w8's per-token lifts: the total-variation distance between each
    // source's unigram distribution and the corpus distribution, the
    // scalar a mixture dashboard tracks per source per snapshot (KL/JS
    // need logs, whose libm-vs-JVM drift never hash-gates; TV is the
    // f-divergence with an EXACT-integer spelling). Decomposition: over
    // the common denominator t_s·t,
    //   Σ_t |p_s − p| = [Σ_{t∈s} |n_sw·t − n_w·t_s| + t_s·(t − Σ_{t∈s} n_w)]
    //                     / (t_s·t)
    // — the second term is the mass of tokens the source never emits, folded
    // into one subtraction, so NO (source × vocabulary) expansion ever
    // happens: the only corpus-scale work is w8's same (source, token)
    // count table (shared spelling), one vocabulary-keyed marginal join,
    // and a per-source aggregate of exact longs. One double division per
    // source at the end (deterministic: same integer operands, same IEEE
    // ops, both engines).
    "w12_source_divergence" -> { (s, dir) =>
      val sw = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
        .graftCkpt()
      val ts = sw.groupBy("source").agg(sum("n_sw").cast(LongType).as("t_s"))
      val nw = sw.groupBy("w").agg(sum("n_sw").cast(LongType).as("n_w"))
      val t = sw.agg(sum("n_sw").cast(LongType).as("t"))
      sw.join(nw, "w")
        .join(broadcast(ts), "source")
        .crossJoin(broadcast(t))
        .groupBy(col("source"), col("t_s"), col("t"))
        .agg(
          sum(abs(col("n_sw") * col("t") - col("n_w") * col("t_s")))
            .cast(LongType).as("a"),
          sum(col("n_w")).cast(LongType).as("b"))
        .select(col("source"), col("t_s").as("n_tokens"),
          ((col("a") + col("t_s") * (col("t") - col("b"))).cast(DoubleType)
            / (col("t_s").cast(DoubleType) * lit(2.0) * col("t")))
            .as("tv_distance"))
    },

    // SPLIT-divergence audit — the eval-hygiene check AFTER t23 assigns
    // splits: total-variation distance between each split's token
    // distribution and the corpus (w12's exact-long machinery with the
    // md5-residue split as the group). Large TV for the test split means
    // the held-out data is not exchangeable with training and every eval
    // number on it is suspect; for a hash split the TVs should be small
    // and this query is the proof, not the assumption. Same
    // absent-token-mass fold as w12 — no split×vocabulary expansion ever
    // exists.
    "w16_split_divergence" -> { (s, dir) =>
      val hx = "instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), %d, 1)) - 1"
      val r = expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})")
      val sw = docs(s, dir)
        .withColumn("split",
          when(r < 13, "test").when(r < 26, "val").otherwise("train"))
        .select(col("split"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("split", "w").agg(count(lit(1)).as("n_sw"))
        .graftCkpt()
      val ts = sw.groupBy("split").agg(sum("n_sw").cast(LongType).as("t_s"))
      val nw = sw.groupBy("w").agg(sum("n_sw").cast(LongType).as("n_w"))
      val t = sw.agg(sum("n_sw").cast(LongType).as("t"))
      sw.join(nw, "w")
        .join(broadcast(ts), "split")
        .crossJoin(broadcast(t))
        .groupBy(col("split"), col("t_s"), col("t"))
        .agg(
          sum(abs(col("n_sw") * col("t") - col("n_w") * col("t_s")))
            .cast(LongType).as("a"),
          sum(col("n_w")).cast(LongType).as("b"))
        .select(col("split"), col("t_s").as("n_tokens"),
          ((col("a") + col("t_s") * (col("t") - col("b"))).cast(DoubleType)
            / (col("t_s").cast(DoubleType) * lit(2.0) * col("t")))
            .as("tv_distance"))
    },

    // The DATASET CARD rollup — the per-source summary a corpus producer
    // ships alongside the data (doc/token counts, language mix, exact
    // duplication): majority language with its ppm share, docs whose
    // whitespace-normalized fingerprint has CORPUS-WIDE multiplicity >= 2
    // (a mirror's dups count against both sources — the cross-source
    // reading d22 drills into), mean tokens per doc. Every derived number
    // is an exact integer ppm floor (t8's discipline), so the card
    // hash-gates. ONE narrow scan feeds all three consumers through a
    // checkpointed (source, lang, fp, n_tokens) projection — text never
    // shuffles; the fp-multiplicity window carries two columns; the
    // rollups are |sources|- and (source, lang)-sized.
    "w17_dataset_card" -> { (s, dir) =>
      val base = docs(s, dir).select(col("source"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
          graft.operators.Dedup.fpCol.as("fp"))
        .graftCkpt()
      val perSource = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast(LongType).as("n_tokens"),
        countDistinct("lang").as("n_langs"))
      val topLang = base.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("nl").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("nl"))
      val dupDocs = base
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .filter(col("m") >= 2)
        .groupBy("source").agg(count(lit(1)).as("n_dup"))
      perSource.join(topLang, "source")
        .join(dupDocs, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          col("top_lang"),
          expr("nl * 1000000 div n_docs").as("top_lang_ppm"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_docs"),
          expr("coalesce(n_dup, 0) * 1000000 div n_docs").as("dup_doc_ppm"),
          expr("n_tokens div n_docs").as("mean_doc_tokens"))
    },

    // Small-file COMPACTION planner — the table-maintenance audit a
    // lakehouse runs nightly: per (source, lang) partition, payload bytes
    // (n_chars as the text-proxy), doc count, the file count a compactor
    // should emit at a 1 MiB target (integer ceiling division), oversized
    // docs (> 256 KiB — the rows a packer routes to their own files),
    // and mean doc bytes. At real scale the input is the table's FILE
    // metadata, not a data scan — the arithmetic and output contract are
    // identical; here the corpus stands in for its own manifest. One
    // partial+final hash agg, all-integer outputs, hash-gates trivially.
    "w18_compaction_plan" -> { (s, dir) =>
      docs(s, dir)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("bytes"),
          sum(when(col("n_chars") > 262144L, 1L).otherwise(0L))
            .cast(LongType).as("n_oversized"))
        .withColumn("target_files", expr("(bytes + 1048575) div 1048576"))
        .withColumn("avg_doc_bytes", expr("bytes div n_docs"))
    },

    // BPE merge-pair statistics — the first step of tokenizer TRAINING
    // (the one data product every LLM pipeline derives besides the corpus
    // itself): the most frequent adjacent character pairs, weighted by
    // word frequency — exactly the count a byte-pair encoder maximizes to
    // pick its first merge. The scale trick IS the plan: pair expansion
    // runs over the VOCABULARY (one wordcount shuffle first), so a
    // billion-token corpus pays corpus cost once in w1's aggregate and
    // the character-level explode touches |vocab| × word-length rows —
    // training a tokenizer never re-reads the corpus per merge. In-row
    // overlapping pairs ("aaa" → aa, aa), exact long counts, total
    // (count DESC, pair) top-20 order.
    "t19_bpe_pairs" -> { (s, dir) =>
      val wc = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      wc.filter(length(col("word")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"))
          .as("pair"))
        .groupBy("pair")
        .agg(sum("cnt").cast(LongType).as("n_occurrences"),
          count(lit(1)).as("n_contexts"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(20)
    },

    // Token burstiness — the keyword-stuffing / template detector next to
    // t15 (which is per-DOC; this is per-TOKEN): for every token in ≥ 10
    // documents, how its heaviest single-document count compares to its
    // mean per-document count. A natural-language token spreads (burst ≈
    // 1×–3× the mean); a stuffed or boilerplate token spikes. The ratio
    // max/(total/df) is carried as the exact integer floor
    // (max·df·10⁶ div total — one ppm division of exact longs, no float
    // mean), and the top-20 is totally ordered. Two chained equi-keyed
    // aggregates — (doc, token) then token — both partial+final; nothing
    // vocabulary-sized is ever sorted except the LIMIT head.
    "w14_token_burstiness" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("word")
        .agg(count(lit(1)).as("df"), sum("c").cast(LongType).as("total"),
          max("c").cast(LongType).as("max_in_doc"))
        .filter(col("df") >= 10)
        .withColumn("burst_ppm",
          expr("(max_in_doc * df * 1000000) div total"))
        .select("word", "df", "total", "max_in_doc", "burst_ppm")
        .orderBy(col("burst_ppm").desc, col("word"))
        .limit(20)
    },

    // Vocabulary-coverage sweep — the number that SIZES a vocab budget
    // (w10 measures OOV for one fixed K; this measures the curve): what
    // fraction of corpus tokens the top-100 / top-1000 / top-10000 head
    // covers. d19's sweep discipline on the vocabulary axis: ONE
    // wordcount pass (checkpointed — total + head consumers), the head
    // via TakeOrdered (per-partition heaps, never a vocabulary sort —
    // w9's pin), and all three cutoffs are filters over the LIMIT-bounded
    // head. Exact longs; one ppm floor per row.
    "w13_vocab_coverage" -> { (s, dir) =>
      val wc = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .graftCkpt()
      val tot = wc.agg(sum("cnt").cast(LongType).as("total"))
      val hw = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("word"))
      val head = wc.orderBy(col("cnt").desc, col("word")).limit(10000)
        .withColumn("rnk", row_number().over(hw).cast(LongType))
        .graftCkpt()
      Seq(100L, 1000L, 10000L).map { k =>
        head.filter(col("rnk") <= k)
          .agg(count(lit(1)).as("k_eff"), sum("cnt").cast(LongType).as("covered"))
          .select(lit(k).as("k"), col("k_eff"), col("covered"))
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("k_eff"), col("covered"), col("total"),
          expr("(covered * 1000000) div total").as("coverage_ppm"))
    },

    // LangID evaluation — the confusion matrix over t3's heuristic
    // prediction vs the labeled lang column: per (truth, predicted) pair,
    // count and within-truth ppm share. Evaluators are first-class in
    // this pack (d9/s4/s7/s10/s12 on the retrieval axis); this is the
    // classifier twin — the table read before trusting t3's gate in a
    // mixture pipeline. One narrow prediction scan, one tiny hash agg,
    // windows over the |langs|² matrix only.
    "t22_langid_eval" -> { (s, dir) =>
      val perLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      defs("t3_langid")(s, dir)
        .select(col("lang"), col("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("n_lang", sum("n").over(perLang).cast(LongType))
        .withColumn("share_ppm", expr("(n * 1000000) div n_lang"))
    },

    // Dedup-weighted mixture sampling — t16's manifest executor COMPOSED
    // with d25's soft-dedup weights, the way a production sampler actually
    // draws: expected copies = lang_weight / dup_multiplicity, so a
    // 40×-duplicated doc in an upweighted language nets the same training
    // mass as its language peers instead of 40× it (running t16 after a
    // hard dedup loses upsampling composability; running it without dedup
    // double-counts boilerplate — the composition is the fix). Same
    // deterministic md5-residue Bernoulli on the fractional part, so the
    // realized manifest is reproducible across retries and partitionings.
    // Plan: ONE fp window (two columns) + the broadcast |langs| weight
    // join — the corpus text never shuffles.
    "t21_dedup_weighted_sample" -> { (s, dir) =>
      val d = docs(s, dir)
      val w = mixtureWeights(d)
      val fpw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val u = graft.functions.HexPrefixToLong
        .hex8(md5(col("doc_id").cast(StringType)))
      d.select(col("doc_id"), col("lang"),
          graft.operators.Dedup.fpCol.as("fp"))
        .withColumn("n_copies_dup", count(lit(1)).over(fpw).cast(LongType))
        .join(broadcast(w), "lang")
        .withColumn("eff", col("weight") / col("n_copies_dup"))
        .withColumn("frac", u.cast(DoubleType) / lit(4294967296.0))
        .withColumn("n_copies",
          floor(col("eff")).cast(LongType) +
            when(col("frac") < col("eff") - floor(col("eff")), 1L).otherwise(0L))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("lang"), col("n_copies_dup"),
          col("eff").as("eff_weight"), col("n_copies"))
    },

    // RAG chunk manifest — the retrieval-ingestion primitive: overlapping
    // 128-token windows at stride 96 (32-token overlap, so no sentence is
    // orphaned at a boundary), emitted as (doc, chunk, start, len, fp)
    // WITHOUT moving text — the loader slices bytes, the engine ships the
    // manifest (t20/m11's discipline on the retrieval axis). The chunk
    // fingerprint is md5 of the reassembled window, giving d28 its
    // cross-doc duplicate-chunk hook. In-row generator fan-out: one scan,
    // zero shuffles; trailing short chunks are kept (deterministic rule:
    // starts at every stride while start < n_tokens).
    "t27_rag_chunks" -> { (s, dir) =>
      ragChunks(docs(s, dir))
    },

    // INTRA-document repetition SCRUB — the text-surgery twin of t15's
    // repetition score: where t15 FLAGS documents whose content loops,
    // this REMOVES the loops (keep the first occurrence of each
    // non-overlapping 3-token chunk, drop re-occurrences, reassemble the
    // text) — the cleaning pass a looping-generator or boilerplate-heavy
    // crawl page needs before it poisons a training mix wholesale-drop
    // would over-prune. Everything runs IN ROW with higher-order
    // functions (transform/filter/array_position over the token array):
    // the corpus NEVER shuffles, per-doc cost is bounded by the doc's own
    // chunk count (array_position's rescan is O(chunks²) on a ~200-token
    // doc = trivial, and per-doc bounded at any corpus size), and the
    // whole scrub fuses into the scan under whole-stage codegen. The
    // first-occurrence rule is deterministic (chunk order is text order),
    // so clean_text hash-gates. Non-overlapping chunks make removal
    // well-defined (an overlapping-shingle rule would have to arbitrate
    // which tokens of a partial overlap survive).
    "t28_repeat_scrub" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")).cast(LongType))
        .withColumn("ch", expr(
          "transform(sequence(0L, (greatest(n, 1L) - 1) div 3)," +
            " i -> array_join(slice(w, CAST(i * 3 + 1 AS INT), 3), ' '))"))
        .withColumn("kept", expr(
          "filter(ch, (c, i) -> array_position(ch, c) = i + 1)"))
        .select(col("doc_id"),
          array_join(col("kept"), " ").as("clean_text"),
          size(col("ch")).cast(LongType).as("n_chunks"),
          size(col("kept")).cast(LongType).as("n_kept"))
    },

    // The END-TO-END CURATION PIPELINE — every stage this pack builds,
    // chained into the one deliverable a pretraining run actually
    // consumes: quality gate (t11's corpus-relative P25 stopword bar) →
    // exact dedup keep-best (d7's window) → benchmark decontamination
    // (d12's shingle probe, contaminated docs DROPPED) → train split
    // (t23's md5 residue) → 512-token sequence packing (t20's running
    // sum). One declarative plan: Catalyst fuses the gates into the
    // scans, the only corpus shuffles are the fp window, the shingle
    // probe, and the pack window, and the broadcast threshold/index
    // never move the corpus. This is the "switch your pipeline to one
    // query" demonstrator — each stage is the FACTORED spelling of its
    // standalone query, so the composition cannot drift from the parts.
    "t26_curation_pipeline" -> { (s, dir) =>
      val d = docs(s, dir)
      // 1. quality: stopword score >= corpus P25 (threshold broadcast)
      val scored = withQualityCols(d).select(col("doc_id"),
        (col("n_stop").cast(DoubleType) / col("n_tokens")).as("score"))
      val thr = scored.agg(expr("percentile(score, 0.25D)").as("thr"))
      val quality = scored.crossJoin(broadcast(thr))
        .filter(col("score") >= col("thr")).select("doc_id")
      // 2. exact dedup among quality survivors: keep-best per fingerprint
      val keepW = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("n_chars").desc, col("doc_id"))
      val kept = d.join(quality, "doc_id")
        .withColumn("fp", graft.operators.Dedup.fpCol)
        .withColumn("rk", row_number().over(keepW))
        .filter(col("rk") === 1)
        .select("doc_id", "source", "text")
      // 3. decontamination: drop docs sharing ANY shingle with the
      // benchmark (docs 0-9, which are themselves excluded as eval)
      val hs0 = graft.operators.Dedup.hashSetsOf(d).graftCkpt()
      val bench = hs0.filter(col("doc_id") < 10)
        .select(explode(col("hs")).as("h")).distinct()
      val contaminated = hs0.filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .join(broadcast(bench), "h")
        .select("doc_id").distinct()
      // 4. train split: md5 residue >= 26 (t23's boundaries)
      val hx = "instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), %d, 1)) - 1"
      val clean = kept.filter(col("doc_id") >= 10)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})") >= 26)
      // 5. pack into 512-token sequences per source
      val packW = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      clean
        .select(col("doc_id"), col("source"),
          expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)")
            .as("n_tokens"))
        .withColumn("cum_before", sum("n_tokens").over(packW) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("cum_before div 512").as("seq_id"),
          expr("cum_before % 512").as("seq_offset"))
    },

    // Tokenizer FERTILITY per language — the tokenizer-evaluation metric
    // (subword tokens per word): a language whose fertility under a given
    // pre-tokenizer runs high is poorly covered by it, pays more sequence
    // length per sentence, and gets effectively down-weighted at a fixed
    // token budget — the number a mixture designer (t14) reads next to
    // the token shares. Whitespace words (t1's denominator) vs t5's
    // BPE-ish pre-tokens, rolled up per language with the ratio as exact
    // integer ppm. One narrow projection + one |langs|-row hash agg;
    // both tokenizers run inside the scan stage.
    "t25_tokenizer_fertility" -> { (s, dir) =>
      docs(s, dir)
        .select(col("lang"),
          expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)")
            .as("nw"),
          expr("CAST(size(regexp_extract_all(text," +
            " '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS BIGINT)").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nw").cast(LongType).as("n_words"),
          sum("nt").cast(LongType).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          expr("n_tokens * 1000000 div n_words").as("fertility_ppm"))
    },

    // Skip-gram pair extraction — the word2vec/embedding training-pair
    // primitive (each token paired with its next-1 and next-2 neighbors):
    // w4 counts bag-of-words co-occurrence per document; skip-grams need
    // POSITIONS, and the scalable spelling is q35's binning discipline —
    // the probe side re-keys each token at (pos+1, pos+2) (a fixed 2×
    // fan-out) and pairs form on the (doc, pos) EQUI-key, never a range
    // or cross join. Pairing runs on the raw split arrays so positions
    // agree engine-to-engine; the empty-token guard filters both ends
    // AFTER pairing (same rows drop in both engines). Top-20 by
    // (count DESC, pair) through a TakeOrdered heap.
    "t24_skipgram_pairs" -> { (s, dir) =>
      val toks = docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "word")))
      val probes = toks.select(col("doc_id"),
        explode(array(col("pos") + 1, col("pos") + 2)).as("pos"),
        col("word").as("w1"))
      probes.join(toks.withColumnRenamed("word", "w2"), Seq("doc_id", "pos"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // Cross-language vocabulary overlap — the language-contamination
    // readout behind t3/t22's language-ID quality: exact Jaccard between
    // every language pair's vocabulary. High overlap between two
    // languages' token sets means n-gram language ID will confuse them
    // (and shared vocabulary is exactly where w8-style per-source drift
    // hides). The pair expansion is keyed on the TOKEN — one distinct
    // (lang, word) collapse, then a word-equi self-join whose per-word
    // fan-out is bounded by |langs|, never a vocabulary cross join; the
    // |langs|² result joins the size table for the exact Jaccard (one
    // IEEE division).
    "w15_vocab_overlap" -> { (s, dir) =>
      val vocab = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .distinct()
        .graftCkpt() // consumers: sizes + both sides of the pair join
      val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("n"))
      vocab.as("a").join(vocab.as("b"),
          col("a.word") === col("b.word") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("lang").as("lang_a"), col("n").as("n_a"))),
          "lang_a")
        .join(broadcast(sizes.select(col("lang").as("lang_b"), col("n").as("n_b"))),
          "lang_b")
        .select(col("lang_a"), col("lang_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          (col("n_shared").cast(DoubleType)
            / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
    },

    // Deterministic train/val/test split manifest — the eval-hygiene
    // primitive every training pipeline needs before any model sees data:
    // each doc's split is a pure function of md5(doc_id) (first byte:
    // 0-12 test ≈ 5%, 13-25 val ≈ 5%, rest train), so membership is
    // STABLE under corpus growth — adding documents never moves an
    // existing doc across the test boundary, the property a random or
    // modulo-on-row-number split lacks (and the reason benchmark
    // contamination audits like d12 stay valid across snapshots). The
    // audit emits per (source, split) doc/char counts and the integer-ppm
    // share so per-source skew in the assignment is a readout, not a
    // surprise. One narrow projection + hash agg; the share window runs
    // over the |sources|·3 aggregate, never the corpus.
    "t23_split_manifest" -> { (s, dir) =>
      val hx = "instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), %d, 1)) - 1"
      val r = expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      docs(s, dir)
        .withColumn("split",
          when(r < 13, "test").when(r < 26, "val").otherwise("train"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          graft.Exprs.lsum(col("n_chars")).as("n_chars"))
        .withColumn("src_docs", sum("n_docs").over(w))
        .select(col("source"), col("split"), col("n_docs"), col("n_chars"),
          expr("n_docs * 1000000 div src_docs").as("share_ppm"))
    },

    // Sequence packing — the concatenate-and-chunk layout a pretraining
    // loader materializes (docs concatenated in a deterministic order,
    // sliced into fixed 512-token training sequences): each doc's
    // sequence id and intra-sequence offset from ONE running-sum window.
    // Packing is inherently a serial fold, so the parallel unit is the
    // PARTITION KEY — per source here (per (source, shard) at 100 TB,
    // where a shard key bounds every partition; the window never sees
    // more than one shard). Everything is exact integer arithmetic off
    // the token counts; no text moves — the manifest is (doc, seq,
    // offset), the loader does the byte shuffling.
    "t20_seq_packing" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)")
            .as("n_tokens"))
        .withColumn("cum_before",
          sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("cum_before div 512").as("seq_id"),
          expr("cum_before % 512").as("seq_offset"))
    },

    // w6's sketch-prune / exact-recount discipline PER GROUP: the dominant
    // tokens of each language, without any per-language full-vocab shuffle.
    // Pass 1 is ONE grouped ObjectHashAggregate — each (map partition,
    // lang) holds <= 127 Misra-Gries counters plus the group's token count,
    // so the shuffle carries a bounded sketch row per language, never the
    // vocabulary; the per-group guarantee is unchanged (kept keys ⊇ every
    // token above n_lang/128). Pass 2 broadcasts the <= 127·|langs|
    // (lang, candidate, n_lang) rows back into the token scan and recounts
    // exactly on the (lang, word) equi-key; the integer threshold
    // cnt·64 > n_lang needs no division. The grouped form is the one a
    // curation pipeline actually runs (per-language/per-source boilerplate
    // lists); |langs| bounds the broadcast, so the shape holds wherever
    // the group count is dashboard-sized.
    "w7_lang_heavy_hitters" -> { (s, dir) =>
      val mg = udaf(new graft.functions.MisraGriesAgg(127))
      val toks = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      val cand = toks.groupBy("lang")
        .agg(mg(col("word")).as("sk"), count(lit(1)).as("n"))
        .select(col("lang"), explode(map_keys(col("sk"))).as("word"), col("n"))
      toks.join(broadcast(cand), Seq("lang", "word"))
        .groupBy("lang", "word", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 64 > col("n"))
        .select(col("lang"), col("word"), col("cnt"))
    },

    // Zipf rank-frequency audit — the corpus-health check a curation
    // pipeline runs on its vocabulary: natural language follows
    // rank × frequency ≈ const, so a flat product curve flags synthetic /
    // boilerplate-flooded corpora and a spiked head flags template spam.
    // Plan: one wordcount shuffle (w1's), then the top-100 head via
    // TakeOrdered (`orderBy.limit` — a per-partition heap + driver-side
    // 100-row merge, NEVER a global sort of the vocabulary), and the rank /
    // head-max windows run on the 100-row result (the single-partition
    // window is bounded by the LIMIT, not the data). zipf_product is an
    // exact long·long; rel_freq is one division of two exact longs —
    // bit-portable.
    "w9_zipf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val top = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(100)
      val ord = Window.orderBy(col("cnt").desc, col("word"))
      top
        .withColumn("rnk", row_number().over(ord).cast(LongType))
        .withColumn("c1", max(col("cnt")).over(Window.partitionBy()))
        .select(col("rnk"), col("word"), col("cnt"),
          (col("rnk") * col("cnt")).as("zipf_product"),
          (col("cnt").cast(DoubleType) / col("c1")).as("rel_freq"))
    },

    // Mixture-weight EXECUTION — the resampled-corpus manifest that turns
    // t14's learned per-language weights into an actual training mix:
    // each document contributes floor(weight) whole copies plus one more
    // iff its md5 residue falls under the fractional part (deterministic
    // Bernoulli — t10's discipline, but at LEARNED rates, and covering
    // UPSAMPLING, which a keep/drop filter cannot express). Every double
    // is computed by the identical operand sequence in both engines
    // (long-ratio weight, residue/2^32), so the copy counts hash-gate.
    // Plan: weights come from ONE per-lang aggregate; the corpus total is
    // an unpartitioned window over those |langs| rows (not a second corpus
    // scan) — the corpus itself takes ONE broadcast join and a narrow
    // filter, no shuffle, no per-row rand() (reproducible across retries
    // and partitionings).
    "t16_mixture_sample" -> { (s, dir) =>
      mixtureManifest(docs(s, dir).select(col("doc_id"), col("lang")),
        mixtureWeights(docs(s, dir)))
    },

    // Per-source out-of-vocabulary rate against the corpus's own top-K
    // vocabulary head — the coverage diagnostic run before committing a
    // tokenizer/vocab budget: a source whose tokens fall outside the head
    // (noise, other-script, boilerplate IDs) inflates OOV and deserves a
    // look before t14 weighs it. The head is top-K by (cnt DESC, word) —
    // the total tiebreak makes the vocabulary itself deterministic. K is
    // the vocabulary budget (a real deployment sets ~50k; 16 here sits
    // inside the synthetic corpus's ~31-word vocabulary so the OOV
    // boundary is actually exercised — top-1000 would cover everything
    // and gate nothing). Plan: one wordcount agg → TakeOrdered K-row
    // head → BROADCAST
    // left join marks membership inside the token scan's stage → one
    // per-source partial+final agg. The corpus tokens never shuffle on
    // the join; oov_ppm is an integer floor (w4/t17 discipline).
    "w10_oov_rate" -> { (s, dir) =>
      val head = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(16)
        .select(col("word"), lit(1L).as("in_vocab"))
      docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(head), Seq("word"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
    },

    // Per-source vocabulary growth curve — the Heaps'-law audit next to w9's
    // Zipf audit: how fast each source's distinct-token vocabulary grows as
    // the corpus is ingested in doc_id order. Healthy natural text keeps
    // discovering vocabulary (V ~ n^0.7); a templated or synthetic source
    // plateaus (its later quartiles add almost no new types) — a corpus
    // signal curation reads before weighting a source. The growth axis is
    // the GLOBAL doc_id range split into 4 ingestion quartiles — a
    // broadcast 1-row bounds aggregate and a narrow per-row division, NO
    // per-source row_number (a per-source rank window would sort the whole
    // corpus inside each source partition; the id-range split costs
    // nothing). Cumulative vocabulary without re-counting prefixes: each
    // (source, token)'s FIRST quartile via one hash agg, then new-type
    // counts per quartile and a running sum over the 4·|sources|-row
    // rollup — the corpus shuffles (source, token) pairs once, never a
    // prefix re-scan per quartile.
    "w11_heaps" -> { (s, dir) =>
      val d = docs(s, dir)
      val bounds = d.agg(min("doc_id").as("lo"), (max(col("doc_id")) + 1).as("hi"))
      val dq = d.join(broadcast(bounds))
        .withColumn("q", expr("((doc_id - lo) * 4) div (hi - lo) + 1"))
        .select(col("source"), col("q"), split(col("text"), " ").as("w"))
      // ONE tokenize pass (w8's share-the-expensive-projection): the
      // (source, quartile, word) count table is vocabulary-sized, and both
      // marginals — per-quartile token totals and per-word first quartile —
      // fold from it; uncheckpointed, each marginal would re-explode the
      // corpus
      val cnt = dq.select(col("source"), col("q"), explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("source", "q", "word").agg(count(lit(1)).as("c"))
        .graftCkpt()
      val base = dq.groupBy("source", "q").agg(count(lit(1)).as("n_docs"))
        .join(cnt.groupBy("source", "q").agg(sum("c").cast(LongType).as("n_tokens")),
          Seq("source", "q"))
      val nv = cnt.groupBy("source", "word").agg(min("q").as("q"))
        .groupBy("source", "q").agg(count(lit(1)).as("new_vocab"))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("source").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(nv, Seq("source", "q"), "left")
        .na.fill(0L, Seq("new_vocab"))
        .select(col("source"), col("q"),
          sum("n_docs").over(win).as("docs_cum"),
          sum("n_tokens").over(win).as("tokens_cum"),
          sum("new_vocab").over(win).as("vocab_cum"))
        .withColumn("ttr_ppm", expr("(vocab_cum * 1000000) div tokens_cum"))
    },

    // Per-document mean bigram likelihood under the corpus's own bigram
    // model — the CCNet-style fluency signal (docs whose transitions are
    // corpus-typical score high; rare-transition word salad scores low),
    // graded where w5's novelty is binary. The per-pair probability
    // c(w1,w2)/c(w1·) is kept as a ppm-scaled INTEGER (c_bg·10^6 div
    // c_prefix) and the per-doc mean as an integer floor division — ln()
    // and float sums are not bit-portable cross-engine (t8/w4 discipline).
    // Plan: one bigram-pair pass builds the model (vocab²-bounded, far
    // smaller than the corpus), CHECKPOINTED because two consumers read it
    // (its own prefix marginals and the probe join — uncheckpointed, both
    // would re-run the corpus-scale aggregation); the probe re-joins
    // pairs→model on (w1,w2) and →prefix on w1 — both shuffle equi-joins —
    // then one partial+final per-doc aggregate. Nothing is quadratic; the
    // corpus is scanned once to build the model and once to probe it.
    "t17_lm_likelihood" -> { (s, dir) => lmDocScores(s, dir) },

    // CCNet's perplexity partition on top of t17's scores: cut the corpus
    // into head / middle / tail thirds by mean bigram likelihood (head =
    // most corpus-typical) and report each bucket's volume and average
    // score — the table a curation run reads before keeping head+middle
    // and re-examining the tail. The two tertile cuts come from ONE 1-row
    // exact-percentile aggregate (t11's threshold-from-the-distribution
    // discipline) broadcast into the scored scan; bucket assignment is two
    // integer comparisons, so the partition is deterministic and the
    // rollup is 3 rows. At 100 TB swap the exact percentile for q23's
    // sketch at identical plan shape (t11's documented trade).
    "t18_ppl_buckets" -> { (s, dir) =>
      val scored = lmDocScores(s, dir).graftCkpt()
      val thr = scored.agg(
        expr("percentile(mean_p6, array(CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3))")
          .as("t"))
        .select(col("t").getItem(0).as("t1"), col("t").getItem(1).as("t2"))
      scored.crossJoin(broadcast(thr))
        .withColumn("bucket",
          when(col("mean_p6").cast(DoubleType) > col("t2"), "head")
            .when(col("mean_p6").cast(DoubleType) > col("t1"), "middle")
            .otherwise("tail"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          graft.Exprs.lsum(col("n_pairs")).as("n_pairs"),
          graft.Exprs.davg(col("mean_p6"), 6).as("avg_p6"))
    },

    // N-GRAM SATURATION — the corpus-level redundancy curve: for n=1,2,3,
    // total n-gram occurrences vs distinct n-grams, and the repeat share
    // as an exact ppm floor. Heaps' law (w11) tracks how VOCABULARY grows
    // with corpus size; this is the complementary single-snapshot readout
    // — how much of the corpus at each gram order is repetition of
    // something already seen (the number dedup and data-mixing decisions
    // trade against: a saturated corpus buys fewer unique trigrams per
    // token). Fixed-width slice inside the transform lambda is LINEAR per
    // doc (the d23 lesson bites only when the slice width scales with the
    // window): one corpus scan per gram order, each a partial+final count
    // + distinct agg — three 1-row frames unioned.
    "t29_ngram_saturation" -> { (s, dir) =>
      val toks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      def grams(n: Int): DataFrame = toks
        .filter(size(col("w")) >= n)
        .select(explode(expr(
          s"transform(sequence(1, size(w) - ${n - 1})," +
            s" i -> array_join(slice(w, i, $n), ' '))")).as("g"))
      def row(n: Int): DataFrame = grams(n)
        .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("n_distinct"))
        .select(lit(n.toLong).as("n"), col("total"), col("n_distinct"))
      Seq(1, 2, 3).map(row).reduce(_.unionAll(_))
        .select(col("n"), col("total"), col("n_distinct"),
          expr("(total - n_distinct) * 1000000 div total").as("repeat_ppm"))
    },

    // DUPLICATE-CLUSTER SIZE HISTOGRAM — the corpus dup-structure profile
    // w17's per-source dup ppm summarizes away: how many exact-dup
    // clusters exist at each multiplicity and what share of the corpus
    // they hold (the shape that decides between d8's hard dedup and d25's
    // soft weights: a corpus of twice-duplicated docs and one with a
    // thousand-copy boilerplate blob have the same dup ppm and need
    // opposite treatments). One fingerprint agg (d1's normalized fp — the
    // factored fpOf, so the histogram can never drift from the dedup
    // ops), one |sizes|-row histogram agg, one single-row total broadcast
    // for the exact ppm floors.
    "w19_dup_histogram" -> { (s, dir) =>
      val sizes = Dedup.fpOf(docs(s, dir))
        .groupBy("fp").agg(count(lit(1)).as("m"))
      val hist = sizes.groupBy("m")
        .agg(count(lit(1)).as("n_clusters"), sum("m").cast(LongType).as("n_docs"))
      val tot = hist.agg(sum("n_docs").as("tot"))
      hist.crossJoin(broadcast(tot))
        .select(col("m").as("cluster_size"), col("n_clusters"), col("n_docs"),
          expr("n_docs * 1000000 div tot").as("corpus_ppm"))
    },

    // EXACT-n STRATIFIED SAMPLE — the manifest "exactly 50 docs per
    // language" that eval-set construction and human-review queues need,
    // where t16/t21's Bernoulli residues give EXPECTED-n only. The naive
    // exact spelling ranks every stratum end to end (a corpus-wide sort
    // per language); this is the TWO-PHASE form that scales: a broadcast
    // per-stratum residue cutoff keeps ~4n expected survivors per
    // stratum (deterministic md5 hash — reproducible across retries and
    // partitionings, t16's discipline), then the exact (hash, doc_id)
    // rank runs over survivor sets only. The 4× safety factor makes a
    // short stratum (< n survivors despite cn ≥ n) a ~10^-40 binomial
    // tail — and for strata with cn ≤ 4n the cutoff caps at 2^32, so
    // EVERY doc survives and exactness is by construction, not chance.
    // Selection = the n smallest md5 hashes per stratum: a uniform
    // random sample under any hash model, stable under corpus growth
    // ONLY for surviving ids (new docs displace by hash order — the
    // t23 stability property does not transfer, documented difference).
    "t32_stratified_exact_sample" -> { (s, dir) =>
      val n = 50
      val base = docs(s, dir).select(col("doc_id"), col("lang"))
      val cut = base.groupBy("lang").agg(count(lit(1)).as("cn"))
        .withColumn("cutoff",
          least(lit(4294967296L), expr(s"(4294967296 * ${4L * n}) div cn")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h"), col("doc_id"))
      base
        .withColumn("h",
          graft.functions.Md5Hash32.hash32(col("doc_id").cast("string")))
        .join(broadcast(cut), Seq("lang"))
        .filter(col("h") < col("cutoff"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= n)
        .select(col("lang"), col("rk"), col("doc_id"))
    },

    // Per-source SIMPSON DIVERSITY — the repeat-mass number beside w9's
    // Zipf slope and w11's Heaps curve: the probability two tokens drawn
    // without replacement from a source are THE SAME TYPE,
    // Σ c_i(c_i−1) / (N(N−1)), in exact integer ppb. Entropy wants ln()
    // (never portable cross-engine); Simpson's index is pure integer
    // arithmetic, so it hash-gates — and 1/it is the "effective
    // vocabulary" a mixture designer reads. Sums ride DECIMAL(38,0)
    // (the q63/g21 overflow posture: token counts at 100 TB square past
    // int64), the final ppb is one exact integral floor division
    // (`div`, Spark's IntegralDivide — the same floor the DuckDB oracle's
    // `//` computes; fractional decimal division would round HALF_UP
    // before the cast and can disagree by 1 ppb on a quotient just
    // under an integer — the w19/t29/q70/d32 discipline). Plan: ONE
    // (source, token) count agg, then a |vocab|-sized second agg — w1's
    // wordcount shape with a per-source axis.
    "w22_simpson_diversity" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      val tc = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      tc.groupBy("source")
        .agg(sum(col("c")).cast(dec).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum((col("c").cast(dec)) * (col("c").cast(dec) - 1)).as("coll"))
        .select(col("source"),
          col("n_tokens").cast(LongType).as("n_tokens"), col("n_types"),
          expr("CAST((coll * 1000000000) div (n_tokens * (n_tokens - 1)) AS BIGINT)")
            .as("simpson_ppb"))
    },

    // SOURCE×LANG CONTINGENCY LIFT — the composition-independence audit
    // beside w12/w16's distribution distances: per (source, lang) cell,
    // observed count vs the independence expectation src_total ×
    // lang_total / total, as an exact integer-ppm lift (1e6 =
    // independent; ≫1e6 = the source specializes in the language). The
    // number a mixture designer checks before treating "source" and
    // "lang" as separable sampling axes (t16 reweighs by lang alone —
    // this is the audit that says whether that leaks source skew).
    // Plan: ONE corpus agg to the |sources|×|langs| cell table
    // (checkpointed — margins and the final select both read it), then
    // dashboard-sized margin joins. Products ride DECIMAL(38,0) (the
    // w22 posture: cell×total squares past int64 at corpus scale);
    // div floors identically to the oracle's //.
    "w23_source_lang_lift" -> { (s, dir) =>
      val cell = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n"))
        .graftCkpt()
      val srcTot = cell.groupBy("source").agg(sum("n").as("src_total"))
      val langTot = cell.groupBy("lang").agg(sum("n").as("lang_total"))
      val tot = cell.agg(sum("n").as("total"))
      cell.join(srcTot, "source").join(langTot, "lang")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n"),
          col("src_total"), col("lang_total"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * total * 1000000)" +
            " div (CAST(src_total AS DECIMAL(38,0)) * lang_total) AS BIGINT)")
            .as("lift_ppm"))
    },

    // PER-SOURCE LENGTH GINI — the inequality number beside w20's
    // percentiles: two sources with the same p50/p99 can still differ in
    // how document MASS concentrates (a few megadocs carrying most
    // characters vs an even spread), and that concentration decides
    // packing efficiency, shard balance, and whether length-capped
    // sampling biases content. Exact integer Gini over the LENGTH
    // HISTOGRAM (never a corpus-wide sort — q66/w20's discipline): with
    // ascending groups (len, count c) and p = docs in strictly-shorter
    // groups, Σ i·x_i = Σ len·(c·p + c(c+1)/2) because ranks within a tie
    // group are consecutive and the group sum is tie-order invariant; the
    // Gini is then (2·S − (n+1)·T) / (n·T), floored to exact ppb on
    // DECIMAL(38,0) operands (1e9·n·T ≤ 1e33 at 100 TB — inside 38
    // digits). The cumulative window runs over |distinct lengths| rows
    // per source, nothing corpus-sized sorts. */
    "w24_length_gini" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      val h = docs(s, dir).groupBy(col("source"), col("n_chars").as("len"))
        .agg(count(lit(1)).as("nd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("len")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      h.withColumn("p", coalesce(sum("nd").over(w), lit(0L)))
        .groupBy("source")
        .agg(sum(col("nd")).as("n_docs"),
          sum(col("len").cast(dec) * col("nd").cast(dec)).as("t"),
          sum(col("len").cast(dec) * (col("nd").cast(dec) * col("p").cast(dec)
            + expr("CAST((nd * (nd + 1)) div 2 AS DECIMAL(38,0))")))
            .as("srank"))
        .select(col("source"), col("n_docs"),
          col("t").cast(LongType).as("total_chars"),
          expr("CAST((1000000000 * (2 * srank - (n_docs + 1) * t))" +
            " div (CAST(n_docs AS DECIMAL(38,0)) * t) AS BIGINT)")
            .as("gini_ppb"))
    },

    // CONTEXT-LENGTH TRUNCATION AUDIT — the "which max_seq_len do we
    // train at" table: for each candidate context length, exact token
    // accounting under one-doc-per-sequence batching — kept tokens
    // (min(n, L)), truncated-away mass, and padding waste — as integer
    // ppm of the corpus. t20 PACKS sequences to amortize the padding;
    // this is the audit that quantifies what packing saves and what
    // truncation costs at each L, from ONE token-count scan (the 3×
    // config fan-out explodes inside the scan stage and the partial agg
    // collapses it before the 3-row shuffle — q57's discipline). Sums
    // ride DECIMAL(38,0) (corpus token counts); the ppm divisions floor
    // via div on exact integers.
    "t34_context_audit" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      docs(s, dir)
        .select(size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        .select(col("n_tokens"),
          explode(array(lit(128L), lit(256L), lit(512L))).as("ctx_len"))
        .groupBy("ctx_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast(dec)).as("total_tokens"),
          sum(least(col("n_tokens"), col("ctx_len")).cast(dec)).as("kept"),
          sum(greatest(col("n_tokens") - col("ctx_len"), lit(0L)).cast(dec))
            .as("truncated"),
          sum(greatest(col("ctx_len") - col("n_tokens"), lit(0L)).cast(dec))
            .as("pad"))
        .select(col("ctx_len"), col("n_docs"),
          col("total_tokens").cast(LongType).as("total_tokens"),
          col("kept").cast(LongType).as("kept_tokens"),
          expr("CAST((truncated * 1000000) div total_tokens AS BIGINT)")
            .as("truncated_ppm"),
          expr("CAST((pad * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * ctx_len) AS BIGINT)")
            .as("pad_ppm"))
    },

    // JSONL INGESTION end-to-end (VERDICT r11 item 6) — the raw-crawl
    // shape: corpora arrive as line-delimited JSON, not parquet, and
    // SourceFormatSpec's round-trip pin alone left the format surface a
    // spec, not a gated capability. The query stages the documents table
    // as real JSONL files, reads them back through the EXPLICIT-schema
    // reader (schema-on-read with a declared contract — inference is a
    // full extra pass at 100 TB and nondeterministic across shards), and
    // applies the standard arrival normalization: contract filter
    // (non-null id, non-empty text), lang canonicalized, token count
    // stamped. The oracle states the same normalization over the parquet
    // twin — JSONL is lossless for long/string columns, so equality IS
    // the round-trip proof, now hash-gated per row. Scale: the JSON scan
    // is splittable line-format (partition-parallel like any text
    // source); the normalization is one codegen'd projection, no shuffle.
    "t33_jsonl_ingest" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t33")
      docs(s, dir).write.mode("overwrite").json(stage)
      crawlNormalize(s.read.schema(crawlSchema).json(stage))
    },

    // The SECOND arrival format through the SAME normalization contract
    // (VERDICT r12 item 5): raw crawls ship overwhelmingly as
    // gzip-compressed JSONL shards, and gzip changes the scale calculus —
    // a .gz file is NOT splittable, so parallelism equals shard count,
    // not byte ranges. The honest 100 TB posture is therefore
    // many-small-shards: keep each shard at the target partition size and
    // the scan parallelizes per-file exactly like the uncompressed scan
    // parallelizes per-split; one giant .gz would serialize the read (the
    // repartition after read is the recovery, paid as one shuffle). The
    // normalization, contract filter, and oracle are t33's verbatim —
    // compression must be invisible to semantics, and the shared hash
    // gate is that proof.
    "t35_jsonl_gzip_ingest" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t35")
      docs(s, dir).write.mode("overwrite")
        .option("compression", "gzip").json(stage)
      crawlNormalize(s.read.schema(crawlSchema).json(stage))
    },

    // CSV INGESTION — the third arrival format through the SAME
    // normalization contract, completing the format matrix (parquet
    // native, JSONL t33, gzip-JSONL t35, CSV here): tabular exports and
    // legacy crawls ship CSV, and CSV's failure mode is QUOTING — free
    // text containing the delimiter, quotes, or leading/trailing space
    // must survive the round trip byte-exactly or every downstream
    // fingerprint/shingle/token count silently shifts. The stage writes
    // with explicit quote-all + header, reads back with the DECLARED
    // schema (t33's no-inference rule) and the matching quote options;
    // the shared oracle + hash gate make "quoting is lossless on this
    // corpus" a verified fact per round, not an assumption. Scale: an
    // uncompressed CSV scan is splittable like any line format (quoted
    // newlines would break that — the writer never emits them here);
    // normalization is the same single codegen'd projection.
    "t37_csv_ingest" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t37")
      docs(s, dir).write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(stage)
      crawlNormalize(
        s.read.schema(crawlSchema).option("header", "true").csv(stage))
    },

    // ORC INGESTION — the fourth arrival format through the SAME
    // normalization contract, closing the format matrix on the COLUMNAR
    // axis (parquet native, JSONL t33, gzip-JSONL t35, CSV t37, ORC
    // here): Hive-era lakes ship ORC, and unlike the line formats it is
    // self-describing — the declared-schema read here is a CONTRACT
    // CHECK against the embedded schema rather than a parse instruction,
    // which is exactly the posture a 100 TB migration wants (drift
    // between the contract and a shard's embedded schema should fail the
    // read, not silently coerce). Same shared oracle + hash gate as
    // t33/t35/t37: the container format must be invisible to semantics.
    // Scale: ORC stripes are splittable like parquet row groups, carry
    // min/max indexes for predicate pushdown, and the normalization
    // stays one codegen'd projection — the scan-side economics of the
    // parquet path, unchanged.
    "t40_orc_ingest" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t40")
      docs(s, dir).write.mode("overwrite").orc(stage)
      crawlNormalize(s.read.schema(crawlSchema).orc(stage))
    },

    // PARTITIONED-LAYOUT INGESTION — the WRITE-side axis the format
    // matrix (t33/t35/t37/t40) doesn't touch: the corpus staged
    // hive-partitioned by lang (the layout a 100 TB store actually
    // uses for its highest-selectivity column), then read back through
    // the same declared schema + normalization with a lang predicate.
    // The point is PARTITION PRUNING as a gated capability, not a spec
    // assertion: the filter lands in the scan's PartitionFilters (pinned
    // in PartitionPruningSpec), so the read LISTS only the lang=en
    // directory — at corpus scale the other ~4/5 of the bytes are never
    // opened, the pruning equivalent of q2's column pruning. The oracle
    // restates the predicate over the unpartitioned parquet twin, so the
    // hash gate proves layout is semantics-invisible exactly like
    // compression (t35) and container format (t40) are. Scale: the
    // partitioned write is one shuffle-free pass (5 directories); the
    // pruned read is file-listing-proportional to the SELECTED partition
    // only.
    "t41_partitioned_ingest" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t41")
      docs(s, dir).write.mode("overwrite")
        .partitionBy("lang").parquet(stage)
      crawlNormalize(
        s.read.schema(crawlSchema).parquet(stage)
          .filter(col("lang") === "en"))
    },

    // UNICODE NORMALIZATION AUDIT — the hostile-input discipline
    // (t38 torn lines, m13 bitrot) on the ENCODING axis: a composed "é"
    // (U+00E9) and its decomposed twin "e"+U+0301 are byte-different,
    // render identically, and silently split every downstream
    // fingerprint/shingle/token statistic. This audit measures the
    // exposure per source — how many docs are not NFC, how many code
    // points normalization saves, and a doc-id checksum over the hits —
    // using the native codegen'd NfcNormalize expression (Spark has no
    // builtin; a UDF would break codegen on a corpus-linear pass). The
    // corpus is ASCII (= already NFC, the fast path), so the fixture
    // injects decomposed sequences deterministically (doc_id%13==5) and
    // the oracle COMPUTES the same audit through DuckDB's nfc_normalize —
    // the hash gate is the cross-engine TR15-agreement proof (d38's
    // ladder then measures what normalization unlocks for dedup). Scale:
    // one codegen'd projection + a |sources|-row partial+final agg; the
    // already-NFC fast path returns the input zero-copy.
    "t42_unicode_audit" -> { (s, dir) =>
      val aug = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" cafe\u0301")))
          .otherwise(col("text")).as("text"))
      // one byte-compare per row, not one per aggregate term (the x34
      // re-measurement's discipline, shared with the streaming twin)
      aug.select(col("source"), col("doc_id"), col("text"),
          graft.functions.NfcNormalize.nfc(col("text")).as("nt"))
        .select(col("source"), col("doc_id"),
          (col("nt") =!= col("text")).as("nonnfc"),
          (length(col("text")) - length(col("nt"))).as("saved"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nonnfc"), 1L).otherwise(0L)).as("n_nonnfc"),
          sum(when(col("nonnfc"), col("saved")).otherwise(0))
            .cast(LongType).as("chars_saved"),
          sum(when(col("nonnfc"), col("doc_id")).otherwise(0L))
            .as("nonnfc_id_sum"))
    },

    // SCHEMA-EVOLUTION INGESTION AUDIT (VERDICT r14 item 4) — the
    // arrival hazard the format matrix (t33-t41) and the torn-record
    // audits (t38/t39) don't touch: a long-lived corpus DRIFTS
    // mid-stream. The stage materializes three shard generations under
    // one root (hive-keyed by gen, the free provenance a real lake
    // carries): gen=0 is the historical NARROW shard (n_chars stored as
    // INT32), gen=1 ADDS a column (quality), gen=2 RENAMES lang to
    // language. The read is schema-on-read with the DECLARED SUPERSET
    // contract (t33's no-inference rule, extended): missing columns
    // surface as nulls, the INT32 shard WIDENS into the contract's
    // BIGINT via the parquet reader's type promotion, and — pinned in
    // SourceFormatSpec — the naive alternative, mergeSchema, FAILS
    // OUTRIGHT on the widened shard (CANNOT_MERGE_INCOMPATIBLE_DATA_
    // TYPE), which is exactly why the declared-superset posture is the
    // 100 TB answer (mergeSchema also burns a full footer pass per
    // shard). Every row is then CLASSIFIED, t38-style — baseline /
    // extended / renamed, from observed values, never from the directory
    // key — and the renamed shard's contract column is RECOVERED via
    // coalesce(lang, language), so drift is counted and repaired, not
    // silently nulled. The oracle restates the generations from the
    // parquet twin (gen = doc_id % 3). Scale: one partition-discovering
    // scan, classification is one codegen'd projection, the readout a
    // |gens|-row agg.
    "t43_schema_evolution_audit" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t43")
      val d = docs(s, dir)
      d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars").cast("int").as("n_chars"))
        .write.mode("overwrite").parquet(s"$stage/gen=0")
      d.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), (col("n_chars") % 100).as("quality"))
        .write.mode("overwrite").parquet(s"$stage/gen=1")
      d.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("text"), col("lang").as("language"),
          col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$stage/gen=2")
      val superset = crawlSchema
        .add("quality", LongType).add("language", StringType)
        .add("gen", LongType)
      s.read.schema(superset).parquet(stage)
        .select(col("gen"),
          when(col("language").isNotNull, "renamed")
            .when(col("quality").isNotNull, "extended")
            // a row whose drift columns are ALL null is value-
            // indistinguishable (a gen-2 row with a null corpus lang has
            // a null language too; a gen-1 row with a null n_chars has a
            // null quality): fall back to the hive provenance key so the
            // classification stays TOTAL — observed values first, gen
            // tiebreak only for the all-null residue (ADVICE r15; the
            // d38 null-doc-id hazard class)
            .when(col("gen") === 2, "renamed")
            .when(col("gen") === 1, "extended")
            .otherwise("baseline").as("drift_class"),
          col("lang"), col("language"), col("doc_id"), col("n_chars"))
        .groupBy("gen", "drift_class")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang").isNull, 1L).otherwise(0L))
            .as("n_contract_nulled"),
          sum(when(coalesce(col("lang"), col("language")).isNotNull, 1L)
            .otherwise(0L)).as("n_recovered"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("id_sum"))
    },

    // WEIGHTED EXACT-n STRATIFIED SAMPLE (VERDICT r16 item 4) — the
    // missing member between t32's uniform exact-n and t16/t21's
    // expected-count Bernoulli weighting: exactly n docs per language,
    // drawn WITHOUT replacement with probability proportional to an
    // integer mass weight w = least(64, 1 + n_chars div 256) — "sample
    // docs by token mass", the draw a mixture designer actually wants.
    // Scheme: the deterministic A-ES equivalent in PURE INTEGERS — give
    // each doc w independent md5-32 uniforms (salted doc_id:j) and rank
    // strata by each doc's MINIMUM. All Σw uniforms are iid under the
    // hash model, so the doc owning the r-th smallest not-yet-seen
    // uniform is exactly the r-th draw of successive w-proportional
    // sampling without replacement (P(first) = w_i/Σw by symmetry) —
    // the same selection law as Efraimidis-Spirakis u^(1/w) keys, but
    // with NO libm pow/log whose last-ulp rounding could split the
    // engines: every comparison is between exact 32-bit integers, so
    // the gate hashes and a retry resamples identically. The w ≤ 64 cap
    // bounds the replication blow-up (≤64× one scan's rows through a
    // min-agg, corpus-linear) AND the weight concentration the survivor
    // bound leans on. Two-phase like t32: a broadcast per-stratum
    // cutoff 2³²·8n div Σw keeps ~8n expected survivors (expected ≥ 4n
    // even at full weight concentration: Σ(1−(1−p)^w) ≥ 8n·(1−4n/cn)
    // with cn > 4n; the < n tail is then an e^(−n) Chernoff event), the
    // exact (hmin, doc_id) rank runs over survivors only, and a stratum
    // with cn ≤ 4n keeps the cutoff at 2³² so every doc survives and
    // exactness is by construction. The prefilter-losslessness is
    // pinned in OperatorSpec against a sequential full rank.
    "t44_weighted_exact_sample" -> { (s, dir) =>
      val n = 50
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
        expr("least(64, 1 + (n_chars div 256))").as("w"))
      val keyed = base
        .select(col("doc_id"), col("lang"), col("w"),
          explode(expr("sequence(0, w - 1)")).as("j"))
        .select(col("doc_id"), col("lang"), col("w"),
          graft.functions.Md5Hash32.hash32(
            concat(col("doc_id").cast(StringType), lit(":"),
              col("j").cast(StringType))).as("hj"))
        .groupBy("doc_id", "lang", "w").agg(min("hj").as("hmin"))
      val cut = base.groupBy("lang")
        .agg(count(lit(1)).as("cn"), sum("w").cast(LongType).as("tw"))
        .withColumn("cutoff", expr(
          s"CASE WHEN cn <= ${4L * n} THEN 4294967296" +
            s" ELSE least(4294967296, (4294967296 * ${8L * n}) div tw) END"))
      val rkw = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("hmin"), col("doc_id"))
      keyed.join(broadcast(cut), Seq("lang"))
        .filter(col("hmin") < col("cutoff"))
        .withColumn("rk", row_number().over(rkw).cast(LongType))
        .filter(col("rk") <= n)
        .select(col("lang"), col("rk"), col("doc_id"), col("w"))
    },

    // MALFORMED-RECORD INGESTION AUDIT (VERDICT r13 item 3) — t33/t35/t37
    // read declared schemas over well-formed lines; real crawl JSONL has
    // broken lines, and the engine's contract on them must be COUNTED,
    // NEVER SILENTLY DROPPED. The stage injects deterministic corruption
    // (every doc with doc_id % 7 == 3 ships as its JSON line truncated to
    // half length — an unterminated object, the torn-write/split-range
    // shape real crawls produce); the read is text + from_json in
    // PERMISSIVE mode with an explicit _corrupt_record column, and a line
    // is corrupt iff that column is set — NOT "some field is null", which
    // partial-results parsing (spark.sql.json.enablePartialResults) would
    // misclassify when the fields before the tear still parse. The audit
    // emits exact counts plus two content checksums over the valid rows,
    // so "every well-formed line parsed fully and every torn line was
    // counted" is one hash-gated row. The oracle restates the counts from
    // the parquet twin via the injection rule. Scale: the text scan is
    // splittable, from_json is one codegen'd projection, and the audit is
    // a single partial+final aggregate — no shuffle wider than 1 row.
    "t38_malformed_audit" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t38")
      docs(s, dir)
        .withColumn("js", to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))))
        .select(when(col("doc_id") % 7 === 3,
            expr("substr(js, 1, greatest(length(js) div 2, 1))"))
          .otherwise(col("js")).as("value"))
        .write.mode("overwrite").text(stage)
      val parseSchema = crawlSchema.add("_corrupt_record", StringType)
      s.read.text(stage)
        .select(from_json(col("value"), parseSchema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("r._corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_valid"),
          sum(when(col("r._corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("r._corrupt_record").isNull, col("r.n_chars"))
            .otherwise(0L)).as("valid_chars"),
          sum(when(col("r._corrupt_record").isNull, col("r.doc_id"))
            .otherwise(0L)).as("valid_id_sum"))
    },

    // MALFORMED-CSV AUDIT — t38's torn-line audit on the CSV arrival
    // format, where the failure shape is DIFFERENT in kind: a torn JSONL
    // line is an unterminated object, but a torn CSV line is either an
    // unterminated QUOTE or a balanced SHORT RECORD. This Spark flags
    // both (pinned in SourceFormatSpec) — while ALSO partially filling
    // the fields before the tear, so validity can never be inferred from
    // field presence. The classification is therefore parser-flag OR
    // CONTRACT violation (n_chars, the LAST column, is null — a
    // half-line tear provably loses it, and the corpus itself is fully
    // non-null at every gate SF): correct on this Spark and still
    // correct on the historical behavior where short records were
    // silently nulled without a flag. Same injected rule, same audit
    // columns, same shared oracle as t38 — the tear must be visible
    // through BOTH formats' failure modes. Scale: identical to t38
    // (splittable text scan, one codegen'd from_csv projection, 1-row
    // aggregate).
    "t39_csv_malformed_audit" -> { (s, dir) =>
      val stage = TempRoot.stageDir(dir, "t39")
      docs(s, dir)
        .withColumn("cs", to_csv(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")),
          new java.util.HashMap(scala.jdk.CollectionConverters.MapHasAsJava(
            Map("quoteAll" -> "true")).asJava)))
        .select(when(col("doc_id") % 7 === 3,
            expr("substr(cs, 1, greatest(length(cs) div 2, 1))"))
          .otherwise(col("cs")).as("value"))
        .write.mode("overwrite").text(stage)
      val parseSchema = crawlSchema.add("_corrupt_record", StringType)
      val bad = col("r._corrupt_record").isNotNull || col("r.n_chars").isNull
      s.read.text(stage)
        .select(from_csv(col("value"), parseSchema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(bad, 0L).otherwise(1L)).as("n_valid"),
          sum(when(bad, 1L).otherwise(0L)).as("n_corrupt"),
          sum(when(bad, 0L).otherwise(col("r.n_chars"))).as("valid_chars"),
          sum(when(bad, 0L).otherwise(col("r.doc_id"))).as("valid_id_sum"))
    },

    // QUALITY×DUPLICATION CALIBRATION — the cross-signal audit the two
    // curation axes need before being applied together: does low quality
    // PREDICT duplication (boilerplate is both low-quality and viral), or
    // are the filters independent? Per stopword-ratio decile (exact
    // integer ppm, floored to the 100k bucket — never a float boundary),
    // the exact-dup rate in ppm. A strong gradient says the quality gate
    // already removes much of what dedup would; a flat line says the two
    // passes earn their keep separately — the pipeline-ordering decision
    // (t26 runs quality THEN dedup) quantified. Plan: one narrow
    // (doc_id, fp, bucket) projection (Dedup.fpCol — the d1 spelling, so
    // this audit can never drift from the dedup it predicts), one fp
    // count agg + join back (the only corpus shuffles), then an
    // ≤11-row bucket rollup with exact integral ppm floors.
    "t36_quality_dup_calibration" -> { (s, dir) =>
      val base = withQualityCols(docs(s, dir))
        .withColumn("fp", graft.operators.Dedup.fpCol)
        .select(col("doc_id"), col("fp"),
          expr("((n_stop * 1000000) div n_tokens) div 100000").as("bucket"))
        .graftCkpt() // ONE corpus scan feeds the count agg AND the join
      val fc = base.groupBy("fp").agg(count(lit(1)).as("c"))
      base.join(fc, "fp")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
        .select(col("bucket"), col("n_docs"), col("n_dup_docs"),
          expr("CAST((n_dup_docs * 1000000) div n_docs AS BIGINT)")
            .as("dup_ppm"))
    },

    // Per-source-pair VOCABULARY overlap — the third axis of the
    // source-similarity triangle: w12 compares token DISTRIBUTIONS (TV
    // distance), d16 compares near-dup CONTENT, this compares vocabulary
    // SETS (exact Jaccard over distinct tokens) — the signal that says
    // two crawls cover the same domain even when their documents and
    // token frequencies differ. One (source, token) distinct pass bounds
    // everything: the token self-join fans out at most |sources| per
    // token (the postings carry sources, never documents), the pair
    // matrix is |sources|² rows, and the Jaccard divides two exact
    // longs (d4's gate-safe division).
    "w21_vocab_overlap" -> { (s, dir) =>
      val st = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .distinct().graftCkpt() // postings: sizes + pair join
      val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
      st.as("a").join(st.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("shared_vocab"))
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("n").as("n1"))), Seq("s1"))
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("n").as("n2"))), Seq("s2"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          col("shared_vocab"),
          (col("shared_vocab").cast("double")
            / (col("n1") + col("n2") - col("shared_vocab")))
            .as("vocab_jaccard"))
    },

    // Per-source LENGTH percentile profile — the corpus-shape audit a
    // curation pipeline reads before setting chunking/packing thresholds
    // (t20's 512 budget, t27's chunk width): exact p50/p90/p99/max doc
    // length per source with NO corpus-wide sort — q66's histogram trick
    // on the length axis. The only corpus-scale work is one (source,
    // n_chars) hash agg; the cumulative window and ceiling-rank picks run
    // over the |distinct lengths|-per-source histogram (KB-sized at any
    // corpus). Percentile rank is the exact ceiling spelling (cum ≥
    // ⌈p·n/100⌉), integers end to end.
    "w20_length_profile" -> { (s, dir) =>
      val h = docs(s, dir)
        .groupBy(col("source"), col("n_chars").as("len"))
        .agg(count(lit(1)).as("nd"))
        .graftCkpt() // totals + cumulative both read it
      val tot = h.groupBy("source")
        .agg(sum(col("nd")).cast(LongType).as("n_docs"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("len")
        .rowsBetween(Long.MinValue, 0)
      h.withColumn("cum", sum(col("nd")).over(cw))
        .join(broadcast(tot), Seq("source"))
        .groupBy("source")
        .agg(min(col("n_docs")).as("n_docs"),
          min(when(expr("cum >= (n_docs * 50 + 99) div 100"), col("len")))
            .as("p50_chars"),
          min(when(expr("cum >= (n_docs * 90 + 99) div 100"), col("len")))
            .as("p90_chars"),
          min(when(expr("cum >= (n_docs * 99 + 99) div 100"), col("len")))
            .as("p99_chars"),
          max(col("len")).as("max_chars"))
    },

    // ONE BPE MERGE ROUND applied — the APPLY step t19 (pair statistics)
    // stops short of, and the loop body tokenizer training repeats: pick
    // the top pair by the (count DESC, pair) total order, merge it into a
    // single symbol across the vocabulary, and emit the NEXT round's pair
    // table over the merged symbol sequences (where the new symbol now
    // pairs with its neighbors — the statistics that pick merge #2).
    // Greedy left-to-right non-overlapping merging — BPE's exact apply
    // rule — IS string replace() semantics ('aaa' merging 'aa' → [aa, a]),
    // so the merge is one codegen'd replace into a sentinel char (chr(1),
    // absent from the corpus alphabet by contract) and symbols stay
    // single chars; the sentinel expands back to the pair in the output.
    // Corpus is read ONCE (the word-count collapse is checkpointed and
    // feeds both the pair argmax and the re-tokenize — t19's
    // read-once-per-round discipline); everything downstream runs on the
    // VOCABULARY.
    "t30_bpe_merge_round" -> { (s, dir) =>
      val wc = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .graftCkpt()
      val top = wc.filter(length(col("word")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("cnt").cast(LongType).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair").as("mp"))
      wc.crossJoin(broadcast(top))
        .select(col("cnt"), col("mp"),
          expr("replace(word, mp, chr(1))").as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("cnt"), col("mp"), explode(expr(
          "transform(sequence(1, length(w) - 1)," +
            " i -> struct(substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r))"))
          .as("p"))
        .select(col("cnt"),
          expr("replace(p.l, chr(1), mp)").as("lhs"),
          expr("replace(p.r, chr(1), mp)").as("rhs"))
        .groupBy("lhs", "rhs")
        .agg(sum("cnt").cast(LongType).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("lhs"), col("rhs"))
        .limit(20)
    }
  )

  /** t14's learned inverse-frequency weights per lang (lang, weight),
    * factored so the streaming admission twin (x15) loads the same
    * weight table the batch manifest uses. */
  private[graft] def mixtureWeights(d0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = withQualityCols(d0)
    val g = d.groupBy("lang")
      .agg(sum("n_tokens").cast(LongType).as("tokens"))
    val all = Window.partitionBy()
    g.select(col("lang"),
      (sum("tokens").over(all).cast(DoubleType) /
        (count(lit(1)).over(all) * col("tokens"))).as("weight"))
  }

  /** The deterministic md5-Bernoulli copy-count projection over a
    * (doc_id, lang) frame joined to broadcast weights — t16's manifest,
    * shared with x15's per-microbatch admission. */
  private[graft] def mixtureManifest(ids: DataFrame, w: DataFrame): DataFrame = {
    val u = graft.functions.HexPrefixToLong
      .hex8(md5(col("doc_id").cast(StringType)))
    ids
      .join(broadcast(w), "lang")
      .withColumn("frac", u.cast(DoubleType) / lit(4294967296.0))
      .withColumn("n_copies",
        floor(col("weight")).cast(LongType) +
          when(col("frac") < col("weight") - floor(col("weight")), 1L)
            .otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("weight"), col("n_copies"))
  }

  /** The corpus bigram model and its prefix marginals (both checkpointed —
    * the model feeds its own marginals AND the probe join; uncheckpointed,
    * every consumer re-runs the corpus-scale bigram aggregation). Factored
    * so the streaming scorer (x16) probes the same static model. */
  private[graft] def lmModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val model = bigramPairs(docs(s, dir))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
      .graftCkpt()
    val prefix = model.groupBy("w1")
      .agg(sum("c_bg").cast(LongType).as("c_pre"))
    (model, prefix)
  }

  /** The per-document probe over a bound (model, prefix) pair: bigram pairs
    * → two equi-joins → integer-ppm per-doc mean. Shared verbatim by the
    * batch scorer and the streaming twin. */
  private[graft] def lmScoreProbe(
      d: DataFrame, model: DataFrame, prefix: DataFrame): DataFrame =
    bigramPairs(d)
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .join(model, Seq("w1", "w2"))
      .join(prefix, Seq("w1"))
      .withColumn("p6", expr("(c_bg * 1000000) div c_pre"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(p6) div count(1) AS BIGINT)").as("mean_p6"))

  /** t17's per-document mean bigram likelihood (doc_id, n_pairs, mean_p6),
    * factored so t18's bucket partition consumes the same scores. */
  private def lmDocScores(s: SparkSession, dir: String): DataFrame = {
    val (model, prefix) = lmModel(s, dir)
    lmScoreProbe(docs(s, dir), model, prefix)
  }

  /** t44's weighted-sample chain as shared CTEs ending in `ranked`
    * (lang, doc_id, w, rk under the (hmin, doc_id) order after the
    * survivor cutoff) — one spelling for the batch sampler and its
    * streaming twin x37, so the selection law can never drift between
    * them. The cutoff prefilter is lossless (OperatorSpec pin), so the
    * ranked rows ≤ 50 equal the full rank both consumers gate on. */
  private[graft] val weightedSampleSqlCtes: String = {
    val hexToInt = (0 until 8).map { i =>
      s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
    }.mkString(" + ")
    s"""base AS (SELECT doc_id, lang,
       |    least(64, 1 + (n_chars // 256)) AS w FROM documents),
       |rep AS (SELECT doc_id, lang, w,
       |          unnest(generate_series(0, w - 1)) AS j FROM base),
       |keyed AS (SELECT doc_id, lang, w, min($hexToInt) AS hmin
       |          FROM (SELECT doc_id, lang, w,
       |                  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS m
       |                FROM rep) t
       |          GROUP BY 1, 2, 3),
       |cut AS (SELECT lang, count(*) AS cn, sum(w) AS tw
       |        FROM base GROUP BY 1),
       |c2 AS (SELECT lang, CASE WHEN cn <= 200 THEN 4294967296
       |         ELSE least(4294967296, (4294967296 * 400) // tw) END
       |         AS cutoff
       |       FROM cut),
       |ranked AS (SELECT keyed.lang, doc_id, w,
       |    row_number() OVER (PARTITION BY keyed.lang
       |      ORDER BY hmin, doc_id) AS rk
       |  FROM keyed JOIN c2 ON keyed.lang = c2.lang
       |  WHERE hmin < cutoff)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "w1_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |WHERE w <> '' GROUP BY w""".stripMargin,

    "w2_doc_freq" ->
      """SELECT w AS word, count(DISTINCT doc_id) AS df, count(*) AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |WHERE w <> '' GROUP BY w""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
        |  n_chars,
        |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio
        |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents) t""".stripMargin,

    "t2_quality_score" ->
      s"""SELECT doc_id, n_tokens, n_stop,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tokens AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(CASE WHEN $qualityOkSql
         |       THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
         |FROM (SELECT doc_id, text,
         |        CAST(len(w) AS BIGINT) AS n_tokens,
         |        CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS BIGINT) AS n_stop
         |      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) t) u""".stripMargin,

    "t3_langid" ->
      s"""SELECT doc_id, lang, n_hits,
         |  CASE WHEN n_hits >= 2 THEN 'en' ELSE 'und' END AS lang_pred,
         |  CAST(CASE WHEN (CASE WHEN n_hits >= 2 THEN 'en' ELSE 'und' END) = lang
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_match
         |FROM (SELECT doc_id, lang,
         |        CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSqlList))) AS BIGINT) AS n_hits
         |      FROM documents) t""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin,

    "t5_token_count" ->
      """SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_filter(tk, x -> regexp_full_match(x, '[a-zA-Z]+'))) AS BIGINT) AS n_alpha,
        |  CAST(len(list_filter(tk, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_num,
        |  CAST(len(tk)
        |    - len(list_filter(tk, x -> regexp_full_match(x, '[a-zA-Z]+')))
        |    - len(list_filter(tk, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_other
        |FROM (SELECT doc_id,
        |        regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]') AS tk
        |      FROM documents) t""".stripMargin,

    "t6_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(generate_series(1, length(text)),
        |                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
        |FROM documents""".stripMargin,

    "t7_corpus_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(CASE WHEN $qualityOkSql
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
         |FROM (SELECT lang, source, n_chars,
         |        len(w) AS n_tokens,
         |        len(list_filter(w, x -> x IN ($stopSqlList))) AS n_stop
         |      FROM (SELECT lang, source, n_chars,
         |              string_split(text, ' ') AS w FROM documents) t) u
         |GROUP BY lang, source""".stripMargin,

    "t8_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df, score FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
        |    CAST(tf.tf * n.n AS DOUBLE) / dft.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / dft.df DESC, tf.term) AS rk
        |  FROM tf JOIN dft USING (term) CROSS JOIN n) t
        |WHERE rk <= 5""".stripMargin,

    "t10_stratified_sample" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""SELECT doc_id, lang, source, bucket FROM (
         |  SELECT doc_id, lang, source,
         |    ($hexToInt) % 100 AS bucket
         |  FROM (SELECT doc_id, lang, source,
         |          md5(CAST(doc_id AS VARCHAR)) AS m FROM documents) t) u
         |WHERE bucket < CASE WHEN lang = 'en' THEN 75
         |                    WHEN lang = 'zh' THEN 25 ELSE 50 END""".stripMargin
    },

    "w3_bigram_lm" ->
      """WITH b AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents) t,
        |       LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
        |  WHERE w[i] <> '' AND w[i+1] <> ''),
        |g AS (SELECT w1, w2, count(*) AS c FROM b GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT w1, w2, c, p FROM (
        |  SELECT w1, w2, c,
        |    CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY w1) AS p,
        |    row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rk
        |  FROM g) r
        |WHERE rk <= 3""".stripMargin,

    "t9_bigram_counts" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+1], ' '))) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
        |g AS (SELECT bigram, doc_id, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT bigram, CAST(sum(c) AS BIGINT) AS cnt, count(*) AS n_docs
        |FROM g GROUP BY bigram HAVING sum(c) >= 2""".stripMargin,

    "w4_cooccur_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |df AS (SELECT w, count(*) AS df FROM dt GROUP BY w),
        |n AS (SELECT count(*) AS n FROM documents),
        |p AS (
        |  SELECT a.w AS w1, b.w AS w2, count(*) AS n_both
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, n_both,
        |  CAST(n_both AS DOUBLE) * n / d1.df / d2.df AS lift
        |FROM p JOIN df d1 ON p.w1 = d1.w JOIN df d2 ON p.w2 = d2.w, n""".stripMargin,

    "t11_quality_gate" ->
      s"""WITH sc AS (
         |  SELECT doc_id, CAST(n_stop AS DOUBLE) / n_tokens AS score
         |  FROM (SELECT doc_id,
         |          CAST(len(w) AS BIGINT) AS n_tokens,
         |          CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS BIGINT) AS n_stop
         |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u),
         |thr AS (SELECT quantile_cont(score, 0.25) AS thr FROM sc)
         |SELECT doc_id, score, thr FROM sc, thr WHERE score >= thr""".stripMargin,

    "t12_gopher_rules" ->
      s"""SELECT doc_id, n_words,
         |  CAST(nsp_chars AS DOUBLE) / n_words AS avg_word_len,
         |  CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
         |  CAST(n_words - n_types AS DOUBLE) / n_words AS rep_frac,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_word_count,
         |  CAST(CASE WHEN nsp_chars >= n_words * 3 AND nsp_chars <= n_words * 10
         |       THEN 1 ELSE 0 END AS BIGINT) AS ok_word_len,
         |  CAST(CASE WHEN n_alpha * 5 >= n_words * 4 THEN 1 ELSE 0 END AS BIGINT) AS ok_alpha,
         |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
         |  CAST(CASE WHEN (n_words - n_types) * 5 <= n_words * 3 THEN 1 ELSE 0 END AS BIGINT) AS ok_repetition,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
         |        AND nsp_chars >= n_words * 3 AND nsp_chars <= n_words * 10
         |        AND n_alpha * 5 >= n_words * 4
         |        AND n_stop >= 2
         |        AND (n_words - n_types) * 5 <= n_words * 3
         |       THEN 1 ELSE 0 END AS BIGINT) AS gopher_ok
         |FROM (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(len(list_filter(w, x -> regexp_full_match(x, '[a-zA-Z]+'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS BIGINT) AS n_stop,
         |        CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
         |        CAST(length(replace(text, ' ', '')) AS BIGINT) AS nsp_chars
         |      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) t) u""".stripMargin,

    "t15_repetition" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+1], ' '))) AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
        |  WHERE len(w) >= 2),
        |g AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_n,
        |  CAST(CAST(sum(c) AS BIGINT) - count(*) AS DOUBLE)
        |    / CAST(sum(c) AS BIGINT) AS dup_frac,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_frac
        |FROM g GROUP BY doc_id""".stripMargin,

    "t14_mixture_weights" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t, count(*) AS k FROM g)
        |SELECT lang, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / t AS token_share,
        |  CAST(t AS DOUBLE) / (k * tokens) AS weight
        |FROM g, tot""".stripMargin,

    "w5_bigram_novelty" ->
      """WITH b AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |       LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
        |  WHERE w[i] <> '' AND w[i+1] <> ''),
        |c AS (SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty,
        |  CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_bigram_freq,
        |  CAST(min(cnt) AS BIGINT) AS min_bigram_freq
        |FROM b JOIN c USING (bigram) GROUP BY doc_id""".stripMargin,

    "t13_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$idRe')) AS BIGINT) AS n_ids,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
         |      '$idRe', '<ID>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g') AS redacted
         |FROM documents""".stripMargin,

    // the sketch is pruning-only: the exact recount makes the result the
    // plain frequent-token query, which is what the oracle spells
    "w6_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT w AS word
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT word, count(*) AS cnt
        |FROM tok CROSS JOIN n
        |GROUP BY word, n.n
        |HAVING count(*) * 64 > n.n""".stripMargin,

    // same count table, marginals, and sequential-double lift spelling
    "w8_source_shift" ->
      """WITH tok AS (
        |  SELECT source, w
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |sw AS (SELECT source, w, count(*) AS n_sw FROM tok GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS t_s FROM sw GROUP BY source),
        |nw AS (SELECT w, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY w),
        |t AS (SELECT CAST(sum(n_sw) AS BIGINT) AS t FROM sw),
        |l AS (SELECT sw.source, sw.w AS word, sw.n_sw,
        |        CAST(sw.n_sw AS DOUBLE) * t.t / nw.n_w / ts.t_s AS lift
        |      FROM sw JOIN nw USING (w) JOIN ts USING (source) CROSS JOIN t
        |      WHERE sw.n_sw >= 5)
        |SELECT source, word, n_sw, lift, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY lift DESC, word) AS rnk FROM l) r
        |WHERE rnk <= 5""".stripMargin,

    // w8's count-table CTEs verbatim; the absent-token mass is the folded
    // t_s·(t − b) term, never a (source × vocabulary) expansion
    "w12_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, w
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |sw AS (SELECT source, w, count(*) AS n_sw FROM tok GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS t_s FROM sw GROUP BY source),
        |nw AS (SELECT w, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY w),
        |t AS (SELECT CAST(sum(n_sw) AS BIGINT) AS t FROM sw),
        |agg AS (SELECT sw.source, ts.t_s, t.t,
        |          CAST(sum(abs(sw.n_sw * t.t - nw.n_w * ts.t_s)) AS BIGINT) AS a,
        |          CAST(sum(nw.n_w) AS BIGINT) AS b
        |        FROM sw JOIN nw USING (w) JOIN ts USING (source) CROSS JOIN t
        |        GROUP BY 1, 2, 3)
        |SELECT source, t_s AS n_tokens,
        |  CAST(a + t_s * (t - b) AS DOUBLE)
        |    / (CAST(t_s AS DOUBLE) * 2.0 * t) AS tv_distance
        |FROM agg""".stripMargin,

    // w12's folds with t23's residue as the group key
    "w16_split_divergence" ->
      """WITH tok AS (
        |  SELECT CASE WHEN r < 13 THEN 'test'
        |              WHEN r < 26 THEN 'val' ELSE 'train' END AS split, w
        |  FROM (SELECT
        |          (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS r,
        |          unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  WHERE w <> ''),
        |sw AS (SELECT split, w, count(*) AS n_sw FROM tok GROUP BY 1, 2),
        |ts AS (SELECT split, CAST(sum(n_sw) AS BIGINT) AS t_s FROM sw GROUP BY split),
        |nw AS (SELECT w, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY w),
        |t AS (SELECT CAST(sum(n_sw) AS BIGINT) AS t FROM sw),
        |agg AS (SELECT sw.split, ts.t_s, t.t,
        |          CAST(sum(abs(sw.n_sw * t.t - nw.n_w * ts.t_s)) AS BIGINT) AS a,
        |          CAST(sum(nw.n_w) AS BIGINT) AS b
        |        FROM sw JOIN nw USING (w) JOIN ts USING (split) CROSS JOIN t
        |        GROUP BY 1, 2, 3)
        |SELECT split, t_s AS n_tokens,
        |  CAST(a + t_s * (t - b) AS DOUBLE)
        |    / (CAST(t_s AS DOUBLE) * 2.0 * t) AS tv_distance
        |FROM agg""".stripMargin,

    // same fingerprint spelling as d1/d10, same ppm floors, same
    // corpus-wide dup-multiplicity window
    "w17_dataset_card" ->
      """WITH base AS (
        |  SELECT source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) AS fp
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |       FROM base GROUP BY source),
        |tl AS (SELECT source, lang AS top_lang, nl FROM (
        |         SELECT source, lang, count(*) AS nl,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY count(*) DESC, lang) AS rk
        |         FROM base GROUP BY source, lang) r
        |       WHERE rk = 1),
        |dd AS (SELECT source, count(*) AS n_dup FROM (
        |         SELECT source, count(*) OVER (PARTITION BY fp) AS m
        |         FROM base) x
        |       WHERE m >= 2 GROUP BY source)
        |SELECT ps.source, ps.n_docs, ps.n_tokens, ps.n_langs, tl.top_lang,
        |  tl.nl * 1000000 // ps.n_docs AS top_lang_ppm,
        |  CAST(coalesce(dd.n_dup, 0) AS BIGINT) AS n_dup_docs,
        |  coalesce(dd.n_dup, 0) * 1000000 // ps.n_docs AS dup_doc_ppm,
        |  ps.n_tokens // ps.n_docs AS mean_doc_tokens
        |FROM ps JOIN tl ON ps.source = tl.source
        |LEFT JOIN dd ON ps.source = dd.source""".stripMargin,

    // one aggregate, the same integer ceiling/floor divisions
    "w18_compaction_plan" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bytes,
        |  CAST(sum(CASE WHEN n_chars > 262144 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oversized,
        |  (CAST(sum(n_chars) AS BIGINT) + 1048575) // 1048576 AS target_files,
        |  CAST(sum(n_chars) AS BIGINT) // count(*) AS avg_doc_bytes
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // two chained aggregates; the ppm ratio is the same single floor
    "w14_token_burstiness" ->
      """WITH dtc AS (
        |  SELECT doc_id, w AS word, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY 1, 2),
        |b AS (SELECT word, count(*) AS df, CAST(sum(c) AS BIGINT) AS total,
        |        CAST(max(c) AS BIGINT) AS max_in_doc
        |      FROM dtc GROUP BY word HAVING count(*) >= 10)
        |SELECT word, df, total, max_in_doc,
        |  CAST((max_in_doc * df * 1000000) // total AS BIGINT) AS burst_ppm
        |FROM b ORDER BY burst_ppm DESC, word LIMIT 20""".stripMargin,

    // w8's wordcount CTE; the head is the same (cnt DESC, word) total
    // order; integer ppm floors
    "w13_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT w AS word
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |wc AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wc),
        |head AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
        |         FROM wc ORDER BY cnt DESC, word LIMIT 10000),
        |ks AS (SELECT unnest([100, 1000, 10000]) AS k)
        |SELECT CAST(ks.k AS BIGINT) AS k, count(*) AS k_eff,
        |  CAST(sum(h.cnt) AS BIGINT) AS covered, tot.total,
        |  CAST((CAST(sum(h.cnt) AS BIGINT) * 1000000) // tot.total AS BIGINT)
        |    AS coverage_ppm
        |FROM ks JOIN head h ON h.rnk <= ks.k CROSS JOIN tot
        |GROUP BY ks.k, tot.total""".stripMargin,

    // t3's prediction CTE; windows over the |langs|^2 matrix
    "t22_langid_eval" ->
      s"""WITH p AS (
         |  SELECT lang, CASE WHEN n_hits >= 2 THEN 'en' ELSE 'und' END AS lang_pred
         |  FROM (SELECT lang,
         |          CAST(len(list_filter(string_split(text, ' '),
         |            x -> x IN ($stopSqlList))) AS BIGINT) AS n_hits
         |        FROM documents) t),
         |c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
         |  CAST((n * 1000000) // (sum(n) OVER (PARTITION BY lang)) AS BIGINT)
         |    AS share_ppm
         |FROM c""".stripMargin,

    // t16's weight CTEs × d25's fp window; every double op in the Spark
    // operand order
    "t21_dedup_weighted_sample" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""WITH g AS (
         |  SELECT lang,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t, count(*) AS k FROM g),
         |w AS (SELECT lang, CAST(t AS DOUBLE) / (k * tokens) AS weight FROM g, tot),
         |f AS (SELECT doc_id, lang,
         |        count(*) OVER (PARTITION BY
         |          md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))))
         |        ) AS nc
         |      FROM documents),
         |u AS (SELECT doc_id, ($hexToInt) AS uv
         |      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m
         |            FROM documents) h)
         |SELECT f.doc_id, f.lang, CAST(nc AS BIGINT) AS n_copies_dup,
         |  weight / nc AS eff_weight,
         |  CAST(floor(weight / nc) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0
         |               < weight / nc - floor(weight / nc)
         |          THEN 1 ELSE 0 END) AS n_copies
         |FROM f JOIN w ON f.lang = w.lang JOIN u ON u.doc_id = f.doc_id
         |WHERE CAST(floor(weight / nc) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0
         |               < weight / nc - floor(weight / nc)
         |          THEN 1 ELSE 0 END) > 0""".stripMargin
    },

    // pair expansion over the vocabulary CTE, never the corpus
    "t19_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT w AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |p AS (SELECT cnt, substr(word, CAST(i AS INT), 2) AS pair
        |      FROM (SELECT word, cnt,
        |              unnest(generate_series(1, length(word) - 1)) AS i
        |            FROM wc WHERE length(word) >= 2) t)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
        |  count(*) AS n_contexts
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,

    // the same running sum, the same floors
    "t20_seq_packing" ->
      """SELECT doc_id, source, n_tokens,
        |  cum_before // 512 AS seq_id, cum_before % 512 AS seq_offset
        |FROM (SELECT doc_id, source, n_tokens,
        |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - n_tokens AS BIGINT) AS cum_before
        |      FROM (SELECT doc_id, source,
        |              CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
        |                AS BIGINT) AS n_tokens
        |            FROM documents) t) t2""".stripMargin,

    // the shared ch CTE verbatim
    "t27_rag_chunks" ->
      s"""WITH $ragChunkSqlCte
         |SELECT doc_id, chunk_id, tok_start, chunk_len, chunk_fp FROM ch""".stripMargin,

    // t28: the first-occurrence rule spelled relationally — min chunk
    // index per (doc, chunk text), ordered string_agg rebuilds the text
    "t28_repeat_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS cidx,
        |    array_to_string(
        |      w[(u.i - 1) * 3 + 1 : least(n, (u.i - 1) * 3 + 3)], ' ') AS ctext
        |  FROM t, LATERAL unnest(
        |    generate_series(1, (greatest(n, 1) - 1) // 3 + 1)) AS u(i)),
        |k AS (
        |  SELECT doc_id, cidx, ctext,
        |    min(cidx) OVER (PARTITION BY doc_id, ctext) AS first_idx
        |  FROM c)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN cidx = first_idx THEN ctext END,
        |    ' ' ORDER BY cidx), '') AS clean_text,
        |  count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN cidx = first_idx THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM k GROUP BY doc_id""".stripMargin,

    // every stage's oracle spelling chained: t11's gate, d7's window,
    // d12's probe, t23's residue, t20's packing
    "t26_curation_pipeline" ->
      s"""WITH ${graft.operators.Dedup.hashSetSqlCte},
         |sc AS (
         |  SELECT doc_id, CAST(n_stop AS DOUBLE) / n_tokens AS score
         |  FROM (SELECT doc_id,
         |          CAST(len(w) AS BIGINT) AS n_tokens,
         |          CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS BIGINT) AS n_stop
         |        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u),
         |thr AS (SELECT quantile_cont(score, 0.25) AS thr FROM sc),
         |q AS (SELECT doc_id FROM sc, thr WHERE score >= thr),
         |f AS (SELECT d.doc_id, d.source, d.text, d.n_chars,
         |        md5(lower(trim(regexp_replace(d.text, '[ \\t\\n\\r\\f]+', ' ', 'g')))) AS fp
         |      FROM documents d JOIN q ON d.doc_id = q.doc_id),
         |kept AS (SELECT doc_id, source, text FROM (
         |           SELECT f.*, row_number() OVER (
         |             PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rk
         |           FROM f) t WHERE rk = 1),
         |bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 10),
         |cont AS (SELECT DISTINCT c.doc_id
         |         FROM (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 10) c
         |         JOIN bench b ON c.h = b.h),
         |clean AS (SELECT k.doc_id, k.source, k.text FROM kept k
         |          WHERE k.doc_id >= 10
         |            AND k.doc_id NOT IN (SELECT doc_id FROM cont)
         |            AND (instr('0123456789abcdef',
         |                   substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |              + (instr('0123456789abcdef',
         |                   substr(md5(CAST(k.doc_id AS VARCHAR)), 2, 1)) - 1) >= 26),
         |tok AS (SELECT doc_id, source,
         |          CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |            AS BIGINT) AS n_tokens
         |        FROM clean)
         |SELECT doc_id, source, n_tokens,
         |  cum_before // 512 AS seq_id, cum_before % 512 AS seq_offset
         |FROM (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          - n_tokens AS BIGINT) AS cum_before
         |      FROM tok) t2""".stripMargin,

    // same two tokenizers, same integer ppm ratio
    "t25_tokenizer_fertility" ->
      """WITH c AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
        |      AS BIGINT) AS nw,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |      AS BIGINT) AS nt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nt) * 1000000 // sum(nw) AS BIGINT) AS fertility_ppm
        |FROM c GROUP BY lang""".stripMargin,

    // positions over the raw split arrays (Spark posexplode 0-based,
    // list index 1-based — offsets agree), same post-pair empty guard
    "t24_skipgram_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, ws[u.i] AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |       LATERAL unnest(generate_series(1, len(ws))) AS u(i)),
        |p AS (SELECT a.w1, b.word AS w2, count(*) AS cnt
        |      FROM (SELECT doc_id, pos + off AS pos, word AS w1
        |            FROM tok, (SELECT unnest([1, 2]) AS off) o) a
        |      JOIN tok b ON a.doc_id = b.doc_id AND a.pos = b.pos
        |      WHERE a.w1 <> '' AND b.word <> ''
        |      GROUP BY 1, 2)
        |SELECT w1, w2, cnt FROM p
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,

    // same distinct collapse, same word-keyed pair count, one division
    "w15_vocab_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT lang, w AS word
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |sz AS (SELECT lang, count(*) AS n FROM v GROUP BY lang),
        |sh AS (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
        |       FROM v a JOIN v b ON a.word = b.word AND a.lang < b.lang
        |       GROUP BY 1, 2)
        |SELECT sh.lang_a, sh.lang_b, sh.n_shared, x.n AS n_a, y.n AS n_b,
        |  CAST(sh.n_shared AS DOUBLE) / (x.n + y.n - sh.n_shared) AS jaccard
        |FROM sh JOIN sz x ON sh.lang_a = x.lang
        |        JOIN sz y ON sh.lang_b = y.lang""".stripMargin,

    // same md5-byte residue, same 13/26 boundaries, same integer ppm
    "t23_split_manifest" ->
      """WITH h AS (SELECT source, n_chars,
        |    (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS r
        |  FROM documents),
        |a AS (SELECT source,
        |        CASE WHEN r < 13 THEN 'test'
        |             WHEN r < 26 THEN 'val' ELSE 'train' END AS split,
        |        count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |      FROM h GROUP BY 1, 2)
        |SELECT source, split, n_docs, n_chars,
        |  CAST(n_docs * 1000000
        |    // (sum(n_docs) OVER (PARTITION BY source)) AS BIGINT) AS share_ppm
        |FROM a""".stripMargin,

    // the sketch prunes, the recount is exact per (lang, word) — the
    // oracle spells the per-group frequent-token query directly
    "w7_lang_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT lang, w AS word
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> ''),
        |n AS (SELECT lang, count(*) AS n FROM tok GROUP BY lang)
        |SELECT tok.lang, word, count(*) AS cnt
        |FROM tok JOIN n ON tok.lang = n.lang
        |GROUP BY tok.lang, word, n.n
        |HAVING count(*) * 64 > n.n""".stripMargin,

    // same wordcount, same (cnt DESC, word) head and rank order
    "w9_zipf" ->
      """WITH wc AS (
        |  SELECT w AS word, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rnk,
        |  word, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, word) * cnt AS BIGINT) AS zipf_product,
        |  CAST(cnt AS DOUBLE) / max(cnt) OVER () AS rel_freq
        |FROM top""".stripMargin,

    // t14's weight CTEs verbatim; the residue is t10's hex-to-long spelling
    // over the same md5(doc_id); every double op mirrors the Spark order
    "t16_mixture_sample" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""WITH g AS (
         |  SELECT lang,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t, count(*) AS k FROM g),
         |w AS (SELECT lang, CAST(t AS DOUBLE) / (k * tokens) AS weight FROM g, tot),
         |u AS (SELECT doc_id, lang, ($hexToInt) AS uv
         |      FROM (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m
         |            FROM documents) h)
         |SELECT doc_id, u.lang, weight,
         |  CAST(floor(weight) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0 < weight - floor(weight)
         |          THEN 1 ELSE 0 END) AS n_copies
         |FROM u JOIN w ON u.lang = w.lang
         |WHERE CAST(floor(weight) AS BIGINT) +
         |    (CASE WHEN CAST(uv AS DOUBLE) / 4294967296.0 < weight - floor(weight)
         |          THEN 1 ELSE 0 END) > 0""".stripMargin
    },

    // head = top-16 by (cnt DESC, word) — the same total tiebreak; the
    // per-source rates are exact longs + one integer ppm floor
    "w10_oov_rate" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |t AS (SELECT source, word FROM tok WHERE word <> ''),
        |head AS (SELECT word FROM (
        |  SELECT word, count(*) AS cnt FROM t GROUP BY word
        |  ORDER BY cnt DESC, word LIMIT 16)),
        |m AS (SELECT t.source, t.word, head.word IS NOT NULL AS iv
        |      FROM t LEFT JOIN head ON t.word = head.word)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST((sum(CASE WHEN iv THEN 0 ELSE 1 END) * 1000000) // count(*) AS BIGINT) AS oov_ppm
        |FROM m GROUP BY source""".stripMargin,

    "w11_heaps" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM documents),
        |dq AS (
        |  SELECT source, ((doc_id - lo) * 4) // (hi - lo) + 1 AS q,
        |         string_split(text, ' ') AS w
        |  FROM documents, b),
        |tokf AS (
        |  SELECT source, q, word FROM
        |    (SELECT source, q, unnest(w) AS word FROM dq) t
        |  WHERE word <> ''),
        |base AS (SELECT source, q, count(*) AS n_docs FROM dq GROUP BY 1, 2),
        |tq AS (SELECT source, q, count(*) AS n_tokens FROM tokf GROUP BY 1, 2),
        |nv AS (SELECT source, q, count(*) AS new_vocab FROM
        |         (SELECT source, word, min(q) AS q FROM tokf GROUP BY 1, 2) f
        |       GROUP BY 1, 2),
        |j AS (SELECT base.source, base.q, n_docs, n_tokens,
        |             coalesce(new_vocab, 0) AS new_vocab
        |      FROM base JOIN tq USING (source, q) LEFT JOIN nv USING (source, q))
        |SELECT source, q,
        |  CAST(sum(n_docs) OVER w AS BIGINT) AS docs_cum,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS tokens_cum,
        |  CAST(sum(new_vocab) OVER w AS BIGINT) AS vocab_cum,
        |  CAST((sum(new_vocab) OVER w * 1000000) // (sum(n_tokens) OVER w) AS BIGINT) AS ttr_ppm
        |FROM j
        |WINDOW w AS (PARTITION BY source ORDER BY q
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // w3's bigram extraction verbatim; probabilities and the mean stay in
    // scaled-integer floor arithmetic so every value hash-gates
    "t17_lm_likelihood" ->
      s"""WITH $lmScoreSqlCtes
         |SELECT doc_id, n_pairs, mean_p6 FROM sc""".stripMargin,

    "t18_ppl_buckets" ->
      s"""WITH $lmScoreSqlCtes,
         |thr AS (SELECT quantile_cont(mean_p6, 1.0/3) AS t1,
         |               quantile_cont(mean_p6, 2.0/3) AS t2 FROM sc)
         |SELECT CASE WHEN mean_p6 > t2 THEN 'head'
         |            WHEN mean_p6 > t1 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs,
         |  CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
         |  ${graft.Exprs.davgSql("mean_p6", 6)} AS avg_p6
         |FROM sc, thr GROUP BY 1""".stripMargin,

    // same raw-split grams (w[i:i+k] is end-inclusive = slice(w, i, n)),
    // same three single-row aggs, same ppm floor
    "t29_ngram_saturation" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g1 AS (SELECT unnest(w) AS g FROM w),
        |g2 AS (SELECT array_to_string(w[i:i+1], ' ') AS g
        |       FROM w, LATERAL unnest(generate_series(1, len(w)-1)) AS t(i)),
        |g3 AS (SELECT array_to_string(w[i:i+2], ' ') AS g
        |       FROM w, LATERAL unnest(generate_series(1, len(w)-2)) AS t(i)),
        |u AS (
        |  SELECT CAST(1 AS BIGINT) AS n, count(*) AS total,
        |    count(DISTINCT g) AS n_distinct FROM g1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), count(*), count(DISTINCT g) FROM g2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), count(*), count(DISTINCT g) FROM g3)
        |SELECT n, total, n_distinct,
        |  CAST((total - n_distinct) * 1000000 // total AS BIGINT)
        |    AS repeat_ppm
        |FROM u""".stripMargin,

    // d1's normalized fingerprint verbatim, the same histogram + total
    "w19_dup_histogram" ->
      """WITH fp AS (SELECT md5(lower(trim(
        |              regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))) AS fp
        |            FROM documents),
        |sz AS (SELECT fp, count(*) AS m FROM fp GROUP BY fp),
        |h AS (SELECT m AS cluster_size, count(*) AS n_clusters,
        |        CAST(sum(m) AS BIGINT) AS n_docs
        |      FROM sz GROUP BY m)
        |SELECT cluster_size, n_clusters, n_docs,
        |  CAST(n_docs * 1000000 // (SELECT sum(n_docs) FROM h) AS BIGINT)
        |    AS corpus_ppm
        |FROM h""".stripMargin,

    // the same 32-bit md5 hash (8-hex-digit chain), the same broadcast
    // cutoff arithmetic, the same (h, doc_id) rank
    "t32_stratified_exact_sample" -> {
      val hexToInt = (0 until 8).map { i =>
        s"(instr('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
      }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id, lang, $hexToInt AS h
         |           FROM (SELECT doc_id, lang,
         |                   md5(CAST(doc_id AS VARCHAR)) AS m
         |                 FROM documents) t),
         |cut AS (SELECT lang,
         |          least(4294967296, (4294967296 * 200) // count(*)) AS cutoff
         |        FROM b GROUP BY lang)
         |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
         |  SELECT b.lang, doc_id,
         |    row_number() OVER (PARTITION BY b.lang ORDER BY h, doc_id) AS rk
         |  FROM b JOIN cut ON b.lang = cut.lang WHERE h < cutoff) r
         |WHERE rk <= 50""".stripMargin
    },

    // the same salted md5-32 minimum per doc (8-hex-digit chain over
    // doc_id:j, j unnested from the same 0..w-1 series), the same
    // cn/Σw cutoff arithmetic, the same (hmin, doc_id) rank
    "t44_weighted_exact_sample" ->
      s"""WITH $weightedSampleSqlCtes
         |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
         |  CAST(w AS BIGINT) AS w
         |FROM ranked WHERE rk <= 50""".stripMargin,

    // the same count-of-counts arithmetic in HUGEINT, the same floor
    // division on non-negative operands
    "w22_simpson_diversity" ->
      """WITH tc AS (SELECT source, tok, count(*) AS c
        |            FROM (SELECT source, unnest(string_split(text, ' '))
        |                    AS tok
        |                  FROM documents) t
        |            GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS HUGEINT) AS n,
        |        count(*) AS n_types,
        |        sum(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) - 1)) AS coll
        |      FROM tc GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(coll * 1000000000 // (n * (n - 1)) AS BIGINT) AS simpson_ppb
        |FROM a""".stripMargin,

    // the same cell/margin joins in HUGEINT, the same floor division
    "w23_source_lang_lift" ->
      """WITH cell AS (SELECT source, lang, count(*) AS n
        |              FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, sum(n) AS src_total FROM cell GROUP BY 1),
        |lt AS (SELECT lang, sum(n) AS lang_total FROM cell GROUP BY 1),
        |tt AS (SELECT sum(n) AS total FROM cell)
        |SELECT source, lang, n,
        |  CAST(src_total AS BIGINT) AS src_total,
        |  CAST(lang_total AS BIGINT) AS lang_total,
        |  CAST(CAST(n AS HUGEINT) * total * 1000000
        |    // (CAST(src_total AS HUGEINT) * lang_total) AS BIGINT) AS lift_ppm
        |FROM cell JOIN st USING (source) JOIN lt USING (lang)
        |CROSS JOIN tt""".stripMargin,

    // the same min/max token accounting in HUGEINT, the same ppm floors
    "t34_context_audit" ->
      """WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |             AS n_tokens FROM documents),
        |x AS (SELECT n_tokens, CAST(u.l AS BIGINT) AS ctx_len
        |      FROM n, LATERAL unnest([128, 256, 512]) AS u(l)),
        |a AS (SELECT ctx_len, count(*) AS n_docs,
        |        sum(CAST(n_tokens AS HUGEINT)) AS total_tokens,
        |        sum(CAST(least(n_tokens, ctx_len) AS HUGEINT)) AS kept,
        |        sum(CAST(greatest(n_tokens - ctx_len, 0) AS HUGEINT))
        |          AS truncated,
        |        sum(CAST(greatest(ctx_len - n_tokens, 0) AS HUGEINT)) AS pad
        |      FROM x GROUP BY 1)
        |SELECT ctx_len, n_docs,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(kept AS BIGINT) AS kept_tokens,
        |  CAST(truncated * 1000000 // total_tokens AS BIGINT) AS truncated_ppm,
        |  CAST(pad * 1000000 // (CAST(n_docs AS HUGEINT) * ctx_len) AS BIGINT)
        |    AS pad_ppm
        |FROM a""".stripMargin,

    // the same normalization over the parquet twin of the staged JSONL —
    // lossless round trip for long/string columns, so row equality IS the
    // ingestion proof
    "t33_jsonl_ingest" -> crawlIngestSql,

    // the SAME oracle as t33 — compression must be invisible to semantics,
    // and the shared hash gate is the proof
    "t35_jsonl_gzip_ingest" -> crawlIngestSql,

    // the SAME oracle again — CSV quoting must be byte-lossless on free
    // text, and the shared hash gate is the proof
    "t37_csv_ingest" -> crawlIngestSql,
    "t40_orc_ingest" -> crawlIngestSql,

    // the shared normalization with the partition predicate restated over
    // the unpartitioned twin — layout must be semantics-invisible
    "t41_partitioned_ingest" ->
      """SELECT doc_id, lower(trim(lang)) AS lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND length(text) > 0 AND lang = 'en'""".stripMargin,

    // the same injection (chr(769) = U+0301 combining acute) and the same
    // audit COMPUTED through DuckDB's nfc_normalize — cross-engine TR15
    // agreement is what the gate proves
    "t42_unicode_audit" ->
      """WITH aug AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' cafe' || chr(769)
        |         ELSE text END AS text
        |  FROM documents),
        |n AS (SELECT source, doc_id, text, nfc_normalize(text) AS nt FROM aug)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nt <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnfc,
        |  CAST(sum(CASE WHEN nt <> text THEN length(text) - length(nt) ELSE 0 END) AS BIGINT) AS chars_saved,
        |  CAST(sum(CASE WHEN nt <> text THEN doc_id ELSE 0 END) AS BIGINT) AS nonnfc_id_sum
        |FROM n GROUP BY source""".stripMargin,

    // the three generations restated from the parquet twin (gen =
    // doc_id % 3): the renamed shard's contract column reads null and
    // recovers via the corpus lang; the widened shard's INT32 values
    // sum identically once promoted — both facts the hash gate proves.
    // n_contract_nulled mirrors the read-side truth: the contract lang
    // is null for every renamed row AND for any row whose corpus lang
    // was null to begin with (ADVICE r15's null-robustness)
    "t43_schema_evolution_audit" ->
      """WITH g AS (SELECT doc_id, lang, n_chars, doc_id % 3 AS gen
        |           FROM documents)
        |SELECT gen,
        |  CASE gen WHEN 2 THEN 'renamed' WHEN 1 THEN 'extended'
        |       ELSE 'baseline' END AS drift_class,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN gen = 2 OR lang IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contract_nulled,
        |  CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_recovered,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM g GROUP BY 1, 2""".stripMargin,

    // the injection rule restated over the parquet twin: corrupt iff
    // doc_id % 7 == 3, every other line parses fully (checksummed)
    "t38_malformed_audit" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END) AS BIGINT) AS valid_chars,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN doc_id ELSE 0 END) AS BIGINT) AS valid_id_sum
        |FROM documents""".stripMargin,

    // the SAME oracle — the tear must be visible through CSV's
    // short-record failure mode exactly as through JSONL's parser flag
    "t39_csv_malformed_audit" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END) AS BIGINT) AS valid_chars,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 3 THEN doc_id ELSE 0 END) AS BIGINT) AS valid_id_sum
        |FROM documents""".stripMargin,

    // the same histogram, tie-group rank sums, and exact ppb floor —
    // HUGEINT mirrors DECIMAL(38,0)
    "w24_length_gini" ->
      """WITH h AS (SELECT source, n_chars AS len, count(*) AS nd
        |           FROM documents GROUP BY 1, 2),
        |c AS (SELECT source, len, nd,
        |        coalesce(sum(nd) OVER (PARTITION BY source ORDER BY len
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |      FROM h),
        |a AS (SELECT source, CAST(sum(nd) AS BIGINT) AS n_docs,
        |        sum(CAST(len AS HUGEINT) * nd) AS t,
        |        sum(CAST(len AS HUGEINT)
        |          * (CAST(nd AS HUGEINT) * p + (nd * (nd + 1)) // 2)) AS srank
        |      FROM c GROUP BY 1)
        |SELECT source, n_docs, CAST(t AS BIGINT) AS total_chars,
        |  CAST((1000000000 * (2 * srank - (n_docs + 1) * t))
        |    // (CAST(n_docs AS HUGEINT) * t) AS BIGINT) AS gini_ppb
        |FROM a""".stripMargin,

    // the same d1 fingerprint spelling, the same integer stop-ppm decile,
    // the same exact floors
    "t36_quality_dup_calibration" ->
      s"""WITH b AS (SELECT doc_id,
         |    md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f]+', ' ', 'g')))) AS fp,
         |    ((CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS BIGINT)
         |       * 1000000) // CAST(len(w) AS BIGINT)) // 100000 AS bucket
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
         |        FROM documents) t),
         |fc AS (SELECT fp, count(*) AS c FROM b GROUP BY 1)
         |SELECT bucket, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST((sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS dup_ppm
         |FROM b JOIN fc USING (fp)
         |GROUP BY bucket""".stripMargin,

    // the same (source, token) distinct postings, pair counts, and exact
    // long division
    "w21_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' '))
        |              AS tok
        |            FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
        |pr AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared_vocab
        |       FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT s1, s2, x.n AS n1, y.n AS n2, shared_vocab,
        |  CAST(shared_vocab AS DOUBLE) / (x.n + y.n - shared_vocab)
        |    AS vocab_jaccard
        |FROM pr JOIN sz x ON s1 = x.source JOIN sz y ON s2 = y.source""".stripMargin,

    // the same length histogram + cumulative ceiling-rank picks, exact
    // integers end to end
    "w20_length_profile" ->
      """WITH h AS (SELECT source, n_chars AS len, count(*) AS nd
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(nd) AS BIGINT) AS n_docs
        |      FROM h GROUP BY 1),
        |c AS (SELECT h.source, len, n_docs,
        |        sum(nd) OVER (PARTITION BY h.source ORDER BY len
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM h JOIN t ON h.source = t.source)
        |SELECT source, min(n_docs) AS n_docs,
        |  min(CASE WHEN cum >= (n_docs * 50 + 99) // 100 THEN len END)
        |    AS p50_chars,
        |  min(CASE WHEN cum >= (n_docs * 90 + 99) // 100 THEN len END)
        |    AS p90_chars,
        |  min(CASE WHEN cum >= (n_docs * 99 + 99) // 100 THEN len END)
        |    AS p99_chars,
        |  max(len) AS max_chars
        |FROM c GROUP BY source""".stripMargin,

    // same (count DESC, pair) argmax, same replace-into-sentinel greedy
    // merge, same single-char symbol pairs with the sentinel expanded
    "t30_bpe_merge_round" ->
      """WITH wc AS (SELECT w AS word, count(*) AS cnt
        |            FROM (SELECT unnest(string_split(text, ' ')) AS w
        |                  FROM documents) t
        |            WHERE w <> '' GROUP BY w),
        |pr AS (SELECT substr(word, i, 2) AS pair, sum(cnt) AS n
        |       FROM wc, LATERAL unnest(generate_series(1, length(word) - 1))
        |         AS g(i)
        |       WHERE length(word) >= 2
        |       GROUP BY 1),
        |top AS (SELECT pair AS mp FROM pr ORDER BY n DESC, pair LIMIT 1),
        |mw AS (SELECT cnt, mp, replace(word, mp, chr(1)) AS w FROM wc, top),
        |p AS (SELECT cnt, replace(substr(w, i, 1), chr(1), mp) AS lhs,
        |        replace(substr(w, i + 1, 1), chr(1), mp) AS rhs
        |      FROM mw, LATERAL unnest(generate_series(1, length(w) - 1))
        |        AS g(i)
        |      WHERE length(w) >= 2)
        |SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1, 2
        |ORDER BY n_occurrences DESC, lhs, rhs LIMIT 20""".stripMargin
  )

  /** t17's score CTEs (bigram model, prefix marginals, per-doc mean in
    * integer ppm), shared with t18's bucket rollup. A def, not a val: the
    * oracles map above initializes first and a val here would still be
    * null when it builds. */
  private def lmScoreSqlCtes: String =
    """b AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
      |       LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
      |  WHERE w[i] <> '' AND w[i+1] <> ''),
      |m AS (SELECT w1, w2, count(*) AS c_bg FROM b GROUP BY 1, 2),
      |pre AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_pre FROM m GROUP BY 1),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_pairs,
      |    CAST(sum((m.c_bg * 1000000) // pre.c_pre) // count(*) AS BIGINT) AS mean_p6
      |  FROM b JOIN m USING (w1, w2) JOIN pre USING (w1)
      |  GROUP BY doc_id)""".stripMargin
}
