package graft.jobs

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.WhitespaceTokens.whitespaceTokens

/** The reference engine's one job — WordCount — end-to-end, Spark-first.
  *
  * Reference contract (hw4.cc:42-49 CLI; hw4.cc:350-357 output): read a
  * whitespace-separated text file, count words, and write `num_reducer`
  * result files `<output_dir>/<job_name>-<r>.out` (r = 1..R), each line
  * `word count`, each file internally sorted ascending by word.
  *
  * Spark-first re-expression (SURVEY.md §7 build order 1):
  * `textFile → explode(whitespace_tokens) → groupBy.count` — the tokenizer
  * (hw4.cc:457-466, the native [[graft.functions.WhitespaceTokens]] byte
  * scan), map_func (hw4.cc:468-474), group (hw4.cc:369-382) and red
  * (hw4.cc:359-367) all fuse into one narrow stage + one partial/final hash
  * aggregate (the map-side combiner the reference lacks). The sink is
  * `repartitionByRange(R, word) → sortWithinPartitions`, which achieves the
  * balanced, alphabetically contiguous output files the reference report
  * aimed for and missed (SURVEY.md quirk 7) — range partitioning gives both
  * balance and global order across files.
  *
  * Fidelity mode reproduces the reference's actual partition function
  * `int(word[0]) % R` (hw4.cc:476-487) on the RDD path with a custom
  * [[org.apache.spark.Partitioner]] (partition by computed id, not by key
  * hash).
  *
  * Scale posture: the aggregate is partial+final (shuffle carries distinct
  * words only); the range exchange samples keys (AQE-safe: explicit N is
  * never coalesced); nothing collects to the driver — the only driver-side
  * work is renaming R output files.
  */
object WordCountJob {

  /** The 7-arg reference CLI (hw4.cc:42-49), plus the fidelity toggle.
    * `delay` is dead in the reference (sleep commented out, hw4.cc:235-240)
    * and `localityConfig` is scheduler input Spark owns (SURVEY.md §2.1 #2);
    * both are accepted and logged for contract parity, nothing more. */
  final case class Config(
      jobName: String,
      numReducer: Int,
      delay: Int,
      inputPath: String,
      chunkSize: Int,
      localityConfigPath: String,
      outputDir: String,
      fidelityPartitioner: Boolean = false,
      fidelityTokenizer: Boolean = false)

  /** hw4.cc:479 — reducer id = first char (as int) mod R. Skew-prone by
    * design; exists only for fidelity experiments. */
  final class FirstCharPartitioner(val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key match {
      case s: String if s.nonEmpty => math.floorMod(s.charAt(0).toInt, numPartitions)
      case _ => 0
    }
  }

  /** Word counts as a DataFrame (word: string, count: bigint) — the logical
    * core of [[run]]. */
  def counts(spark: SparkSession, inputPath: String): DataFrame =
    spark.read.textFile(inputPath)
      .select(explode(whitespaceTokens(col("value"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("count"))

  /** Byte-faithful replication of the reference's ACTUAL (buggy) tokenization
    * for golden-output experiments (SURVEY.md §1 quirks 1 and 3):
    *  - lines are concatenated with NO separator into chunks of `chunkSize`
    *    lines (hw4.cc:72), fusing the last word of line i with the first word
    *    of line i+1;
    *  - a token is emitted only when a following space exists (hw4.cc:460-465),
    *    so each chunk's final token is silently dropped;
    *  - consecutive spaces emit empty-string tokens (quirk 3), which count
    *    like any key;
    *  - `chunk_size == 1` captures ONLY THE FIRST LINE of the whole file
    *    (quirk 2, hw4.cc:66-79): the reader pushes a new chunk only at
    *    `cnt == 1` and the `cnt <= chunk_size` append branch that would
    *    reset `cnt` back to 1 is unreachable when chunk_size is 1, so `cnt`
    *    grows forever and every line after the first is discarded. The
    *    intended path ([[counts]]) reads every line at any chunk size —
    *    this branch exists only so golden-output diffs against the
    *    reference reproduce byte-for-byte in the broken regime too
    *    (SURVEY.md §1 scopes FidelityMode as quirks 1-3).
    * RDD path: chunk assembly is genuinely order-dependent imperative logic. */
  def fidelityCounts(spark: SparkSession, inputPath: String, chunkSize: Int): DataFrame = {
    import spark.implicits._
    val allChunks = spark.sparkContext.textFile(inputPath)
      .zipWithIndex()
      .map { case (line, i) => (i / chunkSize, (i, line)) }
      .groupByKey()
      .map { case (_, ls) => ls.toSeq.sortBy(_._1).map(_._2).mkString("") }
    val chunks =
      if (chunkSize == 1)
        // quirk 2: the whole input collapses to the first line (each
        // "chunk" above is one line, so keeping global line 0 IS the
        // reference's surviving chunk vector)
        spark.sparkContext.textFile(inputPath).zipWithIndex()
          .filter(_._2 == 0L).map(_._1)
      else allChunks
    chunks.flatMap { chunk =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var rest = chunk
      var sp = rest.indexOf(' ')
      while (sp >= 0) {                  // hw4.cc:460-465 — emit up to each space
        out += rest.substring(0, sp)
        rest = rest.substring(sp + 1)
        sp = rest.indexOf(' ')
      }
      out                                // trailing token (no space after) dropped
    }.toDF("word")
      .groupBy("word")
      .agg(count(lit(1)).as("count"))
  }

  /** Codegen's first-level aggregate map: 2^16 slots in front of the
    * `BytesToBytesMap`. A corpus with more distinct words than that (the
    * Zipf benchmark corpus has ~176k) overflows it, and every later lookup
    * pays a failed probe there before the real map, so [[run]] turns it off
    * while it writes. */
  private val TwoLevelAggMap = "spark.sql.codegen.aggregate.map.twolevel.enabled"

  /** Run end-to-end: compute counts, write R sorted text files, rename to the
    * reference's `<job>-<r>.out` contract. Returns the final file paths. */
  def run(spark: SparkSession, cfg: Config): Seq[Path] = {
    val out = Paths.get(cfg.outputDir)
    Files.createDirectories(out)
    val staging = out.resolve(s".${cfg.jobName}-staging")

    // The session conf is restored (set or unset) however the job ends;
    // getAll holds only keys set on the session (getOption would report the
    // default for an unset key).
    val prevTwoLevel = spark.conf.getAll.get(TwoLevelAggMap)
    spark.conf.set(TwoLevelAggMap, "false")
    try {
      val c =
        if (cfg.fidelityTokenizer) fidelityCounts(spark, cfg.inputPath, cfg.chunkSize)
        else counts(spark, cfg.inputPath)
      if (cfg.fidelityPartitioner) {
        // RDD path: partition BY computed reducer id (hw4.cc:479), sort within.
        c.rdd.map(r => (r.getString(0), r.getLong(1)))
          .repartitionAndSortWithinPartitions(new FirstCharPartitioner(cfg.numReducer))
          .map { case (w, n) => s"$w $n" }
          .saveAsTextFile(staging.toString)
      } else {
        // Intended semantics: range partition → balanced + globally contiguous.
        // maxRecordsPerFile=0 overrides a session-level cap: one file per
        // reducer is the contract rename() relies on.
        c.repartitionByRange(cfg.numReducer, col("word"))
          .sortWithinPartitions("word")
          .select(concat_ws(" ", col("word"), col("count")))
          .write.mode("overwrite").option("maxRecordsPerFile", 0L)
          .text(staging.toString)
      }
    } finally prevTwoLevel match {
      case Some(v) => spark.conf.set(TwoLevelAggMap, v)
      case None    => spark.conf.unset(TwoLevelAggMap)
    }
    rename(staging, out, cfg.jobName, cfg.numReducer)
  }

  /** Map opaque `part-NNNNN*` outputs to deterministic `<job>-<r>.out`
    * (r = partitionId + 1, matching hw4.cc:352's taskid+1), creating empty
    * files for partitions Spark skipped (empty partitions write no file). */
  private def rename(staging: Path, out: Path, job: String, r: Int): Seq[Path] = {
    val parts = scala.util.Using.resource(Files.list(staging)) { stream =>
      stream.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
    }
    val byIdx = parts.groupBy(_.getFileName.toString.split("-")(1).toInt).map {
      case (i, Seq(p)) => i -> p
      case (i, ps) => throw new IllegalStateException(
        s"reducer $i wrote ${ps.size} files; expected one: ${ps.map(_.getFileName).mkString(", ")}")
    }
    val targets = (0 until r).map { i =>
      val target = out.resolve(s"$job-${i + 1}.out")
      byIdx.get(i) match {
        case Some(p) => Files.move(p, target, StandardCopyOption.REPLACE_EXISTING)
        case None    => Files.write(target, Array.emptyByteArray)
      }
      target
    }
    // best-effort cleanup of the staging dir (_SUCCESS, CRCs)
    val leftovers = scala.util.Using.resource(Files.walk(staging))(
      _.iterator().asScala.toSeq)
    leftovers.reverse.foreach(p =>
      try Files.deleteIfExists(p) catch { case _: Exception => () })
    targets
  }
}
