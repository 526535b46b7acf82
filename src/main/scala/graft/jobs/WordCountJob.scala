package graft.jobs

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Arrays, Comparator, UUID}
import java.util.stream.IntStream
import scala.util.Using

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftSession
import graft.functions.WhitespaceTokens.whitespaceTokens
import graft.io.LocalFs

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
  * aggregate (the map-side combiner the reference lacks). The output is
  * what the reference report aimed for and missed (SURVEY.md quirk 7):
  * files that are balanced, each sorted, and alphabetically contiguous
  * across file order.
  *
  * Fidelity mode reproduces the reference's actual partition function
  * `int(word[0]) % R` (hw4.cc:476-487): file r holds the words whose
  * first char (a UTF-16 unit) is r − 1 mod R, on either finish below.
  *
  * Scale posture: the aggregate is partial+final (the shuffle carries
  * each map task's distinct words only), and its map stage runs first, on
  * its own. The rest follows one rule, the one Components' driver finish
  * uses ([[GraftSession.fitsDriver]]): when the bytes that stage wrote fit
  * `spark.sql.autoBroadcastJoinThreshold`, the driver collects the final
  * aggregate, sorts it and writes the R files itself, cutting them at
  * exact line quantiles — 2 Spark jobs, and every file's bytes repeat run
  * to run. Otherwise (above the threshold, at −1, or without AQE's stage
  * statistics) the aggregate, already executed, is partitioned by
  * `repartitionByRange(R, word)` and sorted within each partition, and
  * one task per partition writes its file — 4 jobs (the map stage, the
  * range sampler, the range exchange, the write), the map stage not run
  * again. On that path where the files split is not guaranteed to
  * repeat: the range sampler samples the aggregate's rows in the order the
  * shuffle fetch returns them, which Spark does not fix. Only the
  * concatenation of the R files is deterministic (`WordCountJobSpec` pins
  * both paths). Both finishes write every line through one writer, in
  * Spark's string order (UTF-8 bytes, unsigned).
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
      fidelityTokenizer: Boolean = false) {
    // R = 0 would write no file and lose every count silently; a zero
    // chunk size divides by zero in the fidelity tokenizer's tasks
    require(numReducer > 0, s"numReducer (NUM_REDUCER) must be positive, got $numReducer")
    require(chunkSize > 0, s"chunkSize (CHUNK_SIZE) must be positive, got $chunkSize")
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
    val chunks = spark.sparkContext.textFile(inputPath)
      .zipWithIndex()
      // quirk 2: at chunk_size 1 every chunk is one line, and the whole
      // input collapses to the first (global line 0 IS the reference's
      // surviving chunk vector)
      .filter { case (_, i) => chunkSize > 1 || i == 0L }
      .map { case (line, i) => (i / chunkSize, (i, line)) }
      .groupByKey()
      .map { case (_, ls) => ls.toSeq.sortBy(_._1).map(_._2).mkString("") }
    chunks.flatMap { chunk =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var from = 0
      var sp = chunk.indexOf(' ')
      while (sp >= 0) {                  // hw4.cc:460-465 — emit up to each space
        out += chunk.substring(from, sp)
        from = sp + 1
        sp = chunk.indexOf(' ', from)
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

  /** Run end-to-end: compute counts, write R sorted text files named by the
    * reference's `<job>-<r>.out` contract. Returns the final file paths. */
  def run(spark: SparkSession, cfg: Config): Seq[Path] = {
    val out = Paths.get(cfg.outputDir)
    Files.createDirectories(out)
    // Every file exists, empty, before any job runs: the distributed
    // finish writes one file per partition it gets, and a range exchange
    // over fewer distinct words than R makes fewer partitions, an empty
    // input none at all.
    val files = (1 to cfg.numReducer).map(r => out.resolve(s"${cfg.jobName}-$r.out"))
    files.foreach(Files.write(_, Array.emptyByteArray))

    // The input is listed and read through `file:`, bound here to LocalFs
    // (Hadoop's chmod and readlink answered without forking a process);
    // withConf restores the session conf (set or unset) however the job
    // ends.
    GraftSession.withConf(spark,
        LocalFs.sessionBinding :+ (TwoLevelAggMap -> "false"): _*) {
      val c =
        if (cfg.fidelityTokenizer) fidelityCounts(spark, cfg.inputPath, cfg.chunkSize)
        else counts(spark, cfg.inputPath)
      mapStage(spark, c) match {
        case Left(rows) => writeSorted(rows, files, cfg.fidelityPartitioner)
        case Right(aggregate) => writeDistributed(aggregate, files, cfg.fidelityPartitioner)
      }
    }
    files
  }

  /** hw4.cc:479 — the fidelity reducer of `word`: its first char (a UTF-16
    * unit, 0 for the empty word) mod R. Skew-prone by design; exists only
    * for fidelity experiments. */
  private def firstCharReducer(word: String, r: Int): Int =
    if (word.isEmpty) 0 else word.charAt(0) % r

  /** Runs the map stage of `counts`' plan, then picks the finish by the
    * bytes it wrote to the shuffle: when they fit the driver
    * ([[GraftSession.fitsDriver]]) the final aggregate's rows, collected
    * in one more job; otherwise the final aggregate as a DataFrame over
    * the executed plan, so the distributed finish's jobs skip the map
    * stage. The map stage runs once either way.
    *
    * `execute()` on an adaptive plan runs every shuffle stage and returns
    * the final stage's RDD without running it. Without AQE there are no
    * stage statistics, so the job always finishes distributed. */
  private def mapStage(spark: SparkSession, c: DataFrame): Either[Array[InternalRow], DataFrame] = {
    val qe = c.queryExecution
    SQLExecution.withNewExecutionId(qe) {
      val plan = qe.executedPlan
      val rows = plan.execute()
      if (shuffleBytes(plan).exists(GraftSession.fitsDriver(spark, _)))
        Left(plan.executeCollect())
      else Right(ColumnBridge.dataFrame(spark, rows, c.schema))
    }
  }

  /** Bytes written by the shuffle stages an executed adaptive plan's final
    * stage reads (`ShuffleQueryStageExec.mapStats`); None without AQE or
    * without stats. The final stage is a `ResultQueryStageExec`, a leaf,
    * so the walk descends through each query stage's `plan`. */
  private def shuffleBytes(plan: SparkPlan): Option[Long] = {
    def inputs(p: SparkPlan): Seq[ShuffleQueryStageExec] = p match {
      case s: ShuffleQueryStageExec => Seq(s)
      case q: QueryStageExec => inputs(q.plan)
      case _ => p.children.flatMap(inputs)
    }
    plan match {
      case a: AdaptiveSparkPlanExec =>
        val stats = inputs(a.executedPlan).map(_.mapStats)
        if (stats.isEmpty || stats.exists(_.isEmpty)) None
        else Some(stats.flatten.map(_.bytesByPartitionId.sum).sum)
      case _ => None
    }
  }

  /** One output line. `prefix` is the word's first 8 bytes as an unsigned
    * big-endian long (`UTF8String.getPrefix`). Two different prefixes
    * order their words as `binaryCompare` does, so only a tie reads the
    * words' bytes. */
  private final class Line(val word: UTF8String, val count: Long) {
    val prefix: Long = word.getPrefix
  }

  private val byWord: Comparator[Line] = (x, y) => {
    val c = java.lang.Long.compareUnsigned(x.prefix, y.prefix)
    if (c != 0) c else x.word.binaryCompare(y.word)
  }

  /** The driver finish: sorts the (word, count) rows by word in the byte
    * order Spark's sort uses (`UTF8String.binaryCompare`) and writes them
    * to the R files. By default file r holds lines ⌊n(r−1)/R⌋ until ⌊nr/R⌋:
    * the cuts are exact line quantiles, so every file's bytes repeat run
    * to run. Under the fidelity partitioner each file holds its reducer's
    * lines, in the same order. The files are built in parallel: the sorted
    * lines point into the collected rows in random order, so building one
    * is bound by memory latency. */
  private def writeSorted(rows: Array[InternalRow], files: Seq[Path], fidelity: Boolean): Unit = {
    val lines = rows.map(row => new Line(row.getUTF8String(0), row.getLong(1)))
    Arrays.parallelSort(lines, byWord)
    val r = files.size
    val n = lines.length.toLong
    val parts =
      if (fidelity) {
        val byReducer = lines.groupBy(l => firstCharReducer(l.word.toString, r))
        (0 until r).map(byReducer.getOrElse(_, Array.empty[Line]))
      } else (0 until r).map(i => lines.slice((n * i / r).toInt, (n * (i + 1) / r).toInt))
    IntStream.range(0, r).parallel().forEach { i =>
      writeLines(parts(i).iterator.map(l => (l.word, l.count)), files(i))
    }
  }

  /** The distributed finish: the aggregate partitioned into R ranges of
    * words (or, under the fidelity partitioner, by reducer id), sorted
    * within each partition, and written by one task per partition to file
    * partition id + 1 (hw4.cc:352's taskid + 1). */
  private def writeDistributed(aggregate: DataFrame, files: Seq[Path], fidelity: Boolean): Unit = {
    val r = files.size
    val parted =
      if (fidelity)
        aggregate.repartitionById(r, udf((w: String) => firstCharReducer(w, r)).apply(col("word")))
      else aggregate.repartitionByRange(r, col("word"))
    val qe = parted.sortWithinPartitions("word").queryExecution
    val names = files.map(_.toString)
    SQLExecution.withNewExecutionId(qe) {
      qe.toRdd.foreachPartition { rows =>
        writeLines(rows.map(row => (row.getUTF8String(0), row.getLong(1))),
          Paths.get(names(TaskContext.getPartitionId())))
      }
    }
  }

  /** Writes `word count` lines (hw4.cc:350-357) to `file`, replacing it
    * whole: the lines go to a fresh sibling first, which is then moved
    * over `file` in one step, so a failed or duplicate task attempt never
    * leaves a part-written file. */
  private def writeLines(lines: Iterator[(UTF8String, Long)], file: Path): Unit = {
    val tmp = file.resolveSibling(s".${file.getFileName}.${UUID.randomUUID}.tmp")
    try {
      Using.resource(new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)) { os =>
        // a space, at most 19 digits and a newline
        val digits = new Array[Byte](21)
        digits(20) = '\n'.toByte
        for ((word, count) <- lines) {
          word.writeTo(os)
          var v = count
          var d = 20
          while ({ d -= 1; digits(d) = ('0' + v % 10).toByte; v /= 10; v != 0 }) ()
          d -= 1
          digits(d) = ' '.toByte
          os.write(digits, d, digits.length - d)
        }
      }
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
