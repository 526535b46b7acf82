package graft.jobs

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Arrays, Comparator}
import java.util.stream.IntStream
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.Partitioner
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
  * `int(word[0]) % R` (hw4.cc:476-487) on the RDD path with a custom
  * [[org.apache.spark.Partitioner]] (partition by computed id, not by key
  * hash).
  *
  * Scale posture: the aggregate is partial+final (the shuffle carries
  * each map task's distinct words only), and its map stage runs first, on
  * its own. The rest follows one rule, the one Components' driver finish
  * uses ([[GraftSession.fitsDriver]]): when the bytes that stage wrote fit
  * `spark.sql.autoBroadcastJoinThreshold`, the driver collects the final
  * aggregate, sorts it and writes the R files itself, cutting them at
  * exact line quantiles — 2 Spark jobs, and every file's bytes repeat run
  * to run. Otherwise (above the threshold, at −1, or without AQE's stage
  * statistics) the sink is `repartitionByRange(R, word) →
  * sortWithinPartitions` over the already-executed aggregate — 4 jobs
  * (the map stage, the range sampler, the range exchange, the sorted
  * write), the map stage not run again — and the driver only renames the
  * R files. On that path where the files split is not guaranteed to
  * repeat: the range sampler samples the aggregate's rows in the order the
  * shuffle fetch returns them, which Spark does not fix. Only the
  * concatenation of the R files is deterministic (`WordCountJobSpec` pins
  * both paths).
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

  /** Run end-to-end: compute counts, write R sorted text files named by the
    * reference's `<job>-<r>.out` contract. Returns the final file paths. */
  def run(spark: SparkSession, cfg: Config): Seq[Path] = {
    val out = Paths.get(cfg.outputDir)
    Files.createDirectories(out)
    val staging = out.resolve(s".${cfg.jobName}-staging")

    // The write runs with `file:` bound to LocalFs (no process forked per
    // output, .crc or commit file); withConf restores the session conf
    // (set or unset) however the job ends.
    GraftSession.withConf(spark,
        LocalFs.sessionBinding :+ (TwoLevelAggMap -> "false"): _*) {
      val c =
        if (cfg.fidelityTokenizer) fidelityCounts(spark, cfg.inputPath, cfg.chunkSize)
        else counts(spark, cfg.inputPath)
      if (cfg.fidelityPartitioner) {
        // RDD path: partition BY computed reducer id (hw4.cc:479), sort within.
        c.rdd.map(r => (r.getString(0), r.getLong(1)))
          .repartitionAndSortWithinPartitions(new FirstCharPartitioner(cfg.numReducer))
          .map { case (w, n) => s"$w $n" }
          .saveAsTextFile(staging.toString)
        rename(staging, out, cfg.jobName, cfg.numReducer)
      } else mapStage(spark, c) match {
        case Left(rows) => writeSorted(rows, out, cfg.jobName, cfg.numReducer)
        case Right(aggregate) =>
          // Intended semantics: range partition → balanced + globally
          // contiguous. maxRecordsPerFile=0 overrides a session-level cap:
          // one file per reducer is the contract rename() relies on.
          aggregate.repartitionByRange(cfg.numReducer, col("word"))
            .sortWithinPartitions("word")
            .select(concat_ws(" ", col("word"), col("count")))
            .write.mode("overwrite").option("maxRecordsPerFile", 0L)
            .text(staging.toString)
          rename(staging, out, cfg.jobName, cfg.numReducer)
      }
    }
  }

  /** Runs the map stage of `counts`' plan, then picks the finish by the
    * bytes it wrote to the shuffle: when they fit the driver
    * ([[GraftSession.fitsDriver]]) the final aggregate's rows, collected
    * in one more job; otherwise the final aggregate as a DataFrame over
    * the executed plan, so the range sink's jobs skip the map stage. The
    * map stage runs once either way.
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
    * as `word count` lines straight to `<job>-<r>.out`, file r holding
    * lines ⌊n(r−1)/R⌋ until ⌊nr/R⌋. The cuts are exact line quantiles, so
    * every file's bytes repeat run to run. The files are built in
    * parallel: the sorted lines point into the collected rows in random
    * order, so building one is bound by memory latency. */
  private def writeSorted(rows: Array[InternalRow], out: Path, job: String, r: Int): Seq[Path] = {
    val lines = rows.map(row => new Line(row.getUTF8String(0), row.getLong(1)))
    Arrays.parallelSort(lines, byWord)
    val n = lines.length.toLong
    val files = (1 to r).map(i => out.resolve(s"$job-$i.out"))
    IntStream.range(0, r).parallel().forEach { i =>
      val part = lines.slice((n * i / r).toInt, (n * (i + 1) / r).toInt)
      // a line is the word, a space, at most 19 digits and a newline
      val buf = ByteBuffer.allocate(part.map(_.word.numBytes + 21).sum)
      val digits = new Array[Byte](19)
      for (l <- part) {
        l.word.writeTo(buf)
        buf.put(' '.toByte)
        var v = l.count
        var d = digits.length
        while ({ d -= 1; digits(d) = ('0' + v % 10).toByte; v /= 10; v != 0 }) ()
        buf.put(digits, d, digits.length - d)
        buf.put('\n'.toByte)
      }
      Using.resource(Files.newOutputStream(files(i)))(_.write(buf.array, 0, buf.position))
    }
    files
  }

  /** Map opaque `part-NNNNN*` outputs to deterministic `<job>-<r>.out`
    * (r = partitionId + 1, matching hw4.cc:352's taskid+1), creating empty
    * files for partitions Spark skipped (empty partitions write no file). */
  private def rename(staging: Path, out: Path, job: String, r: Int): Seq[Path] = {
    val parts = Using.resource(Files.list(staging)) { stream =>
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
    val leftovers = Using.resource(Files.walk(staging))(
      _.iterator().asScala.toSeq)
    leftovers.reverse.foreach(p =>
      try Files.deleteIfExists(p) catch { case _: Exception => () })
    targets
  }
}
