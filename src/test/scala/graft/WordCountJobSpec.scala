package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.FilterExec
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob

/** Golden end-to-end tests for the reference-parity job (SURVEY.md §5 item 1)
  * plus quirk pin-tests (item 4): intended whitespace semantics by default. */
class WordCountJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus =
    """the quick brown fox jumps over the lazy dog
      |the dog barks and the fox runs
      |quick quick fox""".stripMargin

  /** Plain-Scala oracle (SURVEY.md §5: 20-line in-test oracle). */
  private def oracle(text: String): Map[String, Long] =
    text.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def writeInput(text: String): Path = {
    val f = Files.createTempFile("wc-input", ".txt")
    Files.writeString(f, text)
    f
  }

  private def runJob(text: String, r: Int, fidelity: Boolean = false,
      fidelityTok: Boolean = false, chunkSize: Int = 2): Seq[Path] = {
    val in = writeInput(text)
    val out = Files.createTempDirectory("wc-out")
    WordCountJob.run(spark, WordCountJob.Config(
      jobName = "t", numReducer = r, delay = 0, inputPath = in.toString,
      chunkSize = chunkSize, localityConfigPath = "unused", outputDir = out.toString,
      fidelityPartitioner = fidelity, fidelityTokenizer = fidelityTok))
  }

  /** Runs `body`, then puts `key` back as the session had it: set to its
    * old value, or unset. `getAll` holds only the keys set on the session
    * (`getOption` would report the default for an unset key). */
  private def restoringConf(key: String)(body: => Unit): Unit = {
    val prev = spark.conf.getAll.get(key)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def parse(files: Seq[Path]): Seq[(String, Long)] =
    files.flatMap(f => Files.readAllLines(f).asScala)
      .map { l => val Array(w, n) = l.split(" "); (w, n.toLong) }

  test("golden: merged (word,count) set matches the in-test oracle") {
    val files = runJob(corpus, 3)
    assert(files.map(_.getFileName.toString) == Seq("t-1.out", "t-2.out", "t-3.out"))
    assert(parse(files).toMap == oracle(corpus))
  }

  test("each output file is internally sorted ascending by word (hw4.cc:333)") {
    runJob(corpus, 3).foreach { f =>
      val words = Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq
      assert(words == words.sorted, s"unsorted: $f")
    }
  }

  test("range sink: files are alphabetically contiguous across file order") {
    // the property the reference report aimed for and missed (SURVEY quirk 7)
    val perFile = runJob(corpus, 3).map(f =>
      Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq)
    val concatenated = perFile.flatten
    assert(concatenated == concatenated.sorted)
  }

  test("result is invariant under num_reducer (1 vs 5)") {
    assert(parse(runJob(corpus, 1)).toMap == parse(runJob(corpus, 5)).toMap)
  }

  test("num_reducer > distinct words still writes exactly R files (empty ok)") {
    val files = runJob("a b a", 4)
    assert(files.size == 4)
    assert(files.forall(Files.exists(_)))
    assert(parse(files).toMap == Map("a" -> 2L, "b" -> 1L))
  }

  test("fidelity partitioner places every word at int(word[0]) % R (hw4.cc:479)") {
    val files = runJob(corpus, 3, fidelity = true)
    files.zipWithIndex.foreach { case (f, idx) =>
      Files.readAllLines(f).asScala.foreach { l =>
        val w = l.split(" ")(0)
        assert(math.floorMod(w.charAt(0).toInt, 3) == idx, s"$w in wrong file $f")
      }
    }
    assert(parse(files).toMap == oracle(corpus))
  }

  test("quirk 3 pin: consecutive spaces emit no empty-string words (intended)") {
    // reference emits "" tokens between double spaces (hw4.cc:460-464);
    // intended semantics drop them — pin the intended behavior.
    assert(parse(runJob("a  b   c", 1)).toMap == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("quirk 1 pin: final token is counted (reference silently drops it)") {
    // hw4.cc:460-465 only emits a token when a following space exists.
    assert(parse(runJob("x y z", 1)).toMap == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 1: chunk fusion + trailing drop") {
    // chunkSize=2: chunk0 = "aa bb" + "cc dd" fused with no separator =
    // "aa bbcc dd" → tokens "aa", "bbcc" ("dd" has no trailing space);
    // chunk1 = "ee" → no space → no tokens at all.
    val files = runJob("aa bb\ncc dd\nee", 1, fidelityTok = true)
    assert(parse(files).toMap == Map("aa" -> 1L, "bbcc" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 2: chunk_size=1 keeps only the first line") {
    // hw4.cc:66-79 — with chunk_size == 1 the append branch that resets the
    // line counter is unreachable, so `cnt` grows past 1 forever and every
    // line after the first is silently discarded: the whole input collapses
    // to line 1 ("aa bb" → token "aa"; "bb" is quirk 1's trailing drop).
    val files = runJob("aa bb\ncc dd\nee ff", 1, fidelityTok = true, chunkSize = 1)
    assert(parse(files).toMap == Map("aa" -> 1L))
  }

  test("quirk 2 pin: intended semantics read every line at chunk_size=1") {
    // the divergence documented: the DEFAULT path is chunk-size-invariant
    // (chunking is an I/O granularity, never a semantics knob), so the same
    // input at chunk_size=1 counts all six words.
    val files = runJob("aa bb\ncc dd\nee ff", 1, chunkSize = 1)
    assert(parse(files).toMap ==
      Map("aa" -> 1L, "bb" -> 1L, "cc" -> 1L, "dd" -> 1L, "ee" -> 1L, "ff" -> 1L))
  }

  test("fidelity tokenizer replicates quirk 3: empty tokens between spaces") {
    // "a  b " → tokens "a", "", "b" — the empty string counts like any key.
    val files = runJob("a  b ", 1, fidelityTok = true)
    assert(parse(files).toMap == Map("a" -> 1L, "" -> 1L, "b" -> 1L))
  }

  test("both fidelity flags together reproduce the reference byte-for-byte") {
    // chunk0 = "aa bb"+"cc dd" fused = "aa bbcc dd" → tokens "aa","bbcc"
    // ("dd" dropped); chunk1 = "ee" → none. Partitions: int(char) % 3:
    // 'a'=97 → 1 (file 2), 'b'=98 → 2 (file 3); file 1 stays empty.
    import scala.jdk.CollectionConverters._
    val files = runJob("aa bb\ncc dd\nee", 3, fidelity = true, fidelityTok = true)
    val perFile = files.map(f => Files.readAllLines(f).asScala.toSeq)
    assert(perFile == Seq(Seq(), Seq("aa 1"), Seq("bbcc 1")))
  }

  test("maxRecordsPerFile does not split a reducer's output (no word is lost)") {
    // a session-level cap would make one reducer write several part files;
    // the job's writer option overrides it, so every word reaches t-<r>.out
    restoringConf("spark.sql.files.maxRecordsPerFile") {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
      val files = runJob("a b c d e f g h a b", 2)
      assert(files.map(_.getFileName.toString) == Seq("t-1.out", "t-2.out"))
      assert(parse(files).toMap ==
        Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L, "e" -> 1L, "f" -> 1L, "g" -> 1L, "h" -> 1L))
    }
  }

  test("run restores the two-level aggregate map conf, also when it throws") {
    val key = "spark.sql.codegen.aggregate.map.twolevel.enabled"
    def explicit: Option[String] = spark.conf.getAll.get(key)
    def badRun(): Unit = WordCountJob.run(spark, WordCountJob.Config(
      jobName = "t", numReducer = 1, delay = 0,
      inputPath = Files.createTempDirectory("wc-missing").resolve("nope.txt").toString,
      chunkSize = 2, localityConfigPath = "unused",
      outputDir = Files.createTempDirectory("wc-out").toString))
    restoringConf(key) {
      spark.conf.unset(key)
      runJob(corpus, 2)
      assert(explicit.isEmpty, "unset must stay unset")
      intercept[AnalysisException](badRun())
      assert(explicit.isEmpty, "unset must stay unset after a failure")

      spark.conf.set(key, "true")
      runJob(corpus, 2)
      assert(explicit.contains("true"))
      intercept[AnalysisException](badRun())
      assert(explicit.contains("true"))
    }
  }

  test("counts plans the native tokenizer: no regex split, no empty-string filter") {
    val physical = WordCountJob.counts(spark, writeInput(corpus).toString)
      .queryExecution.sparkPlan
    val plan = physical.toString
    assert(plan.contains("whitespace_tokens"), plan)
    assert(!plan.contains("split("), plan)
    assert(!plan.contains("\\s+"), plan)
    assert(physical.collect { case f: FilterExec => f }.isEmpty, plan)
  }
}
