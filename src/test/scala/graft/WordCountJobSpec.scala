package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.FilterExec
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob

/** Golden end-to-end tests for the reference-parity job (SURVEY.md §5 item 1)
  * plus quirk pin-tests (item 4): intended whitespace semantics by default.
  * Every case that writes through a partitioner runs on both finishes: at
  * the default conf (these corpora fit the broadcast threshold, so the
  * driver sorts and writes the files) under its plain name, and with the
  * threshold at -1 (one writer task per partition) under the same name
  * plus " (distributed sink)". */
class WordCountJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Distributed = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  private def bothPaths(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(name + " (distributed sink)")(GraftSession.withConf(spark, Distributed)(body))
  }

  private val corpus =
    """the quick brown fox jumps over the lazy dog
      |the dog barks and the fox runs
      |quick quick fox""".stripMargin

  /** Plain-Scala oracle (SURVEY.md §5: 20-line in-test oracle). */
  private def oracle(text: String): Map[String, Long] =
    text.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def writeInput(text: String): Path = {
    val f = TestSpark.tempFile("wc-input", ".txt")
    Files.writeString(f, text)
    f
  }

  private def runJob(text: String, r: Int, fidelity: Boolean = false,
      fidelityTok: Boolean = false, chunkSize: Int = 2): Seq[Path] = {
    val in = writeInput(text)
    val out = TestSpark.tempDir("wc-out")
    WordCountJob.run(spark, WordCountJob.Config(
      jobName = "t", numReducer = r, delay = 0, inputPath = in.toString,
      chunkSize = chunkSize, localityConfigPath = "unused", outputDir = out.toString,
      fidelityPartitioner = fidelity, fidelityTokenizer = fidelityTok))
  }

  /** A Zipf-like corpus of ~3000 distinct words, enough to span files. */
  private lazy val skewedText: String = {
    val rnd = new scala.util.Random(17)
    val vocab = Vector.tabulate(3000)(i => s"w${i * 7919 % 3001}x${i % 13}")
    Seq.fill(400)(Seq.fill(50)(vocab((rnd.nextDouble() * rnd.nextDouble() *
      vocab.size).toInt)).mkString(" ")).mkString("\n")
  }

  private def parse(files: Seq[Path]): Seq[(String, Long)] =
    files.flatMap(f => Files.readAllLines(f).asScala)
      .map { l => val Array(w, n) = l.split(" "); (w, n.toLong) }

  bothPaths("golden: merged (word,count) set matches the in-test oracle") {
    val files = runJob(corpus, 3)
    assert(files.map(_.getFileName.toString) == Seq("t-1.out", "t-2.out", "t-3.out"))
    assert(parse(files).toMap == oracle(corpus))
  }

  bothPaths("each output file is internally sorted ascending by word (hw4.cc:333)") {
    runJob(corpus, 3).foreach { f =>
      val words = Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq
      assert(words == words.sorted, s"unsorted: $f")
    }
  }

  bothPaths("range sink: files are alphabetically contiguous across file order") {
    // the property the reference report aimed for and missed (SURVEY quirk 7)
    val perFile = runJob(corpus, 3).map(f =>
      Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq)
    val concatenated = perFile.flatten
    assert(concatenated == concatenated.sorted)
  }

  bothPaths("result is invariant under num_reducer (1 vs 5)") {
    assert(parse(runJob(corpus, 1)).toMap == parse(runJob(corpus, 5)).toMap)
  }

  bothPaths("num_reducer > distinct words still writes exactly R files (empty ok)") {
    val files = runJob("a b a", 4)
    assert(files.size == 4)
    assert(files.forall(Files.exists(_)))
    assert(parse(files).toMap == Map("a" -> 2L, "b" -> 1L))
  }

  bothPaths("fidelity partitioner places every word at int(word[0]) % R (hw4.cc:479)") {
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

  bothPaths("both fidelity flags together reproduce the reference byte-for-byte") {
    // chunk0 = "aa bb"+"cc dd" fused = "aa bbcc dd" → tokens "aa","bbcc"
    // ("dd" dropped); chunk1 = "ee" → none. Partitions: int(char) % 3:
    // 'a'=97 → 1 (file 2), 'b'=98 → 2 (file 3); file 1 stays empty.
    import scala.jdk.CollectionConverters._
    val files = runJob("aa bb\ncc dd\nee", 3, fidelity = true, fidelityTok = true)
    val perFile = files.map(f => Files.readAllLines(f).asScala.toSeq)
    assert(perFile == Seq(Seq(), Seq("aa 1"), Seq("bbcc 1")))
  }

  bothPaths("maxRecordsPerFile does not split a reducer's output (no word is lost)") {
    // a session-level cap on Spark's file writers has no say: each
    // reducer's lines go to t-<r>.out through the job's own writer
    GraftSession.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> "2") {
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
      inputPath = TestSpark.tempDir("wc-missing").resolve("nope.txt").toString,
      chunkSize = 2, localityConfigPath = "unused",
      outputDir = TestSpark.tempDir("wc-out").toString))
    GraftSession.withConf(spark, key -> "true") {
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

  test("Config rejects a non-positive numReducer or chunkSize, naming the field and value") {
    def cfg(r: Int, chunk: Int) = WordCountJob.Config(jobName = "t", numReducer = r,
      delay = 0, inputPath = "in.txt", chunkSize = chunk, localityConfigPath = "none",
      outputDir = "out")
    for ((r, chunk, field, value) <- Seq((0, 2, "numReducer", 0), (-1, 2, "numReducer", -1),
        (2, 0, "chunkSize", 0))) {
      val msg = intercept[IllegalArgumentException](cfg(r, chunk)).getMessage
      assert(msg.contains(field) && msg.endsWith(s"got $value"), msg)
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

  bothPaths("two runs write byte-identical concatenations; each run is sorted and range-contiguous") {
    // On the distributed sink where the files split depends on the order
    // the range sampler sees the aggregate's rows in, which Spark does not
    // fix, so this pins only the concatenation run to run; the driver
    // sink's per-file bytes are pinned below.
    val runs = Seq.fill(2)(runJob(skewedText, 4))
    val concatenated = runs.map(_.map(f => Files.readAllBytes(f).toSeq).reduce(_ ++ _))
    assert(concatenated(0) == concatenated(1))
    for (files <- runs) {
      val perFile = files.map(f => Files.readAllLines(f).asScala.map(_.split(" ")(0)).toSeq)
      assert(perFile.count(_.nonEmpty) > 1, "the corpus must span several files")
      perFile.foreach(ws => assert(ws == ws.sorted))
      assert(perFile.flatten == perFile.flatten.sorted, "files must be range-contiguous")
    }
    assert(parse(runs.head).toMap == oracle(skewedText))
  }

  test("driver sink: two runs write byte-identical files, cut at exact line quantiles") {
    // the driver sorts every word and cuts file r at line floor(n*r/R), so
    // each file's bytes, not only their concatenation, repeat run to run
    val runs = Seq.fill(2)(runJob(skewedText, 4).map(f => Files.readAllBytes(f).toSeq))
    assert(runs(0) == runs(1))
    val lines = runs(0).map(_.count(_ == '\n'.toByte))
    val n = oracle(skewedText).size
    assert(lines == (1 to 4).map(r => n * r / 4 - n * (r - 1) / 4), lines)
  }

  /** Words that tie on their first 8 bytes, and code points whose UTF-16
    * order differs from their UTF-8 byte order (U+1F600 sorts before
    * U+E000 as UTF-16, after it as UTF-8). */
  private val orderText = Seq("prefixlongb", "prefixlonga", "prefixlong", "prefixlo", "prefixlongb",
    "\uE000x", "\uD83D\uDE00y", "z", "é", "e\u0301", "Zz", "prefixlo").mkString(" ")

  test("both sinks write the same bytes, in UTF-8 byte order, also for long and non-ASCII words") {
    val text = orderText
    def bytes: Seq[Byte] = runJob(text, 3).flatMap(f => Files.readAllBytes(f).toSeq)
    val driver = bytes
    assert(GraftSession.withConf(spark, Distributed)(bytes) == driver)
    val words = new String(driver.toArray, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.split(" ")(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
    assert(words.size == oracle(text).size)
    words.sliding(2).foreach { case Seq(x, y) => assert(java.util.Arrays.compareUnsigned(x, y) < 0) }
  }

  bothPaths("fidelity files are each in UTF-8 byte order, as the default sink's") {
    // one reducer puts U+1F600 and U+E000 in the same file
    val files = runJob(orderText, 1, fidelity = true)
    val words = Files.readAllLines(files.head).asScala.toSeq
      .map(_.split(" ")(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(words.size == oracle(orderText).size)
    words.sliding(2).foreach { case Seq(x, y) => assert(java.util.Arrays.compareUnsigned(x, y) < 0) }
  }

  bothPaths("empty input writes R empty files") {
    for (fidelity <- Seq(false, true)) {
      val files = runJob("", 3, fidelity)
      assert(files.map(_.getFileName.toString) == Seq("t-1.out", "t-2.out", "t-3.out"))
      assert(files.forall(Files.size(_) == 0))
      val listed = Using.resource(Files.list(files.head.getParent))(_.count)
      assert(listed == 3, "the output dir holds the R files and nothing else")
    }
  }

  bothPaths("a first char outside the BMP (U+1F600) lands at floorMod(charAt(0), R)") {
    // charAt(0) is the high surrogate 0xD83D = 55357, and 55357 % 3 = 1;
    // 'b' = 98 lands in file 3, and file 1 stays empty
    val w = "\uD83D\uDE00y"
    val files = runJob(s"$w b $w", 3, fidelity = true)
    assert(files.map(f => Files.readAllLines(f).asScala.toSeq) == Seq(Seq(), Seq(s"$w 2"), Seq("b 1")))
  }

  private def jobs(fidelity: Boolean): Int =
    TestSpark.jobsOf(assert(parse(runJob(corpus, 3, fidelity)).toMap == oracle(corpus)))

  test("the default sink runs 2 Spark jobs when the counts fit the driver, 4 when they do not") {
    // at the default conf: the aggregate's map stage, then one collect that
    // skips it; at -1: the map stage, the range sampler, the range
    // exchange and the sorted write
    assert(jobs(fidelity = false) == 2)
    assert(GraftSession.withConf(spark, Distributed)(jobs(fidelity = false)) == 4)
  }

  test("the fidelity partitioner runs 2 Spark jobs on the driver finish, 3 distributed") {
    // the same finishes; its exchange partitions by the computed reducer
    // id, so there is no range sampler
    assert(jobs(fidelity = true) == 2)
    assert(GraftSession.withConf(spark, Distributed)(jobs(fidelity = true)) == 3)
  }
}
