package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob

/** Property-based tests over the WordCount core (SURVEY.md §5 item 3).
  * Uses scalacheck generators with pinned seeds (no scalatestplus bridge in
  * the offline dependency set), so failures are reproducible.
  *
  * The corpus exercises the tokenizer, not just the aggregate: ASCII and
  * multibyte (2-, 3- and 4-byte UTF-8) letters, separators drawn as random
  * runs of the six bytes Java's `\s` matches, blank lines, and leading and
  * trailing whitespace. */
class WordCountPropsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val letterGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaLowerChar.map(_.toString),
    1 -> Gen.alphaUpperChar.map(_.toString),
    2 -> Gen.oneOf("é", "ß", "ж", "ω", "日", "本", "語", "한", "𝒜", "😀"))
  private val wordGen: Gen[String] = Gen.chooseNum(1, 8)
    .flatMap(n => Gen.listOfN(n, letterGen).map(_.mkString))
  private val sepGen: Gen[String] = Gen.chooseNum(1, 3)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r")).map(_.mkString))
  private val edgeGen: Gen[String] = Gen.frequency(
    2 -> Gen.const(""), 1 -> sepGen, 1 -> Gen.const("\n\n"))

  /** 40 words joined by whitespace runs, with edge whitespace (or a blank
    * line) before and after: (words, corpus text). */
  private val corpusGen: Gen[(List[String], String)] = for {
    words <- Gen.listOfN(40, wordGen)
    seps <- Gen.listOfN(39, sepGen)
    lead <- edgeGen
    trail <- edgeGen
  } yield (words, lead + words.head +
    words.tail.zip(seps).map { case (w, s) => s + w }.mkString + trail)

  private def sample(seed: Long): (List[String], String) =
    corpusGen.pureApply(Gen.Parameters.default, Seed(seed))

  /** Plain-Scala oracle: the regex split the native tokenizer replaced. */
  private def oracle(text: String): Map[String, Long] =
    text.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def countsOf(text: String): Map[String, Long] = {
    import java.nio.file.Files
    val f = TestSpark.tempFile("wc-prop", ".txt")
    Files.writeString(f, text)
    val rows = WordCountJob.counts(spark, f.toString).collect()
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("sum of counts equals token count; counts >= 1; keys = distinct words") {
    (1L to 5L).foreach { seed =>
      val (words, text) = sample(seed)
      val m = countsOf(text)
      assert(m.values.sum == words.size.toLong, s"seed=$seed")
      assert(m.values.forall(_ >= 1L), s"seed=$seed")
      assert(m.keySet == words.toSet, s"seed=$seed")
    }
  }

  test("counts match a plain-Scala groupBy oracle across random corpora") {
    (6L to 10L).foreach { seed =>
      val (words, text) = sample(seed)
      val expected = oracle(text)
      assert(expected == words.groupBy(identity).view.mapValues(_.length.toLong).toMap,
        s"seed=$seed: the generator's words are not the oracle's tokens")
      assert(countsOf(text) == expected, s"seed=$seed")
    }
  }
}
