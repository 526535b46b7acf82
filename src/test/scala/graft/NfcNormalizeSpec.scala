package graft

import java.text.Normalizer

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NfcNormalize

/** The native NFC expression must agree with java.text.Normalizer on every
  * path (interpreted, codegen, SQL registration), return the input
  * ZERO-COPY on the already-NFC fast path, and collapse the canonical
  * equivalences d38/t42 rely on (composed U+00E9 == "e"+U+0301). */
class NfcNormalizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("composed and decomposed forms normalize to the same bytes") {
    val composed = " caf\u00e9"
    val decomposed = " cafe\u0301"
    assert(composed != decomposed, "premise: byte-different inputs")
    val nc = NfcNormalize.nfc(UTF8String.fromString(composed))
    val nd = NfcNormalize.nfc(UTF8String.fromString(decomposed))
    assert(nc == nd, "NFC must collapse the canonical pair")
    assert(nc.toString == composed, "NFC canonical form is the composed one")
  }

  test("already-NFC input returns the SAME UTF8String instance (zero-copy fast path)") {
    val s = UTF8String.fromString("plain ascii is always nfc")
    assert(NfcNormalize.nfc(s) eq s)
    val nfcUnicode = UTF8String.fromString("caf\u00e9 \u65e5\u672c\u8a9e")
    assert(NfcNormalize.nfc(nfcUnicode) eq nfcUnicode)
  }

  test("agrees with java.text.Normalizer through codegen on mixed strings") {
    import spark.implicits._
    val inputs = Seq("", " ", "abc", "caf\u00e9", "cafe\u0301",
      "\u00c5ngstr\u00f6m", "A\u030angstro\u0308m", "a\u0301\u0302mix",
      "\ud83d\ude00 emoji", "ko\u0301\u0302\u0303stack")
    val rows = inputs.toDF("s")
      .select(col("s"), NfcNormalize.nfc(col("s")).as("n")).collect()
    rows.foreach { r =>
      val want = Normalizer.normalize(r.getString(0), Normalizer.Form.NFC)
      assert(r.getString(1) == want, s"diverges on ${r.getString(0)}")
    }
    // null propagates
    val nr = Seq[String](null).toDF("s")
      .select(NfcNormalize.nfc(col("s"))).collect()
    assert(nr.head.isNullAt(0))
  }

  test("prefix-split slow path matches whole-string normalization") {
    // the tiered fast path (ASCII scan → inert-prefix split → tail
    // normalize) must be observationally identical to normalizing the
    // whole string, including when the non-inert region starts at index
    // 0, follows a potential composition partner, or sits mid-string
    val longClean = "the quick brown fox " * 200
    val cases = Seq(
      longClean + "cafe\u0301",  // long clean doc, hostile suffix (x34's shape)
      "\u0301leading mark",      // non-inert at index 0 (cut == 0)
      "e\u0301",                 // backed-up starter composes with the mark
      "ab e\u0301 cd o\u0308 tail", // multiple non-NFC runs past the cut
      "caf\u00e9 then e\u0301 later", // inert non-ASCII prefix before the split
      "\u1100\u1161",           // Hangul L+V jamo compose in the tail
      longClean + "caf\u00e9")   // non-ASCII but already-NFC tail
    cases.foreach { s =>
      val got = NfcNormalize.nfc(UTF8String.fromString(s)).toString
      val want = Normalizer.normalize(s, Normalizer.Form.NFC)
      assert(got == want, s"prefix-split diverges on ${s.take(40)}")
    }
    // already-NFC non-ASCII tail keeps the zero-copy guarantee
    val u = UTF8String.fromString(longClean + "caf\u00e9")
    assert(NfcNormalize.nfc(u) eq u)
  }

  test("SQL name resolves when registered via GraftExtensions; arity enforced") {
    // injected by the GraftSession-built test session, not registered here
    val out = spark.sql("SELECT nfc_normalize('café') AS v").collect()
    assert(out.head.getString(0) == "caf\u00e9")
    val err = intercept[Exception](
      spark.sql("SELECT nfc_normalize('a', 'b')").collect())
    assert(err.getMessage.contains("requires exactly 1 argument") ||
      Option(err.getCause).exists(_.getMessage.contains("requires exactly 1 argument")))
  }
}
