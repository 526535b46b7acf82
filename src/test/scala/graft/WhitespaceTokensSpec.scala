package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WhitespaceTokens

/** The native tokenizer must emit byte-for-byte the tokens of the regex
  * spelling it replaced in WordCount — `explode(split(value, "\\s+"))`
  * minus empty strings — through interpreted `eval` and through generated
  * code, on every whitespace byte, edge line shape, non-ASCII space,
  * multibyte word, NULL and invalid UTF-8 sequence. Tokens are compared as
  * hex of their raw bytes, so a U+FFFD substitution cannot hide. */
class WhitespaceTokensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hexOf(bs: Array[Byte]): String = bs.map("%02X".format(_)).mkString
  private def bytes(h: String): Array[Byte] =
    h.replace(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val line = BoundReference(0, StringType, nullable = true)
  private val native = WhitespaceTokens(line)
  private val regex = StringSplit(line, Literal("\\s+"), Literal(-1))

  private def hexTokens(a: ArrayData): Seq[String] =
    if (a == null) Seq.empty
    else (0 until a.numElements()).map(i => hexOf(a.getUTF8String(i).getBytes))

  private def interpreted(e: Expression, in: UTF8String): Seq[String] =
    hexTokens(e.eval(InternalRow(in)).asInstanceOf[ArrayData])

  private def generated(e: Expression, in: UTF8String): Seq[String] = {
    val out = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow(in))
    hexTokens(if (out.isNullAt(0)) null else out.getArray(0))
  }

  /** The regex spelling's tokens minus empties — the reference side. */
  private def expected(in: UTF8String): Seq[String] =
    interpreted(regex, in).filter(_.nonEmpty)

  private def assertParity(in: UTF8String, label: String): Unit = {
    val want = expected(in)
    assert(generated(regex, in).filter(_.nonEmpty) == want, s"$label: split modes disagree")
    assert(interpreted(native, in) == want, s"$label: interpreted eval")
    assert(generated(native, in) == want, s"$label: generated code")
  }

  private val ws = Seq("09", "0A", "0B", "0C", "0D", "20")

  test("each ASCII whitespace byte splits alone, in runs and mixed") {
    ws.foreach { b =>
      assertParity(UTF8String.fromBytes(bytes(s"61 $b 62")), s"a<$b>b")
      assertParity(UTF8String.fromBytes(bytes(s"61 $b$b$b 62")), s"a<$b x3>b")
      assertParity(UTF8String.fromBytes(bytes(b)), s"<$b>")
    }
    val mixed = UTF8String.fromBytes(bytes("61 20 09 0A 0B 0C 0D 20 62 0D 0A 63"))
    assertParity(mixed, "mixed run")
    assert(interpreted(native, mixed) == Seq("61", "62", "63"))
  }

  test("leading, trailing, whitespace-only and empty lines") {
    Seq("  lead", "trail \t ", "\t both  ends \n", " \t\r\n\u000b\f ", "", "one")
      .foreach(s => assertParity(UTF8String.fromString(s), s"'$s'"))
    assert(interpreted(native, UTF8String.fromString(" \t ")).isEmpty)
    assert(interpreted(native, UTF8String.fromString("")).isEmpty)
  }

  test("non-ASCII spaces and control separators do not split") {
    // U+00A0, U+2003, U+3000, NEL U+0085 and the ASCII separators 0x1C-0x1F
    // are not in Java's `\s` class without UNICODE_CHARACTER_CLASS
    Seq("a\u00a0b", "a\u2003b", "a\u3000b", "a\u0085b", "a\u001cb\u001dc\u001ed\u001fe")
      .foreach { s =>
        val in = UTF8String.fromString(s)
        assertParity(in, s"'$s'")
        assert(interpreted(native, in) == Seq(hexOf(s.getBytes("UTF-8"))), s"'$s' was split")
      }
  }

  test("multibyte and 4-byte words come back byte-identical") {
    val s = "héllo 日本語\tmix日本ascii 😀 a😀b 𝒜𝒜"
    val in = UTF8String.fromString(s)
    assertParity(in, s)
    assert(interpreted(native, in) == s.split(" |\t").toSeq.map(w => hexOf(w.getBytes("UTF-8"))))
  }

  test("NULL yields an empty array, never null") {
    assert(!native.nullable)
    assert(interpreted(native, null).isEmpty)
    assert(generated(native, null).isEmpty)
    assert(expected(null).isEmpty)
  }

  test("invalid UTF-8 takes the same U+FFFD replacement as the regex path") {
    val invalid = Seq(
      "FF",           // never valid
      "80",           // lone continuation byte
      "C3",           // truncated 2-byte sequence
      "E2 82",        // truncated 3-byte sequence
      "C0 AF",        // overlong '/'
      "ED A0 80",     // UTF-16 surrogate
      "F4 90 80 80")  // above U+10FFFF
    invalid.foreach { h =>
      Seq(h, s"61 $h 62", s"20 $h 20 61", s"61 20 $h", s"$h 09 $h").foreach { c =>
        val in = UTF8String.fromBytes(bytes(c))
        assert(!in.isValid, c)
        assertParity(in, c)
      }
    }
    // a pure byte scan would keep 61 FF 62; the regex path decodes first
    assert(interpreted(native, UTF8String.fromBytes(bytes("61 FF 62"))) == Seq("61EFBFBD62"))
  }

  test("random byte lines: parity with the regex spelling") {
    val rnd = new scala.util.Random(5)
    val pool = bytes("20 09 0A 0B 0C 0D 61 62 7A C3 A9 E6 97 A5 F0 9F 98 80 80 FF C0 ED A0 F4 90")
    (1 to 2000).foreach { _ =>
      val in = Array.fill(rnd.nextInt(16))(pool(rnd.nextInt(pool.length)))
      assertParity(UTF8String.fromBytes(in), hexOf(in))
    }
  }

  test("inside a plan: explode(whitespace_tokens) == explode(split) minus empties") {
    import spark.implicits._
    val lines = Seq(" the  quick\tbrown ", "", "\u00a0nbsp\u00a0word ", "日本\u3000語 本", null, "a\u000bb\fc\rd")
      .toDF("value")
    val viaNative = lines.select(explode(WhitespaceTokens.whitespaceTokens(col("value"))).as("w"))
      .select(hex(col("w")))
    val viaRegex = lines.select(explode(split(col("value"), "\\s+")).as("w"))
      .filter(col("w") =!= "").select(hex(col("w")))
    assert(viaNative.collect().map(_.getString(0)).toSeq ==
      viaRegex.collect().map(_.getString(0)).toSeq)
  }
}
