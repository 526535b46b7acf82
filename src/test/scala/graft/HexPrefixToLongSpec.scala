package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HexPrefixToLong

/** The native hex-prefix expression must agree exactly with (a) the JDK
  * parser on well-formed hex and (b) the instr/substr SQL chain it replaced
  * — `Exprs.hex8Sql`, the very text every oracle sends DuckDB — on ALL
  * inputs, including the odd ones: non-hex bytes, uppercase, short strings. */
class HexPrefixToLongSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("agrees with Long.parseLong on md5 prefixes") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(rnd.nextString(12).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(HexPrefixToLong.parse(UTF8String.fromString(md), 8) ==
        java.lang.Long.parseLong(md.take(8), 16))
    }
  }

  test("agrees with the instr/substr SQL chain on edge inputs") {
    import spark.implicits._
    val inputs = Seq("00000000", "ffffffff", "deadbeef", "DEADBEEF",
      "zz12xx34", "abc", "", "1234567890abcdef", "a-b_c d!")
    val df = inputs.toDF("s")
      .select(col("s"), expr(Exprs.hex8Sql("s")).as("chain"),
        HexPrefixToLong.hex8(col("s")).as("native"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"diverges on '${r.getString(0)}'")
    }
  }

  test("null propagates") {
    import spark.implicits._
    val r = Seq[String](null).toDF("s")
      .select(HexPrefixToLong.hex8(col("s"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("native rolling hash agrees with the composed fold, ASCII and unicode") {
    import spark.implicits._
    val composed = expr("aggregate(transform(sequence(1, length(s)), " +
      "i -> CAST(ascii(substr(s, i, 1)) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)")
    val rnd = new scala.util.Random(13)
    val inputs = (1 to 50).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(200)).mkString) ++
      Seq("", "héllo wörld", "日本語テキスト", "mix 日本 ascii", "a😀b")
    val df = inputs.toDF("s").select(
      graft.functions.RollingHash.rollingHash(col("s")).as("native"),
      composed.as("folded"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("SQL name resolves when registered via GraftExtensions") {
    // the shared test session is built by GraftSession, so the name comes
    // from the extension's own injection, not a test-side registration
    val out = spark.sql("SELECT hex8_to_long('deadbeef') AS v").collect()
    assert(out.head.getLong(0) == java.lang.Long.parseLong("deadbeef", 16))
  }
}
