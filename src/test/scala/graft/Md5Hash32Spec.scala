package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HexPrefixToLong, Md5Hash32}

/** The fused digest→long expression must agree exactly with the two-step
  * spelling it replaces — `hex_prefix_to_long(md5(x), 8)` — which is still
  * how the DuckDB oracle computes the shingle base hash. */
class Md5Hash32Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("agrees with md5 + hex8 parse on random strings, ASCII and unicode") {
    val rnd = new scala.util.Random(42)
    val inputs = (1 to 200).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(80)).mkString) ++
      Seq("", " ", "héllo wörld", "日本語テキスト", "a😀b", "the cat sat")
    inputs.foreach { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(Md5Hash32.hash32(UTF8String.fromString(s)) ==
        HexPrefixToLong.parse(UTF8String.fromString(hex), 8), s"diverges on '$s'")
    }
  }

  test("agrees with the composed column expression through codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val inputs = (1 to 100).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    val rows = inputs.toDF("s")
      .select(Md5Hash32.hash32(col("s")).as("fused"),
        HexPrefixToLong.hex8(md5(col("s"))).as("twostep"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("null propagates and the range is 32-bit") {
    import spark.implicits._
    val r = Seq[String](null).toDF("s")
      .select(Md5Hash32.hash32(col("s"))).collect()
    assert(r.head.isNullAt(0))
    val vals = (1 to 50).map(i => s"doc $i").toDF("s")
      .select(Md5Hash32.hash32(col("s")).as("v")).collect().map(_.getLong(0))
    assert(vals.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("SQL name resolves when registered via GraftExtensions") {
    // the shared test session is built by GraftSession, so this exercises
    // the extension's own injection — builders and arity checks included
    val out = spark.sql("SELECT md5_hash32('deadbeef') AS v").collect()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("deadbeef".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.head.getLong(0) == java.lang.Long.parseLong(hex.take(8), 16))
    // the arity contract is part of the registration
    val err = intercept[Exception](spark.sql("SELECT md5_hash32('a', 'b')").collect())
    assert(err.getMessage.contains("requires exactly 1 argument") ||
      Option(err.getCause).exists(_.getMessage.contains("requires exactly 1 argument")))
  }
}
