package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LtPairs

/** The native pair expansion (OPTIMIZATION r18) must reproduce the
  * composed HOF spelling it replaced EXACTLY — same pairs, same order,
  * same duplicate multiplicity (a value appearing twice in the input
  * yields its pairs twice, which the downstream `.distinct()` then
  * collapses identically), null passthrough. */
class LtPairsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val arrays: Seq[Seq[java.lang.Long]] = Seq(
    Seq.empty,
    Seq(1L).map(Long.box),
    Seq(1L, 2L).map(Long.box),
    Seq(2L, 1L).map(Long.box),
    Seq(5L, 5L, 5L).map(Long.box),
    Seq(3L, 1L, 2L, 1L).map(Long.box),
    Seq(9L, 8L, 7L, 6L, 5L, 4L).map(Long.box),
    (1L to 20L).map(Long.box),
    null)

  test("lt_pairs == filter(flatten(transform(...))) on the zoo") {
    import spark.implicits._
    val df = arrays.zipWithIndex
      .map { case (a, i) => (i.toLong, if (a == null) null else a.map(Long.unbox)) }
      .toDF("id", "xs")
    val rows = df.select(col("id"),
        LtPairs.ltPairs(col("xs")).as("fused"),
        expr("filter(flatten(transform(xs, x -> transform(xs, y -> " +
          "struct(x AS a, y AS b)))), p -> p.a < p.b)").as("legacy"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null parity, id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[org.apache.spark.sql.Row](1) ==
          r.getSeq[org.apache.spark.sql.Row](2), s"id ${r.getLong(0)}")
    }
  }

  test("a nullable-element array fails analysis with a message") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(LtPairs.ltPairs(
        expr("array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT))"))))
    assert(e.getMessage.contains("requires non-null array elements"), e.getMessage)
  }
}
