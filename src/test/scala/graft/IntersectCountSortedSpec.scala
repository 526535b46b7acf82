package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BoundReference, Expression, Size}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.IntersectCountSorted

/** The native merge walk must count exactly what the set spelling
  * `size(array_intersect(a, b))` counts on sorted, distinct, non-null
  * `array<bigint>` inputs — through interpreted `eval` and through
  * generated code — pass NULL arrays through as NULL, and refuse
  * nullable-element arrays at analysis. */
class IntersectCountSortedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val arr = ArrayType(LongType, containsNull = false)
  private val a = BoundReference(0, arr, nullable = true)
  private val b = BoundReference(1, arr, nullable = true)
  private val native = IntersectCountSorted(a, b)
  private val reference = Size(ArrayIntersect(a, b))

  private def unsafe(v: Seq[Long]): UnsafeArrayData =
    if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v.toArray)

  private def row(x: Seq[Long], y: Seq[Long]): InternalRow = InternalRow(unsafe(x), unsafe(y))

  private def generated(e: Expression, in: InternalRow): Option[Long] = {
    val out = GenerateUnsafeProjection.generate(Seq(e)).apply(in)
    if (out.isNullAt(0)) None else Some(out.getLong(0))
  }

  private def assertParity(x: Seq[Long], y: Seq[Long]): Unit = {
    val in = row(x, y)
    val want = reference.eval(in).asInstanceOf[Int].toLong
    val label = s"${x.mkString("[", ",", "]")} ∩ ${y.mkString("[", ",", "]")}"
    assert(native.eval(in) == want, s"$label: interpreted eval")
    assert(generated(native, in).contains(want), s"$label: generated code")
  }

  private def sortedDistinct(n: Int, draw: => Long): Seq[Long] =
    Seq.fill(n)(draw).distinct.sorted

  test("edge shapes: empty, disjoint, identical, nested and Long extremes") {
    val ext = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    Seq[(Seq[Long], Seq[Long])](
      (Nil, Nil),
      (Nil, Seq(1L, 2L)),
      (Seq(1L, 2L), Nil),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L)),
      (Seq(2L, 3L), Seq(1L, 2L, 3L, 4L)),
      (ext, ext),
      (ext, Seq(Long.MinValue, Long.MaxValue)),
      (Seq(Long.MinValue), Seq(Long.MaxValue)),
      (Seq(Long.MinValue + 1, Long.MaxValue - 1), ext)
    ).foreach { case (x, y) => assertParity(x, y) }
    assert(native.eval(row(ext, ext)) == 5L)
    assert(native.eval(row(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L))) == 0L)
  }

  test("seeded random sorted distinct pairs: parity with size(array_intersect)") {
    val rnd = new scala.util.Random(12)
    (1 to 1000).foreach { i =>
      // a narrow domain makes overlaps common; every tenth pair draws
      // from the whole long range, signs and extremes included
      def draw: Long = if (i % 10 == 0) rnd.nextLong() else rnd.nextInt(64).toLong - 32
      assertParity(sortedDistinct(rnd.nextInt(40), draw),
        sortedDistinct(rnd.nextInt(40), draw))
    }
  }

  test("a NULL array on either side yields NULL") {
    Seq(row(null, Seq(1L)), row(Seq(1L), null), row(null, null)).foreach { in =>
      assert(native.eval(in) == null)
      assert(generated(native, in).isEmpty)
    }
  }

  test("inside a plan: intersect_count_sorted == size(array_intersect)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 200).map { _ =>
      def draw: Long = rnd.nextInt(48).toLong
      (sortedDistinct(rnd.nextInt(24), draw), sortedDistinct(rnd.nextInt(24), draw))
    }.toDF("x", "y")
    val rows = df.select(IntersectCountSorted.intersectCount(col("x"), col("y")),
      size(array_intersect(col("x"), col("y"))).cast("long")).collect()
    assert(rows.length == 200)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("a nullable-element array fails analysis, naming the function") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(IntersectCountSorted.intersectCount(
        expr("array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT))"),
        expr("array(CAST(1 AS BIGINT))"))))
    assert(e.getMessage.contains("intersect_count_sorted"), e.getMessage)
    assert(e.getMessage.contains("requires non-null array elements"), e.getMessage)
  }
}
