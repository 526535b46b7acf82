package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native intersection count of two SORTED, DISTINCT array<bigint> columns —
  * the Jaccard-verification inner loop (d4), where `array_intersect` +
  * `array_distinct(concat(...))` built a hash set and two scratch arrays per
  * candidate pair. A merge walk over pre-sorted hash sets does the same
  * count allocation-free in O(|a|+|b|); the caller sorts once per DOCUMENT
  * (array_sort in the projection) rather than paying set machinery once per
  * PAIR. Jaccard follows as cnt / (|a| + |b| - cnt), identical to the
  * oracle's |intersect| / |distinct union| on distinct inputs.
  *
  * Inputs MUST be sorted ascending and duplicate-free; this is an internal
  * engine primitive, not a general SQL function. Elements must be
  * non-null: the walk reads them with `getLong`, which has no null case.
  * Every caller passes `ShingleHash32.set` output (`containsNull = false`;
  * d18's parquet-persisted index restores that type with `array_compact`),
  * and a nullable-element array is rejected at analysis.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires non-null array elements (containsNull = false), " +
            "e.g. ShingleHash32.set output")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> children, got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountSorted.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.IntersectCountSorted.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSorted {
  /** Merge walk; shared by interpreted eval and generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Column-DSL wrapper. */
  def intersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntersectCountSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
