package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Native in-row ordered-pair expansion (OPTIMIZATION r18): for a bigint
  * array xs, every (xs(i), xs(j)) over all index pairs with
  * xs(i) < xs(j), in exactly the order of the composed spelling it
  * replaces —
  * `filter(flatten(transform(xs, x -> transform(xs, y -> struct(x AS a, y AS b)))), p -> p.a < p.b)`
  * — which is the per-bucket pair generator of the co-order graph build
  * (Graph.coOrderEdges) and the LSH band expansion (Dedup.pairsFromBands).
  *
  * The composed chain is higher-order functions all the way down —
  * CodegenFallback, so it runs interpreted, building n² boxed structs
  * plus flatten/filter scratch arrays per row, and
  * InferFiltersFromGenerate additionally duplicates the whole chain into
  * a `size(..) > 0` filter under the explode that always follows (the
  * same pathology ShingleHash32s removes from the shingle pipeline).
  * This expression emits the identical multiset in one tight loop.
  * Parity (order, duplicates, null passthrough) is pinned in
  * LtPairsSpec.
  *
  * Elements must be non-null: the loop reads them with `getLong`, which
  * has no null case (an unsafe array yields a silent 0). Every caller passes
  * `collect_set`/`collect_list` output (`containsNull = false`), and a
  * nullable-element array is rejected at analysis.
  */
case class LtPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires non-null array elements (containsNull = false), " +
        "e.g. collect_set/collect_list output")
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> child, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "lt_pairs"

  override def nullSafeEval(input: Any): Any =
    LtPairs.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LtPairs.pairs($c)")

  override protected def withNewChildInternal(newChild: Expression): LtPairs =
    copy(child = newChild)
}

object LtPairs {
  /** All (xs(i), xs(j)) index pairs with xs(i) < xs(j), in the composed
    * spelling's order: outer loop over the left element's position, inner
    * over the right's. Shared by interpreted eval and generated code. */
  def pairs(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < n) {
        val y = xs.getLong(j)
        if (x < y) out += InternalRow(x, y)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column DSL wrapper. */
  def ltPairs(c: Column): Column =
    ColumnBridge.column(LtPairs(ColumnBridge.expression(c)))
}
