package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer: the non-empty tokens of a line split on
  * runs of ASCII whitespace — WordCount's map-side tokenizer
  * (hw4.cc:457-466), where it replaces
  * `explode(split(line, "\\s+")).filter(word =!= "")`.
  *
  * `split` decodes every line to a Java String, runs `String.split` (one
  * `Pattern.compile` per line) and re-encodes each token. This expression
  * scans the line's UTF-8 bytes once and emits each token as a slice of one
  * copied line buffer.
  *
  * Byte parity with the regex spelling (pinned in WhitespaceTokensSpec):
  *  - Java's `\s` matches exactly the six bytes 0x20 and 0x09-0x0D. None of
  *    them occurs inside a UTF-8 multibyte sequence, so splitting the bytes
  *    equals splitting the decoded chars; non-ASCII spaces (U+00A0, U+3000)
  *    split neither.
  *  - A line that is not valid UTF-8 goes through the same decode/encode
  *    round trip `split` performs (`UTF8String.fromString(line.toString)`),
  *    which replaces each malformed sequence with U+FFFD before the scan.
  *  - NULL → empty array (explode of NULL emits no rows either), so the
  *    result is never null.
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string child, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "whitespace_tokens"

  override def eval(input: InternalRow): Any =
    WhitespaceTokens.tokens(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.WhitespaceTokens.tokens(${c.isNull} ? null : ${c.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
    copy(child = newChild)
}

object WhitespaceTokens {
  private val empty: ArrayData = new GenericArrayData(Array.empty[Any])

  @inline private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Shared by interpreted eval and generated code. Two passes over the
    * bytes: count the tokens, then slice them into an exactly sized array. */
  def tokens(line: UTF8String): ArrayData = {
    if (line == null) return empty
    val buf =
      if (line.isValid) {
        val b = new Array[Byte](line.numBytes())
        line.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
        b
      } else UTF8String.fromString(line.toString).getBytes
    val n = buf.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isSpace(buf(i))) i += 1
      if (i < n) count += 1
      while (i < n && !isSpace(buf(i))) i += 1
    }
    if (count == 0) return empty
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isSpace(buf(i))) i += 1
      val start = i
      while (i < n && !isSpace(buf(i))) i += 1
      out(k) = UTF8String.fromBytes(buf, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column-DSL wrapper. */
  def whitespaceTokens(c: Column): Column =
    ColumnBridge.column(WhitespaceTokens(ColumnBridge.expression(c)))
}
