package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions so SQL text can reach them (`hex8_to_long(col)`), alongside the
  * Column-DSL path ([[HexPrefixToLong.hex8]]). [[graft.GraftSession.builder]]
  * applies it to every engine session.
  *
  * Kept deliberately small: SURVEY.md §4 concludes the reference needs no
  * custom Catalyst rules or strategies — built-in operators express every
  * query — so the extension surface carries only genuinely hot custom
  * expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** The ONE registration list — the extension injects it at builder time
    * (every session comes from [[graft.GraftSession.builder]]). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("hex8_to_long"),
      new ExpressionInfo(classOf[HexPrefixToLong].getName, "hex8_to_long"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"hex8_to_long requires exactly 1 argument, got ${args.length}")
        HexPrefixToLong(args.head, 8)
      }),
    (FunctionIdentifier("md5_hash32"),
      new ExpressionInfo(classOf[Md5Hash32].getName, "md5_hash32"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"md5_hash32 requires exactly 1 argument, got ${args.length}")
        Md5Hash32(args.head)
      }),
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"vec_dot requires exactly 2 arguments, got ${args.length}")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("morton16"),
      new ExpressionInfo(classOf[MortonCode].getName, "morton16"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"morton16 requires exactly 2 arguments, got ${args.length}")
        MortonCode(args.head, args(1))
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"nfc_normalize requires exactly 1 argument, got ${args.length}")
        NfcNormalize(args.head)
      }))
}
