package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Access shim: Spark 4 wraps Column around ColumnNode and keeps the
  * Expression↔Column converters `private[sql]`. Custom native expressions
  * (graft.functions.HexPrefixToLong) need exactly those two calls, and
  * WordCountJob's distributed sink the third below, so this object
  * re-exports them from inside the `org.apache.spark.sql` namespace — the
  * conventional pattern for third-party Catalyst extensions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An already-executed plan's rows as a DataFrame, with no conversion to
    * external `Row`s (`SparkSession.internalCreateDataFrame`, also
    * `private[sql]`). */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
