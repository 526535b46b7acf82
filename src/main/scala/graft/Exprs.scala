package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-agnostic exact-arithmetic helpers.
  *
  * The correctness gate hash-compares Spark results against a DuckDB oracle.
  * Floating-point SUM/AVG over doubles is order-dependent, and Spark's partial
  * aggregation order differs from DuckDB's — so every money/measure aggregate
  * is summed as DECIMAL (exact, associative, order-independent) and only cast
  * back to double at the end. `CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`
  * produces bit-identical doubles in both engines.
  */
object Exprs {
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  def dsumSql(e: String, scale: Int = 6): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Exact mean: decimal sum divided by count, in double (deterministic). */
  def davg(c: Column, scale: Int = 6): Column =
    (sum(c.cast(DecimalType(18, scale))).cast(DoubleType) / count(lit(1))).as("avg")

  def davgSql(e: String, scale: Int = 6): String =
    s"(CAST(sum(CAST(($e) AS DECIMAL(18,$scale))) AS DOUBLE) / count(*))"

  /** The first 8 hex digits of the md5 string column `col` as a BIGINT in
    * [0, 2³²), folded digit by digit with instr/substr — the oracle-side
    * twin of `HexPrefixToLong.hex8`. */
  def hex8Sql(col: String): String = (0 until 8).map { i =>
    s"(instr('0123456789abcdef', substr($col, ${i + 1}, 1)) - 1) * CAST(${1L << (4 * (7 - i))} AS BIGINT)"
  }.mkString(" + ")

  /** Integer sums: Spark sum(int)=BIGINT but DuckDB sum(int)=HUGEINT, so the
    * oracle side must cast; Spark side is already long. */
  def lsum(c: Column): Column = sum(c).cast(LongType)
}
