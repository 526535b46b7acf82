package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DotProduct

/** The native dot product must be BIT-identical to the composed
  * zip_with+aggregate fold it replaced (whose semantics the DuckDB oracle
  * mirrors), including null and length-mismatch collapse. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def composed(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("bit-identical to the composed fold on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map { _ =>
      (Seq.fill(64)(rnd.nextDouble() * 2 - 1), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
      .select(DotProduct.dot(col("a"), col("b")).as("native"),
        composed(col("a"), col("b")).as("folded"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null array, null element, and length mismatch all yield null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0))),
      (None: Option[Seq[Double]], None: Option[Seq[Double]]))
      .toDF("a", "b")
      .select(DotProduct.dot(col("a"), col("b")).as("d"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("registered as vec_dot for SQL text") {
    // injected by GraftExtensions in the GraftSession-built test session
    val out = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v").collect()
    assert(out.head.getDouble(0) == 11.0)
  }
}
