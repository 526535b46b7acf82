package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MortonCode

/** The z-order layout primitive: the native interleave must match the naive
  * bit construction, and a z-range file layout must actually prune a 2-D box
  * probe better than a linear sort — the measurable claim behind q38. */
class ZorderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def naiveMorton(x: Long, y: Long): Long =
    (0 until 16).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)

  test("morton16 matches the naive bit interleave, high bits masked") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val x = rnd.nextLong().abs
      val y = rnd.nextLong().abs
      assert(MortonCode.morton16(x, y) == naiveMorton(x & 0xffff, y & 0xffff))
    }
    assert(MortonCode.morton16(0L, 0L) == 0L)
    assert(MortonCode.morton16(0xffffL, 0xffffL) == 0xffffffffL)
  }

  test("column expression agrees with the interpreted form through codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val pairs = (1 to 200).map(_ => (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val rows = pairs.toDF("x", "y")
      .select(col("x"), col("y"), MortonCode.morton16(col("x"), col("y")).as("z"))
      .collect()
    rows.foreach(r => assert(r.getLong(2) == naiveMorton(r.getLong(0), r.getLong(1))))
  }

  test("z-range files prune a 2-D box probe that a linear sort cannot") {
    // the zone-map experiment: a full 1024x1024 uniform grid written as 16
    // equal key-range files, each file's (x, y) min/max box derived from
    // its own rows — exactly the stats a parquet footer carries. The file
    // id is derived from the sort key EXPLICITLY (k div keyspace/16 — what
    // a table writer's range partitioner does when it knows the bounds)
    // rather than via repartitionByRange, whose SAMPLED split points shift
    // with suite execution order and turned this pin flaky. Probe box
    // [0,256)x[0,256) is 1/16 of the area: a linear sort prunes only its
    // own dimension (1/4 -> 4 files), while the z-sort localizes the box
    // to exactly one aligned z-range ([0, 65536) -> file 0).
    val grid = spark.range(1L << 20)
      .select((col("id") % 1024).as("x"), (col("id") / 1024).cast("long").as("y"))
    def filesTouched(df: DataFrame, fileWidth: Long): Int = {
      val d = TestSpark.tempDir("graft-zorder").toString
      df.withColumn("fid", expr(s"k div ${fileWidth}L"))
        .repartition(16, col("fid")).sortWithinPartitions("k")
        .write.mode("overwrite").partitionBy("fid").parquet(d)
      spark.read.parquet(d)
        .groupBy(input_file_name().as("f"))
        .agg(min("x").as("mnx"), max("x").as("mxx"),
          min("y").as("mny"), max("y").as("mxy"))
        .filter(col("mnx") < 256 && col("mny") < 256)
        .count().toInt
    }
    val zFiles = filesTouched(
      grid.withColumn("k", MortonCode.morton16(col("x"), col("y"))), 1L << 16)
    val xFiles = filesTouched(grid.withColumn("k", col("x")), 64L)
    val yFiles = filesTouched(grid.withColumn("k", col("y")), 64L)
    assert(zFiles == 1, s"the aligned box must be ONE z-range file: $zFiles")
    assert(xFiles == 4 && yFiles == 4,
      s"a linear sort prunes only its own dimension: x=$xFiles y=$yFiles")
  }

  test("q38 is one scan, one equi-keyed exchange, morton16 inside codegen") {
    val qe = graft.operators.Relational.defs("q38_zorder_cells")(
      spark, "/root/testdata/sf0.001").queryExecution
    val p = qe.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("(?m)Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("morton16"), p)
    // the expression must not fall back to interpreted eval
    assert(!p.contains("CodegenFallback"), p)
  }
}
