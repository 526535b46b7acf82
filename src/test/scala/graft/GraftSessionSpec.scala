package graft

import java.net.URI

import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.io.LocalFs

/** The one session definition: how `SPARK_GRAFT_CPUS` resolves, what
  * every session built from it carries, and how `withConf` pins conf. */
class GraftSessionSpec extends AnyFunSuite {
  test("cpus: unset is the host's processor count; a positive value is taken") {
    assert(GraftSession.resolveCpus(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.resolveCpus(Some("6")) == 6)
  }

  test("cpus: malformed or non-positive values fail naming SPARK_GRAFT_CPUS") {
    Seq("abc", "0", "-2").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.resolveCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("a GraftSession session resolves hex8_to_long and sets UTC and nanosAsLong") {
    val spark = TestSpark.spark
    val out = spark.sql("SELECT hex8_to_long('deadbeef') AS v").collect()
    assert(out.head.getLong(0) == 0xdeadbeefL)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("a GraftSession session binds the file: scheme to LocalFs") {
    val hc = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), hc).getClass == classOf[LocalFs])
    assert(FileSystem.getLocal(hc).getClass == classOf[LocalFs])
    assert(hc.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Afs].getName)
  }

  private val key = "spark.graft.test.withConf"
  private def explicit: Option[String] = TestSpark.spark.conf.getAll.get(key)

  test("withConf: an unset key is set inside the block and unset after") {
    val spark = TestSpark.spark
    assert(explicit.isEmpty)
    val seen = GraftSession.withConf(spark, key -> "in")(explicit)
    assert(seen.contains("in"))
    assert(explicit.isEmpty, "unset must stay unset")
  }

  test("withConf: a set value comes back, also for a key given twice") {
    val spark = TestSpark.spark
    spark.conf.set(key, "before")
    try {
      GraftSession.withConf(spark, key -> "a", key -> "b") {
        assert(explicit.contains("b"))
      }
      assert(explicit.contains("before"))
      val partitions = spark.conf.get("spark.sql.shuffle.partitions")
      GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "3") {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally spark.conf.unset(key)
  }

  test("withConf: the conf is restored when the body throws") {
    val spark = TestSpark.spark
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, key -> "in", "spark.sql.shuffle.partitions" -> "3") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.getAll == before)
  }
}
