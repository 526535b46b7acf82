package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session definition: how `SPARK_GRAFT_CPUS` resolves, and what
  * every session built from it carries. */
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
}
