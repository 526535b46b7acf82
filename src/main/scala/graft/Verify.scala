package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q37_bloom_join,q1_pricing_summary dumps a subset —
    // same knob as Bench, for local iteration.
    val queries = SparkEntry.queries
    val names = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"), queries.keys)
    val spark = GraftSession.start()
    val clearBlocks = GraftSession.blockCleaner(spark)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // free the query's localCheckpoint blocks (its result is on disk) —
        // 73 dumps would otherwise accumulate dead blocks for the whole run
        clearBlocks()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL, every string escaped by
    * the harness's one JSON writer (a tab or CR in the SQL must never make
    * the checker's json.load fail). */
  def oracleJson(sql: Map[String, String]): String =
    Bench.json.writeValueAsString(scala.collection.immutable.TreeMap.from(sql))
}
