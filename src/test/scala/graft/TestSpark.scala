package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the engine's
  * own [[GraftSession]] conf (extensions included) on 4 cores, plus a
  * throwaway warehouse dir. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.start(GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
