package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sinks, Tables}

/** Partitioned layout + planning-time pruning: a date filter on a
  * Hive-partitioned table must prune directories (PartitionFilters), not
  * scan-and-filter rows. */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("date-partitioned events prune partitions at planning time") {
    val out = TestSpark.tempDir("events-part").toString
    val events = Sinks.eventsByDate(
      Tables.load(spark, "/root/testdata/sf0.001", "events"))
    Sinks.writePartitioned(events, out, "event_date")

    // hive-style directory layout
    val names = scala.util.Using.resource(Files.list(Paths.get(out))) { st =>
      val it = st.iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.result()
    }
    val partDirs = names.filter(_.startsWith("event_date="))
    assert(partDirs.size > 1, s"expected multiple date partitions: $names")

    val someDate = partDirs.head.stripPrefix("event_date=")
    val q = spark.read.parquet(out).filter(col("event_date") === lit(someDate))
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.linesIterator.find(_.contains("PartitionFilters"))
      .exists(l => l.contains("event_date")), p)
    assert(q.count() > 0)
  }

  test("t41's lang predicate prunes the hive layout — PartitionFilters, not a row filter") {
    val df = graft.operators.TextOps.defs("t41_partitioned_ingest")(
      spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("lang")),
      s"lang equality must land in PartitionFilters:\n$p")
    // the predicate must NOT survive as a post-scan row filter: pruning
    // already guarantees every surviving row has lang = en
    assert(!p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("lang")),
      s"lang must prune directories, not push into the row scan:\n$p")
    val langs = df.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en"), s"only the selected partition: ${langs.toSeq}")
  }
}
