package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Measurement tool (guide §1): run named queries and dump each one's
  * finalized `.explain("formatted")` plan to a file, so plan claims
  * (Exchange counts, join strategies, PushedFilters) are checkable offline
  * without running Spark. Each query also prints one `PLANCHECK` line
  * summarizing the executed plan's join strategies and scan count — the
  * quick way to confirm "dimensions still broadcast at this scale factor"
  * without reading whole plans.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...]
  * With no query list, dumps every declared query. Streaming-harness
  * queries (x*) execute their stream on construction via runToCompletion,
  * so the dumped plan there is the plan of the SINK READ-BACK — the
  * per-microbatch plan is not reachable from a batch explain; those are
  * still dumped (cheaply labeled) for completeness.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val names = SparkEntry.select(args.lift(2), SparkEntry.queries.keys)
    val spark = GraftSession.start()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        // Execute this Dataset's OWN QueryExecution so its
        // AdaptiveSparkPlanExec is FINALIZED before the plan is read —
        // otherwise the dump is the static plan and misses every runtime
        // join demotion/promotion. A write plans a separate QueryExecution,
        // and even Dataset.foreach routes through the separate
        // rddQueryExecution — only qe.toRdd executes the plan object that
        // is then printed.
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.count(): Unit
        Files.write(Paths.get(outDir, s"$name.txt"),
          qe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
        println(planCheck(name, qe.executedPlan.toString))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** One-line operator census of an executed plan's string form. */
  private def planCheck(name: String, plan: String): String = {
    // the finalized adaptive toString appends an "== Initial Plan =="
    // section — count only the final plan above it
    val p = plan.split("== Initial Plan ==").head
    def n(token: String) = token.r.findAllIn(p).size
    // count shuffle exchanges separately from broadcasts — a plain
    // "Exchange" token also matches inside "BroadcastExchange"
    val shuffles = n("Exchange hashpartitioning") +
      n("Exchange rangepartitioning") + n("Exchange SinglePartition")
    s"PLANCHECK $name broadcastHash=${n("BroadcastHashJoin")}" +
      s" sortMerge=${n("SortMergeJoin")} shuffledHash=${n("ShuffledHashJoin")}" +
      s" nestedLoop=${n("NestedLoop")} cartesian=${n("CartesianProduct")}" +
      s" scans=${n("Scan parquet")} shuffleExchanges=$shuffles" +
      s" broadcastExchanges=${n("BroadcastExchange")}" +
      s" adaptive=${p.contains("AdaptiveSparkPlan")}" +
      s" finalPlan=${p.contains("isFinalPlan=true")}"
  }
}
