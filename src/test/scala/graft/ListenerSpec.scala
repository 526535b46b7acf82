package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListenerApplicationEnd, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob
import graft.listen.Hw4EventLogListener

/** Validates the event-log CSV grammar against hw4.cc:84-203 (SURVEY.md §5
  * item 5): schema per event, Start_Job first, Finish_Job last, dispatch
  * precedes completion per (kind, taskid) — with AQE on (on both of
  * WordCountJob's finishes) AND off — and that the shuffleDepId probe the
  * stage classifier relies on answers live. */
class ListenerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def runWithListener(jobName: String, aqe: Boolean,
      mkListener: WordCountJob.Config => Hw4EventLogListener): Seq[String] = {
    val in = TestSpark.tempFile("lst-in", ".txt")
    Files.writeString(in, "alpha beta alpha gamma beta alpha")
    val out = TestSpark.tempDir("lst-out")
    val cfg = WordCountJob.Config(jobName, 2, 0, in.toString, 2, "none",
      out.toString)
    val listener = mkListener(cfg)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.sparkContext.addSparkListener(listener)
    try {
      WordCountJob.run(spark, cfg)
      // listener bus is async (and private[spark]); wait for the log to settle
      val log = Paths.get(s"$jobName-log.out")
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val size = if (Files.exists(log)) Files.size(log) else -1L
        if (size == last) stable += 1 else { stable = 0; last = size }
      }
      // the test session outlives the job; deliver application-end directly
      listener.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sparkContext.removeSparkListener(listener)
      listener.close()
    }
    val log = Paths.get(s"$jobName-log.out")
    val lines = Files.readAllLines(log).asScala.toSeq
    Files.deleteIfExists(log)
    lines
  }

  private def checkGrammar(lines: Seq[String]): Unit = {
    assert(lines.nonEmpty)

    val events = lines.map(_.split(",", -1))
    // every line: unix-seconds timestamp then a known event name
    val names = Set("Start_Job", "Dispatch_MapTask", "Complete_MapTask",
      "Dispatch_ReduceTask", "Complete_ReduceTask", "Finish_Job")
    events.foreach { e =>
      assert(e(0).forall(_.isDigit), s"bad timestamp: ${e.mkString(",")}")
      assert(names.contains(e(1)), s"unknown event: ${e.mkString(",")}")
    }

    // Start_Job exactly once, first; Finish_Job exactly once, last
    assert(events.head(1) == "Start_Job")
    assert(events.last(1) == "Finish_Job")
    assert(events.count(_(1) == "Start_Job") == 1)
    assert(events.count(_(1) == "Finish_Job") == 1)

    // Start_Job carries the full 9-field config (hw4.cc:84):
    // job,node,ncpus,R,delay,input,chunk,locality,outdir
    assert(events.head.length == 11, events.head.mkString(","))

    // map and reduce phases both present; each Complete has a prior Dispatch
    assert(events.exists(_(1) == "Complete_MapTask"))
    assert(events.exists(_(1) == "Complete_ReduceTask"))
    Seq("MapTask", "ReduceTask").foreach { kind =>
      val dispatched = scala.collection.mutable.Set[String]()
      events.foreach { e =>
        if (e(1) == s"Dispatch_$kind") dispatched += e(2)
        if (e(1) == s"Complete_$kind")
          assert(dispatched.contains(e(2)), s"complete before dispatch: ${e.mkString(",")}")
      }
    }

    // timestamps are non-decreasing
    val ts = events.map(_(0).toLong)
    assert(ts == ts.sorted)
  }

  test("log follows the hw4 CSV grammar (AQE on)") {
    checkGrammar(runWithListener("lstaqe", aqe = true, new Hw4EventLogListener(_, 4)))
  }

  test("log follows the hw4 CSV grammar (AQE on, distributed sink)") {
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      checkGrammar(runWithListener("lstaqedist", aqe = true, new Hw4EventLogListener(_, 4)))
    }
  }

  test("log follows the hw4 CSV grammar (AQE off)") {
    checkGrammar(runWithListener("lstnoaqe", aqe = false, new Hw4EventLogListener(_, 4)))
  }

  test("the exact shuffleDepId probe IS available on this Spark (no real-run fallback)") {
    // VERDICT r13 item 4: the listener resolves shuffleDepId at construction
    // and fails there without it; here every live StageInfo answers the
    // reflective probe, and the job exhibits both answers (a
    // shuffle-writing map stage and a result stage).
    val probed = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val mk = (cfg: WordCountJob.Config) => new Hw4EventLogListener(cfg, 4) {
      override protected def writesShuffle(info: StageInfo): Boolean = {
        val r = super.writesShuffle(info)
        probed.add(r)
        r
      }
    }
    checkGrammar(runWithListener("lstprobe", aqe = false, mk))
    val results = probed.asScala.toSeq
    assert(results.nonEmpty, "test premise: some stage must have been probed")
    assert(results.contains(true) && results.contains(false),
      s"expected both map and result stages to be probed, got: $results")
  }
}
