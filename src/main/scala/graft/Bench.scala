package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}

/** Benchmark main, and the measurement harness every tool shares: query
  * selection is [[SparkEntry.select]], the timed-run loop is [[measure]],
  * and every JSON line, row and artifact goes through [[json]].
  *
  * Per query: one untimed warm-up run (JIT + codegen + parquet footer
  * caching), then THREE timed runs with the median reported — a single
  * timed run in a shared JVM swings up to 2x run-to-run (VERDICT r3), which
  * drowns real regressions. Failures are reported per-query in an "errors"
  * field instead of being swallowed. A parallel "spread" field carries
  * [min, median, max] per query so a noisy-host outlier is adjudicable from
  * the artifact alone (VERDICT r11).
  *
  * Each run is forced by [[GraftSession.force]] (a noop write, not
  * `count()` — see there).
  */
object Bench {

  /** The tools' one JSON mapper. It writes Scala maps (in iteration
    * order), sequences, strings and numbers; nothing is locale-formatted.
    * Floats are read as exact BigDecimals (no trailing-zero stripping), so
    * an artifact read back and re-written keeps every number byte for
    * byte. Text after the first value is an error, not silently dropped. */
  val json: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
      DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
    .build()

  /** `d` rounded half-up to `places` decimals: the `%.Nf` spelling as an
    * exact JSON number. */
  def fixed(d: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d)
      .setScale(places, java.math.RoundingMode.HALF_UP)

  /** One query's measurement: the timed runs' seconds, sorted (empty when
    * the query failed), whether the contention guard re-ran it, and the
    * failure's message. */
  final case class Measurement(secs: Seq[Double], rerun: Boolean,
      error: Option[String]) {
    def median: Double = secs(secs.length / 2)
  }

  // Shared-JVM drift control (VERDICT r7 item 6): shuffle files and
  // broadcast blocks are reclaimed by ContextCleaner only when their
  // driver-side handles are GC'd, and the cleaner's own periodic GC runs
  // every 30 min — longer than the whole bench — so a 132-query suite
  // accumulates hundreds of dead shuffles' files and the later (mostly
  // streaming) queries pay for them: measured 5x in-suite vs isolated on
  // x3/x8/x10. One explicit gc per query (outside every timed region)
  // keeps the cleanup roughly quiescent by the next query's warm-up;
  // resetTerminated drops the StreamingQueryManager's unbounded
  // terminated-query backlog the same way.
  private def drainDebris(spark: SparkSession): Unit = {
    spark.streams.resetTerminated()
    System.gc()
  }

  /** Measures query `name` against `dir`: an untimed warm-up, then `runs`
    * timed noop-forced runs. Checkpoint blocks persisted during the call
    * are dropped after every run, outside the timed region (each run
    * rebuilds its own state).
    *
    * CONTENTION GUARD (VERDICT r17 item 7): a median > 2x its own min is
    * the signature of a host-contention spike standing as a "measurement"
    * (r17: g22 median 18.3 s vs min 3.5 s). Such a query is
    * re-run `runs` extra times and the median is taken over ALL runs, so
    * one polluted sample can no longer own the reported number.
    *
    * A query that throws comes back as a [[Measurement]] with its error.
    */
  def measure(spark: SparkSession, name: String, dir: String,
      runs: Int): Measurement = {
    val clearBlocks = GraftSession.blockCleaner(spark)
    var rerun = false
    try {
      GraftSession.force(spark, name, dir) // warm-up
      clearBlocks()
      def timedRun(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(spark, name, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        clearBlocks()
        dt
      }
      var ts = (1 to runs).map(_ => timedRun()).sorted
      if (runs > 1 && ts(ts.length / 2) > 2 * ts.head) {
        rerun = true
        drainDebris(spark) // let the suspect debris settle before re-measuring
        ts = (ts ++ (1 to runs).map(_ => timedRun())).sorted
      }
      drainDebris(spark)
      Measurement(ts, rerun, None)
    } catch {
      case e: Throwable => Measurement(Nil, rerun,
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a malformed env value degrades to the default run count instead of
    // aborting the whole bench before any query runs (ADVICE r4)
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3))
    // SPARK_GRAFT_ONLY=q17_json_extract,q15_events_hourly reruns a subset in
    // isolation — the way to tell a real regression from shared-JVM
    // accumulation (93 queries in one JVM: code cache, broadcast/temp-sink
    // debris) without paying the full-suite wall clock per hypothesis.
    val names = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"),
      SparkEntry.queries.keys)
    val spark = GraftSession.start()
    // A probe is a warm-up (JIT + footer cache, same rule as the queries)
    // plus 3 timed runs, median. A failed probe must degrade to -1, not
    // abort — but leave the cause in stderr so a -1 in the artifact is
    // diagnosable (the first -1 shipped silently: the probe referenced a
    // column the generated lineitem doesn't carry).
    def probe(what: String)(once: => Unit): Double = scala.util.Try {
      def timed(): Double = {
        val t0 = System.nanoTime()
        once
        (System.nanoTime() - t0) / 1e9
      }
      timed()
      (1 to 3).map(_ => timed()).sorted.apply(1)
    }.recover { case e: Throwable =>
      System.err.println(s"bench: $what probe failed: $e")
      -1.0
    }.get
    // FIXED CALIBRATION PROBE (VERDICT r14 item 3): one never-changing
    // workload — a frozen input (the driver-generated sf0.1 lineitem,
    // byte-stable across rounds) through scan → hash → small-key shuffle
    // → agg, touching NO operator code — whose median rides the artifact
    // as a separate "calibration" field. Committed medians from two
    // rounds then decompose mechanically: per-query time normalized by
    // the round's calibration isolates CODE drift; the calibration
    // ratio itself IS the host-regime drift (the r9→r14 1.21x question
    // this field exists to answer). Warm-up + 3 timed runs, median, all
    // outside the query sweep; a missing frozen dir degrades to -1
    // instead of failing the bench.
    val calibration = probe("calibration") {
      spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        // pmod keeps the ANSI-mode sum far from long overflow (a raw
        // xxhash64 sum over 600k rows overflows int64 — the first -1)
        .select(pmod(xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice")), lit(1000000L)).as("h"),
          (col("l_orderkey") % 97).as("k"))
        .groupBy("k").agg(sum("h"))
        .write.format("noop").mode("overwrite").save()
    }
    // SECOND probe, checkpoint-shaped: the r15 bench analysis showed the
    // two host regimes hit DIFFERENT query classes — scan/agg queries
    // stay flat while the localCheckpoint-heavy family (beam walks,
    // iterative closures, stateful streams) swings 1.5-3x together, i.e.
    // the contended resource is block-manager disk I/O, which a pure
    // scan+shuffle probe cannot see. This probe writes and re-reads one
    // ~40 MB local checkpoint so the committed artifact carries BOTH
    // regime denominators.
    val calibrationCkpt = probe("checkpoint calibration") {
      val df = spark.range(0, 5000000L, 1, 32).toDF("id").localCheckpoint()
      df.write.format("noop").mode("overwrite").save()
      df.unpersist(blocking = true): Unit
    }
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query [min, median, max] over the timed runs (VERDICT r11 item
    // 2): r11's driver artifact recorded six 2-9x phantom "regressions"
    // that were host noise, and a single median per query couldn't show
    // it — the judge had to re-run. The spread makes a wobbling host
    // self-evident in the artifact (a wide [min,max] band around an
    // unchanged min IS the noise signature). "queries" stays a scalar
    // median map so every existing cross-round comparison script keeps
    // parsing; the spread rides a parallel field.
    val spreads = scala.collection.mutable.LinkedHashMap[String, Seq[java.math.BigDecimal]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // queries the contention guard re-ran, so a judge can see which numbers
    // needed defending
    val reruns = scala.collection.mutable.ArrayBuffer[String]()
    names.foreach { name =>
      val m = measure(spark, name, sfDir, runs)
      if (m.rerun) reruns += name
      m.error match {
        case Some(e) =>
          timings(name) = -1.0
          errors(name) = e
        case None =>
          timings(name) = m.median
          spreads(name) = Seq(m.secs.head, m.median, m.secs.last).map(fixed(_, 3))
      }
    }
    val total = timings.values.filter(_ >= 0).sum
    // The driver archives only the last ~4 KB of stdout, which truncates the
    // per-query map past ~60 queries (VERDICT r9 item 6). Persist the full
    // JSON line to a file the driver (and future judges) can read whole.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val line = json.writeValueAsString(ListMap("metric" -> "total",
      "value" -> total, "unit" -> "sec", "queries" -> timings,
      "spread" -> spreads, "errors" -> errors, "reruns" -> reruns,
      "calibration" -> calibration, "calibration_ckpt" -> calibrationCkpt,
      "sf" -> sfDir))
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: could not write $outPath: ${e.getMessage}") }
    // The driver's stdout capture keeps only the LAST ~4 KB, which cuts
    // the HEAD off the full line above once the per-query map passes ~60
    // queries (BENCH_r12's tail starts mid-map, parsed:null). Print a
    // compact headline LAST so the truncated capture always ends with one
    // parseable JSON line carrying the totals (VERDICT r12 item 8); the
    // full per-query map lives in BENCH_FULL.json either way.
    println(json.writeValueAsString(ListMap("metric" -> "total", "value" -> total,
      "unit" -> "sec", "n_queries" -> timings.size, "n_errors" -> errors.size,
      "sf" -> sfDir, "full" -> outPath)))
    spark.stop()
  }
}
