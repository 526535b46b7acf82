package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}

import graft.SparkEntry
import graft.jobs.WordCountJob
import graft.listen.Hw4EventLogListener

/** One benchmark run of one workload in this JVM, driven by `run.py`.
  *
  * Arguments are `key=value` pairs: `kind` (`table` or `wordcount`),
  * `input` (table directory or corpus file), `orders` (one comma-separated
  * op order per line: the warm-up passes, then the timed passes), `out`
  * (run directory), `warmups`, `passes` (timed), `trace` (0/1), `cores`, `calib`
  * (calibration data directory) and `spawn_ns` (epoch nanoseconds when the
  * JVM was launched).
  *
  * The load is one closed-loop client: each op starts when the previous one
  * has finished. Ops reach the program only through its public entry points:
  * `SparkEntry.queries(name)(spark, dir)` forced by a noop write, and
  * `WordCountJob.run` with a `Hw4EventLogListener` attached in a session of
  * its own, as `graft.cli.Main` does. Hygiene (dropping blocks persisted
  * since start, `resetTerminated`, `System.gc`) runs between ops, outside
  * every timed region. Everything measured goes to `out/artifact.json`. */
object Harness {
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = Paths.get(a("out"))
    val orders = Files.readAllLines(Paths.get(a("orders"))).toArray(Array[String]())
      .toSeq.map(_.split(",").toSeq)
    val art = mutable.LinkedHashMap[String, Any]()
    val run = new Run(a("kind"), a("input"), out, a("cores").toInt)

    // Set-up, counted from JVM launch until the first timed pass can begin:
    // JVM start, session build and the untimed warm-up passes (`run.py`
    // says why there is more than one).
    val wall = java.time.Instant.now()
    val t0 = now() - (wall.getEpochSecond * 1000000000L + wall.getNano - a("spawn_ns").toLong)
    val warmups = a("warmups").toInt
    run.open()
    val t1 = now()
    val warm = (0 until warmups).map(p => run.pass(orders(p), "warmup", p))
    val t2 = now()
    art("setup") = Map("session_s" -> secs(t0, t1), "warmup_s" -> secs(t1, t2),
      "setup_s" -> secs(t0, t2), "passes" -> warm.toList)

    // The timed region: a fixed number of whole passes, each in its own
    // seeded op order.
    val timed = (0 until a("passes").toInt).map(p => run.pass(orders(warmups + p), "timed", p))
    art("timed") = timed.toList
    art("vmhwm_kb") = vmHwmKb()

    // The traced region repeats exactly the timed passes with the tracer on.
    if (a("trace") == "1") {
      val tracer = new Tracer
      run.attach(tracer)
      art("traced") = timed.indices.map(p => run.pass(orders(warmups + p), "traced", p)).toList
      art("trace") = tracer.dump()
    }

    // Table workloads: one more untimed pass writes each op's result to
    // parquet for the oracle check. WordCount jobs write real output in
    // every pass, so every pass is checked instead.
    if (a("kind") == "table") {
      art("check") = run.pass(orders.head, "check", 0, check = true)
      art("oracles") = orders.head.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    }

    art("calib") = run.calibrate(Paths.get(a("calib")))
    run.close()
    Files.writeString(out.resolve("artifact.json"), Json(art.toMap))
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  final class Run(kind: String, input: String, out: Path, cores: Int) {
    private var tracer: Option[Tracer] = None
    private var spark: SparkSession = _
    private var preexisting = Set.empty[Int]
    private var wcJobs = 0

    private def session(): SparkSession = {
      val s = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .appName("perfbench")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      tracer.foreach(listen(s, _))
      s
    }

    private def listen(s: SparkSession, t: Tracer): Unit = {
      s.sparkContext.addSparkListener(t)
      s.listenerManager.register(t)
      s.streams.addListener(t.streamListener)
    }

    /** Turns tracing on for the live session and every later one. */
    def attach(t: Tracer): Unit = {
      tracer = Some(t)
      if (spark != null) listen(spark, t)
    }

    /** Table workloads keep one session; each WordCount op opens its own. */
    def open(): Unit = {
      close()
      spark = session()
      preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet
    }

    def close(): Unit = if (spark != null) { spark.stop(); spark = null }

    private def hygiene(): Unit = {
      if (spark != null) {
        spark.sparkContext.getPersistentRDDs
          .collect { case (id, r) if !preexisting.contains(id) => r }
          .foreach(_.unpersist(blocking = true))
        spark.streams.resetTerminated()
      }
      System.gc()
    }

    private def span(id: String): Unit =
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, id)

    /** One pass over `ops` in the given order: per-op latencies, build/sink
      * split and wall-clock bounds (epoch ms) for attributing traced events.
      * With `check`, table results go to parquet under `out/check`. */
    def pass(ops: Seq[String], region: String, p: Int, check: Boolean = false): Map[String, Any] = {
      val recs = ops.zipWithIndex.map { case (name, k) =>
        val id = s"$region/$p/$k/$name"
        val r =
          if (kind == "wordcount") wordCount(id)
          else if (check) tableOp(name, id,
            _.coalesce(1).write.mode("overwrite").parquet(out.resolve("check").resolve(name).toString))
          else tableOp(name, id, _.write.format("noop").mode("overwrite").save())
        val t0 = now()
        hygiene()
        r + ("hygiene_s" -> secs(t0, now()))
      }
      Map("ops" -> recs.toList, "run_s" -> recs.map(_("lat_s").asInstanceOf[Double]).sum)
    }

    private def attempt(body: => Unit): Option[String] =
      try { body; None }
      catch { case NonFatal(e) => Some(String.valueOf(e.getMessage).take(300)) }

    private def tableOp(name: String, id: String, sink: DataFrame => Unit): Map[String, Any] = {
      val w0 = System.currentTimeMillis(); val t0 = now()
      var t1 = t0
      val err = attempt {
        span(s"$id/build")
        val df = SparkEntry.queries(name)(spark, input)
        t1 = now()
        span(s"$id/sink")
        sink(df)
      }
      if (t1 == t0) t1 = now()
      span(null)
      val t2 = now()
      Map("name" -> name, "id" -> id, "ok" -> err.isEmpty, "error" -> err.getOrElse(""),
        "lat_s" -> secs(t0, t2), "build_s" -> secs(t0, t1), "sink_s" -> secs(t1, t2),
        "start_ms" -> w0, "end_ms" -> (w0 + (t2 - t0) / 1000000L))
    }

    /** `WordCountJob.run` as `graft.cli.Main` runs it: a fresh session with a
      * `Hw4EventLogListener`, stopped after the job so the log gets its
      * `Finish_Job` line. Only `WordCountJob.run` is timed. */
    private def wordCount(id: String): Map[String, Any] = {
      wcJobs += 1
      val job = f"wc$wcJobs%03d"
      val cfg = WordCountJob.Config(job, cores, 0, input, 2, "none",
        out.resolve("wc").resolve(job).toString)
      if (spark == null) open()
      val listener = new Hw4EventLogListener(cfg, cores)
      spark.sparkContext.addSparkListener(listener)
      val w0 = System.currentTimeMillis(); val t0 = now()
      val err = attempt {
        span(s"$id/sink")
        WordCountJob.run(spark, cfg)
      }
      val t1 = now()
      close()
      listener.close()
      Map("name" -> "wordcount", "id" -> id, "job" -> job, "ok" -> err.isEmpty,
        "error" -> err.getOrElse(""), "lat_s" -> secs(t0, t1), "build_s" -> 0.0,
        "sink_s" -> secs(t0, t1), "start_ms" -> w0, "end_ms" -> (w0 + (t1 - t0) / 1000000L))
    }

    /** The two host probes of `graft.Bench`: a scan→hash→shuffle→agg over a
      * fixed parquet file and a ~2 MB local checkpoint round trip. Each is
      * one warm-up plus the median of three. */
    def calibrate(dir: Path): Map[String, Any] = {
      if (spark == null) open()
      val scanPath = dir.resolve("scan.parquet").toString
      if (!Files.exists(dir.resolve("scan.parquet").resolve("_SUCCESS")))
        spark.range(0, 100000L, 1, cores)
          .selectExpr("id AS l_orderkey", "id * 7 % 20000 AS l_partkey",
            "CAST(id % 100000 AS DOUBLE) / 3 AS l_extendedprice")
          .write.mode("overwrite").parquet(scanPath)
      def median(f: () => Unit): Double = {
        f()
        (1 to 3).map { _ => val t0 = now(); f(); secs(t0, now()) }.sorted.apply(1)
      }
      val scan = median { () =>
        spark.read.parquet(scanPath)
          .select(pmod(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_extendedprice")),
            lit(1000000L)).as("h"), (col("l_orderkey") % 97).as("k"))
          .groupBy("k").agg(sum("h"))
          .write.format("noop").mode("overwrite").save()
      }
      val ckpt = median { () =>
        val df = spark.range(0, 250000L, 1, cores).toDF("id").localCheckpoint()
        df.write.format("noop").mode("overwrite").save()
        df.unpersist(blocking = true)
      }
      hygiene()
      Map("scan_s" -> scan, "ckpt_s" -> ckpt)
    }
  }
}

/** Minimal JSON encoder for the artifact (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
