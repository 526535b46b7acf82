package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session definition. Every main and the shared test
  * session start Spark through [[builder]] (callers add only what is
  * theirs: an `appName`, a warehouse dir), so every number and every oracle
  * bit is produced under the same conf. nanos-timestamp parquet (events) is
  * read as long, set once here rather than order-dependently in a loader.
  */
object GraftSession {
  private val CpusEnv = "SPARK_GRAFT_CPUS"

  /** Local cores for a session: `SPARK_GRAFT_CPUS` when set, else the
    * host's processor count. A malformed or non-positive value fails fast
    * instead of reaching the master URL as `local[abc]`. */
  def resolveCpus(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusEnv must be a positive integer, got '$v'"))
  }

  lazy val cpus: Int = resolveCpus(sys.env.get(CpusEnv))

  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** `getOrCreate` plus the engine's log level. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs query `name` against `dir` to completion through a noop write.
    *
    * Not `count()`: `count()` lets Catalyst prune every aggregate value
    * column (an agg query degenerates to counting groups), under-measuring
    * it (sf0.1: q1 count()=0.40-0.86s vs noop=1.3-1.5s). Timings are only
    * comparable noop-to-noop.
    */
  def force(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  /** Returns a function that unpersists, blocking (so cleanup cannot bleed
    * into a next timed run), every RDD persisted since this call.
    * Checkpoint-using queries leave their localCheckpoint blocks in the
    * block manager until session end, which turns a many-query tool's later
    * queries into a storage-eviction measurement. State cached before the
    * call stays cached.
    */
  def blockCleaner(spark: SparkSession): () => Unit = {
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet.toSet
    () => sc.getPersistentRDDs
      .collect { case (id, r) if !preexisting(id) => r }
      .foreach(_.unpersist(blocking = true))
  }
}
