package graft.cli

import graft.GraftSession
import graft.jobs.WordCountJob
import graft.listen.Hw4EventLogListener

/** The reference's 7-arg CLI contract (hw4.cc:42-49):
  *
  * {{{
  *   Main JOB_NAME NUM_REDUCER DELAY INPUT_FILENAME CHUNK_SIZE LOCALITY_CONFIG_FILENAME OUTPUT_DIR
  * }}}
  *
  * plus optional trailing flags for replication experiments:
  * `--fidelity-partitioner` (first-char partitioning, hw4.cc:479) and
  * `--fidelity-tokenizer`. Any other trailing argument is a usage error.
  *
  * `DELAY` is dead in the reference (the sleep is commented out,
  * hw4.cc:235-240) and `LOCALITY_CONFIG_FILENAME` is scheduler input that
  * Spark's own locality machinery owns (SURVEY.md §2.1 #2) — both are
  * accepted and recorded in the Start_Job log line, nothing else.
  * `CHUNK_SIZE` (lines per map split, hw4.cc:71-76) has no exact analog in a
  * size-based file-split world; it is likewise recorded for log parity.
  *
  * Outputs match the reference observable contract: `<outdir>/<job>-<r>.out`
  * for r = 1..R (hw4.cc:350-357) and `<job>-log.out` (hw4.cc:51) in the CSV
  * grammar of [[graft.listen.Hw4EventLogListener]].
  */
object Main {
  private val Flags = Seq("--fidelity-partitioner", "--fidelity-tokenizer")

  def main(args: Array[String]): Unit = {
    val extra = args.drop(7)
    require(args.length >= 7 && extra.forall(Flags.contains),
      "usage: Main JOB_NAME NUM_REDUCER DELAY INPUT_FILENAME CHUNK_SIZE " +
        "LOCALITY_CONFIG_FILENAME OUTPUT_DIR " + Flags.mkString("[", "] [", "]"))
    val cfg = WordCountJob.Config(
      jobName = args(0),
      numReducer = args(1).toInt,
      delay = args(2).toInt,
      inputPath = args(3),
      chunkSize = args(4).toInt,
      localityConfigPath = args(5),
      outputDir = args(6),
      fidelityPartitioner = extra.contains("--fidelity-partitioner"),
      fidelityTokenizer = extra.contains("--fidelity-tokenizer"))

    val cpus = GraftSession.cpus
    val spark = GraftSession.start(GraftSession.builder(cpus).appName(cfg.jobName))

    // contract parity: parse the locality table like the jobtracker does
    // (hw4.cc:88-96); Spark's scheduler owns actual placement.
    val locality = {
      val p = java.nio.file.Paths.get(cfg.localityConfigPath)
      if (java.nio.file.Files.isReadable(p))
        graft.model.LocalityConfig.asFoldedMap(p, numNodes = 2)
      else Map.empty[Int, Int]
    }
    if (locality.nonEmpty)
      println(s"[graft] locality table: ${locality.size} chunk mappings (informational)")

    val listener = new Hw4EventLogListener(cfg, cpus)
    spark.sparkContext.addSparkListener(listener)
    try {
      val files = WordCountJob.run(spark, cfg)
      println(s"[graft] wrote ${files.size} files to ${cfg.outputDir}")
    } finally {
      spark.stop() // flushes the listener bus before close
      listener.close()
    }
  }
}
