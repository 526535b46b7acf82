package graft.listen

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.jobs.WordCountJob

/** Job event log in the reference's CSV grammar (SURVEY.md §2.1 #16 — "the
  * only piece of the reference needing custom Spark code").
  *
  * Grammar, byte-compatible with hw4.cc:
  * {{{
  *   <unixtime>,Start_Job,<job>,<node>,<ncpus>,<R>,<delay>,<input>,<chunk>,<locality>,<outdir>   (hw4.cc:84)
  *   <unixtime>,Dispatch_MapTask,<taskid>,<node>                                                 (hw4.cc:124,129)
  *   <unixtime>,Complete_MapTask,<taskid>,<ms>                                                   (hw4.cc:153)
  *   <unixtime>,Dispatch_ReduceTask,<taskid>,<node>                                              (hw4.cc:172)
  *   <unixtime>,Complete_ReduceTask,<taskid>,<ms>                                                (hw4.cc:193)
  *   <unixtime>,Finish_Job,<total_ms>                                                            (hw4.cc:203)
  * }}}
  *
  * Task mapping (SURVEY.md §7 "listener timing parity"): Spark tasks are not
  * hw4 tasks one-to-one — a SQL job runs ≥2 stages and AQE may add more. The
  * mapping documented here: tasks of stages that produce shuffle output
  * (i.e. every stage except the job's final one) are "map tasks"; tasks of
  * the final (result) stage are "reduce tasks". Reduce task ids are 1-based
  * (hw4.cc:172 dispatches `re + 1`); map task ids are the reference's chunk
  * ids, here Spark partition ids. `node` is the executor id (driver = 0 in
  * local mode, matching the reference's single-jobtracker numbering).
  * The reduce lines therefore follow the job's result stages, not R: on
  * WordCountJob's driver finish they are the final aggregate's tasks (as
  * many as AQE coalesced its shuffle into, 2 in the benchmark's run), on
  * the distributed sink the range sampler's tasks plus the R writers.
  *
  * A stage is classified by `StageInfo.shuffleDepId` (defined exactly when
  * the stage writes shuffle output), which is exact under AQE, where each
  * shuffle stage runs as its own Spark job. It is public in bytecode but
  * private[spark] in Scala, hence the reflective call; construction fails,
  * naming it, on a Spark that lacks it.
  *
  * The listener buffers nothing unbounded: it streams lines to the writer as
  * events arrive (listener-bus ordering) and flushes on job end.
  */
class Hw4EventLogListener(cfg: WordCountJob.Config, ncpus: Int)
    extends SparkListener {

  private val shuffleDepId =
    try classOf[StageInfo].getMethod("shuffleDepId")
    catch { case e: NoSuchMethodException =>
      throw new UnsupportedOperationException(
        "Hw4EventLogListener needs org.apache.spark.scheduler.StageInfo." +
          "shuffleDepId to tell map stages from result stages; this Spark " +
          "does not have it", e)
    }

  private val path = Paths.get(s"${cfg.jobName}-log.out")
  private val w = new PrintWriter(Files.newBufferedWriter(path))
  private var jobStartNanos = 0L
  private var started = false
  private val stageIsFinal = mutable.Map[Int, Boolean]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()

  private def now(): Long = System.currentTimeMillis() / 1000L

  private def line(parts: Any*): Unit = synchronized {
    w.println((now() +: parts).mkString(","))
    w.flush()
  }

  override def onJobStart(jobStart: SparkListenerJobStart): Unit =
    // One run = one Start_Job line (hw4.cc:84), even though a SQL write
    // spawns several Spark jobs (range-partition sampling, AQE stages).
    synchronized {
      // the job's stages, so onJobEnd can drop their classifications
      jobStages(jobStart.jobId) = jobStart.stageInfos.map(_.stageId)
      if (!started) {
        started = true
        jobStartNanos = System.nanoTime()
        line("Start_Job", cfg.jobName, 1, ncpus, cfg.numReducer, cfg.delay,
          cfg.inputPath, cfg.chunkSize, cfg.localityConfigPath, cfg.outputDir)
      }
    }

  /** Whether the stage writes shuffle output (a "map" phase; otherwise a
    * result, "reduce", phase). Overridable so ListenerSpec can observe the
    * live probe. */
  protected def writesShuffle(info: StageInfo): Boolean =
    shuffleDepId.invoke(info).asInstanceOf[Option[_]].isDefined

  override def onStageSubmitted(stageSubmitted: SparkListenerStageSubmitted): Unit = {
    val info = stageSubmitted.stageInfo
    stageIsFinal(info.stageId) = !writesShuffle(info)
  }

  override def onTaskStart(taskStart: SparkListenerTaskStart): Unit = {
    val isFinal = stageIsFinal.getOrElse(taskStart.stageId, false)
    val node = Option(taskStart.taskInfo.executorId)
      .flatMap(e => scala.util.Try(e.toInt).toOption).getOrElse(0)
    if (isFinal)
      line("Dispatch_ReduceTask", taskStart.taskInfo.index + 1, node)
    else
      line("Dispatch_MapTask", taskStart.taskInfo.index, node)
  }

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val isFinal = stageIsFinal.getOrElse(taskEnd.stageId, false)
    val ms = taskEnd.taskInfo.duration
    if (isFinal) line("Complete_ReduceTask", taskEnd.taskInfo.index + 1, ms)
    else line("Complete_MapTask", taskEnd.taskInfo.index, ms)
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = synchronized {
    // keep the classifier maps bounded: drop the finished job's stages
    // (the class doc's "buffers nothing unbounded" must hold for long-lived
    // sessions running many jobs through one listener)
    jobStages.remove(jobEnd.jobId).foreach(_.foreach(stageIsFinal.remove))
  }

  override def onApplicationEnd(applicationEnd: SparkListenerApplicationEnd): Unit =
    synchronized {
      if (started) {
        line("Finish_Job", (System.nanoTime() - jobStartNanos) / 1000000L)
        started = false
      }
    }

  def close(): Unit = synchronized { w.close() }
}
