package perfbench

import java.time.Instant
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records raw engine events for the traced run, through Spark's public
  * listener APIs only: jobs (tagged with the harness span that started
  * them), per-stage task-metric totals, block updates, Catalyst phase
  * times and streaming progress. Events are kept in memory and dumped as
  * JSON when the run ends; all aggregation happens in `metrics.py`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobStart = mutable.Map[Int, (Long, String, Seq[Int])]()
  private val submitted = mutable.Map[(Int, Int), Long]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Double]]()
  private val stageInfo = mutable.ArrayBuffer[Map[String, Any]]()
  private val blocks = mutable.ArrayBuffer[Map[String, Any]]()
  private val blockSize = mutable.Map[String, Long]()
  private val plans = mutable.ArrayBuffer[Map[String, Any]]()
  private val streams = mutable.ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    jobStart(e.jobId) = (e.time, span.getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, span, ids) =>
      jobs += Map("id" -> e.jobId, "start" -> t0, "end" -> e.time, "span" -> span,
        "stages" -> ids, "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    submitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val sums = stages.remove(key).getOrElse(mutable.Map[String, Double]())
    stageInfo += Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "submit" -> submitted.remove(key).getOrElse(0L),
      "complete" -> i.completionTime.getOrElse(System.currentTimeMillis()),
      "tasks" -> i.numTasks) ++ sums
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = e.taskInfo
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.Map[String, Double]())
    def add(k: String, v: Double): Unit = s(k) = s.getOrElse(k, 0.0) + v
    add("result", if (e.taskType == "ResultTask") 1 else 0)
    add("dur_ms", t.duration.toDouble)
    if (m != null) {
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("delay_ms", math.max(0L, t.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - t.gettingResultTime).toDouble)
      add("in_bytes", m.inputMetrics.bytesRead.toDouble)
      add("in_rows", m.inputMetrics.recordsRead.toDouble)
      add("sw_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("sr_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val delta = size - blockSize.getOrElse(id, 0L)
      if (size > 0) blockSize(id) = size else blockSize.remove(id)
      blocks += Map("t" -> System.currentTimeMillis(), "delta" -> delta,
        "written" -> (size > 0 && delta > 0))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans += Map("t" -> ph.values.map(_.startTimeMs).min,
          "ms" -> ph.values.map(_.durationMs).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    private def ms(ts: String): Long = Instant.parse(ts).toEpochMilli
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        streams += Map("ev" -> "start", "run" -> e.runId.toString, "t" -> ms(e.timestamp))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        streams += Map("ev" -> "progress", "run" -> p.runId.toString, "t" -> ms(p.timestamp),
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
          "plan_ms" -> dur("queryPlanning"), "wal_ms" -> dur("walCommit"),
          "offset_ms" -> (dur("latestOffset") + dur("getBatch")),
          "commit_ms" -> dur("commitOffsets"),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        streams += Map("ev" -> "end", "run" -> e.runId.toString, "t" -> System.currentTimeMillis())
      }
  }

  def dump(): Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stageInfo.toList, "blocks" -> blocks.toList,
      "plans" -> plans.toList, "streams" -> streams.toList)
  }
}

object Tracer {
  /** Local property naming the harness span (op build or sink) that owns a job. */
  val SpanKey = "perfbench.span"
}
