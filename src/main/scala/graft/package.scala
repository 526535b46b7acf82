import org.apache.spark.sql.DataFrame

/** Package-level plumbing shared by every operator pack. */
package object graft {

  /** Conf-gated lineage cut (OPTIMIZATION r18, VERDICT r17 item 8).
    *
    * `localCheckpoint` materializes to executor-local storage: fast, but
    * the blocks die with their host — on a real cluster an executor loss
    * makes the truncated lineage unrecoverable and kills the job. That is
    * an acceptable trade in local mode (this sandbox: one JVM, losing the
    * "executor" IS losing the job) and for restartable batch jobs, but at
    * 100 TB a multi-hour run should be able to opt into reliable
    * checkpoints.
    *
    * `spark.graft.reliableCheckpoint=true` (plus a configured
    * `SparkContext.setCheckpointDir`, e.g. an HDFS/S3 path) routes every
    * operator lineage cut through `Dataset.checkpoint()` instead —
    * replicated, executor-loss-safe, at the cost of a distributed write
    * per cut. Default (unset/false) keeps the exact local behavior every
    * bench number was measured under. With the conf on and no checkpoint
    * dir, the first cut throws an IllegalArgumentException naming both.
    */
  implicit final class GraftCkpt(private val df: DataFrame) extends AnyVal {
    def graftCkpt(): DataFrame =
      if (reliableCkpt(df)) df.checkpoint() else df.localCheckpoint()

    /** As [[graftCkpt()]], with `storage` for the local blocks. The
      * reliable path ignores `storage`: a reliable checkpoint writes its
      * files to the checkpoint dir. */
    def graftCkpt(storage: org.apache.spark.storage.StorageLevel): DataFrame =
      if (reliableCkpt(df)) df.checkpoint()
      else df.localCheckpoint(true, storage)

    private def reliableCkpt(d: DataFrame): Boolean = {
      val reliable = d.sparkSession.conf
        .getOption("spark.graft.reliableCheckpoint").exists(_.toBoolean)
      if (reliable && d.sparkSession.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalArgumentException(
          "spark.graft.reliableCheckpoint=true needs a checkpoint directory: " +
            "call SparkContext.setCheckpointDir first")
      reliable
    }
  }
}
