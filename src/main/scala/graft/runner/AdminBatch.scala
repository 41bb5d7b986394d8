package graft.runner

import java.time.temporal.ChronoUnit

import graft.model._
import graft.store.AdminStoreApi
import org.apache.spark.sql.SparkSession

/** Built-in admin retention job (service/admin/delete_old_logs.py:11-86):
  * deletes batch_log / job_log rows and batches (with cascaded jobs and test
  * results) older than `daysToKeep` (default 3, cfg.py:18-20). The cutoff is
  * floored to midnight like datetime.combine(date, time.min)
  * (delete_old_logs.py:63-67). Its test asserts no surviving entry predates
  * the cutoff (delete_old_logs.py:57-86). */
final case class DeleteOldLogs(store: AdminStoreApi, clock: Clock,
    daysToKeep: Int = 3, cadenceSeconds: Long = 0) extends JobSpec {
  val name = "delete_old_logs"
  override val minSecondsBetweenRefreshes: Long = cadenceSeconds

  private def cutoff =
    clock.now().truncatedTo(ChronoUnit.DAYS).minus(daysToKeep.toLong, ChronoUnit.DAYS)

  def run(spark: SparkSession, logger: JobLogger): JobStatus = {
    val c = cutoff
    val nBatchLog = store.deleteOlderThan(store.BATCH_LOG, c)
    val nJobLog = store.deleteOlderThan(store.JOB_LOG, c)
    val nBatches = store.deleteBatchesOlderThan(c)
    logger.info(s"Deleted $nBatchLog batch log entries, $nJobLog job log " +
      s"entries, and $nBatches batches older than $c.")
    JobStatus.Successful
  }

  override def test(spark: SparkSession, logger: JobLogger): Seq[SimpleTestResult] = {
    val c = cutoff
    val stale = store.batchLogRows.count(_.ts.isBefore(c)) +
      store.jobLogRows.count(_.ts.isBefore(c))
    if (stale == 0)
      Seq(SimpleTestResult.passing("No log entries older than cutoff"))
    else
      Seq(SimpleTestResult.failing("No log entries older than cutoff",
        s"$stale entries older than $c remain"))
  }
}

/** The built-in admin batch (service/admin/admin_batch.py:14-52): runs
  * DeleteOldLogs; the reference schedules it at a 12h default cadence via
  * the job's skip_if_last_run_within gate. */
object AdminBatch {
  val DefaultCadenceSeconds: Long = 12 * 3600

  def apply(store: AdminStoreApi, clock: Clock, daysToKeep: Int = 3,
      cadenceSeconds: Long = DefaultCadenceSeconds): Batch =
    Batch("admin", Seq(DeleteOldLogs(store, clock, daysToKeep, cadenceSeconds)))
}
