package graftbench

import java.time.Instant

import graft.model._
import graft.store._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Delegating [[AdminStoreApi]]: every method, the shared read queries
  * included, forwards to the real store, so the real store's own lock
  * discipline (its per-root I/O lock and `_LOCK` file) still governs each
  * call. The only addition is a `store.read` or `store.write` span. */
final class TracedStore(real: AdminStoreApi, trace: Trace) extends AdminStoreApi {
  val spark: SparkSession = real.spark

  private def read[T](body: => T): T = trace.span("store.read")(body)
  private def write[T](body: => T): T = trace.span("store.write")(body)

  def batches: Dataset[BatchRow] = read(real.batches)
  def jobs: Dataset[JobRow] = read(real.jobs)
  def jobTestResults: Dataset[JobTestRow] = read(real.jobTestResults)
  def batchLog: Dataset[LogRow] = read(real.batchLog)
  def jobLog: Dataset[LogRow] = read(real.jobLog)

  def appendBatches(rows: Seq[BatchRow]): Unit = write(real.appendBatches(rows))
  def appendJobs(rows: Seq[JobRow]): Unit = write(real.appendJobs(rows))
  def appendJobTests(rows: Seq[JobTestRow]): Unit = write(real.appendJobTests(rows))
  def appendBatchLog(rows: Seq[LogRow]): Unit = write(real.appendBatchLog(rows))
  def appendJobLog(rows: Seq[LogRow]): Unit = write(real.appendJobLog(rows))
  def upsertBatches(rows: Seq[BatchRow]): Unit = write(real.upsertBatches(rows))
  def upsertJobs(rows: Seq[JobRow]): Unit = write(real.upsertJobs(rows))
  def deleteOlderThan(table: String, cutoff: Instant): Long =
    write(real.deleteOlderThan(table, cutoff))
  def deleteBatchesOlderThan(cutoff: Instant): Long =
    write(real.deleteBatchesOlderThan(cutoff))
  def close(): Unit = real.close()

  // every call below runs inside the real store's own `sync`
  protected def sync[T](f: => T): T = f

  override def latestBatch(name: String): Option[BatchStatus] =
    read(real.latestBatch(name))
  override def batchById(id: String): Option[BatchStatus] = read(real.batchById(id))
  override def previousBatch(name: String): Option[BatchStatus] =
    read(real.previousBatch(name))
  override def hydrate(b: BatchRow): BatchStatus = read(real.hydrate(b))
  override def lastSuccessfulTs(jobName: String): Option[Instant] =
    read(real.lastSuccessfulTs(jobName))
  override def latestTestResults(jobName: String): Seq[JobTestRow] =
    read(real.latestTestResults(jobName))
  override def earliestBatchLogTs: Option[Instant] = read(real.earliestBatchLogTs)
  override def batchDelta(name: String): Option[BatchDelta] =
    read(real.batchDelta(name))
  override def slowJobs(factor: Double): Seq[(String, Long, Long, Long)] =
    read(real.slowJobs(factor))
}

/** Delegating [[JobSpec]]: keeps the name, dependencies, retries, both
  * cadences, the timeout and both compensation hooks, and wraps any
  * substitute job a hook returns. `run` and `test` open `ops.run` and
  * `ops.test` spans. */
final class TracedJob(real: JobSpec, trace: Trace) extends JobSpec {
  def name: String = real.name
  override def dependencies: Seq[String] = real.dependencies
  override def maxRetries: Int = real.maxRetries
  override def minSecondsBetweenRefreshes: Long = real.minSecondsBetweenRefreshes
  override def minSecondsBetweenTests: Long = real.minSecondsBetweenTests
  override def timeoutSeconds: Option[Long] = real.timeoutSeconds
  def run(spark: SparkSession, logger: JobLogger): JobStatus =
    trace.span("ops.run")(real.run(spark, logger))
  override def test(spark: SparkSession, logger: JobLogger): Seq[SimpleTestResult] =
    trace.span("ops.test")(real.test(spark, logger))
  override def onExecutionError(errorMessage: String): Option[JobSpec] =
    real.onExecutionError(errorMessage).map(new TracedJob(_, trace))
  override def onTestFailure(results: Seq[JobTestResult]): Option[JobSpec] =
    real.onTestFailure(results).map(new TracedJob(_, trace))
}

object TracedJob {
  def batch(b: Batch, trace: Trace): Batch =
    b.copy(jobs = b.jobs.map(new TracedJob(_, trace)))
}
