package graft.store

import java.time.Instant
import java.util.Locale

import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Backend-neutral admin-store surface. The reference keeps its admin
  * tables behind a SQLAlchemy engine URI (batch_runner.py:57) so one
  * runner works against SQLite in tests and Postgres in production; this
  * trait is that seam for the Spark runner — the parquet directory store
  * ([[AdminStore]]) and the RDBMS store ([[JdbcAdminStore]]) implement the
  * same mutation surface, and every repository READ query (the reference's
  * repository layer, sqlalchemy_*_repository.py) is written once here as
  * plain Scala over the driver-side rows (`batchRows`, `jobRows`, ...), so
  * the two backends cannot drift semantically.
  *
  * Concurrency: every public operation passes through [[sync]] — the
  * backend supplies the mutual-exclusion regime (the parquet store's
  * per-root JVM lock + cross-process `_LOCK` file; the JDBC store's
  * connection monitor, with transactional isolation delegated to the
  * RDBMS exactly as the reference does). */
trait AdminStoreApi {
  val spark: SparkSession

  final val BATCHES = "batches"
  final val JOBS = "jobs"
  final val JOB_TEST_RESULTS = "job_test_results"
  final val BATCH_LOG = "batch_log"
  final val JOB_LOG = "job_log"

  // ---- backend-specific: reads, mutations, locking ----

  def batches: Dataset[BatchRow]
  def jobs: Dataset[JobRow]
  def jobTestResults: Dataset[JobTestRow]
  def batchLog: Dataset[LogRow]
  def jobLog: Dataset[LogRow]

  def appendBatches(rows: Seq[BatchRow]): Unit
  def appendJobs(rows: Seq[JobRow]): Unit
  def appendJobTests(rows: Seq[JobTestRow]): Unit
  def appendBatchLog(rows: Seq[LogRow]): Unit
  def appendJobLog(rows: Seq[LogRow]): Unit

  /** Merge-by-PK (repo.update semantics, sqlalchemy_batch_repository.py
    * and test_batch_repository.py:60-102): replace rows whose `id`
    * appears in `rows`, keep the rest. */
  def upsertBatches(rows: Seq[BatchRow]): Unit
  def upsertJobs(rows: Seq[JobRow]): Unit

  /** Retention delete: drop rows with ts < cutoff
    * (delete_old_entries, sqlalchemy_batch_log_repository.py:29-36).
    * Returns the number of rows deleted. */
  def deleteOlderThan(table: String, cutoff: Instant): Long

  /** Cascade delete of batches (+ child jobs, test results) older than
    * the cutoff — explicit cascade like
    * sqlalchemy_batch_repository.py:31-41. */
  def deleteBatchesOlderThan(cutoff: Instant): Long

  def close(): Unit

  /** Serialize one store operation (reentrant). */
  protected def sync[T](f: => T): T

  // ---- Rows on the driver: every repository read below runs over these.
  //      A backend that already holds its rows on the driver overrides
  //      them; the default collects the Dataset. ----

  def batchRows: Seq[BatchRow] = batches.collect().toSeq
  def jobRows: Seq[JobRow] = jobs.collect().toSeq
  def testRows: Seq[JobTestRow] = jobTestResults.collect().toSeq
  def batchLogRows: Seq[LogRow] = batchLog.collect().toSeq
  def jobLogRows: Seq[LogRow] = jobLog.collect().toSeq

  // ---- Read queries (the reference's repository surface, §2.B shapes),
  //      shared verbatim by every backend, as plain Scala over the rows ----

  /** Case-insensitive match = ilike without wildcards
    * (sqlalchemy_job_repository.py:35). */
  private def sameName(a: String, b: String): Boolean =
    a.toLowerCase(Locale.ROOT) == b.toLowerCase(Locale.ROOT)

  /** ORDER BY ts DESC, id DESC. */
  private def newestFirst[R](rows: Seq[R])(ts: R => Instant, id: R => String): Seq[R] =
    rows.sortBy(r => (ts(r), id(r)))(AdminStoreApi.NewestFirst)

  private def batchesNamed(name: String): Seq[BatchRow] =
    newestFirst(batchRows.filter(b => sameName(b.name, name)))(_.ts, _.id)

  /** Latest run of a batch (get_latest, sqlalchemy_batch_repository.py:47-56). */
  def latestBatch(name: String): Option[BatchStatus] = sync {
    batchesNamed(name).headOption.map(hydrate)
  }

  /** Stored state of one batch run, by id (fresh read). */
  def batchById(id: String): Option[BatchStatus] = sync {
    batchRows.find(_.id == id).map(hydrate)
  }

  /** Previous run — OFFSET 1 because the current in-progress row is already
    * inserted (sqlalchemy_batch_repository.py:76-86). */
  def previousBatch(name: String): Option[BatchStatus] = sync {
    batchesNamed(name).drop(1).headOption.map(hydrate)
  }

  /** Reconstruct the nested BatchStatus from the flat tables (the join +
    * collect form of the ORM relationships, admin_orm.py:105-129). */
  def hydrate(b: BatchRow): BatchStatus = {
    val jobsOfBatch = jobRows.filter(_.batch_id == b.id)
    val jobIds = jobsOfBatch.map(_.id).toSet
    val tests =
      if (jobIds.isEmpty) Map.empty[String, Seq[JobTestRow]]
      else testRows.filter(t => jobIds(t.job_id)).groupBy(_.job_id)
    val results = jobsOfBatch.sortBy(_.ts).map { j =>
      val status: JobStatus =
        if (j.running) JobStatus.InProgress
        else if (j.skipped) JobStatus.Skipped(j.skipped_reason.getOrElse(""))
        else if (j.execution_error_occurred.contains(true))
          JobStatus.Failed(j.execution_error_message.getOrElse(""))
        else JobStatus.Successful
      JobResult(j.id, j.batch_id, j.job_name, status, j.execution_millis,
        tests.getOrElse(j.id, Nil).sortBy(_.test_name).map(t =>
          JobTestResult(t.id, t.job_id, t.test_name, t.test_passed,
            t.test_failure_message, t.ts)),
        j.ts)
    }
    BatchStatus(b.id, b.name, results, b.execution_millis,
      b.execution_error_message, b.running, b.ts)
  }

  /** A finished run that raised no error; a NULL error flag does not count. */
  private def succeeded(j: JobRow): Boolean =
    !j.running && !j.skipped && j.execution_error_occurred.contains(false)

  /** Last successful run ts of a job: flag-filtered max
    * (get_last_successful_ts, sqlalchemy_job_repository.py:67-82). */
  def lastSuccessfulTs(jobName: String): Option[Instant] = sync {
    jobRows.filter(j => sameName(j.job_name, jobName) && succeeded(j))
      .map(_.ts).maxOption
  }

  /** Test results of the most recent non-skipped run of a job
    * (latest_test_results, batch_runner.py:411-443). */
  def latestTestResults(jobName: String): Seq[JobTestRow] = sync {
    val runs = jobRows.filter(j =>
      sameName(j.job_name, jobName) && !j.running && !j.skipped)
    newestFirst(runs)(_.ts, _.id).headOption
      .map(j => testRows.filter(_.job_id == j.id))
      .getOrElse(Nil)
  }

  /** Earliest log ts (get_earliest, sqlalchemy_batch_log_repository.py:42-51). */
  def earliestBatchLogTs: Option[Instant] = sync {
    batchLogRows.map(_.ts).minOption
  }

  /** Regression delta between the latest two runs
    * (get_latest_batch_delta, sqlalchemy_batch_repository.py:58-74). */
  def batchDelta(name: String): Option[BatchDelta] =
    latestBatch(name).map(cur => BatchDelta(cur, previousBatch(name)))

  /** Execution-TIME regression report: jobs whose latest completed run
    * took more than `factor`× the median of its prior completed runs —
    * the runtime analogue of `batchDelta`'s test-result regressions (the
    * reference records execution_millis on every run precisely so an
    * operator can ask this; this query closes that loop). Jobs with no
    * history or no latest millis are skipped; the prior median is the
    * lower median (exact, no interpolation). Returns (job_name,
    * latest_millis, baseline_median, factor_x100) sorted by worst
    * regression first. */
  def slowJobs(factor: Double = 2.0): Seq[(String, Long, Long, Long)] = sync {
    val done = newestFirst(jobRows.filter(j =>
      succeeded(j) && j.execution_millis.isDefined))(_.ts, _.id)
    done.groupBy(_.job_name.toLowerCase(Locale.ROOT)).toSeq.flatMap { case (_, runs) =>
      val latest = runs.head
      val prior = runs.tail.flatMap(_.execution_millis)
      if (prior.isEmpty || latest.execution_millis.isEmpty) None
      else {
        val base = prior.sorted.apply((prior.length - 1) / 2)
        val cur = latest.execution_millis.get
        if (base >= 0 && cur > factor * base)
          Some((latest.job_name, cur, base,
            if (base == 0) Long.MaxValue else cur * 100L / base))
        else None
      }
    }.sortBy(t => (-t._4, t._1))
  }
}

object AdminStoreApi {
  /** (ts, id) descending: the repository reads' ORDER BY ts DESC, id DESC. */
  private val NewestFirst: Ordering[(Instant, String)] =
    Ordering[(Instant, String)].reverse

  /** The store a config's admin URI names — the reference's
    * create-engine-from-URI dispatch (batch_runner.py:57): a `jdbc:` URI
    * is the RDBMS store, anything else a parquet directory root. A root
    * keeps one store per session (a session memo, released when the
    * session stops), so every batch run on it finds its tables warm. */
  def forUri(spark: SparkSession, uri: String): AdminStoreApi =
    if (uri.startsWith("jdbc:")) new JdbcAdminStore(spark, uri)
    else graft.Memo.get(spark, "admin-store", uri)(new AdminStore(spark, uri))
}
