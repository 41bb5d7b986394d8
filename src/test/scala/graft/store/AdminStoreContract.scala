package graft.store

import java.time.Instant

import graft.TestSpark
import graft.model._
import graft.runner.{DeleteOldLogs, JobSinkLogger}
import org.scalatest.funsuite.AnyFunSuite

/** Backend-neutral admin-store contract — the repository semantics the
  * reference pins in test_batch_repository.py / test_job_repository.py,
  * run verbatim against every AdminStoreApi backend (parquet directory,
  * JDBC/Derby). Backend-specific durability mechanics (parquet swap
  * renames, writer locks) stay in the concrete suites. */
abstract class AdminStoreContract extends AnyFunSuite {
  protected def t(s: String) = Instant.parse(s)
  protected def newStore(): AdminStoreApi

  protected def batchRow(id: String, name: String, ts: Instant,
      running: Boolean = false): BatchRow =
    BatchRow(id.padTo(32, '0'), name, if (running) None else Some(5L),
      if (running) None else Some(false), None, running, ts)

  test("append + fresh read") {
    val st = newStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    st.appendBatches(Seq(batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"))))
    assert(st.batches.count() == 2)
  }

  test("upsert replaces by id, keeps the rest (test_batch_repository.py:60-102)") {
    val st = newStore()
    st.appendBatches(Seq(
      batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"), running = true),
      batchRow("b2", "weekly", t("2024-01-01T06:00:00Z"))))
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    val rows = st.batches.collect().sortBy(_.id)
    assert(rows.length == 2)
    val b1 = rows.find(_.id.startsWith("b1")).get
    assert(!b1.running && b1.execution_millis.contains(5L))
    assert(rows.exists(_.name == "weekly"))
  }

  test("latest / previous by ts with OFFSET-1 semantics (sqlalchemy_batch_repository.py:47-86)") {
    val st = newStore()
    st.appendBatches(Seq(
      batchRow("b1", "nightly", t("2024-01-01T00:00:00Z")),
      batchRow("b2", "nightly", t("2024-01-02T00:00:00Z")),
      batchRow("b3", "NIGHTLY", t("2024-01-03T00:00:00Z")),
      batchRow("zz", "other", t("2024-01-09T00:00:00Z"))))
    // case-insensitive name match (ilike without wildcards)
    assert(st.latestBatch("Nightly").get.id.startsWith("b3"))
    assert(st.previousBatch("nightly").get.id.startsWith("b2"))
    assert(st.latestBatch("absent").isEmpty)
  }

  test("lastSuccessfulTs filters running/skipped/failed (sqlalchemy_job_repository.py:67-82)") {
    val st = newStore()
    def job(id: String, ts: Instant, running: Boolean = false,
        skipped: Boolean = false, failed: Boolean = false) =
      JobRow(id.padTo(32, '0'), "b".padTo(32, '0'), "etl_job",
        Some(1L), Some(failed), None, running, skipped, None, ts)
    st.appendJobs(Seq(
      job("j1", t("2024-01-01T00:00:00Z")),
      job("j2", t("2024-01-05T00:00:00Z"), failed = true),
      job("j3", t("2024-01-06T00:00:00Z"), skipped = true),
      job("j4", t("2024-01-07T00:00:00Z"), running = true)))
    assert(st.lastSuccessfulTs("ETL_JOB").contains(t("2024-01-01T00:00:00Z")))
    assert(st.lastSuccessfulTs("nope").isEmpty)
  }

  test("retention delete + earliest ts (delete_old_entries / get_earliest)") {
    val st = newStore()
    def log(id: String, ts: Instant) =
      LogRow(id.padTo(32, '0'), "b".padTo(32, '0'), "INFO", "m", ts)
    st.appendBatchLog(Seq(log("l1", t("2024-01-01T00:00:00Z")),
      log("l2", t("2024-01-05T00:00:00Z")), log("l3", t("2024-01-09T00:00:00Z"))))
    val n = st.deleteOlderThan(st.BATCH_LOG, t("2024-01-05T00:00:00Z"))
    assert(n == 1)
    assert(st.batchLog.count() == 2)
    assert(st.earliestBatchLogTs.contains(t("2024-01-05T00:00:00Z")))
    // idempotent when nothing qualifies
    assert(st.deleteOlderThan(st.BATCH_LOG, t("2024-01-05T00:00:00Z")) == 0)
  }

  test("cascade delete of batches removes child jobs and tests (sqlalchemy_batch_repository.py:31-41)") {
    val st = newStore()
    st.appendBatches(Seq(
      batchRow("b1", "nightly", t("2024-01-01T00:00:00Z")),
      batchRow("b2", "nightly", t("2024-01-05T00:00:00Z"))))
    st.appendJobs(Seq(
      JobRow("j1".padTo(32, '0'), "b1".padTo(32, '0'), "job_one", Some(1L),
        Some(false), None, running = false, skipped = false, None,
        t("2024-01-01T00:00:00Z")),
      JobRow("j2".padTo(32, '0'), "b2".padTo(32, '0'), "job_one", Some(1L),
        Some(false), None, running = false, skipped = false, None,
        t("2024-01-05T00:00:00Z"))))
    st.appendJobTests(Seq(JobTestRow("t1".padTo(32, '0'), "j1".padTo(32, '0'),
      "check", test_passed = true, None, t("2024-01-01T00:00:00Z"))))
    val n = st.deleteBatchesOlderThan(t("2024-01-02T00:00:00Z"))
    assert(n == 1)
    assert(st.batches.count() == 1)
    assert(st.jobs.collect().forall(_.batch_id.startsWith("b2")))
    assert(st.jobTestResults.count() == 0)
  }

  test("upsert cost stays ~flat as the jobs table grows to 1,000 rows") {
    // Admin tables are BOOKKEEPING, bounded by jobs-per-day x retention,
    // not by data volume — so per-upsert wall time at 1,000 resident rows
    // must stay within a small factor of the time at 100 (fixed costs
    // dominate each backend: plan + task launch + one tiny file for
    // parquet; statement round-trips for JDBC). Generous 5x bound to stay
    // CI-stable; measured values are printed for the record.
    val st = newStore()
    def jobRows(from: Int, n: Int): Seq[JobRow] = (from until from + n).map(i =>
      JobRow(f"j$i%030d", f"b$i%030d", s"job_$i", Some(1L), Some(false), None,
        running = false, skipped = false, None,
        t("2024-01-01T00:00:00Z").plusSeconds(i.toLong)))
    def timeUpserts(reps: Int): Double = {
      val t0 = System.nanoTime()
      (0 until reps).foreach { r =>
        st.upsertJobs(Seq(jobRows(r, 1).head.copy(execution_millis = Some(2L))))
      }
      (System.nanoTime() - t0) / 1e9 / reps
    }
    st.appendJobs(jobRows(0, 100))
    timeUpserts(2) // warm the write path before measuring
    val at100 = timeUpserts(5)
    st.appendJobs(jobRows(100, 900))
    assert(st.jobs.count() == 1000)
    val at1000 = timeUpserts(5)
    info(f"per-upsert: ${at100 * 1000}%.0f ms @100 rows, ${at1000 * 1000}%.0f ms @1000 rows")
    assert(at1000 < at100 * 5 + 0.2,
      f"upsert cost grew superlinearly: ${at100}%.3fs @100 -> ${at1000}%.3fs @1000")
    // correctness after the churn: upserted rows replaced, not duplicated
    assert(st.jobs.count() == 1000)
    assert(st.jobs.filter(_.execution_millis.contains(2L)).count() >= 5)
  }

  test("hydrate reconstructs nested status from flat tables (admin_orm.py:105-129)") {
    val st = newStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-02T00:00:00Z"))))
    st.appendJobs(Seq(JobRow("j1".padTo(32, '0'), "b1".padTo(32, '0'), "job_one",
      Some(3L), Some(false), None, running = false, skipped = false, None,
      t("2024-01-02T00:00:00Z"))))
    st.appendJobTests(Seq(JobTestRow("t1".padTo(32, '0'), "j1".padTo(32, '0'),
      "rowcount", test_passed = false, Some("0 rows"), t("2024-01-02T00:00:00Z"))))
    val b = st.latestBatch("nightly").get
    assert(b.jobResults.map(_.jobName) == Seq("job_one"))
    assert(b.jobResults.head.testResults.map(_.testName) == Seq("rowcount"))
    assert(b.brokenJobs == Set("job_one")) // broken via failed test
  }

  test("slowJobs flags only latest-vs-prior-median runtime regressions") {
    val st = newStore()
    def run(id: String, name: String, millis: Long, ts: Instant,
        failed: Boolean = false) =
      JobRow(id.padTo(32, '0'), "b".padTo(32, '0'), name, Some(millis),
        Some(failed), None, running = false, skipped = false, None, ts)
    st.appendJobs(Seq(
      // steady: history 100,110,105 → median 105; latest 120 < 2×105
      run("a1", "steady", 100, t("2024-01-01T00:00:00Z")),
      run("a2", "steady", 110, t("2024-01-02T00:00:00Z")),
      run("a3", "steady", 105, t("2024-01-03T00:00:00Z")),
      run("a4", "steady", 120, t("2024-01-04T00:00:00Z")),
      // regressed: history 100,100 → median 100; latest 350 > 2×100
      run("r1", "regressed", 100, t("2024-01-01T00:00:00Z")),
      run("r2", "regressed", 100, t("2024-01-02T00:00:00Z")),
      run("r3", "regressed", 350, t("2024-01-03T00:00:00Z")),
      // failed latest runs don't count as the latest completed run
      run("f1", "regressed", 999, t("2024-01-05T00:00:00Z"), failed = true),
      // single run: no history, never flagged
      run("s1", "fresh", 5000, t("2024-01-01T00:00:00Z"))))
    val flagged = st.slowJobs(2.0)
    assert(flagged.map(_._1) == Seq("regressed"))
    val (_, cur, base, x100) = flagged.head
    assert(cur == 350 && base == 100 && x100 == 350)
    st.close()
  }

  test("DeleteOldLogs' self-test counts stale log rows over the driver rows") {
    val st = newStore()
    val clock = Clock.Fixed(t("2024-01-10T15:00:00Z")) // cutoff 2024-01-07T00:00
    def log(id: String, ts: Instant) =
      LogRow(id.padTo(32, '0'), "b".padTo(32, '0'), "INFO", "m", ts)
    st.appendBatchLog(Seq(log("l1", t("2024-01-06T23:59:59Z")),
      log("l2", t("2024-01-07T00:00:00Z"))))
    st.appendJobLog(Seq(log("l3", t("2024-01-01T00:00:00Z")),
      log("l4", t("2024-01-09T00:00:00Z"))))
    val job = DeleteOldLogs(st, clock)
    val logger = new JobSinkLogger("j".padTo(32, '0'), clock, console = false)
    val before = job.test(TestSpark.spark, logger)
    assert(before.map(_.failureMessage.exists(_.startsWith("2 entries older than"))) ==
      Seq(true))
    assert(job.run(TestSpark.spark, logger) == JobStatus.Successful)
    assert(job.test(TestSpark.spark, logger).forall(_.passed))
    assert(st.batchLogRows.map(_.id.take(2)) == Seq("l2"))
    assert(st.jobLogRows.map(_.id.take(2)) == Seq("l4"))
    st.close()
  }
}
