package graft.runner

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import graft.model._
import graft.store.AdminStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runner e2e — reproduces the reference's five runner scenarios
  * (tests/e2e/test_runner.py:333-724) plus cadence/retry/compensation/
  * timeout semantics, against a real local SparkSession and parquet admin
  * store with an injectable clock (conftest.py:46-59 StaticTimestampAdapter). */
class RunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  final class StepClock(var at: Instant) extends Clock {
    def now(): Instant = at
    def advance(seconds: Long): Unit = at = at.plusSeconds(seconds)
  }

  private def fixture() = {
    val clock = new StepClock(Instant.parse("2024-06-01T12:00:00Z"))
    val store = new AdminStore(spark, TestSpark.tmpDir("runner"))
    (clock, store, new BatchRunner(spark, store, clock))
  }

  private def okJob(name: String, deps: Seq[String] = Nil): JobSpec =
    SimpleJob(name, dependencies = deps,
      runFn = (_, log) => { log.info(s"$name ran"); JobStatus.Successful })

  private def badJob(name: String, deps: Seq[String] = Nil): JobSpec =
    SimpleJob(name, dependencies = deps,
      runFn = (_, _) => JobStatus.Failed(s"$name exploded"))

  test("happy path: real query job + passing test recorded in admin store (test_runner.py:344-465)") {
    val (_, store, runner) = fixture()
    val out = TestSpark.tmpDir("rev") + "/revenue"
    val job = SimpleJob("revenue_by_region",
      runFn = (s, log) => {
        val df = graft.ops.Relational.q19aRegionRevenue(s, TestSpark.sf0001)
        df.write.mode("overwrite").parquet(out)
        log.info("wrote revenue_by_region")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val n = s.read.parquet(out).count()
        if (n == 5) Seq(SimpleTestResult.passing("five regions"))
        else Seq(SimpleTestResult.failing("five regions", s"got $n rows"))
      })
    val status = runner.run(Batch("smoke", Seq(job)))
    assert(!status.running && status.errorMessage.isEmpty)
    assert(status.jobResults.map(_.jobName) == Seq("revenue_by_region"))
    assert(status.jobResults.head.testResults.forall(_.passed))
    // admin store agrees after fresh reads
    val stored = store.latestBatch("smoke").get
    assert(!stored.running && stored.brokenJobs.isEmpty)
    assert(stored.jobResults.head.testResults.map(_.testName) == Seq("five regions"))
    assert(store.jobLog.count() > 0 && store.batchLog.count() > 0)
  }

  test("unresolved dependency rejected (test_runner.py: unresolved deps)") {
    val (_, _, runner) = fixture()
    val e = intercept[DependencyErrors](
      runner.run(Batch("badbatch", Seq(okJob("aaa", deps = Seq("ghost"))))))
    assert(e.getMessage.contains("unresolved"))
  }

  test("dependency declared after dependent job rejected — no topo sort (batch_runner.py:551-593)") {
    val (_, _, runner) = fixture()
    val e = intercept[DependencyErrors](
      runner.run(Batch("badbatch", Seq(okJob("bbb", deps = Seq("aaa")), okJob("aaa")))))
    assert(e.getMessage.contains("comes after"))
  }

  test("duplicate job names rejected (batch_runner.py:542-548)") {
    val (_, _, runner) = fixture()
    intercept[DuplicateJobNamesError](
      runner.run(Batch("badbatch", Seq(okJob("same"), okJob("same")))))
  }

  test("failed batch writes failure row and rethrows (batch_runner.py:120-138)") {
    val (_, store, runner) = fixture()
    intercept[DependencyErrors](
      runner.run(Batch("boombatch", Seq(okJob("aaa", deps = Seq("ghost"))))))
    val b = store.latestBatch("boombatch").get
    assert(!b.running && b.errorMessage.exists(_.contains("unresolved")))
  }

  test("skip only when ALL deps skipped/failed (batch_runner.py:160-177)") {
    val (_, store, runner) = fixture()
    val status = runner.run(Batch("skipsbatch", Seq(
      badJob("aaa"), okJob("bbb"), okJob("ccc", deps = Seq("aaa")),
      okJob("ddd", deps = Seq("aaa", "bbb")))))
    val byName = status.jobResults.map(r => r.jobName -> r.status).toMap
    assert(byName("aaa").isInstanceOf[JobStatus.Failed])
    assert(byName("bbb") == JobStatus.Successful)
    // c: its only dep failed -> skipped
    assert(byName("ccc").isInstanceOf[JobStatus.Skipped])
    // d: one dep ok, one failed -> NOT skipped, but pre-handler fails it
    // because ANY hard-failed dep fails the job (batch_runner.py:326-380)
    byName("ddd") match {
      case JobStatus.Failed(msg) => assert(msg.contains("failed to execute"))
      case other => fail(s"expected ddd to fail via pre-handler, got $other")
    }
    val stored = store.latestBatch("skipsbatch").get
    assert(stored.jobResults.find(_.jobName == "ccc").get.skipped)
  }

  test("dependency test failures alone do NOT block the dependent job (batch_runner.py:347-367)") {
    val (_, _, runner) = fixture()
    val flaky = SimpleJob("flaky",
      runFn = (_, _) => JobStatus.Successful,
      testFn = (_, _) => Seq(SimpleTestResult.failing("always", "nope")))
    val status = runner.run(Batch("testfail", Seq(flaky, okJob("down", deps = Seq("flaky")))))
    // the reference raises only on hard execution failures; a dep with test
    // failures but successful execution does not block its dependents
    assert(status.jobResults.find(_.jobName == "down").get.status ==
      JobStatus.Successful)
  }

  test("hard-failed + test-failed deps produce the combined message (batch_runner.py:358-364)") {
    val (_, _, runner) = fixture()
    val flaky = SimpleJob("flaky",
      runFn = (_, _) => JobStatus.Successful,
      testFn = (_, _) => Seq(SimpleTestResult.failing("always", "nope")))
    val status = runner.run(Batch("combined", Seq(
      badJob("dead"), flaky, okJob("down", deps = Seq("dead", "flaky")))))
    status.jobResults.find(_.jobName == "down").get.status match {
      case JobStatus.Failed(msg) =>
        assert(msg.contains("failed to execute: dead"))
        assert(msg.contains("had test failures: flaky"))
      case other => fail(s"expected combined failure, got $other")
    }
  }

  test("refresh cadence: strict > gate (batch_runner.py:188-190)") {
    val (clock, _, runner) = fixture()
    val runs = new AtomicInteger(0)
    def job = SimpleJob("cadenced", minSecondsBetweenRefreshes = 300,
      runFn = (_, _) => { runs.incrementAndGet(); JobStatus.Successful })
    runner.run(Batch("cadence", Seq(job)))
    assert(runs.get == 1)
    clock.advance(300) // exactly min -> 300 > 300 is false -> skip
    val s2 = runner.run(Batch("cadence", Seq(job)))
    assert(runs.get == 1)
    assert(s2.jobResults.head.status.isInstanceOf[JobStatus.Skipped])
    clock.advance(1) // 301 > 300 -> runs
    runner.run(Batch("cadence", Seq(job)))
    assert(runs.get == 2)
  }

  test("test cadence: >= gate (batch_runner.py:423)") {
    val (clock, _, runner) = fixture()
    val tested = new AtomicInteger(0)
    def job = SimpleJob("tcad", minSecondsBetweenTests = 300,
      runFn = (_, _) => JobStatus.Successful,
      testFn = (_, _) => { tested.incrementAndGet()
        Seq(SimpleTestResult.passing("t")) })
    runner.run(Batch("testcad", Seq(job)))
    assert(tested.get == 1)
    clock.advance(299)
    runner.run(Batch("testcad", Seq(job)))
    assert(tested.get == 1) // 299 >= 300 false -> skipped
    clock.advance(1)
    runner.run(Batch("testcad", Seq(job)))
    assert(tested.get == 2) // 300 >= 300 true -> re-tested
  }

  test("retry fires only on raised exceptions, up to maxRetries (batch_runner.py:503-539)") {
    val (_, _, runner) = fixture()
    val attempts = new AtomicInteger(0)
    val job = SimpleJob("retrying", maxRetries = 2,
      runFn = (_, _) =>
        if (attempts.incrementAndGet() < 3) throw new RuntimeException("not yet")
        else JobStatus.Successful)
    val status = runner.run(Batch("retrybatch", Seq(job)))
    assert(attempts.get == 3)
    assert(status.jobResults.head.status == JobStatus.Successful)
  }

  test("a RETURNED failed status is final — no retry (reference `except:` semantics)") {
    val (_, _, runner) = fixture()
    val attempts = new AtomicInteger(0)
    val job = SimpleJob("noretry", maxRetries = 5,
      runFn = (_, _) => { attempts.incrementAndGet(); JobStatus.Failed("nope") })
    val status = runner.run(Batch("noretrybatch", Seq(job)))
    assert(attempts.get == 1)
    assert(status.jobResults.head.status.isInstanceOf[JobStatus.Failed])
  }

  test("batch-level timeout is enforced (deviation: batch_spec.py:61-63 never read)") {
    val (_, store, runner) = fixture()
    val slow = SimpleJob("sleeper",
      runFn = (_, _) => { Thread.sleep(5000); JobStatus.Successful })
    val e = intercept[RuntimeException](
      runner.run(Batch("slowbatch", Seq(slow), timeoutSeconds = Some(1))))
    assert(e.getMessage.contains("timed out"))
    val b = store.latestBatch("slowbatch").get
    assert(b.errorMessage.exists(_.contains("timed out")))
  }

  test("compensation hook substitutes a repair job, depth-capped (batch_runner.py:294-321)") {
    val (_, _, runner) = fixture()
    val repaired = new AtomicInteger(0)
    val repair = SimpleJob("repair_main",
      runFn = (_, _) => { repaired.incrementAndGet(); JobStatus.Successful })
    val main = new JobSpec {
      val name = "main_job"
      def run(s: org.apache.spark.sql.SparkSession, l: JobLogger): JobStatus =
        JobStatus.Failed("broken")
      override def onExecutionError(msg: String): Option[JobSpec] = Some(repair)
    }
    val status = runner.run(Batch("compbatch", Seq(main)))
    assert(repaired.get == 1)
    assert(status.jobResults.head.status == JobStatus.Successful)
  }

  test("per-job timeout enforced via job-group cancellation (deviation: job_spec.py:63-65 never enforced)") {
    val (_, _, runner) = fixture()
    val job = SimpleJob("sleepy", timeoutSeconds = Some(1),
      runFn = (_, _) => { Thread.sleep(5000); JobStatus.Successful })
    val status = runner.run(Batch("timeoutbatch", Seq(job)))
    status.jobResults.head.status match {
      case JobStatus.Failed(msg) => assert(msg.contains("timed out"))
      case other => fail(s"expected timeout failure, got $other")
    }
  }

  test("every job runs under its own Spark job group; the caller's group is restored") {
    val (_, _, runner) = fixture()
    val sc = spark.sparkContext
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def probe(name: String, timeout: Option[Long]) = SimpleJob(name, timeoutSeconds = timeout,
      runFn = (s, _) => {
        seen += s.sparkContext.getLocalProperty("spark.jobGroup.id")
        JobStatus.Successful
      })
    sc.setJobGroup("caller-group", "the caller's own group")
    try {
      runner.run(Batch("groupbatch", Seq(probe("untimed_job", None),
        probe("timed_job", Some(60L)))))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally sc.clearJobGroup()
    assert(seen.size == 2)
    assert(seen(0).startsWith("graft-job-untimed_job-"), seen(0))
    assert(seen(1).startsWith("graft-job-timed_job-"), seen(1))
    // without a caller group the thread is left without one
    runner.run(Batch("groupbatch", Seq(probe("untimed_job", None))))
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    assert(seen(2).startsWith("graft-job-untimed_job-"))
  }

  test("parallel batches share one session and all get recorded (batch_runner.py:36-46)") {
    val (clock, store, _) = fixture()
    val batches = (1 to 3).map(i => Batch(s"par_$i", Seq(okJob(s"job_$i"))))
    val statuses = BatchRunner.runInParallel(spark, store, batches,
      maxParallel = 3, clock = clock)
    assert(statuses.length == 3)
    assert(statuses.forall(s => !s.running && s.errorMessage.isEmpty))
    (1 to 3).foreach(i => assert(store.latestBatch(s"par_$i").nonEmpty))
  }

  test("batch delta across consecutive runs (batch_delta.py:8-39)") {
    val (clock, store, runner) = fixture()
    runner.run(Batch("deltabatch", Seq(badJob("aaa"), okJob("bbb"))))
    clock.advance(3600)
    runner.run(Batch("deltabatch", Seq(okJob("aaa"), badJob("bbb"))))
    val d = store.batchDelta("deltabatch").get
    assert(d.commonJobs == Set("aaa", "bbb"))
    assert(d.newlyBrokenJobs == Set("bbb"))
    assert(d.newlyFixedJobs == Set("aaa"))
  }

  test("config-generic batch: jobs run against the configured uow, closed in finally (batch_spec.py:23-137)") {
    val (_, store, runner) = fixture()
    // the "uow": a configured output root handle with a close flag —
    // standing in for the reference's SqlAlchemy UnitOfWork
    final case class EtlConfig(outRoot: String, expectedRegions: Long)
    final class OutputUow(val root: String) {
      var closed = false
      def pathFor(table: String): String = s"$root/$table"
    }
    var created: OutputUow = null
    val spec = SimpleBatchSpec[EtlConfig, OutputUow](
      name = "configured",
      createUowFn = cfg => { created = new OutputUow(cfg.outRoot); created },
      createJobsFn = uow => Seq(
        SimpleJob("write_revenue",
          runFn = (s, log) => {
            graft.ops.Relational.q19aRegionRevenue(s, TestSpark.sf0001)
              .write.mode("overwrite").parquet(uow.pathFor("revenue"))
            log.info(s"wrote to ${uow.pathFor("revenue")}")
            JobStatus.Successful
          },
          testFn = (s, _) => {
            val n = s.read.parquet(uow.pathFor("revenue")).count()
            if (n == 5) Seq(SimpleTestResult.passing("regions present"))
            else Seq(SimpleTestResult.failing("regions present", s"got $n"))
          })),
      closeUowFn = _.closed = true)
    val cfg = EtlConfig(TestSpark.tmpDir("uow"), expectedRegions = 5)
    val status = runner.run(spec, cfg)
    assert(!status.running && status.errorMessage.isEmpty)
    assert(status.jobResults.head.testResults.forall(_.passed))
    assert(created != null && created.closed, "uow must be closed after the run")
    assert(spark.read.parquet(s"${cfg.outRoot}/revenue").count() == 5)
    // uow is closed even when the batch raises (finally semantics,
    // batch_runner.py:112)
    var uow2: OutputUow = null
    val badSpec = SimpleBatchSpec[EtlConfig, OutputUow](
      name = "configured_bad",
      createUowFn = cfg => { uow2 = new OutputUow(cfg.outRoot); uow2 },
      createJobsFn = _ => Seq(okJob("zzz", deps = Seq("ghost"))),
      closeUowFn = _.closed = true)
    intercept[DependencyErrors](runner.run(badSpec, cfg))
    assert(uow2 != null && uow2.closed)
  }

  test("module-level runBatch builds the store from a typed config (cfg.py + batch_runner.py:49)") {
    val root = TestSpark.tmpDir("cfgrun")
    final class MyConfig(val tag: String) extends GraftConfig(adminRoot = root)
    val spec = SimpleBatchSpec[MyConfig, String](
      name = "cfg_batch",
      createUowFn = _.tag,
      createJobsFn = tag => Seq(SimpleJob(s"job_$tag",
        runFn = (_, _) => JobStatus.Successful)))
    val status = BatchRunner.runBatch(spark, spec, new MyConfig("prod"))
    assert(!status.running && status.jobResults.map(_.jobName) == Seq("job_prod"))
    // store landed under adminRoot/adminSchema (SchemaName("etl") default)
    val store = new AdminStore(spark, s"$root/etl")
    assert(store.latestBatch("cfg_batch").nonEmpty)
  }

  test("module-level runBatch reuses one warm store per admin root") {
    val root = TestSpark.tmpDir("warmrun")
    final class WarmConfig extends GraftConfig(adminRoot = root)
    // jobs without Spark work: every Spark job of a run is the store's
    val spec = SimpleBatchSpec[WarmConfig, Unit](
      name = "warm_batch",
      createUowFn = _ => (),
      createJobsFn = _ => Seq(okJob("first"), okJob("second", deps = Seq("first"))))
    val first = BatchRunner.runBatch(spark, spec, new WarmConfig)
    var second: BatchStatus = null
    val jobs = TestSpark.sparkJobsIn { second = BatchRunner.runBatch(spark, spec, new WarmConfig) }
    assert(jobs == 0, s"the second runBatch launched $jobs store Spark job(s)")
    assert(second.id != first.id && !second.running && second.errorMessage.isEmpty)
    val store = new AdminStore(spark, s"$root/etl")
    assert(store.batchDelta("warm_batch").exists(d =>
      d.current.id == second.id && d.previous.exists(_.id == first.id)))
  }

  test("config-driven runAdmin honors daysLogsToKeep from the config (cfg.py retention)") {
    val clock = new StepClock(Instant.parse("2024-06-01T12:00:00Z"))
    val root = TestSpark.tmpDir("cfgadmin")
    val config = new GraftConfig(adminRoot = root, daysLogsToKeep = 10)
    val store = new AdminStore(spark, config.adminPath)
    // a log row 5 days old: inside the 10-day config window, outside the
    // class default of 3 — survival proves the config value is wired
    store.appendBatchLog(Seq(graft.store.LogRow(Validate.newId(), "b" * 32,
      "INFO", "fiveDaysOld", clock.at.minusSeconds(5 * 86400))))
    val status = BatchRunner.runAdmin(spark, config, clock, logToConsole = false)
    assert(status.jobResults.head.status == JobStatus.Successful)
    assert(store.batchLog.toDF()
      .filter(col("message") === "fiveDaysOld").count() == 1)
  }

  test("admin batch deletes old logs and its test passes (delete_old_logs.py:11-86)") {
    val (clock, store, runner) = fixture()
    // seed old logs (5 days back) and fresh ones
    val old = clock.at.minusSeconds(5 * 86400)
    store.appendBatchLog(Seq(graft.store.LogRow(Validate.newId(), "b" * 32,
      "INFO", "ancient", old)))
    store.appendJobLog(Seq(graft.store.LogRow(Validate.newId(), "j" * 32,
      "INFO", "ancient", old)))
    val status = runner.run(AdminBatch(store, clock))
    assert(status.jobResults.head.status == JobStatus.Successful)
    assert(status.jobResults.head.testResults.forall(_.passed))
    assert(store.batchLog.toDF().filter(col("message") === "ancient").count() == 0)
  }

  test("CompactTable maintenance job: versioned cutover through the runner, conservation test passes") {
    val (_, store, runner) = fixture()
    val dir = TestSpark.tmpDir("mtable")
    val root = TestSpark.tmpDir("mver")
    spark.range(0, 5000)
      .select(col("id"), md5(col("id").cast("string")).as("p"))
      .repartition(20).write.mode("overwrite").parquet(dir)
    val status = runner.run(
      Batch("maintenance", Seq(CompactTable(dir, root, 256L * 1024))))
    assert(!status.running && status.errorMessage.isEmpty)
    assert(status.jobResults.head.status == JobStatus.Successful)
    assert(status.jobResults.head.testResults.forall(_.passed))
    // committed snapshot: same content, fewer files
    assert(graft.sources.Versioned.current(spark, root).contains(1))
    assert(graft.sources.Versioned.readCurrent(spark, root).count() == 5000)
    val nOut = new java.io.File(root, "v00001").listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(nOut < 20, s"expected compaction, got $nOut files")
    // the run is in the admin tables like any ETL job
    assert(store.latestBatch("maintenance").exists(_.brokenJobs.isEmpty))
  }
}
