package graftbench

import java.io.File

import scala.util.Random

import graft.model._
import graft.runner.BatchRunner
import graft.store.{AdminStore, AdminStoreApi}
import org.apache.commons.io.FileUtils

/** The runner and the admin store with almost no data work: batches of
  * trivial jobs (a 100-row `range().count()`) into one growing parquet
  * admin store, each batch followed by the reference's status reads. An
  * op is one `BatchRunner.run` plus its status reads.
  *
  * The batch has chained dependencies and data tests, one job with a
  * refresh cadence (it runs in the first batch and is skipped after), and
  * one job that throws on its first attempt in every batch and succeeds
  * on its retry. Append-only admin tables gain a file on every append, so
  * a write-path change that slows the reads shows here. */
final class ControlPlane(ctx: Ctx) extends Workload(ctx) {
  import ControlPlane._

  private val spark = ctx.spark
  private val rng = new Random(ctx.opts.seed)
  private val root = ctx.dir("control_admin")
  private val real = new AdminStore(spark, root)
  private val store: AdminStoreApi =
    ctx.trace.fold(real: AdminStoreApi)(new TracedStore(real, _))
  private val runner = new BatchRunner(spark, store)
  // the seed picks which job (among those without a cadence) is flaky
  private val flakyJob = rng.shuffle(JobNames.filterNot(_ == RefreshJob)).head
  private var attempts = 0
  private var batches = 0
  val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
  val readS = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def job(name: String, deps: Seq[String]): JobSpec = SimpleJob(name,
    dependencies = deps,
    maxRetries = if (name == flakyJob) 1 else 0,
    minSecondsBetweenRefreshes = if (name == RefreshJob) 86400L else 0L,
    runFn = (s, _) => {
      if (name == flakyJob) {
        attempts += 1
        if (attempts == 1) throw new IllegalStateException(s"$name: first attempt fails")
      }
      s.range(Rows).count()
      JobStatus.Successful
    },
    testFn = (s, _) =>
      if (!Tested(name)) Nil
      else {
        val n = s.range(Rows).count()
        Seq(if (n == Rows) SimpleTestResult.passing(s"$name row count")
          else SimpleTestResult.failing(s"$name row count", s"$n rows"))
      })

  private val plainBatch = Batch(BatchName, JobNames.zip(Deps).map { case (n, d) => job(n, d) })
  private val batch = ctx.trace.fold(plainBatch)(TracedJob.batch(plainBatch, _))

  private val reads: Seq[(String, () => Any)] = Seq(
    "latestBatch" -> (() => store.latestBatch(BatchName)),
    "batchDelta" -> (() => store.batchDelta(BatchName)),
    "slowJobs" -> (() => store.slowJobs()),
    "lastSuccessfulTs" -> (() => store.lastSuccessfulTs(JobNames.last)))

  def warmOps: Int = WarmBatches
  def opsPerSecond: Double = OpsPerSecond

  def op(i: Int, measured: Boolean): OpOut = {
    attempts = 0
    val t0 = System.nanoTime()
    val status = ctx.span("runner")(runner.run(batch))
    val t1 = System.nanoTime()
    val got = rng.shuffle(reads).map { case (name, read) =>
      val r0 = System.nanoTime()
      val v = read()
      if (measured) readS += (System.nanoTime() - r0) / 1e9
      name -> v
    }.toMap
    val wall = (System.nanoTime() - t0) / 1e9
    batches += 1
    if (measured) batchS += (t1 - t0) / 1e9

    Main.requireUnbroken(status)
    val skipped = status.jobResults.filter(_.skipped).map(_.jobName)
    ctx.require(skipped == (if (i == 0) Nil else Seq(RefreshJob)),
      s"batch $i skipped $skipped")
    ctx.require(attempts == 2, s"batch $i: flaky job ran $attempts times, expected 2")
    ctx.require(got("latestBatch").asInstanceOf[Option[BatchStatus]].map(_.id)
      .contains(status.id), s"batch $i: latestBatch is not the batch just run")
    ctx.require(got("batchDelta").asInstanceOf[Option[BatchDelta]]
      .exists(d => d.current.id == status.id && d.previous.isDefined == (i > 0)),
      s"batch $i: batchDelta does not pair the last two batches")
    val jobsRun = status.jobResults.count(!_.skipped)
    OpOut(wall, Map(
      "runner.jobs_run" -> jobsRun.toDouble,
      "runner.jobs_skipped" -> skipped.size.toDouble,
      "store.files" -> parquetFiles(new File(root)).toDouble), key = f"batch$i%02d")
  }

  /** The admin tables hold exactly the rows `batches` runs write: one
    * batch row and a row per job each; two data tests per batch; the start
    * and end lines of every batch plus the skip line of every batch after
    * the first in the batch log; the retry line of every batch in the job
    * log. */
  override def finish(): Unit = {
    val n = batches.toLong
    Seq("batches" -> (real.batches.count(), n),
      "jobs" -> (real.jobs.count(), JobNames.size * n),
      "job_test_results" -> (real.jobTestResults.count(), Tested.size * n),
      "batch_log" -> (real.batchLog.count(), 3 * n - 1),
      "job_log" -> (real.jobLog.count(), n)).foreach { case (t, (got, want)) =>
      ctx.require(got == want, s"admin table $t holds $got rows, expected $want")
    }
    real.close()
  }

  override def report(walls: Seq[Double]): Seq[(String, Any)] =
    if (walls.isEmpty) Nil
    else Seq(
      "batch_s_p50" -> Main.metric(Stats.median(batchS.toSeq), "s", batchS.size),
      "status_read_s_p50" -> Main.metric(Stats.median(readS.toSeq), "s", readS.size),
      "status_read_s_p90" -> Main.metric(Stats.pct(readS.toSeq, 0.9), "s", readS.size),
      "status_read_s_p90_beyond" -> Stats.beyond(readS.toSeq, 0.9),
      "flaky_job" -> flakyJob)
}

object ControlPlane {
  val WarmBatches = 2
  val OpsPerSecond = 0.14
  val Rows = 100L
  val BatchName = "control_plane"
  val RefreshJob = "cp_refresh_dim"
  val JobNames = Seq("cp_extract", RefreshJob, "cp_load")
  val Deps: Seq[Seq[String]] = Seq(Nil, Nil, Seq("cp_extract", RefreshJob))
  val Tested = Set("cp_extract", "cp_load")

  def parquetFiles(dir: File): Int =
    FileUtils.listFiles(dir, Array("parquet"), true).size
}
