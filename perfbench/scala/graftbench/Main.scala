package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import graft.MemoLedger
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py, which builds
  * the classpath and passes these). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    work: String,
    cores: Int,
    launchEpochMs: Double,
    out: String,
    expected: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("data"), get("work"), get("cores").toInt,
      get("launch-epoch-ms").toDouble, get("out"), get("expected"))
  }
}

/** What one op reports besides its wall time: per-layer values that come
  * from the op's own results (runner counts, memo ledger, admin files). */
final case class OpOut(wallS: Double, layers: Map[String, Double] = Map.empty,
    key: String = "")

/** A closed-loop workload: one client, one op at a time. */
abstract class Workload(val ctx: Ctx) {
  /** Unmeasured ops that bring the JVM, the codegen cache and the memos to
    * their steady state; their cost is part of `setup_s`. */
  def warmOps: Int
  /** Measured ops per second of `--seconds`: a fixed op count for a given
    * run length, never a time box. */
  def opsPerSecond: Double
  /** Runs op `i` (warm-up ops count from 0, measured ops continue the
    * sequence) and returns its wall time. Throws when the op fails. */
  def op(i: Int, measured: Boolean): OpOut
  /** Checks that run once after the measured window. */
  def finish(): Unit = ()
  /** Whether measured op `k` is traced in a traced run. The untraced ops
    * must do the same work as the traced ones, so that their times give the
    * tracing overhead. */
  def traced(k: Int): Boolean = k % 2 == 1
  /** Per-layer values that belong to the whole run rather than to one op. */
  def runLayers: Map[String, Double] = Map.empty
  /** Lines describing the workload's own end-to-end figures. */
  def report(walls: Seq[Double]): Seq[(String, Any)] = Nil
}

final class Ctx(val spark: SparkSession, val opts: Opts) {
  val trace: Option[Trace] = if (opts.trace) Some(new Trace(spark)) else None
  def span[T](layer: String)(body: => T): T = trace match {
    case Some(t) => t.span(layer)(body)
    case None => body
  }

  val expected: Map[String, String] = Expected.read(opts.expected)
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Compares one output against its pinned value; a mismatch fails the
    * run's correctness. */
  def check(key: String, actual: Any): Boolean = {
    val a = actual.toString
    expected.get(key) match {
      case Some(e) if e == a => true
      case Some(e) => failures += s"$key: expected $e, got $a"; false
      case None => failures += s"$key: no pinned value (got $a)"; false
    }
  }
  def require(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  def dir(name: String): String = new File(opts.work, name).getAbsolutePath
}

object Expected {
  /** `key value` per line; `#` starts a comment. */
  def read(path: String): Map[String, String] =
    if (!new File(path).isFile) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
}

object Main {
  private def epochMs: Double = {
    val i = Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    def since = (epochMs - opts.launchEpochMs) / 1e3
    val mainS = since
    val spark = graft.Sessions.local(opts.cores.toString)
    val sessionS = since
    val ctx = new Ctx(spark, opts)
    val w: Workload = opts.workload match {
      case "control_plane" => new ControlPlane(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    var failed = 0
    def attempt(i: Int, measured: Boolean): Option[OpOut] =
      try Some(w.op(i, measured))
      catch {
        case NonFatal(e) =>
          failed += 1
          ctx.failures += s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[perfbench] op $i failed: $e")
          None
      } finally MemoLedger.currentQuery = ""

    val warm = (0 until w.warmOps).map { i =>
      val t0 = System.nanoTime()
      attempt(i, measured = false)
      (System.nanoTime() - t0) / 1e9
    }
    val nOps = math.max(1, math.round(opts.seconds * w.opsPerSecond).toInt)
    val setupS = since

    // Measured window. A traced run traces half the ops, so the untraced
    // ones give the tracing overhead from the same JVM.
    val windowT0 = System.nanoTime()
    val ops = (0 until nOps).map { k =>
      val tracer = ctx.trace.filter(_ => w.traced(k))
      tracer.foreach(_.begin())
      val out = attempt(w.warmOps + k, measured = true)
      val tr = tracer.map(_.end())
      (out, tr)
    }
    val windowS = (System.nanoTime() - windowT0) / 1e9
    try w.finish()
    catch { case NonFatal(e) => ctx.failures += s"final checks threw: $e" }

    val walls = ops.flatMap(_._1).map(_.wallS)
    val cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val base = ListMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "cores" -> opts.cores,
      "attempted" -> (w.warmOps + nOps), "failed" -> failed,
      "correct" -> (failed == 0 && ctx.failures.isEmpty),
      "failures" -> ctx.failures.take(20).toSeq,
      "setup_phases_s" -> ListMap("jvm" -> mainS, "session" -> (sessionS - mainS),
        "warmup" -> (setupS - sessionS)),
      "warmup_s" -> warm, "window_s" -> windowS)
    val e2e: Map[String, Any] =
      if (walls.isEmpty) ListMap("setup_s" -> metric(setupS, "s", 1))
      else ListMap(
        "setup_s" -> metric(setupS, "s", 1),
        "op_s_p50" -> metric(Stats.median(walls), "s", walls.size),
        "ops_per_s" -> metric(walls.size / windowS, "1/s", walls.size))
    val layers: Map[String, Any] = opts.trace match {
      case false => Map.empty
      case true =>
        val traced = ops.collect { case (Some(o), Some(t)) => (o, t) }
        val plain = ops.collect { case (Some(o), None) => o.wallS }
        Layers.summarize(traced, opts.cores,
          w.runLayers + ("memo.cached_bytes" -> cachedBytes.toDouble),
          if (plain.isEmpty) Double.NaN else Stats.median(plain))
    }
    val counters: Map[String, Any] = ctx.trace.fold(Map.empty[String, Any]) { _ =>
      Layers.counters(ops.collect { case (Some(o), Some(t)) => (o, t) }, opts.cores)
    }
    val result = base ++ ListMap(
      "e2e" -> e2e, "layers" -> layers, "counters" -> counters,
      "detail" -> ListMap(w.report(walls): _*), "op_s" -> walls)
    Files.writeString(Paths.get(opts.out), Stats.json(result) + "\n")
    spark.stop()
  }

  /** A batch with a broken job or a failed data test is a failed op. */
  def requireUnbroken(status: graft.model.BatchStatus): Unit =
    if (status.brokenJobs.nonEmpty)
      throw new IllegalStateException(s"broken jobs: ${status.brokenJobs.toSeq.sorted}")

  def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    ListMap("value" -> v, "unit" -> unit, "n" -> n)
}
