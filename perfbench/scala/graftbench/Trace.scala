package graftbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one layer during one op. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, rowsWritten = 0L
}

/** What the traced run saw during one op, including the op's output checks,
  * which run outside every span (Spark work there is charged to `other`).
  * Layers are the span names the wrappers open: `runner`, `store.read`,
  * `store.write`, `ops.run`, `ops.test`, `ops.construct`, `ops.exec`. */
final case class OpTrace(
    selfS: Map[String, Double],
    calls: Map[String, Long],
    spark: Map[String, SparkCounts],
    planS: Double,
    taskBusyS: Double) {
  def self(prefix: String): Double =
    selfS.collect { case (k, v) if k.startsWith(prefix) => v }.sum
  def callCount(prefix: String): Long =
    calls.collect { case (k, v) if k.startsWith(prefix) => v }.sum
  def counts(prefix: String): SparkCounts = {
    val out = new SparkCounts
    spark.collect { case (k, c) if k.startsWith(prefix) => c }.foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.cpuNs += c.cpuNs; out.runMs += c.runMs; out.gcMs += c.gcMs
      out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
      out.spill += c.spill; out.rowsWritten += c.rowsWritten
    }
    out
  }
  /** Of `opS` seconds of op wall time, those in which no task launched
    * from a span was running. */
  def driverWaitS(opS: Double): Double = math.max(0.0, opS - taskBusyS)
}

/** Layer spans recorded around the benchmark's calls into the program,
  * plus the Spark work those calls caused.
  *
  * Spans nest: a span's self time is its duration minus the durations of
  * the spans opened inside it, so the self times of one op add up to the
  * op's wall time. The innermost open span's name rides on a Spark local
  * property, so the listener can charge every job, stage and task to the
  * layer that launched it. Planning phases come from
  * `QueryExecution.tracker` through a `QueryExecutionListener`.
  *
  * Only ops run between [[begin]] and [[end]] are traced; spans opened
  * outside that window cost one flag check. Both ends drain the listener
  * bus, so events of untraced work never land in a traced op. */
final class Trace(spark: SparkSession) {
  import Trace.LayerKey

  private val sc = spark.sparkContext
  @volatile private var active = false

  private final class Frame(val start: Long) { var child = 0L }
  private var stack: List[Frame] = Nil
  private val selfNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val calls = mutable.Map.empty[String, Long].withDefaultValue(0L)

  // written on the listener thread, read after a drain
  private val counts = mutable.Map.empty[String, SparkCounts]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var planMs = 0L

  private def countsFor(layer: String) =
    counts.getOrElseUpdate(layer, new SparkCounts)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (active) {
        val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
          .getOrElse("other")
        countsFor(layer).jobs += 1
        e.stageIds.foreach(stageLayer(_) = layer)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageLayer.get(e.stageInfo.stageId).foreach(countsFor(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageLayer.get(e.stageId).foreach { layer =>
        val c = countsFor(layer)
        c.tasks += 1
        if (layer != "other") taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.rowsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.this.synchronized {
      if (active) planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  })

  /** Times `body` as a span of `layer` when tracing is on. */
  def span[T](layer: String)(body: => T): T =
    if (!active) body
    else {
      val f = new Frame(System.nanoTime())
      val outer = sc.getLocalProperty(LayerKey)
      stack = f :: stack
      sc.setLocalProperty(LayerKey, layer)
      try body
      finally {
        val d = System.nanoTime() - f.start
        stack = stack.tail
        sc.setLocalProperty(LayerKey, outer)
        selfNs(layer) += d - f.child
        calls(layer) += 1
        stack.headOption.foreach(_.child += d)
      }
    }

  private var opStartMs = 0L

  /** Starts tracing one op. */
  def begin(): Unit = {
    Bus.drain(sc)
    synchronized {
      selfNs.clear(); calls.clear(); counts.clear(); stageLayer.clear()
      taskSpans.clear(); planMs = 0L
      active = true
    }
    opStartMs = System.currentTimeMillis()
  }

  /** Ends the op begun last and returns what it did. */
  def end(): OpTrace = {
    val endMs = System.currentTimeMillis()
    Bus.drain(sc)
    synchronized {
      active = false
      OpTrace(selfNs.toMap.map { case (k, v) => k -> v / 1e9 }, calls.toMap,
        counts.toMap, planMs / 1e3, Trace.unionS(taskSpans.toSeq, opStartMs, endMs))
    }
  }
}

object Trace {
  val LayerKey = "perfbench.layer"

  /** Seconds of [from, to] (epoch ms) covered by at least one interval. */
  def unionS(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var covered = 0L
    var reach = from
    spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered / 1e3
  }
}
