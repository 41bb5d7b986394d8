package graft.ops

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.unsafe.Platform

/** The loop kernel of the iterative operators: connected components
  * (Dedup.connectedComponentsStar), PageRank (Analysis.e9Pagerank,
  * Analysis.pageRankConverged), HITS (Analysis.hitsConverged), k-core
  * peeling (Analysis.e9Kcore, Analysis.kcoreConverged), BFS
  * (Analysis.e9Bfs, Analysis.bfsConverged and the per-seed search of
  * e9_effective_diameter and e9_closeness), greedy k-center
  * (Similarity.kcenterPicks), the greedy graph walk
  * (Similarity.e2GraphSearch), the top-PC power iteration
  * (Similarity.e2TopPc, e2_abtt) and BPE training (TextOps, the e3_bpe
  * queries). A loop finishes in one of two places;
  * only connected components, PageRank and k-center have a driver finish,
  * and the others always take the distributed rounds.
  *
  *  - DRIVER FINISH. A loop whose state fits [[DriverBytes]] collects it
  *    and finishes in plain Scala (union-find, power iteration, the greedy
  *    traversal), with no Spark job per round. The state at the start
  *    comes from [[collectUnder]]: ONE Spark job that is both the size
  *    check and the fetch.
  *  - DISTRIBUTED ROUNDS. Otherwise each [[Loop.round]] takes a lazy local
  *    checkpoint of the new generation, runs ONE fused action over it for
  *    the round's stats (the action reads every partition, so it also
  *    materializes the checkpoint), releases the generation it replaced
  *    and records the stats. A fixed-round loop with no stopping test
  *    whose unrolled plan stays small (e9Pagerank, e9Ppr, e9LabelProp,
  *    the two rounds of e9Hits) builds its rounds as one lazy plan and
  *    runs no per-round action at all. One whose round reads the state
  *    three times (k-core, BFS, the graph walk) takes kernel rounds even
  *    at a fixed count: left lazy, its plan copies every earlier round
  *    once per read.
  *
  * HANDOFF RULE. The state fits when its rows, in Spark's own row
  * format (UnsafeRow: null bits, 8 B a fixed-width field, variable-width
  * data after), take at most the budget. A loop whose state fits at the
  * start never runs a distributed round. During distributed rounds the
  * live row count comes from the round's own stats action; once rows ×
  * [[EdgeBytes]] fits, [[handoff]] collects the live generation and the
  * driver finishes (only connected components' state shrinks this way).
  *
  * Above the budget the size check costs one extra pass over the loop's
  * input before the distributed rounds, which then compute that input
  * again: every partition writes its rows up to the first one past the
  * budget to a one-partition shuffle, and the single reading task stops
  * at the first row past the budget and returns nothing. SCALE.md has
  * the measured cost.
  *
  * The budget is a constant, not a setting: the operators' answers are
  * identical on both paths (DedupStarSpec, AnalysisSpec and
  * Round10OpsSpec run both), so it decides cost only. Each operator has a
  * package-private overload taking the budget, used by the specs and the
  * ScaleProbe chain; [[ForceDistributed]] there skips the size check. */
object Loop {
  /** Budget of one loop's state as Spark rows: 1.4M edges, or 110k
    * 64-dim embedding rows (304 B each). The driver finishes hold more
    * than that on the heap; SCALE.md has the measured multipliers. */
  val DriverBytes: Long = 32L << 20

  /** Size of one edge row (two longs) as a Spark row: 8 B of null bits
    * and 8 B a field. */
  val EdgeBytes: Long = 24L

  /** A budget nothing fits, not even an empty state: the size check does
    * not run and the loop takes the distributed rounds. */
  private[graft] val ForceDistributed: Long = -1L

  /** The rows of `ds` when they take at most `budget` bytes as Spark
    * rows, else None. ONE Spark job, the plan of CollectLimitExec with a
    * byte limit: every partition keeps its rows up to the first one past
    * the budget, a shuffle gathers those into one partition (skipped when
    * there is only one), and that task keeps them up to the first past
    * the budget again and returns them only when they fit. The stage that
    * computes `ds` keeps its parallelism, and a state over the budget
    * never reaches the driver. */
  def collectUnder[T](ds: Dataset[T], budget: Long): Option[Array[T]] =
    if (budget < 0) None
    else {
      val qe = ds.queryExecution
      val out = qe.executedPlan.output
      // copies of the rows up to and including the first past the budget
      // (a physical plan's output rows are UnsafeRows, as
      // SparkPlan.getByteArrayRdd assumes)
      val upTo: Iterator[InternalRow] => Iterator[UnsafeRow] = it => {
        var used = 0L
        it.map(_.asInstanceOf[UnsafeRow].copy())
          .takeWhile { r => val under = used <= budget; used += r.getSizeInBytes; under }
      }
      val sc = ds.sparkSession.sparkContext
      // the fitting rows as one (size, bytes)* buffer, as Dataset.collect
      // ships them: one object per task result, not one per row
      val got = SQLExecution.withNewExecutionId(qe, Some("collectUnder")) {
        val parts = qe.toRdd.mapPartitions[InternalRow](upTo)
        val one = if (parts.getNumPartitions <= 1) parts else new ShuffledRowRDD(
          ShuffleExchangeExec.prepareShuffleDependency(parts, out, SinglePartition,
            new UnsafeRowSerializer(out.length, null),
            SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc)),
          SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc))
        sc.runJob(one, (it: Iterator[InternalRow]) => {
          val buf = new ByteArrayOutputStream()
          val data = new DataOutputStream(buf)
          val copyBuf = new Array[Byte](4096)
          var used = 0L
          upTo(it).foreach { r =>
            used += r.getSizeInBytes
            data.writeInt(r.getSizeInBytes)
            r.writeToStream(data, copyBuf)
          }
          if (used <= budget) Some(buf.toByteArray) else None
        }).headOption.getOrElse(Some(Array.emptyByteArray))
      }
      val fromRow = encoderFor(ds.encoder).resolveAndBind(qe.analyzed.output)
        .createDeserializer()
      got.map { bytes =>
        val sizes = ByteBuffer.wrap(bytes)
        val row = new UnsafeRow(out.length)
        val rows = ArrayBuffer.empty[T]
        var at = 0
        while (at < bytes.length) {
          val n = sizes.getInt(at)
          row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at + 4, n)
          rows += fromRow(row) // the deserializer copies out of `bytes`
          at += 4 + n
        }
        rows.toArray(ds.encoder.clsTag)
      }
    }

  /** The live generation's rows when `bytes` (its row count from the
    * round's own stats, times the row size) fits `budget`: one action
    * over its checkpoint. */
  def handoff[T](gen: Dataset[T], bytes: Long, budget: Long): Option[Array[T]] =
    if (bytes <= budget) Some(gen.collect()) else None

  /** Drop a generation's checkpoint blocks. */
  private def release(gen: DataFrame): Unit =
    gen.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))
}

/** One distributed loop: its live generation and the stats of every round
  * it ran. `S` is what a round's one action returns. */
final class Loop[S] {
  private var live: Option[DataFrame] = None
  private val log = ArrayBuffer.empty[S]

  /** Rounds run so far. */
  def rounds: Int = log.size

  /** The stats of every round, in order. */
  def stats: Seq[S] = log.toSeq

  /** The first generation: a lazy checkpoint, no action. */
  def start(init: DataFrame): DataFrame = {
    val gen = init.localCheckpoint(false)
    live = Some(gen)
    gen
  }

  /** One round: `next` becomes the live generation (lazy checkpoint),
    * `stat` runs the round's ONE action over it, the replaced generation's
    * blocks go, and the stats are recorded. `stat` must read every
    * partition of its argument (an aggregate, a join or a top-k), or the
    * released generation could still be needed. */
  def round(next: DataFrame)(stat: DataFrame => S): (DataFrame, S) = {
    val gen = next.localCheckpoint(false)
    val st = stat(gen)
    live.foreach(Loop.release)
    live = Some(gen)
    log += st
    (gen, st)
  }

  /** Rounds from `init` (the first generation) until a round's stats fail
    * `more` or `maxRounds` rounds ran. Each round's next generation is
    * `step` of the live one, and `stat(next, live)` is its ONE action,
    * reading every partition of `next` as [[round]] requires. Returns the
    * live generation. */
  def run(init: DataFrame, maxRounds: Int)(more: S => Boolean)(
      step: DataFrame => DataFrame)(stat: (DataFrame, DataFrame) => S): DataFrame = {
    var gen = start(init)
    while (rounds < maxRounds && log.lastOption.forall(more)) {
      val prev = gen
      gen = round(step(prev))(stat(_, prev))._1
    }
    gen
  }

  /** Release the live generation, for a loop whose result is driver-side. */
  def close(): Unit = {
    live.foreach(Loop.release)
    live = None
  }
}
