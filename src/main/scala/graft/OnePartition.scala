package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, LeafNode, LocalRelation, LogicalPlan, Project, Repartition, Sample, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plans a small batch query as one partition.
  *
  * When every leaf of the optimized plan is small, the rule wraps each
  * leaf's Project/Filter scan chain in `Repartition(1, shuffle = false)`.
  * The physical `CoalesceExec` reports `SinglePartition`, which satisfies
  * every required distribution, so `EnsureRequirements` adds no exchange:
  * no range-sampling job for the final ORDER BY, no AQE map stage, no
  * re-plan. The query runs as one Spark job of one task, plus a job per
  * broadcast. The chain is wrapped, not the bare leaf, so file scans keep
  * their pushed filters and pruned columns.
  *
  * The gate, checked on the whole plan:
  *  - every leaf is a file relation, a `LocalRelation` or a checkpoint
  *    (`LogicalRDD`) whose size Spark knows, and those sizes sum to at most
  *    `spark.sql.autoBroadcastJoinThreshold`: the size Spark already ships
  *    whole to every task. A threshold ≤ 0 (the plan-shape tests' way to
  *    mimic scale) closes the gate;
  *  - the plan is not streaming and holds no nondeterministic expression
  *    and no `Sample`, whose results depend on the partitioning;
  *  - a `Range` leaf (and any other leaf) closes the gate: its partition
  *    count is the caller's choice;
  *  - the plan computes no aggregate, join or window twice, and joins no
  *    explode with itself. An exchange plan computes such work once and
  *    reads it again through `ReusedExchange` (both sides of a self-join
  *    shuffle alike); one partition has no exchange to reuse, so it would
  *    pay that work twice in one task. Such plans were the gate's worst
  *    measured losses: e8_collocations 1.7× slower at sf0.1, e1_winnowing
  *    2.1× and e1_minhash_pairs 1.8× at 10× (SCALE.md).
  *
  * What the gate does not bound: it measures the inputs, not the rows the
  * plan makes from them. A row-multiplying explode or join over small
  * inputs runs in the one task too. Nor does it follow a checkpoint: one
  * built by a one-partition plan keeps one partition, so the work above it
  * runs in one task even in a plan the gate leaves alone. SCALE.md has the
  * timings on both sides of the gate at sf0.1 and 10×.
  */
object OnePartition extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (qualifies(plan)) wrapScans(plan) else plan

  private def qualifies(plan: LogicalPlan): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold > 0 && !plan.isStreaming &&
      !plan.exists(p => p.isInstanceOf[Sample] || p.expressions.exists(!_.deterministic)) && {
        val sizes = plan.collectLeaves().map(leafSize)
        sizes.forall(_.isDefined) && sizes.flatten.sum <= threshold
      } && !repeatsWork(plan)
  }

  /** True when an aggregate, join or window occurs twice, or a join has the
    * same explode on both sides. An aggregate is keyed as its partial
    * aggregate and exchange are: by its grouping, its aggregate functions
    * and its child, so two copies that column pruning left with different
    * outputs still match. A self-join of a scan alone is not repeated work:
    * one partition only scans twice. */
  private def repeatsWork(plan: LogicalPlan): Boolean = {
    val work = plan.collect {
      case a: Aggregate =>
        val fns = a.aggregateExpressions.flatMap(_.collect { case f: AggregateExpression => f })
        a.copy(aggregateExpressions = fns.map(Alias(_, "f")())).canonicalized
      case j: Join => j.canonicalized
      case w: Window => w.canonicalized
    }
    work.distinct.size < work.size || plan.exists {
      case j: Join => j.left.exists(_.isInstanceOf[Generate]) && j.left.canonicalized == j.right.canonicalized
      case _ => false
    }
  }

  /** The leaf's size in bytes, when it is a kind of leaf the gate admits
    * and Spark knows its size. A `LogicalRDD` built without statistics
    * reports `spark.sql.defaultSizeInBytes`, which is not a size. */
  private def leafSize(leaf: LogicalPlan): Option[BigInt] = leaf match {
    case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => Some(r.stats.sizeInBytes)
    case r: LocalRelation => Some(r.stats.sizeInBytes)
    case r: LogicalRDD => Some(r.stats.sizeInBytes).filter(_ != conf.defaultSizeInBytes)
    case _ => None
  }

  private def wrapScans(plan: LogicalPlan): LogicalPlan = plan match {
    case r @ Repartition(1, false, chain) if isScanChain(chain) => r
    case chain if isScanChain(chain) => Repartition(1, shuffle = false, chain)
    case other => other.mapChildren(wrapScans)
  }

  private def isScanChain(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => isScanChain(child)
    case Filter(_, child) => isScanChain(child)
    case _: LeafNode => true
    case _ => false
  }
}
