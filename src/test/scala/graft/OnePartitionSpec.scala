package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Both sides of [[OnePartition]]'s gate: a small batch query plans as one
  * partition; a large, streaming, random or caller-partitioned one plans as
  * before. */
class OnePartitionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark

  private def wrapped(p: LogicalPlan): Boolean =
    p.exists { case Repartition(1, false, _) => true; case _ => false }

  private def onePartition(df: DataFrame): Boolean = wrapped(df.queryExecution.optimizedPlan)

  private def orders: DataFrame = Tables.orders(spark, TestSpark.sf001)

  /** A sorted aggregate over a filtered scan: without the rule, a hash
    * exchange and a range exchange. */
  private def sortedAggregate(in: DataFrame): DataFrame =
    in.filter(col("o_totalprice") > 1000.0)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  test("a small sorted aggregate runs as one Spark job with no exchange and keeps its pushed filters") {
    val df = sortedAggregate(orders)
    assert(onePartition(df), df.queryExecution.optimizedPlan.treeString)
    val expected = TestSpark.withoutAutoBroadcast(sortedAggregate(orders).collect().toSeq)
    var got = Seq.empty[org.apache.spark.sql.Row]
    assert(TestSpark.sparkJobsIn { got = df.collect().toSeq } == 1)
    assert(got == expected)
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), plan.toString)
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    assert(scans.head.metadata.get("PushedFilters").exists(_ != "[]"), scans.head.metadata)
  }

  test("the queries whose at-scale exchanges the plan-shape specs pin run unshuffled at sf0.01") {
    for (name <- Seq("q45_first_last", "q47_scd2", "q53_sessionize", "q54_range_frame",
        "e2_embed_outliers", "e3_pack", "e4l_heavy_hitters", "e6_curriculum",
        "e6_global_shuffle", "e6_quota_sample")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.sf001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert("(?<!Broadcast)Exchange".r.findFirstIn(plan).isEmpty, s"$name:\n$plan")
    }
  }

  test("an aggregate computed twice keeps the exchange plan, which computes it once") {
    val byStatus = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    // the second copy outputs only n after column pruning, yet repeats the
    // same grouping over the same scan
    val df = byStatus.crossJoin(byStatus.agg(sum("n").as("total"))).orderBy("o_orderstatus")
    assert(!onePartition(df), df.queryExecution.optimizedPlan.treeString)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      df.queryExecution.executedPlan.toString)
    // two different aggregates of the same scan are not repeated work
    val byPriority = orders.groupBy("o_orderpriority").agg(count(lit(1)).as("m"))
    assert(onePartition(byStatus.crossJoin(byPriority)))
  }

  test("a self-join of an explode keeps the exchange plan; a self-join of a scan does not") {
    val exploded = orders.select(col("o_orderstatus"),
      explode(array(col("o_orderkey") % 7, col("o_custkey") % 7)).as("k"))
    val df = exploded.as("a").join(exploded.as("b"), col("a.k") === col("b.k"))
      .select(col("a.o_orderstatus"), col("b.o_orderstatus"))
    assert(!onePartition(df), df.queryExecution.optimizedPlan.treeString)
    val scans = orders.select(col("o_custkey"), col("o_orderstatus"))
    assert(onePartition(scans.as("a").join(scans.as("b"), col("a.o_custkey") === col("b.o_custkey"))))
  }

  test("a checkpoint whose size Spark knows qualifies; an RDD of unknown size does not") {
    val checkpointed = orders.localCheckpoint()
    assert(onePartition(sortedAggregate(checkpointed)))
    val unknown = spark.createDataFrame(checkpointed.rdd, checkpointed.schema)
    assert(!onePartition(sortedAggregate(unknown)))
    // an RDD of unknown size reports spark.sql.defaultSizeInBytes, which is
    // not a size even when it is small
    TestSpark.withConf("spark.sql.defaultSizeInBytes", "1000") {
      assert(!onePartition(sortedAggregate(spark.createDataFrame(checkpointed.rdd, checkpointed.schema))))
    }
  }

  test("inputs over the threshold, or a threshold of -1, leave the plan as it was") {
    for (v <- Seq("1000", "-1")) TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", v) {
      val df = sortedAggregate(orders)
      assert(!onePartition(df), s"threshold $v")
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("Exchange"), s"threshold $v")
    }
  }

  test("rand, monotonically_increasing_id and sample leave the plan as it was") {
    assert(!onePartition(sortedAggregate(orders.filter(rand(7) < 0.5))))
    assert(!onePartition(sortedAggregate(orders.filter(monotonically_increasing_id() % 2 === 0))))
    assert(!onePartition(sortedAggregate(orders.sample(0.5, 7))))
  }

  test("a Range leaf keeps the partition count its caller chose") {
    val df = spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count()
    assert(!onePartition(df))
    assert(spark.range(0, 1000, 1, 4).queryExecution.toRdd.getNumPartitions == 4)
  }

  test("a streaming query over a small file source is left as it was") {
    val dir = TestSpark.tmpDir("one-partition-stream")
    spark.range(100).toDF("k").write.mode("overwrite").parquet(s"$dir/in")
    val q = spark.readStream.schema(StructType(Seq(StructField("k", LongType))))
      .parquet(s"$dir/in")
      .groupBy(col("k") % 3).count()
      .writeStream.format("memory").queryName(s"one_partition_${System.nanoTime()}")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/checkpoint").start()
    try q.awaitTermination()
    finally q.stop()
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(last != null && last.optimizedPlan.isStreaming)
    assert(!wrapped(last.optimizedPlan), last.optimizedPlan.treeString)
  }
}
