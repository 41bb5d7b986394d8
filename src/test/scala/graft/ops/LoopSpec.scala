package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The loop kernel (graft.ops.Loop): generation bookkeeping, the size
  * check, and the Spark jobs of the three declared queries built on it. */
class LoopSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def rddId(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  test("a round checkpoints the new generation, records its stats and releases the one it replaced") {
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    val loop = new Loop[Long]
    val g0 = loop.start(spark.range(100).toDF("x"))
    val (g1, n) = loop.round(g0.select((col("x") + 1).as("x")))(
      _.agg(count(lit(1))).head().getLong(0))
    assert(n == 100L && loop.rounds == 1 && loop.stats == Seq(100L))
    assert(persisted().contains(rddId(g1)), "the live generation stays")
    assert(!persisted().contains(rddId(g0)), "the replaced generation is released")
    assert(g1.agg(count(lit(1))).head().getLong(0) == 100L)
    loop.close()
    assert(!persisted().contains(rddId(g1)))
  }

  test("collectUnder is the size check and the fetch, in Spark row bytes; a negative budget skips it") {
    import spark.implicits._
    // (long, long) rows: Loop.EdgeBytes each, the size the handoff assumes
    val ds = spark.range(0, 10, 1, 3).select(col("id"), col("id") * 2).as[(Long, Long)]
    assert(Loop.collectUnder(ds, 10 * Loop.EdgeBytes).map(_.toSeq.sorted) ==
      Some((0L until 10L).map(i => (i, 2 * i))))
    assert(Loop.collectUnder(ds, 10 * Loop.EdgeBytes - 1).isEmpty)
    // variable-width rows count their data: "" is 16 B, "abcdefgh" 24 B
    val strs = Seq("", "abcdefgh").toDS()
    assert(Loop.collectUnder(strs, 40).map(_.toSeq.sorted) == Some(Seq("", "abcdefgh")))
    assert(Loop.collectUnder(strs, 39).isEmpty)
    assert(Loop.collectUnder(spark.range(0).as[Long], 0).map(_.toSeq) == Some(Nil))
    assert(Loop.collectUnder(spark.range(0).as[Long], Loop.ForceDistributed).isEmpty)
  }

  test("the size check is one job whose input stage keeps its partitions") {
    import spark.implicits._
    val sc = spark.sparkContext
    // one long column: 16 B a row
    for (budget <- Seq(16L * 1000, 16L * 999)) {
      val group = s"loop-check-${System.nanoTime()}"
      sc.setJobGroup(group, "size check")
      val got =
        try Loop.collectUnder(spark.range(0, 1000, 1, 4).as[Long], budget)
        finally sc.clearJobGroup()
      assert(got.map(_.toSeq.sorted) == (if (budget == 16000L) Some(0L until 1000L) else None))
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.length == 1, s"${jobs.length} jobs")
      val tasks = sc.statusTracker.getJobInfo(jobs.head).get.stageIds.toSeq
        .flatMap(sc.statusTracker.getStageInfo(_)).map(_.numTasks).sorted
      assert(tasks == Seq(1, 4), s"stage task counts $tasks")
    }
  }

  /** Spark jobs of one execution of `name`, built and written in full to
    * `noop` under a job group of its own (the OpsSpec construction probe). */
  private def jobs(name: String): Int = {
    val sc = spark.sparkContext
    val group = s"loop-jobs-$name-${System.nanoTime()}"
    sc.setJobGroup(group, name)
    try graft.SparkEntry.queries(name)(spark, TestSpark.sf001)
      .write.format("noop").mode("overwrite").save()
    finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  // On the fixture each query finishes on the driver, so its job count is
  // a property of the plan, not of a round count: it must repeat exactly
  // and stay well below the per-round loops' 17–33 jobs.
  for ((name, bound) <- Seq("e1_dedup_clusters_star" -> 6, "e2_kcenter" -> 4,
      "e9_pagerank" -> 4))
    test(s"$name runs at most $bound Spark jobs, the same count every time") {
      jobs(name) // the first execution pays the session's memo builds
      val counts = Seq(jobs(name), jobs(name))
      info(s"$name: $counts Spark jobs")
      assert(counts.distinct.size == 1, s"job count did not repeat: $counts")
      assert(counts.head <= bound, s"${counts.head} Spark jobs, bound $bound")
    }
}
