package graftbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run: each is the median over the traced
  * ops of its per-op value. */
object Layers {
  val Units: ListMap[String, String] = ListMap(
    "runner.self_s" -> "s", "runner.jobs_run" -> "count",
    "runner.jobs_skipped" -> "count", "runner.retries" -> "count",
    "store.write_calls" -> "count", "store.read_calls" -> "count",
    "store.write_s" -> "s", "store.read_s" -> "s",
    "store.spark_jobs" -> "count", "store.files" -> "count",
    "ops.construct_s" -> "s", "ops.plan_s" -> "s", "ops.exec_s" -> "s",
    "ops.spark_jobs" -> "count", "ops.stages" -> "count", "ops.tasks" -> "count",
    "ops.task_cpu_s" -> "s", "ops.task_run_s" -> "s", "ops.gc_s" -> "s",
    "ops.driver_wait_s" -> "s", "ops.cpu_ratio" -> "ratio",
    "ops.shuffle_read_bytes" -> "B", "ops.shuffle_write_bytes" -> "B",
    "ops.spill_bytes" -> "B", "ops.output_rows" -> "count",
    "memo.builds" -> "count", "memo.build_s" -> "s", "memo.reads" -> "count",
    "memo.cached_bytes" -> "B",
    "trace.op_s_p50" -> "s", "trace.overhead" -> "ratio",
    "trace.unaccounted_s" -> "s")

  /** One traced op's values. `out.layers` carries what only the workload
    * knows (runner counts from the batch status, admin files, output rows
    * of a query); the rest comes from the spans and the
    * listener. */
  def perOp(out: OpOut, t: OpTrace, cores: Int): Map[String, Double] = {
    val ops = t.counts("ops.")
    val wall = out.wallS
    val cpuS = ops.cpuNs / 1e9
    val jobsRun = out.layers.get("runner.jobs_run")
    val spans = Map(
      "runner.self_s" -> t.self("runner"),
      "runner.retries" -> jobsRun.map(t.callCount("ops.run") - _).getOrElse(0.0),
      "store.write_calls" -> t.callCount("store.write").toDouble,
      "store.read_calls" -> t.callCount("store.read").toDouble,
      "store.write_s" -> t.self("store.write"),
      "store.read_s" -> t.self("store.read"),
      "store.spark_jobs" -> t.counts("store.").jobs.toDouble,
      "ops.construct_s" -> t.self("ops.construct"),
      "ops.plan_s" -> t.planS,
      "ops.exec_s" -> (t.self("ops.exec") + t.self("ops.run") + t.self("ops.test")),
      "ops.spark_jobs" -> ops.jobs.toDouble,
      "ops.stages" -> ops.stages.toDouble,
      "ops.tasks" -> ops.tasks.toDouble,
      "ops.task_cpu_s" -> cpuS,
      "ops.task_run_s" -> ops.runMs / 1e3,
      "ops.gc_s" -> ops.gcMs / 1e3,
      "ops.driver_wait_s" -> t.driverWaitS(wall),
      "ops.cpu_ratio" -> cpuS / (wall * cores),
      "ops.shuffle_read_bytes" -> ops.shuffleRead.toDouble,
      "ops.shuffle_write_bytes" -> ops.shuffleWrite.toDouble,
      "ops.spill_bytes" -> ops.spill.toDouble,
      "ops.output_rows" -> ops.rowsWritten.toDouble,
      "trace.unaccounted_s" -> (wall - t.selfS.values.sum))
    spans ++ out.layers
  }

  /** Per-layer values that count work rather than time. One program on one
    * input repeats them exactly, so two runs can be compared on them
    * without waiting for a quiet host. */
  val Counters: Seq[String] = Seq("runner.jobs_run", "runner.jobs_skipped",
    "runner.retries", "store.write_calls", "store.read_calls", "store.spark_jobs",
    "store.files", "ops.spark_jobs", "ops.stages", "ops.tasks", "ops.output_rows")

  /** The counters of every traced op, by op key (the query name, or the
    * batch number). Ops traced more than once under one key must agree;
    * `unstable` lists every counter that did not. */
  def counters(traced: Seq[(OpOut, OpTrace)], cores: Int): Map[String, Any] = {
    val byKey = traced.map { case (o, t) =>
      val row = perOp(o, t, cores)
      o.key -> ListMap(Counters.map(c => c -> row.getOrElse(c, 0.0).toLong): _*)
    }.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2) }
    val unstable = for {
      (k, rows) <- byKey.toSeq.sortBy(_._1)
      c <- Counters
      vs = rows.map(_(c)).distinct if vs.size > 1
    } yield s"$k $c ${vs.mkString("/")}"
    ListMap("by_op" -> ListMap(byKey.toSeq.sortBy(_._1).map { case (k, rows) =>
      k -> rows.head }: _*), "unstable" -> unstable)
  }

  /** Medians over the traced ops, except the values in `runLevel`, which
    * describe the whole run. */
  def summarize(traced: Seq[(OpOut, OpTrace)], cores: Int,
      runLevel: Map[String, Double], untracedP50: Double): Map[String, Any] = {
    if (traced.isEmpty) return ListMap.empty
    val rows = traced.map { case (o, t) => perOp(o, t, cores) }
    val tracedP50 = Stats.median(traced.map(_._1.wallS))
    val extra = runLevel ++ Map(
      "trace.op_s_p50" -> tracedP50,
      "trace.overhead" -> (tracedP50 / untracedP50 - 1))
    Units.map { case (k, unit) =>
      val v = extra.getOrElse(k, Stats.median(rows.map(_.getOrElse(k, 0.0))))
      k -> Main.metric(v, unit, if (extra.contains(k)) 1 else rows.size)
    }
  }
}
