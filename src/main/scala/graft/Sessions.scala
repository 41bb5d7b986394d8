package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local session. Scale-relevant
  * defaults: AQE on (runtime coalescing + skew-join splitting), shuffle
  * partitions sized to the local core count (on a real cluster this would be
  * ~2-3× total cores), UTC session TZ for oracle parity, nanos-as-long so the
  * driver fixtures' TIMESTAMP(NANOS) column is readable. The optimizer runs
  * [[OnePartition]]: a batch query whose inputs together fit under
  * `spark.sql.autoBroadcastJoinThreshold`, and that repeats no aggregate,
  * join, window or self-joined explode, is planned as one partition, with
  * no shuffle and no sort-sampling job; other plans are left as they were. */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // FAIR mode so BatchRunner.runInParallel's per-batch scheduler pools
      // actually isolate batches (pools are a no-op under default FIFO)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture timestamps are naive (isAdjustedToUTC=false). Read them as
      // TimestampType under the UTC session TZ — the oracle (DuckDB) treats
      // them the same way — instead of TIMESTAMP_NTZ, which Spark 4 would
      // otherwise infer and which breaks unix_micros/date arithmetic parity.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // The whole-stage-codegen cache defaults to 100 compiled classes —
      // a session that executes the full 148-query library (Bench, Verify,
      // Plans) evicts constantly and re-runs Janino on every repetition,
      // which BENCH_r06 showed as a fake up-to-13× "regression" on
      // late-measured queries. The library has ~500 distinct codegen
      // stages; 10k entries keeps them all resident for the session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!spark.experimental.extraOptimizations.contains(OnePartition))
      spark.experimental.extraOptimizations :+= OnePartition
    functions.Registry.registerAll(spark)
    spark
  }
}
