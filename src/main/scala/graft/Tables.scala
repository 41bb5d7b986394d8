package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.apache.spark.sql.Column

/** Readers for the driver fixture tables (TESTDATA.md) + shared
  * determinism helpers used by every declared query.
  *
  * Determinism contract (SURVEY.md §2.B): every declared query ends with a
  * total ORDER BY; double aggregates are rounded; timestamps leave the plan
  * as formatted strings or epoch micros so the Spark result and the DuckDB
  * oracle hash identically regardless of timestamp physical type.
  */
object Tables {
  /** `spark.read.parquet` runs a footer-reading schema-inference job on
    * every call, so an un-memoized reader makes QUERY CONSTRUCTION launch
    * Spark jobs (one per table touched) every time the query map is
    * traversed. The fixture tables are immutable inputs, so the base
    * DataFrame is a session [[Memo]] (no ledger entry): construction after
    * first touch is job-free, the same property a catalog with known
    * schemas gives a real deployment. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Memo.get(spark, s"$name.parquet", dir)(spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in every session we
    * build — see Sessions). Under that flag ts arrives as INT64 nanos; the
    * fixture data is µs-precision so `div 1000` is lossless. Normalized here
    * once so every downstream query sees a plain TimestampType column. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Events restricted to ts < `hi`, with the predicate applied to the RAW
    * nanos column BEFORE conversion so it reaches the parquet scan as a
    * pushed filter (row-group pruning on the ts column). The generic
    * events() reader converts first, which hides the predicate from the
    * scan — fine for full scans, wrong for retention-style range scans. */
  def eventsBefore(s: SparkSession, d: String, hi: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        val inst = java.time.Instant.parse(hi.replace(" ", "T") + "Z")
        val hiNanos = inst.getEpochSecond * 1000000000L + inst.getNano
        raw.filter(col("ts") < lit(hiNanos))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.filter(col("ts") < tsLit(hi))
    }
  }

  /** Timestamp (or NTZ) → "yyyy-MM-dd" string. */
  def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Timestamp (or NTZ) → "yyyy-MM-dd HH:mm:ss.SSSSSS" (micros, matches
    * DuckDB strftime '%Y-%m-%d %H:%M:%S.%f'). */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Epoch microseconds as BIGINT (matches DuckDB epoch_us). Session TZ is
    * UTC so NTZ→TZ cast is instant-preserving. */
  def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Literal timestamp for predicates; cast keeps NTZ/TZ comparison sane. */
  def tsLit(s: String): Column = to_timestamp(lit(s))

  def asLong(c: Column): Column = c.cast(LongType)
}
