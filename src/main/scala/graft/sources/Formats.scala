package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink format helpers (SURVEY.md §2 scans/sources/sinks). The
  * engine's canonical storage is parquet (columnar, splittable, predicate
  * pushdown); CSV/JSON exist for interchange and ORC as a columnar
  * alternative. Readers always take an explicit schema — schema inference
  * is a full extra pass over the data and is wrong at 100 TB. */
object Formats {

  def readParquet(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  def writeParquet(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  def readCsv(s: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    s.read.schema(schema)
      .option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  def writeCsv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  def readJson(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned-by-column parquet sink: the layout that makes partition
    * pruning work for the retention/date-range scans (Q02/Q06 shapes). */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(cols: _*).parquet(path)

  /** Schema-evolved parquet read: unions the footer schemas of every file
    * under `path`, so a table whose files span schema versions (columns
    * added over years of ingest — the normal state of a 100 TB corpus)
    * reads as one frame with nulls for columns a file predates. This is
    * an explicit helper, not the readParquet default, because merging
    * costs a footer pass over EVERY file at planning time — the steady
    * state should pin the current schema via readParquet/schema(), and
    * reach for this one during migrations and backfills. */
  def readParquetEvolved(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetBytes` each. Streaming ingest and fine-grained partitioned
    * writes both strand corpora in thousands-of-tiny-files layouts, and at
    * 100 TB that is a real query-side tax — every file costs a footer
    * read, a task-schedule round trip, and its own (worthless) row-group
    * statistics, so scan parallelism is driven by file count instead of
    * data size. The target file count comes from the CURRENT on-disk
    * bytes (a filesystem listing, no data pass); rows are re-dealt
    * round-robin into exactly that many writers via `repartition(n)` —
    * the rebalance is the one full shuffle this costs, paid once to make
    * every later scan cheap. Pass `sortCol` to instead range-partition +
    * sort-within-partitions on a key: same file count, but each output
    * file then covers a tight key range, so min/max row-group stats prune
    * scans filtered on that key (poor-man's clustering — the single most
    * effective layout lever parquet offers). Writes to a sibling tmp dir
    * and swaps it in with the set-aside-then-rename discipline of the
    * AdminStore's swapWrite, so a reader never sees a half-compacted
    * table. */
  def compactParquet(s: SparkSession, path: String,
      targetBytes: Long = 128L << 20, sortCol: Option[String] = None): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = s.read.parquet(path)
    val staged = sortCol match {
      case Some(c) =>
        df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(c))
          .sortWithinPartitions(c)
      case None => df.repartition(nFiles)
    }
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    staged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.delete(bak, true)
    if (!fs.rename(hPath, bak))
      throw new java.io.IOException(s"compact: cannot displace $path")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // roll back — the original is untouched
      throw new java.io.IOException(s"compact: cannot publish $tmp")
    }
    fs.delete(bak, true)
    nFiles
  }
}
