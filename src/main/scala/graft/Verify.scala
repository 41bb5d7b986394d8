package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A query that throws is
  * reported (stderr and `failed.json` in the output dir) and makes the
  * main exit non-zero. */
object Verify {
  /** Write each query's result under `outDir/<name>`; returns the queries
    * that threw, with their errors. */
  def dump(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Map[String, String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }.toMap

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make a
    * json.load fail and silently zero the round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional "only=a,b,c" third arg: dump just those queries (fast
    // iteration on one oracle); oracle_sql.json is filtered to match so
    // check_oracle.py compares exactly what was dumped
    val only = args.lift(2).filter(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }, sfDir, outDir)
    def q(s: String): String = jsonString(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Local-gate accelerator (ops.Dedup.preludeSetup Scaladoc): ordered
    // temp-table definitions + exact-text rewrites that let
    // check_oracle.py run the MinHash chain once per scale instead of
    // once per consuming oracle. The driver ignores this file.
    val setup = ops.Dedup.preludeSetup
      .map { case (n, sql) => s"[${q(n)}, ${q(sql)}]" }.mkString("[", ",", "]")
    val rw = ops.Dedup.preludeRewrites
      .map { case (f, t) => s"[${q(f)}, ${q(t)}]" }.mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/oracle_prelude.json"),
      s"""{"setup": $setup, "rewrites": $rw}""")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failed.toSeq.sortBy(_._1)
      .map { case (n, e) => s"${q(n)}: ${q(e)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of the dumped queries failed: " +
        failed.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
