package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query harnesses fail loud: a query that throws is reported as a
  * failure by Bench and Verify, never timed as a fast query or dropped. */
class HarnessSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "good_query" -> ((s: SparkSession, _: String) => s.range(5).toDF()),
    "throwing_query" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("injected failure")))

  test("Bench reports a throwing query in `failed` and scores no time for it") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val medians = Bench.measure(queries.map(_._1), 3, failed) { name =>
      Bench.timed(failed, name)(queries.toMap.apply(name)(spark, "unused").count())
    }
    assert(medians.map(_._1) == Seq("good_query"))
    assert(failed.keySet == Set("throwing_query"))
    assert(failed("throwing_query").contains("injected failure"))
    val fields = Bench.failedFields(failed)
    assert(fields.contains("\"failed\":{\"throwing_query\":"))
    assert(fields.contains("\"n_failed\":1,"))
  }

  test("Verify dumps the good queries and returns the throwing one") {
    val out = TestSpark.tmpDir("verify")
    val failed = Verify.dump(spark, queries, "unused", out)
    assert(failed.keySet == Set("throwing_query"))
    assert(failed("throwing_query").contains("injected failure"))
    assert(spark.read.parquet(s"$out/good_query").count() == 5)
    assert(!new java.io.File(s"$out/throwing_query").exists())
  }
}
