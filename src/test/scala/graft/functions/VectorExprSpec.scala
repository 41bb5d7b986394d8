package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 optimization pins: the native array<double> vector expressions
  * (vec_dot_d / vec_l2norm_d / vec_sqdist_d / vec_subsqdists_d / vec_adc_d)
  * must be BIT-IDENTICAL to the interpreted `aggregate(zip_with(...))` HOF
  * spellings they replaced in the hot e2/e5 paths — same index-ordered IEEE
  * fold, only the evaluation engine changes. Checked on the real fixture
  * embeddings (cast to double, the exact shape the call sites feed) so a
  * fold-order or accumulator-width mistake cannot hide behind friendly
  * values. Ragged pairs (one side a slot shorter) join the two-array
  * folds' checks: there the HOF null-pads and returns NULL, and so must
  * the native fold; the array kernels throw instead.
  */
class VectorExprSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  // corpus² double-array pairs off the fixture — every call-site shape
  private def pairs = {
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .limit(60)
    e.as("a").join(e.withColumnRenamed("vec_id", "oid")
      .withColumnRenamed("ed", "od").as("b"), col("vec_id") < col("oid"))
  }

  // the pairs plus 20 ragged ones, shortened on either side
  private def withRagged = pairs
    .unionByName(pairs.limit(10).withColumn("od", expr("slice(od, 1, size(od) - 1)")))
    .unionByName(pairs.limit(10).withColumn("ed", expr("slice(ed, 2, size(ed) - 1)")))

  /** Rows where native and HOF differ (null-safe), and rows where the
    * native fold is NULL. */
  private def diff(nat: org.apache.spark.sql.Column, hof: String): (Long, Long) = {
    val r = withRagged.withColumn("nat", nat).withColumn("hof", expr(hof))
    (r.filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count(),
      r.filter(col("nat").isNull).count())
  }

  test("vec_dot ≡ aggregate(zip_with(a, b, *), 0.0D, +) over floats bitwise") {
    assert(diff(Vectors.dot(col("ed").cast("array<float>"), col("od").cast("array<float>")),
      """aggregate(zip_with(CAST(ed AS ARRAY<FLOAT>), CAST(od AS ARRAY<FLOAT>),
        |(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,
        |(p, q) -> p + q)""".stripMargin) == ((0L, 20L)))
  }

  test("vec_dot_d ≡ aggregate(zip_with(a, b, *), 0.0D, +) bitwise") {
    assert(diff(Vectors.dotD(col("ed"), col("od")),
      "aggregate(zip_with(ed, od, (x, y) -> x * y), 0.0D, (p, q) -> p + q)") ==
      ((0L, 20L)))
  }

  test("vec_l2norm_d ≡ sqrt(aggregate(a, 0.0D, (acc, x) -> acc + x*x)) bitwise") {
    val bad = pairs.select(col("ed"))
      .withColumn("nat", Vectors.l2NormD(col("ed")))
      .withColumn("hof", expr(
        "sqrt(aggregate(ed, 0.0D, (a, x) -> a + x * x))"))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad == 0L)
    // and against the self-dot spelling rocchio used
    val bad2 = pairs.select(col("ed"))
      .withColumn("nat", Vectors.l2NormD(col("ed")))
      .withColumn("hof", expr(
        """sqrt(aggregate(zip_with(ed, ed, (x, y) -> x * y), 0.0D,
          |(p, q) -> p + q))""".stripMargin))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad2 == 0L)
  }

  test("vec_sqdist_d ≡ aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0D, +) bitwise") {
    assert(diff(Vectors.sqDistD(col("ed"), col("od")),
      """aggregate(zip_with(ed, od, (x, y) -> (x - y) * (x - y)),
        |0.0D, (p, q) -> p + q)""".stripMargin) == ((0L, 20L)))
  }

  test("the array kernels throw on arrays of different lengths, naming both") {
    val r = pairs.limit(1).withColumn("od", expr("slice(od, 1, size(od) - 1)"))
    Seq(
      "vec_sub_d" -> Vectors.subD(col("ed"), col("od")),
      "vec_submul_d" -> Vectors.subMulD(col("ed"), col("od"), lit(0.5)),
      "vec_subsqdists_d" -> Vectors.subSqDistsD(col("ed"), col("od"),
        Similarity2.PqM, Similarity2.PqDsub)
    ).foreach { case (fn, c) =>
      val e = intercept[Exception](r.select(c).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(s"$fn: array lengths differ (64 and 63)"), msgs)
    }
  }

  test("vec_subsqdists_d ≡ the transform/slice HOF per-subspace distances bitwise") {
    val m = Similarity2.PqM; val dsub = Similarity2.PqDsub
    val bad = pairs
      .withColumn("nat", Vectors.subSqDistsD(col("ed"), col("od"), m, dsub))
      .withColumn("hof", expr(
        s"""transform(sequence(0, ${m - 1}), j ->
           |  aggregate(zip_with(slice(ed, j * $dsub + 1, $dsub),
           |                     slice(od, j * $dsub + 1, $dsub),
           |                     (x, y) -> (x - y) * (x - y)),
           |            0.0D, (p, q) -> p + q))""".stripMargin))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad == 0L)
  }

  test("vec_adc_d ≡ the sequence/element_at HOF lookup fold bitwise") {
    val m = Similarity2.PqM; val ksub = Similarity2.PqKsub
    // synthetic codes (deterministic from vec_id) + a lookup table built
    // from the embedding itself padded to m·ksub entries
    val rows = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("codes", expr(
        s"transform(sequence(0, ${m - 1}), j -> (vec_id + j) % $ksub)"))
      .withColumn("dt", expr(
        s"transform(sequence(0, ${m * ksub - 1}), i -> " +
          "element_at(ed, CAST(i % size(ed) AS INT) + 1) * (i + 1))"))
    val bad = rows
      .withColumn("nat", Vectors.adcDistD(col("codes"), col("dt"), m, ksub))
      .withColumn("hof", expr(
        s"""aggregate(sequence(0, ${m - 1}), 0.0D, (acc, j) ->
           |  acc + element_at(dt,
           |    CAST(j * $ksub + element_at(codes, j + 1) + 1 AS INT)))"""
          .stripMargin))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad == 0L)
  }

  test("vec_sub_d ≡ zip_with(a, b, (x, y) -> x - y) bitwise") {
    val bad = pairs
      .withColumn("nat", Vectors.subD(col("ed"), col("od")))
      .withColumn("hof", expr("zip_with(ed, od, (x, y) -> x - y)"))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad == 0L)
  }

  test("vec_submul_d ≡ zip_with(a, b, (x, y) -> x - s * y) bitwise") {
    // s is itself a derived dot column — the abtt residual shape, where
    // CollapseProject inlines the alias into the HOF lambda
    val bad = pairs
      .withColumn("s", Vectors.dotD(col("ed"), col("od")))
      .withColumn("nat", Vectors.subMulD(col("ed"), col("od"), col("s")))
      .withColumn("hof", expr("zip_with(ed, od, (x, y) -> x - s * y)"))
      .filter(expr("NOT (CAST(nat AS STRING) <=> CAST(hof AS STRING))")).count()
    assert(bad == 0L)
  }

  test("vec_signbits ≡ the aggregate(sequence(...)) sign fold bitwise") {
    val hofSql = (c: String) =>
      s"aggregate(sequence(0, size($c) - 1), 0L, (acc, i) -> " +
        s"acc + CASE WHEN element_at($c, i + 1) > 0.0D " +
        "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE 0L END)"
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val bad = e
      .withColumn("nat", Vectors.signBits(col("embedding")))
      .withColumn("hof", expr(hofSql("embedding")))
      .filter(expr("NOT (nat <=> hof)")).count()
    assert(bad == 0L)
    // null elements contribute 0 in both spellings (the HOF's CASE falls
    // through on a NULL comparison; the native loop skips null slots)
    val withNulls = e.withColumn("emb2", expr(
      """transform(embedding,
        |  (x, i) -> CASE WHEN i % 7 = 3 THEN CAST(NULL AS FLOAT)
        |            ELSE x END)""".stripMargin))
    val bad2 = withNulls
      .withColumn("nat", Vectors.signBits(col("emb2")))
      .withColumn("hof", expr(hofSql("emb2")))
      .filter(expr("NOT (nat <=> hof)")).count()
    assert(bad2 == 0L)
    // >64 elements: the HOF's shiftleft wraps mod 64 and keeps ADDING —
    // the native fold mirrors the wrap-and-add exactly (fixture width is
    // 64; this pins the documented equivalence at ANY length)
    val wide = e.withColumn("emb2", expr(
      """transform(sequence(0, 69),
        |  i -> element_at(embedding, CAST(i % 64 AS INT) + 1))"""
        .stripMargin).cast("array<float>"))
    val bad3 = wide
      .withColumn("nat", Vectors.signBits(col("emb2")))
      .withColumn("hof", expr(hofSql("emb2")))
      .filter(expr("NOT (nat <=> hof)")).count()
    assert(bad3 == 0L)
  }
}

/** PQ geometry constants mirrored for the spec (the real ones are
  * private-package values in graft.ops.Similarity; a drift here fails the
  * subspace test rather than silently testing the wrong split). */
private object Similarity2 {
  val PqM: Int = graft.ops.Similarity.PqM
  val PqDsub: Int = graft.ops.Similarity.PqDsub
  val PqKsub: Int = graft.ops.Similarity.PqKsub
}
