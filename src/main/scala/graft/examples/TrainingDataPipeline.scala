package graft.examples

import graft.functions.Hashes
import graft.model._
import graft.ops.{Dedup, TextOps}
import graft.runner.BatchRunner
import graft.store.AdminStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end example: a training-data curation batch wired through the
  * control plane. Four dependent jobs in declaration order (declaration
  * order IS the schedule):
  *
  *   1. dedup      — drop exact duplicates and near-duplicates (Jaccard
  *                   >= 0.8 keeps the lower doc_id),
  *   2. quality    — keep documents above a quality score threshold,
  *   3. features   — attach token counts, language guess, fingerprints,
  *   4. chunk_pack — split the curated text into overlapping context
  *                   windows and pack them into fixed token budgets (the
  *                   pre-training batching tables), with a data test
  *                   asserting the greedy packing's overflow bound,
  *   5. publish    — write the curated corpus, with data tests asserting it
  *                   is non-empty and exact-duplicate-free (the near-dup
  *                   absence property is asserted in PipelineSpec).
  *
  * Each job reads its predecessor's output table: the pipeline is restart-
  * able per job, cadence-gated, and every run is recorded in the admin
  * store. This is the reference's JobSpec composition model with Spark
  * DataFrames as the transformation vocabulary.
  */
object TrainingDataPipeline {

  def batch(sfDir: String, outDir: String): Batch = {
    val deduped = s"$outDir/deduped"
    val filtered = s"$outDir/filtered"
    val features = s"$outDir/features"

    val dedup = SimpleJob("dedup_documents",
      runFn = (s, log) => {
        val docs = graft.Tables.documents(s, sfDir)
        val exactKeep = Dedup.e1ExactDedup(s, sfDir).select("keeper")
        // cluster-based keeper selection: resolve connected components of
        // the >= 0.8 near-dup graph and drop every non-canonical member.
        // Pair-based drops (remove every `db`) miss docs whose only path
        // to the cluster minimum runs through a LARGER doc_id — components
        // catch those. Pairs come from the LSH path (the production shape;
        // e1NgramJaccard is the small-scale exact verifier of the same
        // set), PERSISTED as a table under the pipeline's own output dir:
        // the pairwise stage runs once, survives executor loss, and a
        // restarted run (or any downstream consumer) reads the table
        // instead of recomputing it.
        val pairs = Dedup.materializedPairTable(s, sfDir, s"$outDir/pairs")
          .filter(col("jaccard") >= 0.8).select("da", "db")
        // components via the one connected-components entry point:
        // min-id labels, O(log n) distributed rounds on a deep graph, a
        // driver finish once the edges fit (DedupStarSpec pins both
        // paths to a union-find replica)
        val losers = Dedup
          .connectedComponentsStar(docs.select(col("doc_id")), pairs)._1
          .filter(col("cluster") =!= col("doc_id")).select("doc_id")
        docs
          .join(exactKeep, docs("doc_id") === exactKeep("keeper"), "left_semi")
          .join(losers, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(deduped)
        log.info(s"dedup wrote $deduped")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val n = s.read.parquet(deduped).count()
        if (n > 0) Seq(SimpleTestResult.passing("survivors exist"))
        else Seq(SimpleTestResult.failing("survivors exist", "0 rows"))
      })

    val quality = SimpleJob("quality_filter", dependencies = Seq("dedup_documents"),
      runFn = (s, log) => {
        val docs = s.read.parquet(deduped)
        val sw = TextOps.Stopwords.map(w => s"'$w'").mkString(",")
        val scored = docs
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("nsw", size(expr(
            s"filter(split(text, ' '), t -> t IN ($sw))")))
          .withColumn("score", TextOps.qualityScore(col("n_tokens"), col("nsw")))
        // keep n_tokens so downstream jobs read it instead of re-tokenizing
        scored.filter(col("score") >= 0.2).drop("nsw")
          .write.mode("overwrite").parquet(filtered)
        log.info(s"quality filter wrote $filtered")
        JobStatus.Successful
      })

    val featurize = SimpleJob("featurize", dependencies = Seq("quality_filter"),
      runFn = (s, log) => {
        val docs = s.read.parquet(filtered)
        docs
          .withColumn("fingerprint", Hashes.rollingHash(col("text")))
          .withColumn("simhash", Hashes.simHash(col("text")))
          .write.mode("overwrite").parquet(features)
        log.info(s"featurize wrote $features")
        JobStatus.Successful
      })

    val chunkPack = SimpleJob("chunk_pack", dependencies = Seq("featurize"),
      runFn = (s, log) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
        TextOps.chunked(s.read.parquet(features), keep = Seq("source"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("pack_id",
            expr(s"(cum - n_tokens) div ${TextOps.PackBudget}"))
          .drop("cum")
          .write.mode("overwrite").parquet(s"$outDir/chunks")
        log.info(s"chunk_pack wrote $outDir/chunks")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val chunks = s.read.parquet(s"$outDir/chunks")
        if (chunks.isEmpty)
          // the bound is unevaluable over zero rows (max() is null):
          // report the designed failure instead of tripping on the null
          Seq(SimpleTestResult.failing("chunks exist", "0 rows"))
        else {
          // greedy-by-running-sum bound: a pack holds at most budget - 1
          // tokens before its last chunk starts, so pack_tokens can exceed
          // the budget by at most one chunk's width
          val worst = chunks.groupBy("source", "pack_id")
            .agg(sum(col("n_tokens")).as("pack_tokens"))
            .agg(max(col("pack_tokens"))).head().getLong(0)
          val bound = TextOps.PackBudget + TextOps.ChunkTokens - 1
          Seq(SimpleTestResult.passing("chunks exist"),
            if (worst <= bound) SimpleTestResult.passing("pack overflow bound")
            else SimpleTestResult.failing("pack overflow bound",
              s"max pack $worst > $bound"))
        }
      })

    val publish = SimpleJob("publish_corpus", dependencies = Seq("featurize"),
      runFn = (s, log) => {
        s.read.parquet(features)
          .write.mode("overwrite").parquet(s"$outDir/corpus")
        log.info(s"published $outDir/corpus")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val corpus = s.read.parquet(s"$outDir/corpus")
        val n = corpus.count()
        val dupFree = corpus.groupBy(md5(lower(trim(col("text")))))
          .count().filter(col("count") > 1).count() == 0
        Seq(
          if (n > 0) SimpleTestResult.passing("corpus non-empty")
          else SimpleTestResult.failing("corpus non-empty", "0 rows"),
          if (dupFree) SimpleTestResult.passing("no exact duplicates")
          else SimpleTestResult.failing("no exact duplicates", "dup groups remain"))
      })

    val profile = SimpleJob("profile_corpus", dependencies = Seq("publish_corpus"),
      runFn = (s, log) => {
        // the E8 data-quality publication: a per-column fingerprint of the
        // shipped corpus (the profile an operator diffs between runs — see
        // ops.Analysis.e8Profile/e8Drift for the declared-query forms).
        // ONE pass; the multi-DISTINCT shares the scan via Expand.
        val corpus = s.read.parquet(s"$outDir/corpus")
        val cols = Seq("doc_id", "source", "lang", "n_tokens")
        val aggs = cols.flatMap { c => Seq(
          (count(lit(1)) - count(col(c))).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")) }
        corpus.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${cols.size}, " +
            cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ") +
            ") AS (column_name, n_nulls, n_distinct)")
          .write.mode("overwrite").parquet(s"$outDir/profile")
        log.info(s"profiled $outDir/profile")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val p = s.read.parquet(s"$outDir/profile").collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        Seq(
          if (p.size == 4) SimpleTestResult.passing("profile covers all columns")
          else SimpleTestResult.failing("profile covers all columns", s"${p.size} rows"),
          if (p.get("doc_id").exists(_._1 == 0))
            SimpleTestResult.passing("doc_id has no nulls")
          else SimpleTestResult.failing("doc_id has no nulls",
            s"${p.get("doc_id").map(_._1)} nulls"))
      })

    val splitCorpus = SimpleJob("split_corpus", dependencies = Seq("publish_corpus"),
      runFn = (s, log) => {
        // leakage-safe train/val/test: dedup DROPPED only >= 0.8
        // near-copies, but for SPLITTING the bar is stricter — any
        // >= 0.2-similar pair straddling train/test is soft contamination
        // (shared passages, templates). So the split key is the
        // connected-component label over the FULL persisted pair table
        // (no jaccard filter), and the gate is the same splitmix slot as
        // the declared e6_cluster_split. Related-but-kept documents land
        // in the same split by construction.
        val corpus = s.read.parquet(s"$outDir/corpus")
        val pairs = Dedup.materializedPairTable(s, sfDir, s"$outDir/pairs")
          .select("da", "db")
        val cl = Dedup.connectedComponentsStar(corpus.select(col("doc_id")), pairs)._1
        val slotC = graft.ops.Sampling.slot(col("cluster"),
          graft.ops.Sampling.SplitSalt)
        corpus.join(cl, Seq("doc_id"))
          .withColumn("split",
            when(slotC < 90, "train").when(slotC < 95, "val")
              .otherwise("test"))
          .drop("cluster")
          .write.mode("overwrite").parquet(s"$outDir/splits")
        log.info(s"split_corpus wrote $outDir/splits")
        JobStatus.Successful
      },
      testFn = (s, _) => {
        val splits = s.read.parquet(s"$outDir/splits")
          .select("doc_id", "split")
        val pairs = s.read.parquet(s"$outDir/pairs").select("da", "db")
        // the no-leakage invariant: no persisted near-dup pair may have
        // surviving endpoints in different splits
        val straddle = pairs
          .join(splits.withColumnRenamed("doc_id", "da")
            .withColumnRenamed("split", "sa"), Seq("da"))
          .join(splits.withColumnRenamed("doc_id", "db")
            .withColumnRenamed("split", "sb"), Seq("db"))
          .filter(col("sa") =!= col("sb")).count()
        val perSplit = splits.groupBy("split").count().count()
        Seq(
          if (straddle == 0) SimpleTestResult.passing("no near-dup pair straddles splits")
          else SimpleTestResult.failing("no near-dup pair straddles splits",
            s"$straddle straddling pairs"),
          if (perSplit == 3) SimpleTestResult.passing("all three splits populated")
          else SimpleTestResult.failing("all three splits populated",
            s"$perSplit splits"))
      })

    Batch("training_data_curation",
      Seq(dedup, quality, featurize, chunkPack, publish, profile, splitCorpus))
  }

  /** Convenience runner for manual use: sbt "runMain graft.examples.TrainingDataPipeline". */
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val out = args.headOption.getOrElse("/tmp/graft_pipeline")
    val store = new AdminStore(spark, s"$out/admin")
    val status = new BatchRunner(spark, store, logToConsole = true)
      .run(batch(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"), out))
    println(s"batch=${status.name} broken=${status.brokenJobs} " +
      s"millis=${status.executionMillis}")
    spark.stop()
    if (status.brokenJobs.nonEmpty) sys.exit(1)
  }
}
