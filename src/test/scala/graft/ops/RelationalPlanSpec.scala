package graft.ops

import graft.TestSpark
import graft.TestSpark.withoutAutoBroadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the round-1 "weak"-flagged queries: the
  * scale fix is the PLAN SHAPE, so the shape itself is pinned here (the
  * value-level behavior is pinned by the DuckDB oracles). */
class RelationalPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def finalPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    // AdaptiveSparkPlan prints "== Final Plan ==" followed by
    // "== Initial Plan ==" — keep only the final section so operators
    // aren't double-counted
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q19a: only the fixed-size dim is hint-broadcast; customer is size-gated") {
    withoutAutoBroadcast {
      val plan = finalPlan(Relational.q19aRegionRevenue(spark, TestSpark.sf001))
      val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
      // exactly one broadcast join: customer⋈(region⋈nation), whose dim side
      // carries the explicit hint. The orders⋈customer join must NOT be a
      // broadcast when the size-gate is off — a forced customer hint (the
      // round-1 scale hazard) would make this 2.
      assert(nBhj == 1, s"expected 1 hinted broadcast join, got $nBhj:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"fact-side joins must shuffle when broadcast is gated off:\n$plan")
    }
  }

  test("q27: the range join's equi-keys include the 5-minute time bucket") {
    withoutAutoBroadcast {
      val plan = finalPlan(Relational.q27RangeJoin(spark, TestSpark.sf001))
      val joinLine = plan.linesIterator
        .find(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(joinLine.isDefined, s"expected a shuffled join:\n$plan")
      // both bucket columns must be in the join key list (not just the
      // post-join condition) — that's what bounds per-key work at scale
      assert(joinLine.get.contains("cb#") && joinLine.get.contains("vb#"),
        s"bucket keys missing from join keys: ${joinLine.get}")
    }
  }

  test("q47: both SCD2 windows ride one hash exchange (lag and lead share the sort)") {
    val plan = withoutAutoBroadcast(finalPlan(Relational.q47Scd2(spark, TestSpark.sf001)))
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).length
    // lag runs pre-filter and lead post-filter over the SAME
    // (o_custkey)/(date, orderkey) window spec — Catalyst must reuse the
    // partitioning+sort, so the corpus crosses exactly one hash exchange
    // (the trailing ORDER BY adds only a range exchange)
    assert(nHash == 1, s"expected 1 hash exchange for the SCD2 windows, got $nHash:\n$plan")
    assert("Window".r.findAllIn(plan).length >= 2, s"expected two window ops:\n$plan")
  }

  test("q25: percentiles aggregate to a cents histogram before any window") {
    val plan = finalPlan(Relational.q25Percentile(spark, TestSpark.sf001))
    // the round-3 hazard: row_number over a 3-value partition key sorts the
    // whole table in 3 window partitions (3 tasks at any scale)
    assert(!plan.contains("row_number"),
      s"q25 must not rank raw rows in a per-flag window:\n$plan")
    val lines = plan.linesIterator.toVector
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, s"expected a cumulative window:\n$plan")
    // plans print top-down, so the window's INPUT aggregate appears below
    // it: the cumulative sum must consume the grouped (flag, cents) domain,
    // not raw lineitem rows
    assert(lines.drop(wIdx + 1).exists(_.contains("HashAggregate")),
      s"the window must run over the aggregated cents histogram:\n$plan")
  }

  test("simhash pairs: hot band buckets are pruned by a broadcast anti join") {
    // asserted on the pre-AQE plan: at fixture scale no bucket exceeds the
    // cap, so the hot side is EMPTY and AQE's empty-relation propagation
    // removes the anti join from the final plan entirely — the cap is free
    // when it has nothing to drop. (The value-level behavior when a bucket
    // IS hot is pinned in OpsSpec's 300-identical-docs test.)
    val plan = Dedup.e1SimhashPairs(spark, TestSpark.sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"expected the MaxBandBucket stop-bucket anti join:\n$plan")
  }

  test("IVF: seed count grows as sqrt(n), not linearly with the corpus") {
    val e = spark.read.parquet(s"${TestSpark.sf001}/embeddings.parquet")
    def seedCount(df: DataFrame): Long =
      df.orderBy(org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id")), col("vec_id"))
        .limit(Similarity.ivfCells(df.count())).count()
    val n = e.count()
    assert(seedCount(e) == math.ceil(math.sqrt(n.toDouble)).toLong)
    // 3x-replicated corpus (new vec_ids) -> seeds grow sqrt(3)x (~1.73x),
    // NOT 3x: the broadcast stays sublinear as the corpus grows (the
    // round-1 hazard was an O(n) seed set)
    val big = (0 until 3).map(i =>
      e.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
      .reduce(_.unionByName(_))
    assert(seedCount(big) == math.ceil(math.sqrt(3.0 * n)).toLong)
    // and the query plan actually computes seeds with a distributed top-k
    val plan = Similarity.e2AnnIvf(spark, TestSpark.sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"seed selection should be a distributed top-k:\n$plan")
  }

  test("runtime bloom filter prunes the fact scan of a selective shuffle join") {
    // At 100 TB a selective dimension filter should reach the fact scan as
    // a runtime bloom filter (Spark's InjectRuntimeFilter), cutting the
    // shuffled fact rows before the join. The feature is size-gated by
    // default (10 GB application side), so the gates are lowered here to
    // prove the plan shape the production config would produce.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val orders = graft.Tables.orders(spark, TestSpark.sf001)
        .filter(col("o_totalprice") > 500000.0)
        .select("o_orderkey")
      val li = graft.Tables.lineitem(spark, TestSpark.sf001)
        .select("l_orderkey", "l_quantity")
      val j = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom filter on the fact side:\n$optimized")
      // and the filtered result is still correct
      val expect = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      assert(j.count() == expect.count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("e4l: the per-window rank prunes via WindowGroupLimit before the exchange") {
    val plan = withoutAutoBroadcast(finalPlan(
      graft.streaming.StreamOps.e4lHeavyHitters(spark, TestSpark.sf001)))
    // partial + final group-limit: each input partition ships <= K rows
    // per window into the rank exchange
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
    // the windowed count partial-aggregates map-side before its exchange
    assert(plan.contains("HashAggregate"), plan.take(400))
  }

  test("e2_ann_ivfpq: the query side (probe cells + ADC tables) rides a broadcast") {
    val plan = finalPlan(Similarity.e2AnnIvfPq(spark, TestSpark.sf0001))
    // the per-query state is tiny by construction (PqNQueries rows); it
    // must reach the cell join as a broadcast, never a corpus shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the probe/dt side broadcast:\n$plan")
  }

  test("e3_bm25 and e6_manifest: scans are column-pruned to what the op reads") {
    val bm = finalPlan(TextOps.e3Bm25(spark, TestSpark.sf001))
    val bmSchemas = "ReadSchema: [^\\n]+".r.findAllIn(bm).toList
    assert(bmSchemas.nonEmpty && bmSchemas.forall(s =>
      !s.contains("lang") && !s.contains("n_chars") && !s.contains("source")),
      s"bm25 must not read lang/source/n_chars:\n$bmSchemas")
    val mf = finalPlan(Sampling.e6Manifest(spark, TestSpark.sf001))
    val mfSchemas = "ReadSchema: [^\\n]+".r.findAllIn(mf).toList
    assert(mfSchemas.nonEmpty && mfSchemas.forall(s =>
      !s.contains("lang") && !s.contains("source")),
      s"manifest must not read lang/source:\n$mfSchemas")
    // manifest: the corpus crosses exactly one aggregate exchange (+ the
    // final 8-row sort exchange)
    assert("Exchange".r.findAllIn(mf).length <= 2,
      s"manifest should shuffle once before the tiny sort:\n$mf")
  }

  test("q51_lateral decorrelates to one rank-filter join — no per-row subquery loop") {
    val plan = finalPlan(Relational.q51Lateral(spark, TestSpark.sf001))
    // Catalyst must rewrite the correlated LIMIT subquery into a window
    // group-limit / rank over ONE customer scan joined to nation — the
    // q18_topk physical shape
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
      s"lateral LIMIT should become a window rank:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"one scan per table, no re-scan per outer row:\n$plan")
  }

  test("q53: both windows AND the session aggregate ride ONE user_id exchange") {
    val plan = withoutAutoBroadcast(finalPlan(Relational.q53Sessionize(spark, TestSpark.sf001)))
    // lag window, running-sum window, and groupBy(user_id, session_no) all
    // run inside hashpartitioning(user_id); only the display orderBy adds a
    // range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange (user_id), got $hashEx:\n$plan")
  }

  test("e2_ann_multiprobe: probe fan-out is a scan-side explode, no loop join") {
    val plan = finalPlan(Similarity.e2AnnMultiprobe(spark, TestSpark.sf001))
    assert(plan.contains("Generate explode"),
      s"probe buckets must come from a scan-side explode:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucket probe must stay an equi-join:\n$plan")
  }

  test("q54: both RANGE windows ride ONE o_custkey exchange") {
    val plan = withoutAutoBroadcast(finalPlan(Relational.q54RangeFrame(spark, TestSpark.sf001)))
    // sum and count share the same (custkey)/(day) window spec, so the
    // orders table crosses exactly one hash exchange; only the display
    // orderBy adds a range exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange (o_custkey), got $hashEx:\n$plan")
  }

  test("q45: all three full-frame navigation functions ride ONE o_custkey exchange") {
    val plan = withoutAutoBroadcast(finalPlan(Relational.q45FirstLast(spark, TestSpark.sf001)))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange (o_custkey), got $hashEx:\n$plan")
    // one Window node computes first/last/nth together — a second node
    // would mean the frames stopped sharing the sort
    val winNodes = "\\bWindow\\b".r.findAllIn(plan).length
    assert(winNodes == 1, s"expected 1 Window node, got $winNodes:\n$plan")
  }

  test("sampled audits: the fixed-size query sample rides a broadcast, never a shuffle") {
    withoutAutoBroadcast {
      // the sampled exact side is hint-broadcast (sample × block join) —
      // with auto-broadcast off, any BroadcastHashJoin present is OURS
      val plan = finalPlan(Similarity.e2AnnRecallSampled(spark, TestSpark.sf0001))
      assert(plan.contains("BroadcastHashJoin"),
        s"sampled exact side should broadcast the 64-query sample:\n${plan.take(2000)}")
      // and the sample itself is a TakeOrdered (global top-K by mixed id),
      // not a full sort
      assert(plan.contains("TakeOrderedAndProject"),
        "fixed-size sample should be TakeOrdered, not Sort+Limit over a full sort")
    }
  }

  test("e1_kmv_global: the n-way merge stage ranks sketch rows, not the corpus") {
    val plan = finalPlan(Dedup.e1KmvGlobal(spark, TestSpark.sf0001))
    // the global rank window is unpartitioned BY DESIGN — its input must
    // be the per-source sketch union (bounded |sources|·K), which appears
    // in the plan as the rn <= K filter feeding it
    assert(plan.contains("rn#") || plan.contains("grn"),
      s"expected the sketch-rank chain in the plan:\n${plan.take(1500)}")
    val winNodes = "\\bWindow\\b".r.findAllIn(plan).length
    assert(winNodes >= 2, "per-source rank window + global sketch rank window")
  }

  test("every unpartitioned window in the declared set runs over a bounded domain") {
    // `sbt test` logs `WindowExec: No Partition Defined` warnings; this
    // audit pins exactly WHICH declared queries own one and proves each
    // such window consumes a DOMAIN-BOUNDED input — an Aggregate whose
    // keys are value/vocabulary/day/source domains, or an explicit
    // top-k Limit — never a raw corpus-sized relation. A future query
    // that globally sorts the corpus fails the allowlist AND the
    // structural check.
    import org.apache.spark.sql.catalyst.plans.logical
    // query -> why its global window is bounded (documented, auditable)
    val bounded = Map(
      "q04_previous" -> "LIMIT 2 latest-orders slice",
      "q52_date_spine" -> "day-domain spine aggregate",
      "e2_ann_ivfpq" -> "sqrt(n)-LIMIT seed ranking",
      "e2_pq_search" -> "PqKsub-LIMIT codebook seeds",
      "e2_pq_rerank" -> "PqKsub-LIMIT codebook seeds",
      "e3_bpe_pairs" -> "pair-vocabulary aggregate + top-k",
      "e3_bpe_merge" -> "pair-vocabulary aggregate + top-k",
      "e3_quality_calibration" -> "score-decile aggregate",
      "e3_quality_tiers" -> "score-histogram aggregate",
      "e3_vocab_growth" -> "bucket-domain aggregate",
      "e7_epoch_plan" -> "|sources|-row aggregate",
      "e7_mixture" -> "|sources|-row aggregate",
      "e7_mixture_sample" -> "|sources|-row aggregate",
      "e7_source_caps" -> "|sources|-row aggregate",
      "e7_temperature_mix" -> "|sources|-row aggregate",
      "e8_benford" -> "9-digit-domain aggregate",
      "e8_concentration" -> "|sources|-row aggregate",
      "e8_seasonality" -> "hour/day-domain aggregate",
      "e8_zipf" -> "token-vocabulary aggregate + top-k",
      // reviewed round 9: the global sketch-merge rank consumes the
      // rn <= KmvK per-source sketches — |sources|·K rows at any corpus
      // size (the mergeability stage, Round9OpsSpec)
      "e1_kmv_global" -> "|sources|·KmvK sketch-union rank",
      // reviewed round 9 continuation: the tier map's cumulative/total
      // windows consume the groupBy(score) histogram — bounded by the
      // quality-score domain (Sampling.e6Curriculum:238), and the map
      // rides a broadcast back onto the corpus (Round9bOpsSpec)
      "e6_curriculum" -> "score-histogram aggregate",
      // reviewed round 9 continuation: decile threshold windows run on
      // the score histogram; the budget-total windows on the
      // |sources|-row fold (Curation.e7AnnealPlan)
      "e7_anneal_plan" -> "score-histogram + |sources|-row aggregates",
      // reviewed round 11: the running sum consumes the per-first-day
      // digest — bounded by the |days| domain (the per-user min fold
      // collapses the event mass before the window; q58 Scaladoc)
      "q58_running_distinct" -> "day-domain first-touch aggregate",
      // reviewed round 12: both codebook-index windows run over the
      // GlobalLimit'd splitmix seed samples — ≤ RvqK1/RvqK2 rows at any
      // corpus size (the pqSeeds pattern; Similarity.e2Rvq)
      "e2_rvq" -> "limit-bounded codebook seed ranks",
      // reviewed round 12: the cumulative window consumes the groupBy(dist)
      // histogram — ≤ BfsRounds+1 rows (Analysis.e9EffectiveDiameter)
      "e9_effective_diameter" -> "hop-histogram aggregate",
      // reviewed round 12: both cumulative windows run on the 10-row
      // decile histogram (Dedup.e1SaturationCurve)
      "e1_saturation_curve" -> "decile-histogram aggregate")
    val found = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, TestSpark.sf0001).queryExecution.optimizedPlan
        val wins = plan.collect {
          case w: logical.Window if w.partitionSpec.isEmpty => w }
        if (wins.isEmpty) None else Some(name -> wins)
    }
    assert(found.map(_._1).toSet == bounded.keySet,
      s"unpartitioned-window queries changed: got ${found.map(_._1)}; " +
        "new entries must be reviewed for bounded input and allowlisted")
    found.foreach { case (name, wins) =>
      wins.foreach { w =>
        val ok = w.child.collectFirst {
          case a: logical.Aggregate => a
          case l: logical.GlobalLimit => l
          case l: logical.LocalLimit => l
        }.isDefined
        assert(ok, s"$name: unpartitioned window over a raw (unbounded) " +
          s"input — ${bounded(name)} expected:\n${w.child.treeString}")
      }
    }
  }

  test("e2_embed_outliers: broadcast seed assign; both cell windows share one exchange") {
    val plan = withoutAutoBroadcast(finalPlan(Similarity.e2EmbedOutliers(spark, TestSpark.sf001)))
    // the seed join is the broadcast cross the IVF family uses (argmax
    // prunes it); the corpus crosses exactly two hash exchanges — vec_id
    // for the assignment argmax, cell for the rank+count windows (which
    // must NOT each add their own)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"seed set must ride a broadcast, never shuffle the corpus:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected 2 hash exchanges (vec_id, cell), got $hashEx:\n$plan")
  }
}
