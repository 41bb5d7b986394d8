package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{avg, col, size, split, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the E8 corpus-analysis operators: each
  * query's 100 TB claim is a PLAN property (broadcast stats, distributed
  * top-K, shared-scan Expand), so the shape is pinned here; values are
  * pinned by the DuckDB oracles. */
class AnalysisSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def finalPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("e8_outliers: the stats table is broadcast — the event stream itself never shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = finalPlan(Analysis.e8Outliers(spark, TestSpark.sf001))
      assert(plan.contains("BroadcastHashJoin"),
        s"stats join must honor the explicit broadcast hint:\n$plan")
      // no exchange may partition the event scan by event_type: the only
      // exchanges allowed are the 5-row stats aggregate's and the output
      // sort's. A hashpartitioning of events on event_type would mean the
      // full stream shuffles at 100 TB.
      val hashExchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(hashExchanges.forall(_.contains("event_type")),
        s"unexpected hash exchange:\n${hashExchanges.mkString("\n")}")
      assert(hashExchanges.size <= 1,
        s"only the stats aggregate may hash-exchange:\n${hashExchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e8_zipf: top-K is distributed TakeOrdered, not a global sort of the vocabulary") {
    val plan = finalPlan(Analysis.e8Zipf(spark, TestSpark.sf001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be TakeOrderedAndProject (per-partition K, no global sort):\n$plan")
  }

  test("e8_profile and e8_drift: multi-DISTINCT stays a HASH aggregate over the Expand") {
    // e8_drift: all 12 distinct counts share one scan via Expand.
    val driftPlan = finalPlan(Analysis.e8Drift(spark, TestSpark.sf001))
    assert(driftPlan.contains("Expand"),
      s"e8_drift: distinct aggregates must fan out via Expand, not re-scan:\n$driftPlan")
    assert(driftPlan.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"e8_drift: expected 1 scan:\n$driftPlan")
    // e8_profile: TWO scans by design — null/distinct counts in the
    // Expand aggregate, min/max in a separate single-row pass. The
    // Expand aggregate must remain a HashAggregate: folding min/max
    // (string) in demotes it to SortAggregate, which sorts the expanded
    // rows twice (the 19 s → 5 s rewrite at the 100× probe).
    val profPlan = finalPlan(Analysis.e8Profile(spark, TestSpark.sf001))
    assert(profPlan.contains("Expand"), s"e8_profile lost its Expand:\n$profPlan")
    assert(profPlan.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"e8_profile: expected the 2-pass shape:\n$profPlan")
    val expandSection = profPlan.split("Expand")(0)
    assert(expandSection.contains("HashAggregate"),
      s"the distinct aggregate above the Expand must be hash-based:\n$profPlan")
  }

  test("e8_corr: all six coefficients partial-aggregate in one pass") {
    val plan = finalPlan(Analysis.e8Corr(spark, TestSpark.sf001))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$plan")
    // corr must partial-aggregate (co-moment accumulators through the
    // exchange) — a final-only aggregate would stream every row to one task
    assert(plan.contains("partial_corr") ||
      "HashAggregate.*partial".r.findFirstIn(plan).isDefined ||
      plan.contains("SortAggregate"),
      s"corr must partial-aggregate map-side:\n$plan")
  }

  test("e9_pagerank: rank mass is conserved and degree dominates within a component") {
    val rows = Analysis.e9Pagerank(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    // each iteration maps total mass 1 → base + damping·1 = 1: the
    // undirected edge-endpoint graph has no dangling nodes, so the sum
    // must survive all PrIters rounds (catches a dropped-contribution or
    // double-counted-edge bug that per-row oracle hashing would also
    // catch, but this pins the WHY)
    val mass = rows.map(_.getAs[Double]("rank")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass $mass != 1")
    assert(rows.forall(_.getAs[Double]("rank") > 0))
  }

  /** Pure-Scala replica of the damping iteration with the same stopping
    * rule as pageRankConverged — ground truth for both the round count
    * and the converged ranks. Spark's semantics for odd input: both
    * directions of every pair are edges (duplicates and self-loops
    * included), a null endpoint is one more vertex that no edge reaches,
    * and max |Δ| over no vertex is 0. */
  private def prReplica(pairs: Seq[(Option[Long], Option[Long])], tol: Double,
      maxIters: Int): (Map[Option[Long], Double], Int) = {
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val verts = edges.map(_._1).distinct
    val n = verts.length.toDouble
    var r = verts.map(v => v -> 1.0 / n).toMap
    var k = 0
    var delta = Double.MaxValue
    while (delta >= tol && k < maxIters) {
      val contrib = edges.filter { case (src, dst) => src.isDefined && dst.isDefined }
        .groupBy(_._2).view
        .mapValues(_.map { case (src, _) => r(src) / deg(src) }.sum).toMap
      val next = verts.map(v => v ->
        (Analysis.PrBase / n + Analysis.PrDamping * contrib.getOrElse(v, 0.0)))
        .toMap
      delta = verts.filter(_.isDefined).map(v => math.abs(next(v) - r(v)))
        .maxOption.getOrElse(0.0)
      r = next; k += 1
    }
    (r, k)
  }

  private def ranksOf(df: DataFrame): Map[Option[Long], Double] =
    df.collect().map(r => Option(r.getAs[java.lang.Long]("doc_id")).map(_.longValue) ->
      r.getAs[Double]("rank")).toMap

  /** Both paths of pageRankConverged against the replica: the same round
    * count exactly, and the same ranks up to the 6-dp rounding. */
  private def assertConvergedMatches(pairsDf: DataFrame,
      pairs: Seq[(Option[Long], Option[Long])], tol: Double): Int = {
    val (truth, k) = prReplica(pairs, tol, 60)
    assert(k < 60, "graph must converge before the cap")
    for ((path, budget) <- Seq("driver" -> Loop.DriverBytes,
        "distributed" -> Loop.ForceDistributed)) withClue(s"$path: ") {
      val (df, iters) = Analysis.pageRankConverged(pairsDf, tol, 60, budget)
      assert(iters == k, s"loop stopped at $iters, truth is $k")
      assert(df.schema("doc_id").dataType == org.apache.spark.sql.types.LongType)
      val got = ranksOf(df)
      assert(got.keySet == truth.keySet)
      truth.foreach { case (v, t) =>
        assert(math.abs(got(v) - t) < 1e-5, s"rank of $v: ${got(v)} vs $t") }
    }
    k
  }

  private def some(pairs: Seq[(Long, Long)]): Seq[(Option[Long], Option[Long])] =
    pairs.map { case (a, b) => (Some(a), Some(b)) }

  test("e9_label_prop: communities stay inside components and refine them") {
    val lp = Analysis.e9LabelProp(spark, TestSpark.sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("community")).toMap
    val cc = Dedup.e1DedupClusters(spark, TestSpark.sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(lp.nonEmpty)
    // a label can only have propagated along edges, so every vertex's
    // community label must live in the SAME connected component
    lp.foreach { case (v, lab) =>
      assert(cc(v) == cc(lab), s"vertex $v label $lab crosses components")
    }
    // refinement: at least as many communities as components (on endpoints)
    val nCommunities = lp.values.toSet.size
    val nComponents = lp.keys.map(cc).toSet.size
    assert(nCommunities >= nComponents)
  }

  test("pageRankConverged stops at the graph's true convergence round") {
    import spark.implicits._
    val tol = 1e-4
    // 1) the fixture's near-dup graph. Its components are mostly cliques
    //    — k-regular subgraphs sit exactly at the uniform fixed point —
    //    so TRUE convergence is fast; the property is that the
    //    distributed stopping rule agrees with the replica exactly,
    //    whatever the round count is.
    val fixture = Dedup.minhashPairTable(spark, TestSpark.sf001).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")))
    assertConvergedMatches(
      Dedup.minhashPairTable(spark, TestSpark.sf001), some(fixture.toSeq), tol)
    // 2) an IRREGULAR graph (path + star) where rank genuinely moves for
    //    many rounds: convergence must land beyond the declared query's
    //    fixed 3 iterations, proving the loop is a real refinement and
    //    doesn't stop early on a still-moving rank vector.
    val chain = (1L to 9L).map(i => (i, i + 1)) ++
      (11L to 15L).map(i => (10L, i))
    val kChain = assertConvergedMatches(
      chain.toDF("da", "db"), some(chain), tol)
    assert(kChain > Analysis.PrIters,
      s"irregular graph must need more than ${Analysis.PrIters} rounds, took $kChain")
  }

  test("e9_pagerank: the driver finish equals the distributed plan and the replica") {
    import spark.implicits._
    val pairs = Dedup.minhashPairTable(spark, TestSpark.sf001)
    val drv = ranksOf(Analysis.e9Pagerank(spark, TestSpark.sf001))
    val dist = ranksOf(Analysis.pageRankFixed(pairs, Loop.ForceDistributed))
    val (truth, k) = prReplica(some(pairs.as[(Long, Long)].collect().toSeq),
      Double.NegativeInfinity, Analysis.PrIters)
    assert(k == Analysis.PrIters)
    assert(drv.keySet == truth.keySet && dist.keySet == truth.keySet)
    truth.foreach { case (v, t) =>
      // 6-dp rounding of sums taken in different orders: one step at most
      assert(math.abs(drv(v) - t) < 1.5e-6 && math.abs(dist(v) - drv(v)) < 1.5e-6,
        s"rank of $v: driver ${drv(v)}, distributed ${dist(v)}, replica $t")
    }
  }

  test("pageRankConverged on both paths: empty, random, int-typed, self-loops, null endpoints, duplicates") {
    import spark.implicits._
    val tol = 1e-4
    val empty = Seq.empty[(Option[Long], Option[Long])]
    assert(assertConvergedMatches(empty.toDF("da", "db"), empty, tol) == 1,
      "an empty graph stops after one round (max |Δ| over no vertex is 0)")
    val rnd = new scala.util.Random(0x9a6e)
    for (_ <- 1 to 2) {
      val edges = some(Seq.fill(25)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)))
      withClue(s"edges: $edges") {
        assertConvergedMatches(edges.toDF("da", "db"), edges, tol)
      }
    }
    val odd = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), (Some(2L), Some(1L)), // duplicates
      (Some(2L), Some(2L)), (Some(3L), Some(3L)), // self-loops
      (Some(2L), Some(4L)), (None, Some(4L)), (Some(5L), None), (None, None))
    assertConvergedMatches(odd.toDF("da", "db"), odd, tol)
    // an int-typed edge list: both paths read it and return bigint ids
    val ints = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 5))
    assertConvergedMatches(ints.toDF("da", "db"),
      some(ints.map { case (a, b) => (a.toLong, b.toLong) }), tol)
  }

  test("e8_transitions: probabilities row-normalize to 1 per from_type") {
    val rows = Analysis.e8Transitions(spark, TestSpark.sf001).collect()
    val byFrom = rows.groupBy(_.getAs[String]("from_type"))
      .view.mapValues(_.map(_.getAs[Double]("p")).sum)
    byFrom.foreach { case (f, s) =>
      assert(math.abs(s - 1.0) < 1e-3, s"row $f sums to $s") }
  }

  test("e7_mixture_sample: max-epoch source keeps all, shares sum to 1, rate table broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Curation.e7MixtureSample(spark, TestSpark.sf001)
      val rows = df.collect()
      assert(rows.nonEmpty)
      // the argmax-epoch source's rate rounds to exactly 1.0 — it keeps
      // every document (the down-sample-only design: no rejection pass
      // ever needs to upsample)
      assert(rows.map(_.getAs[Double]("rate")).max == 1.0)
      val shares = rows.map(_.getAs[Double]("realized_share")).sum
      assert(math.abs(shares - 1.0) < 1e-2, s"shares sum to $shares")
      // smaller-rate sources keep a smaller token fraction than their
      // natural share would give them (the whole point of the smoothing)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"rate table must ride broadcast — the corpus never shuffles for the gate:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e8_collocations: unigram/total side tables join broadcast — no bigram-table shuffle beyond its count") {
    val plan = finalPlan(Analysis.e8Collocations(spark, TestSpark.sf001))
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
    val nNlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nBhj >= 2 && nNlj >= 2,
      s"unigram sides and scalar totals must broadcast (got bhj=$nBhj nlj=$nNlj):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join allowed:\n$plan")
  }

  test("single-scan report queries read the corpus exactly once") {
    // the lesson this pins: multiple consumers of the same aggregate
    // re-plan the corpus scan per branch (e8_concentration's first cut
    // read documents FIVE times) — totals must ride windows over the
    // tiny aggregate, not separate aggregate branches
    for ((name, df) <- Seq(
        "e8_concentration" -> Analysis.e8Concentration(spark, TestSpark.sf001),
        "e7_source_caps" -> Curation.e7SourceCaps(spark, TestSpark.sf001),
        "e8_kanon" -> Analysis.e8Kanon(spark, TestSpark.sf001),
        "e8_bootstrap" -> Analysis.e8Bootstrap(spark, TestSpark.sf001),
        "e8_seasonality" -> Analysis.e8Seasonality(spark, TestSpark.sf001),
        "e8_benford" -> Analysis.e8Benford(spark, TestSpark.sf001),
        "e8_diversity" -> Analysis.e8Diversity(spark, TestSpark.sf001),
        "e7_mixture" -> Curation.e7Mixture(spark, TestSpark.sf001),
        "e7_temperature_mix" -> Curation.e7TemperatureMix(spark, TestSpark.sf001))) {
      val plan = finalPlan(df)
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"$name: expected 1 corpus scan, got $scans:\n$plan")
    }
    // mixture_sample needs the corpus twice by nature (rate build + keep
    // gate) — its first cut planned TEN scans
    val ms = finalPlan(Curation.e7MixtureSample(spark, TestSpark.sf001))
    val msScans = ms.linesIterator.count(_.contains("Scan parquet"))
    assert(msScans == 2, s"mixture_sample: expected 2 scans, got $msScans:\n$ms")
    // bpe_merge: two consumers of the MEMOIZED word-frequency table — the
    // corpus scan happens once at materialization; the query plan itself
    // must contain no parquet scan at all (checkpointed RDD scans only)
    val bpe = finalPlan(TextOps.e3BpeMerge(spark, TestSpark.sf001))
    assert(!bpe.contains("Scan parquet"),
      s"bpe_merge must run off the checkpointed word-frequency table:\n$bpe")
  }

  test("e8_kanon: group-size histogram reconciles with the corpus; risky flag honors k") {
    val rows = Analysis.e8Kanon(spark, TestSpark.sf0001).collect()
    val total = graft.Tables.documents(spark, TestSpark.sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("risky") ==
        (r.getAs[Long]("g") < Analysis.KanonK))
      // n_docs = g * n_groups by construction
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("g") * r.getAs[Long]("n_groups"))
    }
  }

  test("e8_bootstrap: replicates are Poisson-sized and means bracket the true mean") {
    val n = graft.Tables.documents(spark, TestSpark.sf0001).count()
    val trueMean = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(avg(size(split(col("text"), " ")))).head().getDouble(0)
    val rows = Analysis.e8Bootstrap(spark, TestSpark.sf0001).collect()
    assert(rows.length == Analysis.BootB)
    // Poisson(1) superposition: n_eff ~ Poisson(n), so within ±6√n of n
    rows.foreach { r =>
      val eff = r.getAs[Long]("n_eff")
      assert(math.abs(eff - n) <= 6 * math.sqrt(n.toDouble), s"n_eff $eff vs $n")
    }
    // the replicate means form a CI that contains the point estimate
    val means = rows.map(_.getAs[Double]("mean_tokens"))
    assert(means.min <= trueMean && trueMean <= means.max,
      s"true $trueMean outside [${means.min}, ${means.max}]")
    // replicates differ (independent salted streams actually resample)
    assert(means.distinct.length > Analysis.BootB / 2)
  }

  test("e8_concentration: HHI bounds, effective sources, and top share reconcile") {
    val r = Analysis.e8Concentration(spark, TestSpark.sf0001).head()
    val (ns, hhi) = (r.getAs[Long]("n_sources"), r.getAs[Long]("hhi"))
    val eff = r.getAs[Double]("effective_sources")
    // HHI of n sources lives in [10^12/n (uniform), 10^12 (monopoly)];
    // ppm floor-rounding can only pull it slightly below the exact value
    assert(hhi >= 1000000000000L / ns - ns && hhi <= 1000000000000L, s"hhi $hhi")
    assert(eff >= 1.0 - 1e-9 && eff <= ns + 1e-9, s"effective $eff of $ns")
    // the top source must hold at least the uniform share
    assert(r.getAs[Long]("top_share_ppm") >= 1000000L / ns)
    // cross-check the top source against a direct group-by
    val direct = graft.Tables.documents(spark, TestSpark.sf0001)
      .groupBy("source").agg(sum(size(split(col("text"), " "))).as("tk"))
      .orderBy(col("tk").desc, col("source")).head()
    assert(r.getAs[String]("top_source") == direct.getAs[String]("source"))
  }

  test("e8_mad_outliers: flagged set equals a driver-side median/MAD recompute") {
    val ev = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n - 1) / 2) + s(n / 2)
    }
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val vm = rows.map(t => math.round(t._3 * 10000))
      val m2 = med2(vm.toSeq)
      val dev2 = rows.map(t => (t._1, math.abs(math.round(t._3 * 10000) * 2 - m2)))
      val mad4 = med2(dev2.map(_._2).toSeq)
      dev2.filter { case (_, d2) => d2 * 20000L > mad4 * Analysis.MadK }.map(_._1)
    }.toSet
    val got = Analysis.e8MadOutliers(spark, TestSpark.sf0001)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("e9_kcore: peeling matches a driver recompute; fixpoint satisfies the core law") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side 3-round peel
    var es = pairs
    for (_ <- 1 to Analysis.KcorePeels) {
      val dg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (v, o) => v -> o.length.toLong }
      val keep = dg.filter(_._2 >= Analysis.KcoreK).keySet
      es = es.filter(e => keep(e._1) && keep(e._2))
    }
    val expect = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
      .map { case (v, o) => v -> o.length.toLong }
    val got = Analysis.e9Kcore(spark, TestSpark.sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.nonEmpty)
    // fixpoint: terminates, every survivor holds degree >= k (the k-core
    // law fixed-round peeling only approximates), and the true core is a
    // subset of the 3-round survivors
    val (coreDf, iters) = Analysis.kcoreConverged(spark, TestSpark.sf001)
    val core = coreDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iters < 50)
    assert(core.values.forall(_ >= Analysis.KcoreK))
    assert(core.keySet.subsetOf(got.keySet))
  }

  test("e9_hits: scores match a driver recompute; L-inf normalization law holds") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val verts = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    var hub = verts.map(_ -> 1.0).toMap
    var auth = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to Analysis.HitsIters) {
      val araw = verts.map(v =>
        v -> pairs.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val amax = araw.values.max
      auth = araw.map { case (v, x) => v -> x / amax }
      val hraw = verts.map(v =>
        v -> pairs.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
      val hmax = hraw.values.max
      hub = hraw.map { case (v, x) => v -> x / hmax }
    }
    val got = Analysis.e9Hits(spark, TestSpark.sf001).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == verts.toSet)
    got.foreach { case (v, (h, a)) =>
      assert(math.abs(h - hub(v)) < 1e-5, s"hub mismatch at $v")
      assert(math.abs(a - auth(v)) < 1e-5, s"authority mismatch at $v")
    }
    // L-inf normalization: the top hub and top authority sit exactly at 1
    assert(got.values.map(_._1).max == 1.0)
    assert(got.values.map(_._2).max == 1.0)
    // the orientation splits the scores: hubs and authorities are not the
    // same ranking (da→db direction carries information)
    assert(got.values.exists { case (h, a) => math.abs(h - a) > 1e-3 })
  }

  test("e9_bfs: layer histogram equals a driver BFS; layers partition the endpoint set") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = pairs.flatMap(e => Seq(e, (e._2, e._1)))
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.length }
    val seeds = deg.toSeq.sortBy { case (v, dg) => (-dg, v) }
      .take(Analysis.BfsSeeds).map(_._1)
    var dist = seeds.map(_ -> 0).toMap
    for (k <- 1 to Analysis.BfsRounds) {
      val frontier = dist.collect { case (v, dd) if dd == k - 1 => v }.toSet
      val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
        .diff(dist.keySet)
      dist = dist ++ nxt.map(_ -> k)
    }
    val verts = adj.keySet
    val expect = verts.groupBy(v => dist.getOrElse(v, -1))
      .map { case (dd, vs) => dd -> vs.size.toLong }
    val got = Analysis.e9Bfs(spark, TestSpark.sf001).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // layers PARTITION the endpoints: histogram sums to the vertex count,
    // and the 0-layer is exactly the seed set size
    assert(got.values.sum == verts.size.toLong)
    assert(got(0) == math.min(Analysis.BfsSeeds, verts.size).toLong)
  }

  test("e8_quality_drift: equals a driver KS replica; all-one-side sources are dropped") {
    // scores from the same projection the operator uses (the ORACLE pins
    // the scoring chain bitwise; this replica targets the gate + KS fold
    // + drop logic, which are pure integer arithmetic)
    import org.apache.spark.sql.functions.{expr => fexpr, round => fround, size => fsize, split => fsplit}
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .withColumn("nt", fsize(fsplit(col("text"), " ")))
      .withColumn("nsw", fexpr(
        "size(filter(split(text, ' '), t -> t IN ('the','a','of','and','to')))"))
      .select(col("doc_id"), col("source"),
        fround(fround(graft.ops.TextOps.qualityScore(col("nt"), col("nsw")), 4) * 10000)
          .cast("long").as("m4"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def slot(id: Long): Long =
      (org.apache.spark.sql.graftext.minhashExpression
        .mix(id ^ graft.ops.Curation.ReleaseSalt) & Long.MaxValue) % 100
    val bySrc = docs.groupBy(_._2)
    val expect = bySrc.flatMap { case (src, rows) =>
      val scored = rows.map(t => (t._3, slot(t._1) < 90))
      val nV1 = scored.count(_._2).toLong
      val nV2 = scored.length - nV1
      if (nV1 == 0 || nV2 == 0) None
      else {
        var ri = 0L; var ci = 0L; var num = 0L
        scored.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, g) =>
          ri += g.count(_._2); ci += g.count(!_._2)
          num = math.max(num, math.abs(ri * nV2 - ci * nV1))
        }
        Some(src -> ((nV1, nV2, num, num * 10000 / (nV1 * nV2))))
      }
    }
    val got = Analysis.e8QualityDrift(spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect)
    // the drop branch is REAL on this fixture (0.9^25 per source)
    assert(got.size < bySrc.size, "expected at least one all-one-side source")
    assert(got.nonEmpty)
  }

  test("e9_assortativity: equals a driver Pearson replica over symmetric edge moments") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = pairs.flatMap(e => Seq(e, (e._2, e._1)))
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    val m = sym.length.toLong
    val sx = sym.map(e => deg(e._1)).sum
    val sxx = sym.map(e => deg(e._1) * deg(e._1)).sum
    val sxy = sym.map(e => deg(e._1) * deg(e._2)).sum
    val expect =
      if (m * sxx == sx * sx) 0.0
      else BigDecimal((m * sxy - sx * sx).toDouble / (m * sxx - sx * sx))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val row = Analysis.e9Assortativity(spark, TestSpark.sf001).head()
    assert(row.getLong(0) == m)
    assert(math.abs(row.getDouble(1) - expect) < 1e-9,
      s"r mismatch: got ${row.getDouble(1)}, replica $expect")
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
  }

  test("hitsConverged: terminates, agrees with the fixed-round query's normalization, and 2 rounds sit on its trajectory") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
    val (df, iters) = Analysis.hitsConverged(pairs, 1e-6)
    assert(iters < 50, "did not converge inside the valve")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the L-inf normalization law holds at the fixpoint too
    assert(rows.map(_.getDouble(1)).max == 1.0)
    assert(rows.map(_.getDouble(2)).max == 1.0)
    // the converged vertex set is the declared query's vertex set
    val declared = Analysis.e9Hits(spark, TestSpark.sf001).collect()
    assert(rows.map(_.getLong(0)).toSet == declared.map(_.getLong(0)).toSet)
  }

  test("bfsConverged: reaches the seeds' full component and the fixed-round layers are its prefix") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
    val (df, rounds) = Analysis.bfsConverged(pairs)
    val dist = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the fixture's top-3-degree vertices are one clique family whose
    // neighbors are each other, so 0 expanding rounds is CORRECT here —
    // the constructed chain below exercises a genuinely deep loop
    assert(rounds >= 0 && rounds < 50)
    // reachability closure: every distance is final (no -1 layer), the
    // deepest layer equals the rounds run, and BFS layering is sound —
    // a vertex at depth k>0 has a neighbor at depth k-1
    assert(dist.values.max == rounds)
    val sym = pairs.select("da", "db").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    dist.foreach { case (v, k) =>
      if (k > 0) assert(adj(v).exists(n => dist.get(n).contains(k - 1)),
        s"no parent at depth ${k - 1} for $v")
    }
    // prefix law vs the declared fixed-round query: the ≤BfsRounds layer
    // histogram must match e9_bfs's non-(-1) rows exactly
    val hist = dist.values.filter(_ <= Analysis.BfsRounds)
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val declared = Analysis.e9Bfs(spark, TestSpark.sf001).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).filter(_._1 >= 0).toMap
    assert(declared == hist)
    // constructed 24-vertex chain 0-1-...-23: interior vertices all tie
    // at degree 2, so the id tie-break seeds {1,2,3}; the loop must run
    // to the chain's far end (20 expansions) with exact hop distances
    import spark.implicits._
    val chain = (0L until 23L).map(i => (i, i + 1)).toDF("da", "db")
    val (cdf, crounds) = Analysis.bfsConverged(chain)
    val cd = cdf.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(crounds == 20, s"expected 20 expanding rounds, got $crounds")
    val expect = (0L to 23L).map(v =>
      v -> Seq(math.abs(v - 1), math.abs(v - 2), math.abs(v - 3)).min.toInt)
      .toMap
    assert(cd == expect)
  }

  test("e8_freshness: profile equals a driver-side age recompute") {
    val rows = Analysis.e8Freshness(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n - 1) / 2) + s(n / 2)
    }
    val byType = ev.groupBy(_._1)
    rows.foreach { r =>
      val ages = byType(r.getString(0))
        .map(t => (Analysis.DecayRefUs - t._2) / 86400000000L).toSeq
      assert(r.getLong(1) == ages.length)
      assert(r.getLong(2) == ages.min && r.getLong(3) == ages.max)
      assert(r.getLong(4) == med2(ages))
      val stale = ages.count(_ > Analysis.FreshStaleDays)
      assert(r.getLong(5) == stale)
      assert(r.getLong(6) == stale.toLong * 10000 / ages.length)
      // fixture window: events are Jan-2024, ref is Feb-1 → ages 1..31
      assert(ages.min >= 0 && ages.max <= 32)
    }
    // the fence actually splits the fixture (both sides populated)
    assert(rows.exists(_.getLong(5) > 0) &&
      rows.exists(r => r.getLong(5) < r.getLong(1)))
  }

  test("e8_centroid_shift: equals a BigInt replica; a constructed one-coordinate shift spikes L-inf on that dim alone") {
    // replica on the natural fixture
    val rows = Analysis.e8CentroidShift(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    val slots = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("label"), col("embedding"),
        Sampling.slot(col("vec_id"), Curation.ReleaseSalt).as("sl"))
      .collect()
      .map(r => (r.getInt(1), r.getLong(3) < 90,
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)))
    val byLabel = slots.groupBy(_._1)
    rows.foreach { r =>
      val grp = byLabel(r.getInt(0))
      val v1 = grp.filter(_._2).map(_._3)
      val v2 = grp.filterNot(_._2).map(_._3)
      assert(r.getLong(1) == v1.length && r.getLong(2) == v2.length)
      val dims = grp.head._3.length
      val terms = (0 until dims).map { i =>
        (BigInt(v1.map(_(i)).sum) * v2.length -
          BigInt(v2.map(_(i)).sum) * v1.length).abs
      }
      def q(x: BigInt): Double =
        (BigDecimal(x) / (BigDecimal(v1.length) * v2.length))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == q(terms.sum), s"l1 mismatch for ${r.getInt(0)}")
      assert(r.getDouble(4) == q(terms.max), s"linf mismatch for ${r.getInt(0)}")
    }
    // constructed drift: v2 cohort shifted +0.5 on coordinate 0 only →
    // linf ≈ l1 ≈ 500000 micro (the single moved coordinate dominates)
    import spark.implicits._
    val dim = 8
    val fx = (1L to 400L).map { id =>
      val base = Array.tabulate(dim)(i => ((id + i) % 5).toFloat / 10f)
      (id, base.toSeq, 1)
    }
    val dir = TestSpark.tmpDir("censhift")
    fx.toDF("vec_id", "embedding", "label")
      .withColumn("sl", Sampling.slot(col("vec_id"), Curation.ReleaseSalt))
      .selectExpr("vec_id",
        // the v2 cohort (slot >= 90) gets +0.5 on coordinate 0
        """CAST(CASE WHEN sl >= 90
          |  THEN concat(array(embedding[0] + 0.5F), slice(embedding, 2, 7))
          |  ELSE embedding END AS ARRAY<FLOAT>) AS embedding""".stripMargin,
        "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val drift = Analysis.e8CentroidShift(spark, dir).collect()
    assert(drift.length == 1)
    val (l1, linf) = (drift.head.getDouble(3), drift.head.getDouble(4))
    // base coordinates are id-periodic so residual per-dim drift is tiny;
    // the injected 0.5 shift (500000 micro) must dominate both norms
    assert(linf > 400000.0, s"linf $linf misses the injected shift")
    assert(l1 - linf < 100000.0, s"l1 $l1 vs linf $linf: off-dim leakage")
  }

  test("e9_link_pred: surfaces the banding-missed borderline pair; cliques predict nothing") {
    // fixture: the dedup graph is replica CLIQUES, so every 2-hop pair
    // is already an edge and the prediction list is EMPTY — link_pred
    // firing on a healthy corpus would be noise, so emptiness is itself
    // the pinned behavior
    assert(Analysis.e9LinkPred(spark, TestSpark.sf0001).collect().isEmpty)
    // constructed corpus (the lsh-curve sliding-window discipline):
    // B = w1..60 overlaps both A = w1..40 (j≈0.65, banded IN) and
    // C = w21..60 (j≈0.65, banded IN), while A and C share only w21..40
    // (j≈0.31, banding MISSES it) — the exact recall-loss shape the
    // operator exists to surface. Docs 7/8 are an unrelated exact-dup
    // clique that must predict nothing.
    import spark.implicits._
    val words = (1 to 80).map(i => s"w$i")
    def doc(lo: Int, hi: Int) = words.slice(lo - 1, hi).mkString(" ")
    val dir = graft.TestSpark.tmpDir("linkpred")
    Seq((1L, doc(1, 40)), (2L, doc(1, 60)), (3L, doc(21, 60)),
      (7L, doc(61, 80)), (8L, doc(61, 80)))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // precondition: the pair table has exactly the designed wedge
    val pairs = Dedup.minhashPairTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (7L, 8L)),
      s"constructed banding shape drifted: $pairs")
    val pred = Analysis.e9LinkPred(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // exactly the missed pair, with the exact neighbor-set Jaccard:
    // N(1) = {2}, N(3) = {2} → common 1, union 1
    assert(pred.toSeq == Seq((1L, 3L, 1L, 1L, 1L, 1.0)), pred.mkString(","))
  }

  test("e8_source_divergence: equals a BigInt replica of the sparse-TVD identity; bounds hold") {
    val rows = Analysis.e8SourceDivergence(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    // independent replica: full-union TVD per source in exact integer
    // arithmetic (the operator computes the algebraically-folded sparse
    // form; the replica sums |cs*N - c*Ns| over the WHOLE corpus vocab,
    // absent tokens contributing c*Ns each — same value iff the fold is
    // right). Tokenizer matches split(text, ' '): -1 limit keeps empties.
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    for ((src, text) <- docs; t <- text.split(" ", -1))
      counts((src, t)) = counts.getOrElse((src, t), 0L) + 1L
    val corpus = counts.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nTotal = corpus.values.sum
    val bySource = counts.groupBy(_._1._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = bySource(src).map { case ((_, t), c) => t -> c }.toMap
      val nS = mine.values.sum
      assert(r.getLong(1) == nS, s"n_tokens mismatch for $src")
      assert(r.getLong(2) == mine.size, s"vocab mismatch for $src")
      val num = corpus.iterator.map { case (t, c) =>
        (BigInt(mine.getOrElse(t, 0L)) * nTotal - BigInt(c) * nS).abs
      }.sum
      val tvd = BigDecimal(num) / (BigDecimal(2) * nS * nTotal)
      val want = tvd.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == want, s"tvd mismatch for $src: got ${r.getDouble(3)}, want $want")
      assert(want >= 0.0 && want <= 1.0)
    }
  }

  test("e8_source_divergence: N_s/N reuse the count aggregates' exchanges — two scans, no corpus shuffle") {
    val plan = TestSpark.withoutAutoBroadcast(
      finalPlan(Analysis.e8SourceDivergence(spark, TestSpark.sf001)))
    // st and ct each scan once; ns/nt must NOT re-scan (they fold the
    // aggregates' own exchanges — at 100 TB a third/fourth tokenize scan
    // doubles the dominant cost)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"expected exactly 2 scans (ns/nt must ReusedExchange):\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"N_s/N should reuse the count aggregates' exchanges:\n$plan")
    // every hash exchange carries token/source count keys, never raw text:
    // the corpus crosses the wire only as (source, t) partial counts
    val badEx = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filterNot(l => l.contains("t#") || l.contains("source#")).toSeq
    assert(badEx.isEmpty, s"unexpected exchange keys:\n${badEx.mkString("\n")}")
  }

  test("e8_source_divergence: the default session keeps the reused count exchanges — two scans") {
    // The corpus fits OnePartition's size gate, but ns/nt repeat st/ct's
    // aggregates, which one partition would compute again from their own
    // scans (four scans and tokenizations); the gate leaves this plan alone.
    val plan = finalPlan(Analysis.e8SourceDivergence(spark, TestSpark.sf001))
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"expected exactly 2 scans on the default session:\n$plan")
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("e8_gini: the corpus reduces to the bounded histogram — one scan, no corpus sort, (source, tk)-keyed exchanges only") {
    val df = Analysis.e8Gini(spark, TestSpark.sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"expected exactly one documents scan:\n$plan")
    // every hash exchange carries histogram keys (source/tk), never
    // doc-level rows: the cumulative window and final fold run on the
    // bounded (source, tk) table
    val badEx = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filterNot(l => l.contains("source#")).toSeq
    assert(badEx.isEmpty, s"unexpected exchange keys:\n${badEx.mkString("\n")}")
    // the only range exchange (sort) is the |sources|-row output ordering,
    // which sits after the final aggregate, never on the corpus side: the
    // window's sort is within-partition on the histogram
    assert(!plan.contains("Sort [tk") || plan.contains("Window"),
      s"unexpected corpus-side sort:\n$plan")
  }

  test("e9_local_clustering: equals a driver per-vertex triangle replica pooled per degree") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    // per-vertex triangle count: closed wedges at v, each triangle
    // counted once per corner
    val triAt = adj.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }.toLong
    }
    val expect = adj.keys.toSeq.groupBy(v => adj(v).size.toLong).map {
      case (dg, vs) =>
        val closed = vs.map(triAt).sum
        val possible = vs.size.toLong * dg * (dg - 1) / 2
        val c =
          if (possible == 0) 0.0
          else BigDecimal(closed.toDouble / possible)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        dg -> ((vs.size.toLong, closed, possible, c))
    }
    val got = Analysis.e9LocalClustering(spark, TestSpark.sf001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expect)
    // the fixture's graph actually closes triangles (replica cliques)
    assert(got.values.exists(_._2 > 0), "expected closed triangles")
  }

  test("e9_conductance: cut/volume laws hold and a driver replica agrees") {
    val pairs = graft.ops.Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comm = Analysis.e9LabelProp(spark, TestSpark.sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = pairs.length.toLong
    val rows = Analysis.e9Conductance(spark, TestSpark.sf001).collect()
    // volume law: Σ volume = 2m (every directed endpoint is in exactly
    // one community); cut law: Σ cut_edges = 2 × inter-community edges
    assert(rows.map(_.getLong(2)).sum == 2 * m)
    val interEdges = pairs.count { case (a, b) => comm(a) != comm(b) }.toLong
    assert(rows.map(_.getLong(3)).sum == 2 * interEdges)
    // φ ∈ [0, 1]: cut ≤ volume side by definition (each cut edge is one
    // of the side's directed endpoints)
    assert(rows.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
    // full driver replica
    val deg = pairs.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, vs) => v -> vs.length.toLong }
    val expect = comm.groupBy(_._2).map { case (c, vs) =>
      val vol = vs.keys.toSeq.map(deg).sum
      val cut = pairs.count { case (a, b) =>
        comm(a) != comm(b) && (comm(a) == c || comm(b) == c)
      }.toLong
      val denom = math.min(vol, 2 * m - vol)
      val phi =
        if (denom == 0) 0.0
        else BigDecimal(cut.toDouble / denom)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      c -> ((vs.size.toLong, vol, cut, phi))
    }
    val got = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expect)
  }
}
