package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-9 continuation operators: e2_mips' plan shape and
  * the norm-augmentation lemma its documented 100 TB serving path rests
  * on (Bachrach et al., RecSys'14: MIPS order == cosine order of
  * norm-augmented vectors, because every augmented corpus vector has the
  * SAME norm M and the query's augmented coordinate is 0). */
class Round9bOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("e2_mips: norm-augmentation rank equivalence — IP order == augmented-cosine order, and the operator returns it") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val m2 = emb.values.map(v => dot(v, v)).max
    def aug(v: Array[Double]): Array[Double] =
      v :+ math.sqrt(math.max(m2 - dot(v, v), 0.0))
    val res = Similarity.e2Mips(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val queries = res.map(_._1).distinct
    assert(queries.length > 0 && queries.length <= Similarity.AnnQueryK)
    for (q <- queries) {
      val qv = emb(q)
      val byIp = emb.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (-dot(qv, v), id) }.take(3).map(_._1)
      val qa = qv :+ 0.0
      val byAug = emb.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) =>
          val av = aug(v)
          (-(dot(qa, av) / (math.sqrt(dot(qa, qa)) * math.sqrt(dot(av, av)))), id)
        }.take(3).map(_._1)
      assert(byIp == byAug, s"augmentation lemma broke for query $q")
      val got = res.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
      assert(got == byIp, s"operator top-3 disagrees with exact MIPS for $q")
    }
  }

  test("e2_mmr: independent greedy replica agrees, and diversification moves at least one pick") {
    val rows = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val emb = rows.map(t => t._1 -> t._2).toMap
    val lab = rows.map(t => t._1 -> t._3).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }; s0
    }
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    // Spark round(_, 4) is BigDecimal HALF_UP — replicate, then exact
    // ten-thousandth ints (the operator's scoring domain)
    def relI(a: Long, b: Long): Long = math.round(
      BigDecimal(cos(a, b)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 10000)
    val res = Similarity.e2Mmr(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    var moved = 0
    for ((q, picks) <- res) {
      val cands = rows.map(_._1)
        .filter(o => o != q && lab(o) == lab(q))
        .map(o => (o, relI(q, o)))
        .sortBy { case (o, r) => (-r, o) }.take(Similarity.MmrPool)
      val byRel = cands.map(_._1).take(3).toSeq
      val s1 = cands.maxBy { case (o, r) => (r, -o) }
      var sel = List(s1._1)
      var scores = List(10L * s1._2)
      for (_ <- 2 to Similarity.MmrK if cands.length >= sel.length + 1) {
        val rem = cands.filterNot(c => sel.contains(c._1))
        val best = rem.map { case (o, r) =>
          val pen = sel.map(sx => relI(o, sx)).max
          (o, 7L * r - 3L * pen)
        }.minBy { case (o, m) => (-m, o) }
        sel = sel :+ best._1
        scores = scores :+ best._2
      }
      val got = picks.sortBy(_._2).map(p => (p._3, p._4)).toSeq
      assert(got == sel.zip(scores), s"greedy replica diverges for $q")
      if (sel != byRel) moved += 1
    }
    assert(moved > 0,
      "diversification never changed a pick list — MMR is vacuous on this fixture")
  }

  test("e2_ivf_rebalance: a constructed hot cell splits between its two mix64-first members; population is conserved") {
    // the fixture's splitmix-seeded cells are balanced (no hot cells at
    // any sf — the report is all-identity rows there), so the split path
    // needs a skewed corpus: 160 of 200 vectors point the same way and
    // collapse into one cell
    import spark.implicits._
    val dim = 8
    def v(main: Int, eps: Double, at: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(main) = 1.0f
      a(at % dim) = a(at % dim) + eps.toFloat
      a
    }
    val rows = (1L to 200L).map { id =>
      val e =
        if (id <= 160L) v(0, 0.001 * (id % 40 + 1), (id % 7).toInt + 1)
        else v((id % 7).toInt + 1, 0.0, 0)
      (id, e.toSeq, (id % 10).toInt)
    }
    val dir = TestSpark.tmpDir("ivfreb")
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = Similarity.e2IvfRebalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // population conserved overall and per cell
    assert(res.map(_._4).sum == 200L)
    res.groupBy(_._1).foreach { case (cell, rs) =>
      assert(rs.map(_._4).sum == rs.head._2,
        s"population not conserved in cell $cell")
    }
    // the hot cell (>2x mean) split into exactly two sub-cells
    val split = res.filter(r => r._1 != r._3)
    assert(split.nonEmpty, "no cell split — the constructed skew failed")
    val hotCells = split.map(_._1).distinct
    hotCells.foreach { c =>
      val subs = res.filter(_._1 == c)
      assert(subs.length == 2, s"hot cell $c has ${subs.length} sub-cells")
      assert(subs.map(_._4).sum == subs.head._2)
    }
    // identity rows for every non-hot cell
    res.filterNot(r => hotCells.contains(r._1)).foreach { r =>
      assert(r._1 == r._3 && r._2 == r._4)
    }
  }

  test("e2_ivf_merge: constructed cold cells fold into their nearest warm cell; population is conserved") {
    // the natural fixture is balanced (no cell below half the mean, so
    // the report is all-identity rows — checked below); the merge path
    // needs the same skewed corpus the rebalance spec constructs: 160 of
    // 200 vectors collapse into one cell, leaving the rest cold
    import spark.implicits._
    val dim = 8
    def v(main: Int, eps: Double, at: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(main) = 1.0f
      a(at % dim) = a(at % dim) + eps.toFloat
      a
    }
    val rows = (1L to 200L).map { id =>
      val e =
        if (id <= 160L) v(0, 0.001 * (id % 40 + 1), (id % 7).toInt + 1)
        else v((id % 7).toInt + 1, 0.0, 0)
      (id, e.toSeq, (id % 10).toInt)
    }
    val dir = TestSpark.tmpDir("ivfmerge")
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = Similarity.e2IvfMerge(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(res.map(_._2).sum == 200L, "n_before must partition the corpus")
    val cold = res.filter(_._3 == 1L)
    assert(cold.nonEmpty, "no cold cell — the constructed skew failed")
    val warmCells = res.filter(_._3 == 0L).map(_._1).toSet
    cold.foreach { r =>
      assert(r._4 != r._1, s"cold cell ${r._1} kept itself")
      assert(warmCells.contains(r._4),
        s"cold cell ${r._1} merged into non-warm ${r._4}")
    }
    res.filter(_._3 == 0L).foreach(r => assert(r._4 == r._1))
    // conservation: every row's n_after equals the total n_before routed
    // to its destination
    res.groupBy(_._4).foreach { case (target, grp) =>
      val total = res.filter(_._4 == target).map(_._2).sum
      grp.foreach(r => assert(r._5 == total,
        s"n_after broken for target $target"))
    }
    // and the balanced natural fixture stays all-identity (merge is a
    // no-op on a healthy index)
    val nat = Similarity.e2IvfMerge(spark, TestSpark.sf0001).collect()
    assert(nat.forall(r => r.getLong(2) == 0L && r.getLong(0) == r.getLong(3)))
  }

  test("e2_hybrid_rrf: independent RRF replica agrees, and the lexical list moves at least one pick") {
    val rows = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val emb = rows.map(t => t._1 -> t._2).toMap
    val lab = rows.map(t => t._1 -> t._3).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }; s0
    }
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y)))
    }
    // the df-capped shingle table is the operator's own lexical index;
    // ranks recomputed independently from its rows (by NAME — the memo's
    // column order is (h, doc_id), the anti-join key first)
    val sh = Dedup.rareShingleHashes(spark, TestSpark.sf0001)
      .select("doc_id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val shByDoc = sh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val res = Similarity.e2HybridRrf(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(res.nonEmpty && res.size <= Similarity.AnnQueryK)
    var moved = 0
    for ((q, picks) <- res) {
      val dense = rows.map(_._1)
        .filter(o => o != q && lab(o) == lab(q))
        .map(o => (o, cos(q, o)))
        .sortBy { case (o, s0) => (-s0, o) }.take(Similarity.HybridK)
        .map(_._1).zipWithIndex.map { case (o, i) => (o, i + 1L) }
      val qsh = shByDoc.getOrElse(q, Set.empty)
      val lex = shByDoc.toSeq
        .collect { case (o, hs) if o != q && (hs & qsh).nonEmpty =>
          (o, (hs & qsh).size.toLong) }
        .sortBy { case (o, ov) => (-ov, o) }.take(Similarity.HybridK)
        .map(_._1).zipWithIndex.map { case (o, i) => (o, i + 1L) }
      val score = (dense ++ lex).groupBy(_._1).view.mapValues(
        _.map { case (_, r) => 1000000L / (Similarity.RrfK0 + r) }.sum).toMap
      val want = score.toSeq.sortBy { case (o, s0) => (-s0, o) }.take(3)
        .zipWithIndex.map { case ((o, s0), i) => (q, i + 1L, o, s0) }
      assert(picks.sortBy(_._2).toSeq == want, s"RRF replica diverges for $q")
      if (want.map(_._3) != dense.take(3).map(_._1).toSeq) moved += 1
    }
    assert(moved > 0,
      "fusion never changed a dense pick — the lexical list is vacuous on this fixture")
  }

  test("e6_curriculum: schedule is self-consistent and never splits a score across tiers") {
    val res = Sampling.e6Curriculum(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // per (tier, shard): seq is dense 1..n and cum_tokens is the running
    // sum of n_tokens in seq order
    res.groupBy(t => (t._1, t._2)).foreach { case ((tier, shard), rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to rows.length).toSeq,
        s"seq not dense in ($tier, $shard)")
      var cum = 0L
      for (r <- sorted) {
        cum += r._5
        assert(r._6 == cum, s"cum_tokens broken at ($tier, $shard, ${r._3})")
      }
    }
    // tiers are the quality deciles: doc counts per tier within one
    // histogram bucket of n/10 (equal scores stay together)
    val n = res.length
    val perTier = res.groupBy(_._1).view.mapValues(_.length)
    assert(perTier.keys.max <= 10 && perTier.keys.min >= 1)
    // and every doc appears exactly once
    assert(res.map(_._4).distinct.length == n)
  }

  test("e6_curriculum: tier map broadcasts; both corpus windows ride ONE (tier, shard) exchange") {
    val plan = TestSpark.withoutAutoBroadcast(finalPlan(Sampling.e6Curriculum(spark, TestSpark.sf001)))
    // exchange 1: the score histogram groupBy; exchange 2: the
    // (tier, shard) window partitioning — rank and running sum share it
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "tier map should broadcast back onto the scan")
  }

  test("e7_dataset_diff: reconciles with the corpus and flags a re-crawled copy as stale") {
    // fixture reconciliation: v1 + added partitions the corpus
    val fx = Curation.e7DatasetDiff(spark, TestSpark.sf0001).collect()
    val total = fx.map(r => r.getLong(1) + r.getLong(3)).sum
    assert(total == graft.Tables.documents(spark, TestSpark.sf0001).count())
    fx.foreach { r =>
      assert(r.getLong(5) <= r.getLong(3), "added_stale <= docs_added")
      assert(r.getLong(6) <= r.getLong(4), "novel_tokens <= tokens_added")
    }
    // constructed corpus: an added doc that copies a v1 doc's text must
    // count as stale, and its tokens must not count as novel
    import spark.implicits._
    val slots = (1L to 100L).toDF("doc_id")
      .withColumn("sl", Sampling.slot(
        org.apache.spark.sql.functions.col("doc_id"), Curation.ReleaseSalt))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v1Id = slots.collectFirst { case (id, sl) if sl < 90 => id }.get
    val addedId = slots.collectFirst { case (id, sl) if sl >= 90 => id }.get
    val dir = TestSpark.tmpDir("dsdiff")
    val base = "alpha beta gamma delta epsilon"
    (1L to 100L).map { id =>
      val text = if (id == addedId) base
        else if (id == v1Id) base
        else s"doc $id words ${"x " * (id % 7).toInt}".trim
      (id, text, "en", "srcA", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = Curation.e7DatasetDiff(spark, dir).collect()
      .find(_.getString(0) == "srcA").get
    assert(row.getLong(5) >= 1L, "the copied added doc should be stale")
    val staleTokens = base.split(" ").length.toLong
    assert(row.getLong(6) <= row.getLong(4) - staleTokens,
      "novel_tokens must exclude the stale doc's tokens")
  }

  test("e7_anneal_plan: budget laws hold and hq_tokens equals a driver decile recompute") {
    val rows = Curation.e7AnnealPlan(spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val total = rows.map(_._2).sum
    // phase-A floors: each source under its exact share, total within
    // |sources| floor-losses of the budget
    val budgetA = Curation.PretrainX * total
    assert(rows.map(_._4).sum <= budgetA &&
      rows.map(_._4).sum > budgetA - rows.length)
    // phase-B: never exceeds the source's high-quality mass, and the
    // total respects the anneal budget
    rows.foreach(r => assert(r._5 <= r._3))
    assert(rows.map(_._5).sum <= budgetA / Curation.AnnealDiv)
    // share_bp consistency
    rows.foreach { r =>
      val want = if (r._4 + r._5 == 0L) 0L else 10000L * r._5 / (r._4 + r._5)
      assert(r._6 == want)
    }
    // hq_tokens equals an independent decile recompute (equal scores
    // share a tier; eligibility = score >= min tier-10 score)
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        val nt = toks.length
        val nsw = toks.count(Set("the", "a", "of", "and", "to"))
        val score = BigDecimal(
          math.min(1.0, nt.toDouble / 100.0) * (1.0 - nsw.toDouble / nt))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getString(0), nt.toLong, score)
      }
    val hist = docs.groupBy(_._3).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val tot = hist.map(_._2).sum
    var cum = 0L
    val thr = hist.collectFirst {
      case (sc, c) if { cum += c; (cum * 10 + tot - 1) / tot == 10 } => sc
    }.get
    val hqWant = docs.filter(_._3 >= thr).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    rows.foreach { r =>
      assert(r._3 == hqWant.getOrElse(r._1, 0L), s"hq mismatch for ${r._1}")
    }
    // the anneal slice is a strict subset of the corpus (the decile
    // threshold actually cuts)
    assert(rows.map(_._3).sum < total)
  }

  test("exact-truth builder: the 64-query sample rides a broadcast nested-loop; pairs are rank-pruned before the exchange") {
    // round 12: e2_mips (and the other *_sampled exact legs) consume the
    // shared exactSampleTruth memo, so the plan-shape pins live on the
    // BUILDER's un-memoized plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = finalPlan(
        Similarity.exactSampleTruthPlan(spark, TestSpark.sf0001))
      // with auto-broadcast OFF, the nested-loop broadcast is OURS: the
      // corpus side streams, only the fixed-size sample is replicated
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"sample side should broadcast into a nested loop:\n${plan.take(2000)}")
      // the top-3 windows prune each input partition to <= 3 rows per
      // query BEFORE the rank exchange (WindowGroupLimit), so the shuffle
      // carries O(sample * partitions) rows, never sample x corpus
      assert(plan.contains("WindowGroupLimit"),
        s"rank limit should prune pairs pre-exchange:\n${plan.take(2000)}")
      // and the fixed-size sample itself is a TakeOrdered, not a full sort
      assert(plan.contains("TakeOrderedAndProject"),
        "fixed-size sample should be TakeOrdered")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e2_mips: consumes the checkpointed exact-truth memo, not a fresh corpus pass") {
    val plan = finalPlan(Similarity.e2Mips(spark, TestSpark.sf0001))
    assert(plan.contains("ExistingRDD"),
      s"mips should scan the exactSampleTruth memo:\n${plan.take(2000)}")
  }

  test("e2_label_noise: counts match a driver global-kNN recompute; suspect law holds") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.map(t => t._1 -> t).toMap
    val got = Similarity.e2LabelNoise(spark, TestSpark.sf0001).collect()
    assert(got.length == Similarity.AnnQueryK)
    got.foreach { r =>
      val (vid, lbl) = (r.getLong(0), r.getInt(1))
      val (_, qv, qlbl) = byId(vid)
      assert(lbl == qlbl)
      val top = emb.filter(_._1 != vid)
        .map(t => (t._1, t._3, cos(qv, t._2)))
        .sortBy(t => (-t._3, t._1)).take(Similarity.NoiseK)
      val nDiff = top.count(_._2 != qlbl).toLong
      assert(r.getLong(2) == Similarity.NoiseK.toLong)
      assert(r.getLong(3) == nDiff, s"n_diff mismatch at $vid")
      val major = top.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (l, v) => (-v, l) }.head._1
      assert(r.getInt(4) == major, s"nb_major mismatch at $vid")
      assert(r.getLong(5) == (if (2 * nDiff > Similarity.NoiseK) 1L else 0L))
    }
    // the audit discriminates on the fixture: disagreement counts vary
    // across queries (the fixture's labels are only weakly clustered in
    // embedding space, so at sf0.001 every sampled vector's GLOBAL 5-NN
    // majority disagrees — all 64 rows flag suspect — but the n_diff
    // profile still separates the borderline from the hopeless)
    assert(got.map(_.getLong(3)).distinct.length > 1)
  }

  test("e2_label_noise: the sample broadcasts into a nested loop; pairs are rank-pruned pre-exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = finalPlan(Similarity.e2LabelNoise(spark, TestSpark.sf0001))
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"sample side should broadcast into a nested loop:\n${plan.take(2000)}")
      assert(plan.contains("WindowGroupLimit"),
        s"top-K should prune pairs pre-exchange:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e7_release_gate: every column reconciles with its component monitor; flag arithmetic holds") {
    val sf = TestSpark.sf0001
    val qd = Analysis.e8QualityDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val di = Dedup.e1DupInflation(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(5)))).toMap
    val sd = Analysis.e8SourceDivergence(spark, sf).collect()
      .map(r => r.getString(0) -> math.round(r.getDouble(3) * 10000)).toMap
    val got = Curation.e7ReleaseGate(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == di.keySet)
    got.foreach { r =>
      val src = r.getString(0)
      val (nd, inf) = di(src)
      val ks = qd.getOrElse(src, 0L)
      assert(r.getLong(1) == nd && r.getLong(2) == ks &&
        r.getLong(3) == inf && r.getLong(4) == sd(src),
        s"component mismatch for $src")
      assert(r.getBoolean(5) == (ks < Curation.GateQualityKsBp))
      assert(r.getBoolean(6) == (inf < Curation.GateInflationBp))
      assert(r.getBoolean(7) == (sd(src) < Curation.GateTvd4))
      assert(r.getBoolean(8) ==
        (r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7)))
    }
    // dropped-drift sources appear with the pass-by-default ks_bp = 0
    assert(got.length > qd.size, "expected at least one defaulted source")
  }

  test("e2_sq8_recall: agreement counts match a driver SQ8-reconstruction recompute") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val dims = emb.head._2.length
    val mn = Array.tabulate(dims)(i => emb.map(_._2(i)).min)
    val mx = Array.tabulate(dims)(i => emb.map(_._2(i)).max)
    def recon(v: Array[Double]): Array[Double] = Array.tabulate(dims) { i =>
      if (mx(i) > mn(i)) {
        val code = math.min(math.max(
          math.floor((v(i) - mn(i)) * 255.0 / (mx(i) - mn(i)) + 0.5), 0.0),
          255.0).toLong
        mn(i) + code * (mx(i) - mn(i)) / 255.0
      } else mn(i)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) {
        s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.map(t => t._1 -> t).toMap
    val qids = emb.map { t =>
      val m = org.apache.spark.sql.graftext.minhashExpression
        .mix(t._1 ^ Similarity.AnnQuerySalt)
      (m, t._1)
    }.sortBy(identity).take(Similarity.AnnQueryK).map(_._2)
    val rec = emb.map(t => t._1 -> recon(t._2)).toMap
    def top1(vid: Long, vecs: Map[Long, Array[Double]]): Option[Long] = {
      val lbl = byId(vid)._3
      val block = emb.filter(t => t._3 == lbl && t._1 != vid)
      if (block.isEmpty) None
      else Some(block.map(t => (t._1, cos(vecs(vid), vecs(t._1))))
        .minBy { case (id, s0) => (-s0, id) }._1)
    }
    val full = emb.map(t => t._1 -> t._2).toMap
    val expect = qids.flatMap { q =>
      top1(q, full).map(e => (byId(q)._3, e == top1(q, rec).get))
    }.groupBy(_._1).map { case (l, rs) =>
      l -> ((rs.length.toLong, rs.count(_._2).toLong))
    }
    val got = Similarity.e2Sq8Recall(spark, TestSpark.sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (l, (n, agree, bp)) =>
      val (en, ea) = expect(l)
      assert(n == en && agree == ea, s"label $l: got ($n,$agree) want ($en,$ea)")
      assert(bp == 10000L * agree / n)
    }
    // SQ8 is near-lossless on this data: the audit should read HIGH
    // agreement overall (the ship/no-ship signal being measured)
    val tot = got.values.map(_._1).sum
    val agr = got.values.map(_._2).sum
    assert(agr * 2 > tot, s"SQ8 agreement below half: $agr/$tot")
  }

  test("e1_minhash_bbit: bit matches dominate slot matches; estimator arithmetic and reconciliation with the full audit hold") {
    val rows = Dedup.e1MinhashBbit(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    val full = Dedup.e1MinhashAccuracy(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val mb = r.getLong(4)
      // a matching slot necessarily matches in its low bit, so bit
      // matches can never undercount slot matches
      val eq = math.round(r.getDouble(3) * 64)
      assert(mb >= eq, s"bit matches < slot matches at ($da,$db)")
      assert(mb <= 64L)
      // corrected estimator arithmetic, and est_full reconciles with
      // e1_minhash_accuracy's est_jaccard pair-for-pair
      val estB1 = BigDecimal(math.max(0L, 2 * mb - 64).toDouble / 64.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - estB1) < 1e-9)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(3) == full((da, db)))
    }
    // the compression costs resolution ON AVERAGE (the b=1 variance
    // penalty the audit exists to price) — fixture-aggregate, not
    // pointwise: individual pairs can luck into a better b1 estimate
    val meanErrFull = rows.map(_.getDouble(6)).sum / rows.length
    val meanErrB1 = rows.map(_.getDouble(7)).sum / rows.length
    assert(meanErrB1 >= meanErrFull,
      f"b=1 should be noisier on average: $meanErrB1%.4f vs $meanErrFull%.4f")
  }

  test("e1_retention_curve: monotone in the threshold and reconciles with the pair table at the floor") {
    val rows = Dedup.e1RetentionCurve(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Dedup.RetentionThresholds)
    // tightening the cut can only drop FEWER docs/tokens (monotone), and
    // kept shares can only rise
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3)
      assert(hi._4 >= lo._4 && hi._5 >= lo._5)
    }
    // at the 0.2 pair floor EVERY verified pair qualifies, so n_dropped
    // equals the distinct larger-endpoint count of the whole pair table
    val allDb = Dedup.e1MinhashPairs(spark, TestSpark.sf0001)
      .select("db").distinct().count()
    assert(rows.head._2 == allDb)
    // share arithmetic
    val totDocs = graft.Tables.documents(spark, TestSpark.sf0001).count()
    rows.foreach { case (_, nd, _, kbp, _) =>
      assert(kbp == 10000L * (totDocs - nd) / totDocs)
    }
    assert(rows.head._2 > 0, "fixture has verified pairs — curve not vacuous")
  }

  test("e1_dup_inflation: reconciles with a driver fingerprint recompute; inflation laws hold") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      val byFp = rows.groupBy(t => t._2.trim.toLowerCase)
      val total = rows.map(_._2.split(" ", -1).length.toLong).sum
      val uniq = byFp.values.map(_.head._2.split(" ", -1).length.toLong).sum
      src -> ((rows.length.toLong, byFp.size.toLong, total, uniq))
    }
    val got = Dedup.e1DupInflation(spark, TestSpark.sf0001).collect()
    assert(got.map(_.getString(0)).toSet == expect.keySet)
    got.foreach { r =>
      val (nd, nu, tt, tu) = expect(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == nu &&
        r.getLong(3) == tt && r.getLong(4) == tu,
        s"recompute mismatch for ${r.getString(0)}")
      assert(r.getLong(5) == 10000L * tt / tu)
      // the natural fixture has NO exact duplicates (random token
      // sequences), so the true inflation is exactly 1.0× everywhere —
      // reading 10000 bp here is the audit being RIGHT, not vacuous
      assert(r.getLong(5) == 10000L)
    }
    // constructed duplication: duplicate the corpus once (offset ids,
    // same text — the ScaleProbe replication shape) and the audit must
    // read exactly 2.0× for every source
    val dir = graft.TestSpark.tmpDir("dupinf")
    val doc = graft.Tables.documents(spark, TestSpark.sf0001)
    doc.unionByName(doc.withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + 10000000L))
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    Dedup.e1DupInflation(spark, dir).collect().foreach { r =>
      assert(r.getLong(5) == 20000L,
        s"2x-replicated source ${r.getString(0)} must read 2.0x inflation")
      assert(r.getLong(1) == 2L * r.getLong(2))
    }
  }

  test("e2_centroid_purity: votes partition the corpus; purity laws hold and the audit discriminates") {
    val got = Similarity.e2CentroidPurity(spark, TestSpark.sf0001).collect()
    assert(got.nonEmpty)
    val total = graft.Tables.embeddings(spark, TestSpark.sf0001).count()
    assert(got.map(_.getLong(1)).sum == total,
      "cell populations must partition the corpus")
    got.foreach { r =>
      val (n, tv, bp) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(tv >= 1L && tv <= n)
      assert(bp == 10000L * tv / n)
    }
    // the scoreboard discriminates: sampled-seed cells cut across the
    // label structure, so purity varies (not all cells pure or impure)
    assert(got.map(_.getLong(4)).distinct.length > 1)
  }

  test("e6_semantic_leakage: categories are canonical, split gates replicate, and the τ dial is monotone in evidence") {
    val got = Similarity.e6SemanticLeakage(spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    val canon = Set("test", "train", "val")
    got.keys.foreach { case (a, b) =>
      assert(canon(a) && canon(b) && a <= b,
        s"category ($a, $b) not canonical least/greatest form")
    }
    assert(got.values.forall(_ > 0L))
    // the split gate in the audit IS e6_train_val_test's: replicate the
    // slot arithmetic driver-side for every vec_id and the populations
    // must agree with what any (split, split) classification could use
    val slots = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id")).collect()
      .map(_.getLong(0)).map { id =>
        val m = org.apache.spark.sql.graftext.minhashExpression
          .mix(id ^ graft.ops.Sampling.SplitSalt)
        val slot = (m & Long.MaxValue) % 100
        if (slot < 90) "train" else if (slot < 95) "val" else "test"
      }
    assert(slots.count(_ == "train") > slots.count(_ == "val"))
    // on the fixture the train↔train diagonal dominates (90% of mass is
    // train, so most near-dup pairs land inside it) and at least one
    // CROSS-split row exists — the contamination the audit exists for
    assert(got.keys.exists { case (a, b) => a != b },
      "no cross-split pair on the fixture — audit vacuous")
    val diag = got.getOrElse(("train", "train"), 0L)
    assert(got.filter { case (k, _) => k._1 != k._2 }.values.forall(_ <= diag))
  }

  test("e3_fertility: reconciles exactly with e3_bpe_apply's per-doc counts rolled up by language") {
    val langs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = TextOps.e3BpeApply(spark, TestSpark.sf0001).collect()
      .map(r => (langs(r.getLong(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = perDoc.groupBy(_._1).map { case (l, rows) =>
      l -> ((rows.length.toLong, rows.map(_._2).sum, rows.map(_._3).sum,
        rows.map(_._4).sum))
    }
    val got = TextOps.e3Fertility(spark, TestSpark.sf0001).collect()
    assert(got.map(_.getString(0)).toSet == expect.keySet)
    got.foreach { r =>
      val (nd, nw, nb, nc) = expect(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == nw &&
        r.getLong(3) == nb && r.getLong(4) == nc,
        s"rollup mismatch for lang ${r.getString(0)}")
      // milli-unit ratio laws: every word is at least one token, so
      // fertility >= 1000; cpt is chars-per-token in [1, max word length]
      assert(r.getLong(5) == 1000L * nb / nw)
      assert(r.getLong(6) == 1000L * nc / nb)
      assert(r.getLong(5) >= 1000L)
    }
    // the audit discriminates: the fixture's languages do not all share
    // one fertility (otherwise the per-lang breakdown carries no signal)
    assert(got.map(_.getLong(5)).distinct.length > 1 ||
      got.map(_.getLong(6)).distinct.length > 1)
  }
}
