package graft.ops

import graft.TestSpark
import graft.functions.Hashes
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the operators whose oracle is rows-only (LSH paths)
  * plus the native hash expressions. */
class OpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("e1_span_dedup handles edge documents (empty, sub-K, self-repeat, double spaces)") {
    import spark.implicits._
    val K = Dedup.SpanK
    val docs = Seq(
      (1L, ""),                                        // empty text
      (2L, "one"),                                     // single token
      (3L, "a b c d"),                                 // K-1 tokens: no shingle
      (4L, "x x x x x x x x x x"),                     // self-repeating
      (5L, "p q r s t u v w"),                         // shares nothing
      (6L, "m n o p q  r s t"),                        // double space (empty token)
      (7L, "m n o p q  r s t"),                        // exact duplicate of 6
      (8L, "z y m n o p q x w v")                      // contains 6's 5-prefix
    ).map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
    val dir = graft.TestSpark.tmpDir("spanedge")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.e1SpanDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens")))).toMap
    // brute force with the same split-keeps-empties tokenization
    val shingles = docs.flatMap { case (id, t, _, _, _) =>
      t.split(" ", -1).sliding(K).zipWithIndex.toSeq
        .withFilter(_._1.length == K).map { case (w, i) => (id, i, w.mkString(" ")) }
    }
    val occ = shingles.groupBy(_._3).map { case (g, xs) => g -> xs.length }
    docs.foreach { case (id, t, _, _, _) =>
      val toks = t.split(" ", -1)
      val dup = shingles.filter(s => s._1 == id && occ(s._3) >= 2).map(_._2).sorted
      val spans = dup.foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
        acc match {
          case (s0, e0) :: rest if p <= e0 + 1 =>
            (s0, math.max(e0, p + K - 1)) :: rest
          case _ => (p, p + K - 1) :: acc
        }
      }
      val (nt, ns, dt) = got(id)
      assert(nt == toks.length.toLong, s"doc $id n_tokens")
      assert(ns == spans.length.toLong, s"doc $id n_spans")
      assert(dt == spans.map { case (a, b) => b - a + 1 }.sum.toLong, s"doc $id dup")
    }
    // the self-repeating doc dups ITSELF: all tokens covered by one span
    assert(got(4L) == ((10L, 1L, 10L)), s"self-repeat doc: ${got(4L)}")
    // exact duplicates 6/7 are fully covered
    assert(got(6L)._3 == got(6L)._1 && got(7L)._3 == got(7L)._1)
    // empty / sub-K docs have zero spans
    Seq(1L, 2L, 3L).foreach(id => assert(got(id)._2 == 0L, s"doc $id"))
  }

  test("e1_span_dedup matches a brute-force span merge on the full fixture") {
    val got = Dedup.e1SpanDedup(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("trim_ratio"))))
      .toMap
    assert(got.nonEmpty)
    // brute force: positional K-shingles, corpus-wide occurrence count,
    // fold-merge of overlapping/adjacent [p, p+K-1] spans per doc
    val K = Dedup.SpanK
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val shingles = docs.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(K).zipWithIndex.toSeq
        .withFilter(_._1.length == K)
        .map { case (w, i) => (id, i, w.mkString(" ")) }
    }
    val occ = shingles.groupBy(_._3).map { case (g, xs) => g -> xs.length }
    val dupByDoc = shingles.filter(s => occ(s._3) >= 2)
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sorted }
    docs.foreach { case (id, t) =>
      val (nt, ns, dt, ratio) = got(id)
      assert(nt == t.split(" ", -1).length.toLong, s"doc $id n_tokens")
      val spans = dupByDoc.getOrElse(id, Array.empty[Int])
        .foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
          acc match {
            case (s0, e0) :: rest if p <= e0 + 1 =>
              (s0, math.max(e0, p + K - 1)) :: rest
            case _ => (p, p + K - 1) :: acc
          }
        }
      assert(ns == spans.length.toLong, s"doc $id n_spans")
      val expDt = spans.map { case (s0, e0) => e0 - s0 + 1 }.sum.toLong
      assert(dt == expDt, s"doc $id dup_tokens")
      assert(dt <= nt && dt >= K * ns, s"doc $id span bounds")
      assert(math.abs(ratio - (expDt.toDouble / nt * 10000).round / 10000.0) < 1e-9)
    }
    // the fixture must actually exercise the operator: some doc has a span
    assert(got.values.exists(_._2 > 0), "fixture produced no duplicated spans")
  }

  test("e2_ivf_ingest: frozen-seed ingest partitions the batch and preserves totals") {
    val rows = Similarity.e2IvfIngest(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("corpus_pop"),
        r.getAs[Long]("ingested"), r.getAs[Double]("growth_pct")))
    assert(rows.nonEmpty)
    // every seed cell appears exactly once with at least its own vector
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(_._2 >= 1))
    // the split totals are conserved: every corpus vector sits in exactly
    // one cell, every batch vector ingests into exactly one cell
    val slots = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(Sampling.slot(col("vec_id"), Similarity.IvfIngestSalt).as("sl"))
      .collect().map(_.getAs[Long]("sl"))
    val (nCorpus, nBatch) = (slots.count(_ < 90).toLong, slots.count(_ >= 90).toLong)
    assert(rows.map(_._2).sum == nCorpus, "corpus total")
    assert(rows.map(_._3).sum == nBatch, "batch total")
    assert(rows.length == Similarity.ivfCells(nCorpus), "cell count = ceil(sqrt(|corpus|))")
    rows.foreach { case (c, pop, ing, g) =>
      assert(math.abs(g - (100.0 * ing / pop * 100).round / 100.0) < 1e-9, s"cell $c pct")
    }
  }

  test("e2_ann_ivfpq: cell-restricted ADC agrees with the full scan where they overlap") {
    val ivfpq = Similarity.e2AnnIvfPq(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) ->
        ((r.getAs[Long]("rn"), r.getAs[Double]("adist"))))
    assert(ivfpq.nonEmpty)
    // per query: ranks are 1..k and distances nondecreasing
    ivfpq.groupBy(_._1._1).foreach { case (q, rows) =>
      val byRn = rows.sortBy(_._2._1)
      assert(byRn.map(_._2._1).toSeq == (1L to byRn.length.toLong), s"q $q ranks")
      assert(byRn.sliding(2).forall {
        case Array(a, b) => a._2._2 <= b._2._2 + 1e-12
        case _           => true
      }, s"q $q distance order")
    }
    // where the cell-restricted and full ADC scans report the same pair,
    // the distance is identical (the codes/tables are shared); and the
    // full scan's best can only be <= the restricted best (restriction
    // loses candidates, never improves them)
    val full = Similarity.e2PqSearch(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) ->
        ((r.getAs[Long]("rn"), r.getAs[Double]("adist")))).toMap
    val ivfpqMap = ivfpq.toMap
    ivfpqMap.keySet.intersect(full.keySet).foreach { k =>
      assert(ivfpqMap(k)._2 == full(k)._2, s"pair $k adist differs")
    }
    ivfpqMap.keys.map(_._1).toSeq.distinct.foreach { q =>
      val fullBest = full.collect { case ((`q`, _), (1L, a)) => a }
      val restrBest = ivfpqMap.collect { case ((`q`, _), (1L, a)) => a }
      if (fullBest.nonEmpty && restrBest.nonEmpty)
        assert(fullBest.head <= restrBest.head + 1e-12, s"q $q best bound")
    }
  }

  test("e8_ks_drift equals a driver-side two-sample KS computation") {
    val got = Analysis.e8KsDrift(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("ks_micro"))))
      .toMap
    assert(got.nonEmpty)
    // rebuild the same split with the declared slot gate, then textbook KS
    val sided = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type"), col("value"),
        Sampling.slot(col("event_id"), Analysis.KsSalt).as("slot"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("slot") < 50))
    sided.groupBy(_._1).foreach { case (et, rows) =>
      val a = rows.filter(_._3).map(_._2).sorted
      val b = rows.filterNot(_._3).map(_._2).sorted
      val values = rows.map(_._2).distinct.sorted
      val d = values.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.length -
          b.count(_ <= v).toDouble / b.length)
      }.max
      val (n1, n2, ks) = got(et)
      assert(n1 == a.length.toLong && n2 == b.length.toLong, s"$et sizes")
      assert(ks == BigDecimal(d * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, s"$et D")
      assert(ks >= 0 && ks <= 1000000, s"$et bounds")
    }
  }

  test("e7_dataset_card values cross-check against the queries it summarizes") {
    val card = Curation.e7DatasetCard(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[String]("section"), r.getAs[String]("metric")) ->
        r.getAs[Double]("value")).toMap
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    val nd = docs.count()
    assert(card(("corpus", "n_docs")) == nd.toDouble)
    // exact_dup_docs == sum of (family size - 1) over the exact-dedup pass
    val dups = Dedup.e1ExactDedup(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("n") - 1).sum
    assert(card(("dedup", "exact_dup_docs")) == dups.toDouble)
    // keep rate matches the declared quality-model query
    val keeps = TextOps.e3QualityModel(spark, TestSpark.sf0001).collect()
      .count(_.getAs[Boolean]("model_keep"))
    assert(math.abs(card(("quality", "model_keep_rate")) -
      (keeps.toDouble / nd * 1e6).round / 1e6) < 1e-12)
    // lang shares sum to 1 within rounding
    val shares = card.collect { case (("lang_share", _), v) => v }
    assert(shares.nonEmpty && math.abs(shares.sum - 1.0) < 1e-4)
  }

  test("e3_bm25 matches a driver-side recomputation with the same IEEE order") {
    val got = TextOps.e3Bm25(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Double]("bm25")))).toMap
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ", -1)))
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val tf = docs.map { case (id, toks) =>
      id -> Bm25TermsSorted.map(t => t -> toks.count(_ == t).toLong)
        .filter(_._2 > 0)
    }.toMap
    val df = Bm25TermsSorted.map(t =>
      t -> tf.values.count(_.exists(_._1 == t)).toLong).toMap
    docs.foreach { case (id, toks) =>
      val terms = tf(id)
      if (terms.isEmpty) assert(!got.contains(id), s"doc $id unexpected")
      else {
        val dl = toks.length.toLong
        // fold in sorted term order — the declared query's summation order
        val score = terms.foldLeft(0.0) { case (acc, (t, f)) =>
          val idf = (n - df(t) + 0.5) / (df(t) + 0.5)
          acc + idf * (f * (TextOps.Bm25K1 + 1.0)) /
            (f + TextOps.Bm25K1 * (1.0 - TextOps.Bm25B +
              TextOps.Bm25B * dl / avgdl))
        }
        assert(got(id)._1 == terms.length.toLong, s"doc $id n_terms")
        assert(math.abs(got(id)._2 -
          (score * 10000).round / 10000.0) < 1e-9, s"doc $id score")
      }
    }
  }
  private lazy val Bm25TermsSorted = TextOps.Bm25Terms.sorted

  test("e6_manifest agrees with the shuffle assignment and the fingerprint pass") {
    val man = Sampling.e6Manifest(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("checksum")))).toMap
    val per = Sampling.e6GlobalShuffle(spark, TestSpark.sf0001).collect()
      .groupBy(_.getAs[Long]("shard"))
    // same shard set; counts match the shuffle; pos is a complete 1..n rank
    assert(man.keySet == per.keySet)
    per.foreach { case (sh, rows) =>
      assert(man(sh)._1 == rows.length.toLong, s"shard $sh count")
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (1L to rows.length.toLong), s"shard $sh pos ranks")
    }
    // the checksum is recomputable from the declared per-doc fingerprints
    // alone — the auditor's path: XOR of mix64(shard-prio ⊕ fp) terms,
    // doc attribution folded into each term (a plain fp sum was blind to
    // duplicated content moving between docs of a shard)
    val mixScalar = org.apache.spark.sql.graftext.minhashExpression.mix _
    val fp = TextOps.e3Fingerprint(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    per.foreach { case (sh, rows) =>
      val want = rows.map { r =>
        val id = r.getAs[Long]("doc_id")
        mixScalar(mixScalar(id ^ Sampling.ShuffleSalt) ^ fp(id))
      }.reduce(_ ^ _)
      assert(man(sh)._3 == want, s"shard $sh checksum")
    }
  }

  test("e3_bpe_vocab/apply match a brute-force greedy BPE trainer") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val wf = docs.flatMap(_._2.split(" ", -1)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    var syms: Map[String, Vector[String]] =
      wf.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val merges = (1 to TextOps.BpeRounds).map { _ =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      syms.foreach { case (w, sl) =>
        sl.sliding(2).withFilter(_.length == 2)
          .foreach(p => counts((p(0), p(1))) += wf(w))
      }
      val (a, b) = counts.toSeq
        .sortBy { case ((x, y), n) => (-n, x, y) }.head._1
      syms = syms.map { case (w, sl) =>
        val out = collection.mutable.ArrayBuffer.empty[String]
        sl.foreach { s =>
          if (out.nonEmpty && out.last == a && s == b)
            out(out.length - 1) = a + b
          else out += s
        }
        w -> out.toVector
      }
      (a, b, counts((a, b)))
    }
    val got = TextOps.e3BpeVocab(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("n")))
    assert(got.toSeq == merges.toSeq, s"got ${got.toSeq} want $merges")
    // apply: per-doc token counts against the brute-forced symbol table
    val gotApply = TextOps.e3BpeApply(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    docs.foreach { case (id, t) =>
      val want = t.split(" ", -1).map { w =>
        if (w.isEmpty) 0L
        else if (w.length < 2) 1L
        else syms(w).length.toLong
      }.sum
      assert(gotApply(id) == want, s"doc $id")
    }
    // compression: merges should shrink the stream on the fixture
    val tokens = TextOps.e3BpeApply(spark, TestSpark.sf0001)
      .agg(sum(col("n_bpe_tokens")), sum(col("n_chars"))).head()
    assert(tokens.getLong(0) < tokens.getLong(1),
      "BPE tokens should undercut character count")
  }

  test("e1_cdc_chunks: chunks partition each doc; boundaries survive an insertion") {
    val rows = Dedup.e1CdcChunks(spark, TestSpark.sf0001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("dup_chunks") <= r.getAs[Long]("n_chunks"))
    }
    assert(rows.exists(_.getAs[Long]("dup_chunks") > 0), "fixture has near-dups")
    // the content-anchored property: duplicate a doc with one token
    // inserted near the front — all chunks strictly after the edited
    // chunk keep their boundaries, so most of the copy still dedups
    // (fixed-offset segmentation would lose every segment past the edit)
    val mix = org.apache.spark.sql.graftext.minhashExpression.mix _
    def chunksOf(words: Seq[String]): Seq[Seq[String]] = {
      val wh = words.sliding(Dedup.CdcK).filter(_.length == Dedup.CdcK)
        .map(w => org.apache.spark.sql.graftext.hashExpressions
          .fnv1a64(w.mkString(" "))).toArray
      val starts = 0 +: (1 until wh.length)
        .filter(i => ((mix(wh(i)) & Long.MaxValue) % Dedup.CdcAvg) == 0L)
      starts.zipWithIndex.map { case (st, j) =>
        val en = if (j + 1 < starts.length) starts(j + 1) else words.length
        words.slice(st, en)
      }
    }
    val base = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("text").head().getAs[String]("text").split(" ", -1).toSeq
    val edited = (base.take(2) :+ "INSERTED") ++ base.drop(2)
    val a = chunksOf(base).map(_.mkString(" ")).toSet
    val b = chunksOf(edited).map(_.mkString(" ")).toSet
    val shared = (a & b).size
    assert(shared >= a.size - 2,
      s"only $shared of ${a.size} chunks survived a 1-token insertion")
  }

  test("e7_epoch_plan respects the cap and never over-allocates the budget") {
    val rows = Curation.e7EpochPlan(spark, TestSpark.sf0001).collect()
    val tokens = rows.map(_.getAs[Long]("tokens"))
    val plan = rows.map(_.getAs[Long]("plan_tokens"))
    val budget = tokens.sum * Curation.EpochBudgetX
    assert(plan.sum <= budget, s"allocated ${plan.sum} > budget $budget")
    // integer-div shortfall only: the plan should land within |sources|
    // weight-rounding units of the full budget
    rows.foreach { r =>
      val cap = r.getAs[Long]("tokens") * Curation.MaxEpochs
      assert(r.getAs[Long]("plan_tokens") <= cap)
      if (r.getAs[Boolean]("capped"))
        assert(r.getAs[Long]("plan_tokens") == cap, s"${r.getAs[String]("source")}")
    }
    assert(rows.exists(_.getAs[Boolean]("capped")), "cap should bind on fixture")
    assert(rows.exists(!_.getAs[Boolean]("capped")), "cap should not bind everywhere")
  }

  test("e6_interleave keeps every prefix proportional per source (stride bound)") {
    val rows = Sampling.e6Interleave(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("pos_ppm")))
    val n = rows.length
    val share = rows.groupBy(_._1).map { case (s, xs) => s -> xs.length.toDouble / n }
    // stride scheduling: in the first m rows, each source's count is
    // within ~1 of m * share (ties at equal pos_ppm can add one more)
    val seen = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    rows.zipWithIndex.foreach { case ((src, _), i) =>
      seen(src) += 1
      val m = i + 1
      share.foreach { case (s, p) =>
        assert(math.abs(seen(s) - m * p) <= 2.0,
          s"prefix $m: source $s count ${seen(s)} vs expected ${m * p}")
      }
    }
    // ranks within a source are a permutation (shuffled, not id-ordered)
    val bySrc = rows.map(_._1).distinct
    assert(bySrc.length > 1)
  }

  test("e3_phrase_search matches a brute-force sliding-window scan") {
    val got = TextOps.e3PhraseSearch(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_occ"), r.getAs[Long]("first_pos")))).toMap
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val ph = TextOps.Phrase
    val expected = docs.flatMap { case (id, t) =>
      val hits = t.split(" ", -1).sliding(ph.length).zipWithIndex
        .filter(_._1.toSeq == ph).map(_._2).toSeq
      if (hits.isEmpty) None
      else Some(id -> ((hits.length.toLong, hits.min.toLong + 1)))
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain the phrase")
  }

  test("e1_prefix_join is exact (brute-force pair set) and prunes the exchange") {
    val got = Dedup.e1PrefixJoin(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        r.getAs[Double]("jaccard")).toMap
    // brute force: full-pairwise Jaccard over the same df-capped sets,
    // integer threshold gate 5i >= 4(na+nb-i)
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val sets0 = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val df = sets0.values.flatten.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val sets = sets0.map { case (id, ss) =>
      id -> ss.filter(s => df(s) <= Dedup.MaxShingleDf)
    }.filter(_._2.nonEmpty)
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      ai <- ids.indices; bi <- (ai + 1) until ids.length
      a = ids(ai); b = ids(bi)
      i = (sets(a) & sets(b)).size.toLong
      if i * Dedup.PrefixT_Den >=
        (sets(a).size + sets(b).size - i) * Dedup.PrefixT_Num
    } yield (a, b) ->
      (math.round(i.toDouble / (sets(a).size + sets(b).size - i) * 1e4) / 1e4)).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, j) => assert(got(k) == j, s"pair $k") }
    // the scale claim: prefix rows are a strict minority of the shingle
    // rows the full co-occurrence join would exchange
    val (_, pref) = Dedup.prefixCandidates(spark, TestSpark.sf0001)
    val prefRows = pref.count()
    val allRows = sets.values.map(_.size.toLong).sum
    assert(prefRows * 2 < allRows,
      s"prefix $prefRows rows vs $allRows full shingle rows — filter not pruning")
  }

  test("e1_containment matches brute force and dominates Jaccard per pair") {
    val got = Dedup.e1Containment(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        ((r.getAs[Double]("containment_ab"), r.getAs[Double]("containment_ba"))))
      .toMap
    // brute force over the same df-capped distinct 3-shingle sets
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val sets0 = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val df = sets0.values.flatten.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val sets = sets0.map { case (id, ss) =>
      id -> ss.filter(s => df(s) <= Dedup.MaxShingleDf)
    }
    val ids = sets.keys.toSeq.sorted
    val expected = (for {
      ai <- ids.indices; bi <- (ai + 1) until ids.length
      a = ids(ai); b = ids(bi)
      i = (sets(a) & sets(b)).size.toDouble
      if i > 0 && math.max(i / sets(a).size, i / sets(b).size) >= Dedup.MinContainment
    } yield (a, b) -> ((i / sets(a).size, i / sets(b).size))).toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    expected.foreach { case (k, (cab, cba)) =>
      assert(math.abs(got(k)._1 - (cab * 10000).round / 10000.0) < 1e-9, s"$k ab")
      assert(math.abs(got(k)._2 - (cba * 10000).round / 10000.0) < 1e-9, s"$k ba")
    }
    assert(got.nonEmpty, "fixture produced no containment pairs")
    // containment in either direction upper-bounds Jaccard for the pair
    val jac = Dedup.e1NgramJaccard(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) -> r.getAs[Double]("jaccard"))
      .toMap
    got.foreach { case (k, (cab, cba)) =>
      jac.get(k).foreach(j => assert(j <= math.min(cab, cba) + 1e-9, s"$k jaccard bound"))
    }
  }

  test("e3_quality_model: broadcast scoring matches driver-side doubles, corpus never shuffles") {
    val rows = TextOps.e3QualityModel(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"),
        r.getAs[Boolean]("model_keep")))
    assert(rows.nonEmpty)
    // independent recomputation with the same IEEE double arithmetic
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.foreach { case (id, micro, keep) =>
      val toks = docs(id).split(" ", -1)
      val nt = toks.length
      val nsw = toks.count(TextOps.Stopwords.contains)
      val letters = docs(id).replace(" ", "").length
      val z = TextOps.QmBias + TextOps.QmWsw * (nsw.toDouble / nt) +
        TextOps.QmWlen * (letters.toDouble / nt) +
        TextOps.QmWnt * (nt / TextOps.QmNtScale)
      assert(micro == BigDecimal(z * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        s"doc $id score")
      assert(keep == (z > 0.0), s"doc $id keep")
    }
    // the threshold must actually discriminate on the fixture
    assert(rows.exists(_._3) && rows.exists(!_._3), "degenerate keep split")
    // parameters arrive via broadcast; the corpus side has no exchange
    // before the scoring projection (sort for ORDER BY is the only one)
    val plan = TextOps.e3QualityModel(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
  }

  test("q42: HLL approx distinct stays within 5% of exact, sketch partial-aggregates") {
    // the declared query folds the bound into err_ok (so the DuckDB oracle
    // can check it end-to-end); the NUMERIC bound on the raw estimate is
    // pinned here against the same aggregates
    val raw = graft.Tables.lineitem(spark, TestSpark.sf001)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val err = math.abs(r.getAs[Long]("approx") - r.getAs[Long]("exact")).toDouble /
        r.getAs[Long]("exact")
      assert(err <= 0.05, s"HLL error $err exceeds 5% for ${r.get(0)}")
    }
    val df = Relational.q42ApproxDistinct(spark, TestSpark.sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Boolean]("err_ok"), s"err_ok false for ${r.get(0)}"))
    // the sketch must partial-aggregate map-side (fixed-size sketch per
    // partition through the exchange — the property that makes it the
    // 100 TB distinct-count)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_approx_count_distinct"),
      s"approx_count_distinct did not partial-aggregate:\n$plan")
  }

  test("e3_pack: one (source, shard) hash exchange serves both window and aggregate") {
    val plan = TestSpark.withoutAutoBroadcast {
      val df = TextOps.e3Pack(spark, TestSpark.sf001)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    // one hash exchange (the window's shuffle on (source, shard)) serves
    // BOTH the running-sum window and the (source, shard, pack_id)
    // aggregate — the coarser partitioning co-locates every finer group,
    // so a second exchange would be pure waste at scale. The final
    // orderBy's range exchange is the only other allowed shuffle.
    val hashEx = "hashpartitioning".r.findAllIn(plan.toLowerCase).length
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange (window + agg co-partitioned), got $hashEx:\n$plan")
    // and the exchange keys must include the doc_id-hash shard — the
    // thing that makes parallelism PackShards × |sources| instead of
    // |sources| (a one-source 100 TB corpus would otherwise pack through
    // a single task's sort)
    val exLine = plan.linesIterator.find(_.toLowerCase.contains("hashpartitioning"))
    assert(exLine.exists(l => l.contains("source") && l.contains("shard")),
      s"window exchange keys lost the shard: ${exLine.getOrElse("<none>")}")
  }

  test("q43: rank-sketch median stays within 5% of exact, sketch partial-aggregates") {
    val raw = graft.Tables.lineitem(spark, TestSpark.sf001)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("exact"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("approx"))
      .collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val e = r.getAs[Double]("exact")
      val a = r.getAs[Double]("approx")
      assert(math.abs(a - e) <= e * 0.05,
        s"sketch median $a vs exact $e for ${r.get(0)}")
    }
    val df = Relational.q43ApproxQuantile(spark, TestSpark.sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Boolean]("err_ok"), s"err_ok false for ${r.get(0)}"))
    // the sketch must partial-aggregate map-side (fixed-size summary per
    // partition through the exchange — what makes it the 100 TB quantile)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_percentile_approx"),
      s"percentile_approx did not partial-aggregate:\n$plan")
  }

  test("e6_quota_sample: the per-source top-K prunes before the shuffle (WindowGroupLimit)") {
    val plan = TestSpark.withoutAutoBroadcast {
      val df = Sampling.e6QuotaSample(spark, TestSpark.sf001)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    // the rank<=K filter must push into WindowGroupLimit nodes — the
    // Partial one runs BEFORE the exchange, so each input partition ships
    // at most K rows per source instead of the whole corpus; without it a
    // per-source window sort serializes each source through one task
    val n = "WindowGroupLimit".r.findAllIn(plan).length
    assert(n >= 2, s"expected Partial+Final WindowGroupLimit pair, got $n:\n$plan")
  }

  test("e3_chunk covers every token at window-boundary sizes") {
    // sizes straddling the window/stride boundaries: 1 token, exactly one
    // window (20), one past it (21), exactly two strides (35), one past
    // (36), and a long doc (110)
    val dir = graft.TestSpark.tmpDir("chunk")
    val docs = Seq(1, 19, 20, 21, 35, 36, 110).zipWithIndex.map {
      case (n, id) =>
        (id.toLong, (0 until n).map(i => s"t$i").mkString(" "), "en", "s", n.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = TextOps.e3Chunk(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val mine = chunks.filter(_._1 == id).sortBy(_._2)
      val n = text.split(" ").length
      // every token of the doc appears in some chunk (full coverage)
      assert(mine.flatMap(_._3.split(" ")).toSet == text.split(" ").toSet,
        s"doc $id ($n tokens) lost tokens")
      // chunk i starts at token i*stride and is at most ChunkTokens wide
      mine.foreach { case (_, cid, chunk) =>
        val toks = chunk.split(" ")
        assert(toks.length <= TextOps.ChunkTokens)
        assert(toks.head == s"t${cid * TextOps.ChunkStride}")
      }
      // no spurious extra window: the last chunk's start is < n
      assert(mine.last._2 * TextOps.ChunkStride < n)
    }
  }

  test("minhash LSH candidates recover the exact Jaccard >= 0.2 pairs") {
    val exact = Dedup.e1NgramJaccard(spark, TestSpark.sf001)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val lsh = Dedup.e1MinhashPairs(spark, TestSpark.sf001)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // 16 bands x 4 rows: P(candidate) = 1-(1-j^4)^16; at j=0.2 it's ~2.5%,
    // at j>=0.5 it's >63%. Require recall on the strong pairs only.
    val strong = Dedup.e1NgramJaccard(spark, TestSpark.sf001)
      .filter(col("jaccard") >= 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(strong.subsetOf(lsh),
      s"LSH missed strong pairs: ${strong.diff(lsh)}")
    // every LSH pair is a verified >= 0.2 pair (exactness of the verify step)
    assert(lsh.subsetOf(exact))
  }

  test("simhash: identical docs collide, near-dup docs are close in Hamming distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely unrelated text about spark partitions and shuffles")
    ).toDF("doc_id", "text")
    val sigs = df.select($"doc_id", Hashes.simHash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
  }

  test("simhash pairs: band buckets past MaxBandBucket are dropped from candidates") {
    // 300 identical docs collide into the SAME bucket in all 4 bands
    // (identical simhash), so each bucket's population is 300 >
    // MaxBandBucket=256 — the cap must drop the bucket, yielding ZERO
    // candidate pairs where the uncapped join would emit 300*299/2.
    // A second corpus under the cap keeps its pairs: the filter targets
    // hot buckets only, not collisions in general.
    def corpus(n: Int): String = {
      val dir = TestSpark.tmpDir(s"simhash_cap_$n")
      (1 to n).map(i => (i.toLong, "the very same boilerplate text repeated"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    assert(Dedup.e1SimhashPairs(spark, corpus(300)).count() == 0L)
    val under = Dedup.e1SimhashPairs(spark, corpus(10)).count()
    assert(under == 45L, s"10 identical docs -> C(10,2)=45 pairs, got $under")
  }

  test("rolling hash matches the definitional implementation and is codegen-stable") {
    val expected = "hello".foldLeft(0L)((h, c) => (h * 131 + c) % 1000000007L)
    val got = Seq("hello").toDF("s").select(Hashes.rollingHash($"s")).as[Long].head()
    assert(got == expected)
    // empty and unicode inputs don't crash
    val edge = Seq("", "héllo ✨").toDF("s")
      .select(Hashes.rollingHash($"s")).as[Long].collect()
    assert(edge.length == 2 && edge(0) == 0L)
  }

  test("ANN LSH: deterministic, structurally sound, sims are true cosines") {
    // The fixture embeddings are near-orthogonal (avg within-label cosine
    // ~0.002), so NO sublinear ANN can have high recall here — the honest
    // assertions are structural: one row per covered vector, reported sim
    // equals the true cosine of the reported pair, and the output is
    // deterministic across runs (seeded hyperplanes).
    val run1 = Similarity.e2AnnLsh(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val run2 = Similarity.e2AnnLsh(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(run1.nonEmpty && run1.sameElements(run2))
    assert(run1.map(_._1).distinct.length == run1.length, "one row per vector")
    // recompute true cosine for a sample of reported pairs
    val emb = spark.read.parquet(s"${TestSpark.sf001}/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    run1.take(50).foreach { case (v, n, sim) =>
      assert(math.abs(cos(emb(v), emb(n)) - sim) < 1e-3,
        s"reported sim for ($v,$n) is not the true cosine")
    }
  }

  test("ANN multi-probe: superset coverage, per-vector best sim never worse") {
    // multi-probe candidates strictly contain the base-bucket candidates
    // (the d=0 probe IS the base bucket), so every vector the base LSH
    // covers is covered here, and its best-neighbor sim can only improve
    val base = Similarity.e2AnnLsh(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val mp = Similarity.e2AnnMultiprobe(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(base.keySet.subsetOf(mp.keySet), "multi-probe lost a covered vector")
    assert(mp.size > base.size, "1-bit probes should cover extra vectors")
    base.foreach { case (v, s0) =>
      assert(mp(v) >= s0 - 1e-9, s"vector $v: multi-probe sim regressed")
    }
  }

  test("q53 sessionize: partitions the stream, boundaries respect the gap") {
    val sess = Relational.q53Sessionize(spark, TestSpark.sf001).collect()
    val nEvents = graft.Tables.events(spark, TestSpark.sf001).count()
    // every event lands in exactly one session
    assert(sess.map(_.getLong(2)).sum == nEvents)
    // session numbers are contiguous from 1 per user
    sess.groupBy(_.get(0)).foreach { case (_, rows) =>
      val nos = rows.map(_.getLong(1)).sorted
      assert(nos.head == 1L && nos.last == nos.length.toLong)
    }
    // types never exceed events; durations are non-negative
    sess.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(4) >= 0L)
    }
  }

  test("q53 sessionize agrees with Spark's native session_window at the same gap") {
    // the gaps-and-islands formulation and the built-in session_window
    // must partition events identically (boundary semantics differ only
    // at EXACT gap equality, which the micro-timestamped fixture can't hit)
    val native = graft.Tables.events(spark, TestSpark.sf001)
      .groupBy(col("user_id"),
        session_window(col("ts"), "12 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val ours = Relational.q53Sessionize(spark, TestSpark.sf001)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(ours == native)
  }

  test("embed outliers: exactly ceil(5%) flagged per cell, deterministic") {
    val out = Similarity.e2EmbedOutliers(spark, TestSpark.sf001).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cellN = rows.head.getLong(3)
      assert(rows.length.toLong == (cellN * 5 + 99) / 100,
        "flag count is not ceil(5% of cell)")
    }
    val again = Similarity.e2EmbedOutliers(spark, TestSpark.sf001).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("langid scoreboard reconciles with the confusion matrix") {
    val cm = TextOps.e3LangConfusion(spark, TestSpark.sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sb = TextOps.e3LangidScoreboard(spark, TestSpark.sf001).collect()
    assert(sb.nonEmpty)
    sb.foreach { r =>
      val lang = r.getString(0)
      val (nTrue, nPred, tp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTrue == cm.filter(_._1 == lang).map(_._3).sum)
      assert(nPred == cm.filter(_._2 == lang).map(_._3).sum)
      assert(tp == cm.filter(c => c._1 == lang && c._2 == lang).map(_._3).sum)
      val (p, rec, f1) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(p <= 1000000L && rec <= 1000000L)
      // harmonic mean sits between min and max of P/R (±1 for integer div)
      if (p + rec > 0)
        assert(f1 >= math.min(p, rec) - 1 && f1 <= math.max(p, rec) + 1)
    }
  }

  test("perceptron step reconciles with a driver-side recompute") {
    val docs = graft.Tables.documents(spark, TestSpark.sf001)
      .select("text").collect().map(_.getString(0))
    var (nMis, gB, gNt, gNsw) = (0L, 0L, 0L, 0L)
    docs.foreach { text =>
      val toks = text.split(" ", -1)
      val nt = toks.length.toLong
      val nsw = toks.count(TextOps.Stopwords.contains).toLong
      val score = BigDecimal(math.min(1.0, nt / 100.0) * (1.0 - nsw.toDouble / nt))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val y = if (score >= 0.5) 1L else -1L
      val margin = TextOps.PercW(0)._2 + TextOps.PercW(1)._2 * nt +
        TextOps.PercW(2)._2 * nsw
      val pred = if (margin > 0) 1L else -1L
      if (pred != y) { nMis += 1; gB += y; gNt += y * nt; gNsw += y * nsw }
    }
    val got = TextOps.e3PerceptronStep(spark, TestSpark.sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(got == Map("bias" -> ((gB, nMis)), "w_nt" -> ((gNt, nMis)),
      "w_nsw" -> ((gNsw, nMis))))
    assert(nMis > 0 && nMis < docs.length,
      "step should misclassify some but not all docs")
  }

  test("recall@3 bounds: dominated by pairs, dominates top-1 agreement") {
    val r3 = Similarity.e2RecallAtK(spark, TestSpark.sf001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val top1 = Similarity.e2AnnRecall(spark, TestSpark.sf001).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(r3.nonEmpty)
    r3.foreach { case (label, (np, hits, rec)) =>
      assert(hits <= np && rec >= 0.0 && rec <= 1.0)
      // an exact top-1 returned by IVF at rank 1 is a shared top-3 pair,
      // so recall@3 hits can never undercut the top-1 agreement count
      assert(hits >= top1(label),
        s"label $label: recall@3 hits $hits < top-1 hits ${top1(label)}")
    }
  }

  test("pocket perceptron loop never leaves a worse model than step one") {
    val (_, firstMis) = TextOps.perceptronStep(spark, TestSpark.sf001,
      TextOps.PercW.map(_._2))
    val (bestW, bestMis, iters) = TextOps.perceptronTrained(spark,
      TestSpark.sf001, maxIters = 5)
    assert(iters >= 1 && iters <= 5)
    assert(bestMis <= firstMis, "pocket must keep the best weights seen")
    // the returned weights really do score at the reported error
    val (_, recheck) = TextOps.perceptronStep(spark, TestSpark.sf001, bestW)
    assert(recheck == bestMis)
  }

  test("kmeans loop: shift collapses from the seed and tol terminates it") {
    // maxIters=0 → the untouched per-label seed codebook (k=10 labels ×
    // 64 dims on the fixture)
    val (seed, _, it0) = Similarity.kmeansTrained(spark, TestSpark.sf0001,
      maxIters = 0)
    assert(it0 == 0 && seed.size == 10 && seed.forall(_._2.size == 64))
    // early steps shrink the max centroid shift monotonically (fixture
    // trajectory 0.0703 → 0.0312 → 0.0258 → 0.0166; micro-unit means make
    // it deterministic). Later iterations limit-cycle at the 4-dp
    // quantum, so monotonicity is asserted for the head only.
    var cb = seed
    val shifts = (0 until 4).map { _ =>
      val (next, sh) = Similarity.kmeansStep(spark, TestSpark.sf0001, cb)
      cb = next; sh
    }
    assert(shifts.zip(shifts.tail).forall { case (a, b) => b < a },
      s"early shifts must strictly decrease, got $shifts")
    assert(shifts.last < shifts.head / 3)
    // tol inside the early trajectory stops the loop well before maxIters
    val (cbT, shT, itT) = Similarity.kmeansTrained(spark, TestSpark.sf0001,
      tol = 0.05, maxIters = 10)
    assert(itT >= 1 && itT < 10 && shT <= 0.05)
    assert(cbT.size == 10 && cbT.forall(_._2.size == 64))
    // unreachable tol → runs to maxIters exactly (termination guarantee)
    val (_, _, itM) = Similarity.kmeansTrained(spark, TestSpark.sf0001,
      tol = 0.0, maxIters = 3)
    assert(itM == 3)
  }

  test("kmeans objective: declared query reconciles and the loop descends it") {
    val rows = Similarity.e2KmeansObjective(spark, TestSpark.sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (n, obj, mean) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && obj >= 0 && mean == obj / n)
    }
    val totalDeclared = rows.map(_.getLong(2)).sum
    // the scalar helper over the SEED codebook equals the declared query
    val (seed, _, _) = Similarity.kmeansTrained(spark, TestSpark.sf0001,
      maxIters = 0)
    val objSeed = Similarity.kmeansObjective(spark, TestSpark.sf0001, seed)
    assert(objSeed == totalDeclared)
    // training descends the objective: three loop rounds must strictly
    // improve on the label-seeded codebook
    val (trained, _, _) = Similarity.kmeansTrained(spark, TestSpark.sf0001,
      tol = 0.0, maxIters = 3)
    val objTrained = Similarity.kmeansObjective(spark, TestSpark.sf0001, trained)
    assert(objTrained < objSeed,
      s"loop must reduce the objective: $objTrained vs seed $objSeed")
  }

  test("shingle profile: bucket accounting reconciles with the raw df table") {
    val rows = Dedup.e1ShingleProfile(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (digits, ns, tdf, pw, mn, mx, hot) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(mn >= 1 && mn <= mx)
      assert(mn.toString.length == digits && mx.toString.length == digits)
      // Σdf and Σdf² bracket against the bucket extremes
      assert(tdf >= ns * mn && tdf <= ns * mx)
      assert(pw >= tdf, "df >= 1 makes every df^2 >= df")
      assert(pw >= ns * mn * mn && pw <= ns * mx * mx)
      assert(hot >= 0 && hot <= ns)
    }
    // no fixture shingle reaches the cap (SCALE note: max df 25 at sf0.1),
    // so the declared pairwise results are cap-invariant — the property
    // the cap's "results unchanged at fixture scales" claim rests on
    assert(rows.map(_.getLong(6)).sum == 0)
  }

  test("ann pareto: dial monotonicity and agreement with the recall audit") {
    val rows = Similarity.e2AnnPareto(spark, TestSpark.sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows.keySet == Set("ivf_p1", "ivf_p2", "lsh_p1", "lsh_p13"))
    // more probes → candidate superset → can't answer fewer queries or
    // lose exact-agreement hits on either index family
    assert(rows("ivf_p2")._1 >= rows("ivf_p1")._1)
    assert(rows("ivf_p2")._2 >= rows("ivf_p1")._2)
    assert(rows("lsh_p13")._1 >= rows("lsh_p1")._1)
    assert(rows("lsh_p13")._2 >= rows("lsh_p1")._2)
    rows.values.foreach { case (n, h, bp) =>
      assert(h <= n && bp == (if (n == 0) 0L else h * 10000 / n))
    }
    // the ivf_p1 row must reconcile with e2_ann_recall's per-label hits
    val recallHits = Similarity.e2AnnRecall(spark, TestSpark.sf001)
      .collect().map(_.getLong(2)).sum
    assert(rows("ivf_p1")._2 == recallHits)
  }

  test("dim ablation: full width is exact and agreement grows with dims") {
    val rows = Similarity.e2DimAblation(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Similarity.AblationDims.map(_.toLong))
    // every width scores the same query set
    assert(rows.map(_._2).distinct.length == 1)
    // the full-width row is the sanity check: agreement is exactly 100%
    val full = rows.find(_._1 == 64L).get
    assert(full._3 == full._2 && full._4 == 10000L)
    // agreement is monotone in prefix width on the fixture (more
    // coordinates can only sharpen the ranking toward the full one here)
    val bps = rows.sortBy(_._1).map(_._4)
    assert(bps.zip(bps.tail).forall { case (a, b) => b >= a },
      s"agreement must not fall as dims grow: $bps")
  }

  test("q54 range frame: per-row trailing-7-day sums match a driver recompute") {
    val rows = Relational.q54RangeFrame(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_._2)
    rows.foreach { case (_, cust, day, _, rev7, n7) =>
      val in = byCust(cust).filter(t => t._3 >= day - 6 && t._3 <= day)
      assert(rev7 == in.map(_._4).sum, s"cust $cust day $day")
      assert(n7 == in.length)
    }
    // the fixture exercises the RANGE-vs-ROWS distinction: some frame
    // holds >1 order (peers/nearby days) and some exactly 1 (a gap)
    assert(rows.exists(_._6 > 1) && rows.exists(_._6 == 1))
  }

  test("lsh curve: fixture is the full-recall band; constructed overlaps band out") {
    // corpus fixture: every exact pair is a near-identical duplicate →
    // exactly one band, fully recalled (recall 1.0 is already pinned by
    // e1_lsh_recall; the curve shows WHERE that recall lives)
    val fx = Dedup.e1LshCurve(spark, TestSpark.sf0001).collect()
    assert(fx.length == 1 && fx(0).getString(0) == "j_070_100")
    assert(fx(0).getLong(2) == fx(0).getLong(1) && fx(0).getLong(3) == 10000L)
    // constructed corpus with graded overlaps populates the lower bands:
    // docs are sliding word-ranges over one vocabulary, so shingle
    // jaccard is controlled by the window offset
    import spark.implicits._
    val dir = graft.TestSpark.tmpDir("lshcurve")
    val words = (1 to 60).map(i => s"w$i")
    def doc(lo: Int, hi: Int) = words.slice(lo - 1, hi).mkString(" ")
    Seq(
      (1L, doc(1, 30)), (2L, doc(11, 40)),   // 18/38 shingles ≈ 0.47
      (3L, doc(1, 30)), (4L, doc(17, 46)),   // 12/44 ≈ 0.27
      (5L, doc(31, 60)), (6L, doc(31, 60)))  // identical → 1.0
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ex = Dedup.e1NgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the designed pairs land in the designed bands (plus whatever
    // incidental overlaps the sliding windows add)
    assert(ex((1L, 2L)) >= 0.3 && ex((1L, 2L)) < 0.5)
    assert(ex((3L, 4L)) >= 0.2 && ex((3L, 4L)) < 0.3)
    assert(ex((5L, 6L)) == 1.0)
    val curve = Dedup.e1LshCurve(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // per-band exact counts reconcile with the exact pair table
    def bandOf(j: Double) =
      if (j < 0.3) "j_020_030" else if (j < 0.5) "j_030_050"
      else if (j < 0.7) "j_050_070" else "j_070_100"
    val expect = ex.values.groupBy(bandOf).view.mapValues(_.size.toLong).toMap
    assert(curve.view.mapValues(_._1).toMap == expect)
    assert(curve.keySet.size >= 3, s"graded corpus must band out: ${curve.keySet}")
    curve.values.foreach { case (n, f, bp) =>
      assert(f <= n && bp == f * 10000 / n)
    }
    // the identical pair is always recalled (banding hits j=1 certainly)
    assert(curve("j_070_100")._3 == 10000L)
  }

  test("split leakage: reconciles with the pair table; cluster split leaks zero") {
    val rows = Sampling.e6SplitLeakage(spark, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val pairs = Dedup.minhashPairTable(spark, TestSpark.sf001)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // totality: every near-dup pair is classified exactly once
    assert(rows.values.sum == pairs.length && pairs.nonEmpty)
    // driver recompute of the hash-split classification
    def split(id: Long): String = {
      var z = id ^ Sampling.SplitSalt; z += 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      val slot = ((z ^ (z >>> 31)) & Long.MaxValue) % 100
      if (slot < 90) "train" else if (slot < 95) "val" else "test"
    }
    val expect = pairs.groupBy { case (a, b) =>
      val (x, y) = (split(a), split(b))
      (if (x <= y) x else y, if (x <= y) y else x)
    }.view.mapValues(_.length.toLong).toMap
    assert(rows == expect)
    // the hash split DOES leak on the fixture — the audit's reason to exist
    val leaked = rows.filterKeys(k => k._1 != k._2).values.sum
    assert(leaked > 0, "fixture should show cross-split near-dup pairs")
    // cluster-keyed assignment (e6_cluster_split's rule: split by the
    // connected-component label) leaks ZERO by construction
    val comp = Dedup.connectedComponentsStar(
        graft.Tables.documents(spark, TestSpark.sf001).select(col("doc_id")),
        Dedup.minhashPairTable(spark, TestSpark.sf001))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusterLeaks = pairs.count { case (a, b) =>
      split(comp(a)) != split(comp(b))
    }
    assert(clusterLeaks == 0,
      s"cluster-keyed split must never separate a near-dup pair: $clusterLeaks")
  }

  test("e6_kfold: folds partition the corpus and stay balanced") {
    val folds = Sampling.e6Kfold(spark, TestSpark.sf0001).collect()
    assert(folds.map(_.getLong(0)).toSeq == (0L until Sampling.Kfolds.toLong))
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // totality: doc/token/id mass is fully accounted for (with the
    // per-fold id checksum, disjointness would show up as a mismatch)
    assert(folds.map(_.getLong(1)).sum == docs.length)
    assert(folds.map(_.getLong(2)).sum == docs.map(_._2).sum)
    assert(folds.map(_.getLong(3)).sum == docs.map(_._1).sum)
    // balance: each fold within 2x of the uniform share on the fixture
    val share = docs.length.toDouble / Sampling.Kfolds
    folds.foreach { f =>
      assert(f.getLong(1) > share / 2 && f.getLong(1) < share * 2)
    }
  }

  test("pack stats reconcile with the pack table they audit") {
    val packs = TextOps.e3Pack(spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    val stats = TextOps.e3PackStats(spark, TestSpark.sf0001).collect()
    assert(stats.nonEmpty)
    val bysrc = packs.groupBy(_._1)
    stats.foreach { r =>
      val src = r.getString(0)
      val ps = bysrc(src)
      assert(r.getLong(1) == ps.length)
      assert(r.getLong(2) == ps.map(_._2).sum)
      assert(r.getLong(3) == ps.map(_._3).sum)
      assert(r.getLong(4) == ps.map(_._3).min && r.getLong(5) == ps.map(_._3).max)
      assert(r.getLong(6) == ps.count(_._3 < TextOps.PackBudget))
      assert(r.getLong(7) == ps.count(_._3 > TextOps.PackBudget))
      val utilBp = r.getLong(8)
      assert(utilBp == ps.map(_._3).sum * 10000 /
        (ps.length.toLong * TextOps.PackBudget))
      // positive utilization, bounded above by full + one straddling
      // chunk per pack. (The sf0.001 fixture reads ~38%: 32 shards ×
      // few docs each leaves mostly trailing underfull packs — the
      // fragmentation cost of shard parallelism, amortized away as
      // shards fill at real scale.)
      assert(utilBp > 0 && utilBp <= 20000, s"$src utilization $utilBp bp")
    }
    assert(stats.map(_.getString(0)).toSet == bysrc.keySet)
  }

  test("incremental neardup: batch docs only, matches in corpus, verified j") {
    val out = Dedup.e1IncrementalNeardup(spark, TestSpark.sf001).collect()
    assert(out.nonEmpty)
    def slot(id: Long): Long = {
      // splitmix64(id ^ IncrSalt) & Long.MaxValue mod 100, as in Sampling.slot
      var z = id ^ Dedup.IncrSalt; z += 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) & Long.MaxValue) % 100
    }
    out.foreach { r =>
      assert(slot(r.getLong(0)) >= 90, "flagged doc must be in the new batch")
      assert(slot(r.getLong(2)) < 90, "best match must be in the corpus")
      assert(r.getLong(1) >= 1L)
      val j = r.getDouble(3)
      assert(j >= 0.2 && j <= 1.0)
    }
  }

  test("connectedComponents labels edge endpoints missing from the vertex list") {
    // vertex list only knows doc 3, but the chain 1-2-3 must still resolve
    // to cluster 1 (a partial vertex list must not stall propagation)
    val vertices = Seq(3L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val labels = Dedup.connectedComponentsStar(vertices, pairs)._1
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("sampler and splitter use independent hash streams: a sampled corpus keeps all three splits") {
    // With a shared slot stream the 20% sample (slot < 20) is a subset of
    // 'train' (slot < 90) and sample-then-split degenerates to train-only.
    // The per-purpose salts must keep the composition ~90/5/5.
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val sampled = docs.filter(Sampling.slot(col("doc_id"), Sampling.SampleSalt) < 20)
      .withColumn("slot", Sampling.slot(col("doc_id"), Sampling.SplitSalt))
      .withColumn("split",
        when(col("slot") < 90, "train").when(col("slot") < 95, "val")
          .otherwise("test"))
    val counts = sampled.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"),
      s"sample∘split lost splits: $counts")
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
  }

  test("IVF query construction is job-free after the one memoized sizing count") {
    val sc = spark.sparkContext
    Similarity.e2AnnIvf(spark, TestSpark.sf001) // first build may run the count
    // any job launched by the second construction runs on THIS thread and
    // inherits the group; concurrent suites' jobs land in their own groups
    sc.setJobGroup("ivf-construction-probe", "construction must be job-free")
    try Similarity.e2AnnIvf(spark, TestSpark.sf001)
    finally sc.clearJobGroup()
    val ran = sc.statusTracker.getJobIdsForGroup("ivf-construction-probe")
    assert(ran.isEmpty,
      s"building the IVF query ran ${ran.length} Spark job(s); sizing must be memoized")
  }

  test("IVF nProbe=2 never finds a worse neighbor than nProbe=1") {
    // the nProbe=1 candidate set is a subset of the nProbe=2 set (build
    // side is identical; the probe side only gains a second cell), so the
    // best-found similarity per vector must be monotone in nProbe
    val s1 = Similarity.e2AnnIvf(spark, TestSpark.sf001)
      .select($"vec_id", $"sim").as[(Long, Double)].collect().toMap
    val s2 = Similarity.e2AnnIvf2(spark, TestSpark.sf001)
      .select($"vec_id", $"sim").as[(Long, Double)].collect().toMap
    assert(s1.keySet.subsetOf(s2.keySet),
      "every vector covered at nProbe=1 must stay covered at nProbe=2")
    val worse = s1.filter { case (v, sim) => s2(v) < sim - 1e-9 }
    assert(worse.isEmpty, s"nProbe=2 found worse neighbors: ${worse.take(5)}")
    // and the wider probe actually improves something on this fixture
    assert(s1.exists { case (v, sim) => s2(v) > sim + 1e-9 } || s1 == s2)
  }

  test("e6_global_shuffle: a permutation into K shards with contiguous positions") {
    val df = Sampling.e6GlobalShuffle(spark, TestSpark.sf001)
    val rows = TestSpark.withoutAutoBroadcast(df.collect())
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    val nDocs = graft.Tables.documents(spark, TestSpark.sf001).count()
    // a permutation: every doc exactly once
    assert(rows.length.toLong == nDocs)
    assert(rows.map(_._3).distinct.length.toLong == nDocs)
    // shards in [0, K); positions within each shard contiguous from 1
    assert(rows.forall(r => r._1 >= 0 && r._1 < Sampling.ShuffleShards))
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // the hash actually shuffles: no shard holds a doc_id-contiguous run
    // longer than chance allows (20 consecutive ids in one shard of 8 has
    // probability 8^-19 per start — seeing one means the hash is broken)
    val byShard = rows.groupBy(_._1).view.mapValues(_.map(_._3).sorted)
    byShard.foreach { case (shard, ids) =>
      val runs = ids.sliding(20).exists(w => w.last - w.head == 19)
      assert(!runs, s"shard $shard holds 20 consecutive doc_ids — not shuffled")
    }
    // ONE exchange keyed on the chosen shard: parallelism is the CHOSEN
    // K, not a data-determined key (the e3_pack lesson, designed in)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("hashpartitioning(shard"),
      s"window not keyed on shard:\n$plan")
  }

  test("e7_temperature_mix: weights renormalize and epochs decrease in source size") {
    val rows = Curation.e7TemperatureMix(spark, TestSpark.sf001).collect()
      .map(r => (r.getAs[Long]("tokens"), r.getAs[Double]("natural_share"),
        r.getAs[Double]("weight"), r.getAs[Double]("epochs")))
    assert(rows.length > 1)
    // both distributions sum to 1 within per-cell rounding
    val tol = rows.length * 1e-6
    assert(math.abs(rows.map(_._2).sum - 1.0) <= tol)
    assert(math.abs(rows.map(_._3).sum - 1.0) <= tol)
    // alpha < 1 compresses: epochs strictly decreasing in tokens (sqrt
    // smoothing up-samples small sources, down-samples big ones)
    val byTok = rows.sortBy(_._1)
    byTok.zip(byTok.tail).foreach { case (small, big) =>
      assert(small._4 >= big._4 - 1e-9,
        s"epochs not monotone: $small then $big")
    }
    // and the largest source is genuinely down-sampled iff sources differ
    if (byTok.head._1 != byTok.last._1)
      assert(byTok.last._4 < 1.0 && byTok.head._4 > 1.0)
  }

  test("e1_boilerplate: ratios consistent and bounded by the dedup segment view") {
    val b = Dedup.e1Boilerplate(spark, TestSpark.sf001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segments"),
        r.getAs[Long]("n_boiler"), r.getAs[Double]("boiler_ratio"),
        r.getAs[Long]("clean_tokens")))
    assert(b.nonEmpty)
    b.foreach { case (id, nSeg, nBoil, ratio, clean) =>
      assert(nBoil >= 0 && nBoil <= nSeg, s"doc $id: $nBoil of $nSeg")
      assert(math.abs(ratio - (nBoil.toDouble / nSeg * 10000).round / 10000.0) < 1e-9)
      assert(clean >= 0, s"doc $id negative clean_tokens")
      // clean tokens only come from non-boiler segments of <= SegmentWords
      assert(clean <= (nSeg - nBoil) * Dedup.SegmentWords)
    }
    // per-source df >= 3 implies corpus-wide df >= 2: every boilerplate
    // segment is also a duplicated segment in e1_segment_dedup's view, so
    // a doc's boiler count can never exceed its dup-segment count
    // (boilerplate counts repeats, dedup counts distinct — compare via
    // the distinct-capped bound only when the doc has no self-repeats)
    val dup = Dedup.e1SegmentDedup(spark, TestSpark.sf001).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_dup_segments")))).toMap
    b.foreach { case (id, nSeg, nBoil, _, _) =>
      val (nDistinct, nDup) = dup(id)
      if (nSeg == nDistinct) // no within-doc repeats: counts comparable
        assert(nBoil <= nDup,
          s"doc $id: $nBoil boilerplate but only $nDup duplicated segments")
    }
  }

  test("e2_pq: codes are structurally sound, the codebook is live, ADC finds close vectors") {
    val codes = Similarity.e2PqCodes(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub"), r.getAs[Long]("code")))
    val n = graft.Tables.embeddings(spark, TestSpark.sf0001).count()
    // PqM codes per vector, each in [0, PqKsub)
    assert(codes.length.toLong == n * Similarity.PqM)
    assert(codes.forall(c => c._3 >= 0 && c._3 < Similarity.PqKsub))
    codes.groupBy(_._1).foreach { case (v, cs) =>
      assert(cs.map(_._2).sorted.toSeq == (0L until Similarity.PqM.toLong),
        s"vector $v missing subspace codes")
    }
    // every codeword is used somewhere on this fixture (the codebook is live)
    assert(codes.map(_._3).distinct.length == Similarity.PqKsub)
    // ADC search: top-k per query, ranked by approximate distance, and the
    // reported neighbors are genuinely close — for every query, the top-1's
    // TRUE L2 distance must beat the corpus median true distance (a recall
    // floor: quantized search can lose precision but must not return
    // arbitrary vectors)
    val search = Similarity.e2PqSearch(spark, TestSpark.sf0001)
    val res = search.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rn"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adist")))
    // the rank<=K filter must push into a Partial+Final WindowGroupLimit
    // pair: each input partition ships at most PqTopK candidates per query
    // into the exchange instead of the whole codes scan
    val plan = search.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"ADC top-k did not prune before the shuffle:\n$plan")
    val qids = res.map(_._1).distinct
    assert(qids.length == Similarity.PqNQueries)
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to Similarity.PqTopK.toLong))
      assert(rs.sortBy(_._2).map(_._4).sliding(2).forall(w => w.head <= w.last + 1e-9),
        s"query $q adist not monotone in rank")
    }
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    qids.foreach { q =>
      val dists = vecs.collect { case (v, e) if v != q => l2(vecs(q), e) }.toSeq.sorted
      val median = dists(dists.length / 2)
      val top1 = res.filter(r => r._1 == q && r._2 == 1L).head._3
      assert(l2(vecs(q), vecs(top1)) < median,
        s"query $q: ADC top-1 $top1 is no closer than the corpus median")
    }
  }

  test("e2_pq_rerank: exact re-rank of the ADC shortlist recovers true order") {
    val rr = Similarity.e2PqRerank(spark, TestSpark.sf0001)
    val res = rr.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rn"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
    val plan = rr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // stage 1 (ADC over codes) still prunes its top-C before the shuffle
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"ADC shortlist did not prune before the shuffle:\n$plan")
    // stage 2 (full-precision fetch) must be a broadcast of the tiny
    // shortlist against the vector-store scan, never a shuffled join
    assert(plan.contains("BroadcastHashJoin"),
      s"shortlist fetch is not a broadcast join:\n$plan")
    val qids = res.map(_._1).distinct
    assert(qids.length == Similarity.PqNQueries)
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to Similarity.PqTopK.toLong))
      assert(rs.sortBy(_._2).map(_._4).sliding(2).forall(w => w.head >= w.last - 1e-9),
        s"query $q sim not monotone in rank")
    }
    // recovery property: the shortlist contains ADC's top-1, so re-ranking
    // by exact cosine can only improve (or tie) the served top-1
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val adcTop1 = Similarity.e2PqSearch(spark, TestSpark.sf0001).collect()
      .filter(_.getAs[Long]("rn") == 1L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("vec_id")).toMap
    qids.foreach { q =>
      val rrTop1 = res.filter(r => r._1 == q && r._2 == 1L).head._3
      assert(cos(vecs(q), vecs(rrTop1)) >= cos(vecs(q), vecs(adcTop1(q))) - 1e-9,
        s"query $q: re-rank top-1 $rrTop1 worse than ADC top-1 ${adcTop1(q)}")
    }
  }

  test("e7_funnel: stages shrink monotonically and end at the curated corpus") {
    val rows = Curation.e7Funnel(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("stage"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("tokens")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 4L))
    // each gate can only remove documents/tokens
    assert(rows.sliding(2).forall { case Array(a, b) =>
      b._2 <= a._2 && b._3 <= a._3 },
      s"funnel not monotone: ${rows.mkString(", ")}")
    assert(rows.head._2 > 0 && rows.last._2 > 0)
    // the last stage IS e7_curated (same gates, cumulative)
    assert(rows.last._2 == Curation.e7Curated(spark, TestSpark.sf0001).count())
  }

  test("queries and oracleSql stay consistent") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
  }

  test("e2_semdedup: dropped set matches a brute-force in-cell keep-first scan") {
    import org.apache.spark.sql.graftext.minhashExpression.mix
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.toMap
    val seeds = emb.map(_._1).sortBy(id => (mix(id), id))
      .take(Similarity.ivfCells(emb.length))
    // top-1 cell: max cosine, ties to the LOWER cell id (the ivfAssigned rule)
    val cellOf = emb.map { case (id, v) =>
      id -> seeds.map(c => (c, cos(v, byId(c))))
        .reduceLeft((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)._1
    }.toMap
    val expected: Map[Long, (Long, Long, Double)] = emb.flatMap { case (id, v) =>
      val ks = emb.filter { case (b, bv) =>
        b < id && cellOf(b) == cellOf(id) && cos(v, bv) >= Similarity.SemDedupTau }
      if (ks.isEmpty) None
      else { val (kid, kv) = ks.minBy(_._1); Some(id -> ((cellOf(id), kid, cos(v, kv)))) }
    }.toMap
    val got = Similarity.e2Semdedup(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> ((r.getAs[Long]("cell"),
        r.getAs[Long]("keeper_id"), r.getAs[Double]("sim")))).toMap
    assert(got.nonEmpty, "fixture produced no semantic duplicates")
    assert(got.keySet == expected.keySet,
      s"dropped sets differ: extra=${got.keySet.diff(expected.keySet)} missing=${expected.keySet.diff(got.keySet)}")
    got.foreach { case (id, (cell, keeper, sim)) =>
      val (ecell, ekeeper, esim) = expected(id)
      assert(keeper < id, s"vec $id keeper not lower-id")
      assert(cell == ecell && keeper == ekeeper, s"vec $id cell/keeper")
      assert(math.abs(sim - esim) <= 5e-5, s"vec $id sim $sim vs $esim")
    }
    // the kept set is everything not dropped — dedup never empties a cell:
    // each cell's lowest-id member has no lower-id neighbor, so it survives
    val keptPerCell = emb.map(_._1).groupBy(cellOf)
      .map { case (c, ids) => c -> ids.filterNot(got.contains) }
    assert(keptPerCell.values.forall(_.nonEmpty), "a cell lost every member")
  }

  test("e6_dsir: integer importance weights match brute force; target slice scores higher") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text")))
    val B = Sampling.DsirBuckets.toInt
    def bucket(t: String): Int = {
      val h = org.apache.spark.sql.graftext.hashExpressions.fnv1a64(t)
      (((h % B) + B) % B).toInt
    }
    val toks = docs.flatMap { case (id, lang, text) =>
      text.split(" ").filter(_.nonEmpty).map(t => (id, lang, bucket(t))) }
    val cr = Array.fill(B)(0L); val ct = Array.fill(B)(0L)
    toks.foreach { case (_, lang, b) =>
      cr(b) += 1; if (lang == Sampling.DsirTargetLang) ct(b) += 1 }
    val nr = cr.sum; val nt = ct.sum
    val w = Array.tabulate(B)(b => 1000000L * ct(b) / nt - 1000000L * cr(b) / nr)
    val expected = toks.groupBy(_._1).map { case (id, xs) =>
      id -> ((xs.length.toLong, xs.map(x => w(x._3)).sum)) }
    val got = Sampling.e6Dsir(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("lang"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("score"),
        r.getAs[Boolean]("keep")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (_, n, score, keep)) =>
      val (en, escore) = expected(id)
      assert(n == en && score == escore, s"doc $id: ($n,$score) vs ($en,$escore)")
      assert(keep == (score > 0), s"doc $id keep flag")
    }
    // the selection must actually separate the distributions: the target
    // slice's mean score exceeds the non-target slice's
    val (tgt, rest) = got.values.partition(_._1 == Sampling.DsirTargetLang)
    def mean(xs: Iterable[Long]): Double = xs.sum.toDouble / xs.size
    assert(mean(tgt.map(_._3)) > mean(rest.map(_._3)),
      "target-language docs do not score higher than the rest")
    assert(tgt.count(_._4) * rest.size > rest.count(_._4) * tgt.size,
      "keep rate should be higher on the target slice")
  }

  test("q47_scd2: versions match a brute-force lag/lead replay and tile each history") {
    val rows = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        graft.Tables.fmtDate(col("o_orderdate")).as("d")).collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        r.getAs[String]("o_orderpriority"), r.getAs[String]("d")))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      val sorted = os.sortBy(o => (o._4, o._2))
      val changes = sorted.zipWithIndex.filter { case (o, i) =>
        i == 0 || sorted(i - 1)._3 != o._3 }.map(_._1)
      changes.zipWithIndex.map { case (o, i) =>
        (ck, o._2, o._3, o._4,
          if (i + 1 < changes.length) Some(changes(i + 1)._4) else None) }
    }.toSet
    val got = Relational.q47Scd2(spark, TestSpark.sf0001).collect().map { r =>
      (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        r.getAs[String]("o_orderpriority"), r.getAs[String]("valid_from"),
        Option(r.getAs[String]("valid_to")), r.getAs[Boolean]("is_current"))
    }
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)).toSet == expected)
    // exactly one current version per customer; valid ranges chain
    got.groupBy(_._1).foreach { case (ck, vs) =>
      assert(vs.count(_._6) == 1, s"cust $ck current-version count")
      val sorted = vs.sortBy(v => (v._4, v._2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5.contains(b._4), s"cust $ck gap: $a -> $b")
        case _ => ()
      }
      assert(sorted.last._5.isEmpty, s"cust $ck last version must be open")
    }
  }

  test("q48_merge_upsert: keep/update/insert classification matches brute force") {
    val rows = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        graft.Tables.fmtDate(col("o_orderdate")).as("d")).collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Long]("o_orderkey"),
        r.getAs[String]("o_orderstatus"), r.getAs[String]("d")))
    val cutoff = Relational.MergeCutoff
    val expected = rows.groupBy(_._1).map { case (ck, os) =>
      val snap = os.filter(_._4 < cutoff).sortBy(o => (o._4, o._2)).lastOption
      val batch = os.filter(_._4 >= cutoff).sortBy(o => (o._4, o._2)).lastOption
      val winner = batch.orElse(snap).get
      val action =
        if (batch.isEmpty) "keep" else if (snap.isDefined) "update" else "insert"
      ck -> ((winner._2, winner._3, winner._4, action))
    }
    val got = Relational.q48MergeUpsert(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("o_custkey") -> ((r.getAs[Long]("o_orderkey"),
        r.getAs[String]("o_orderstatus"), r.getAs[String]("o_date"),
        r.getAs[String]("action")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (ck, e) => assert(got(ck) == e, s"cust $ck: ${got(ck)} vs $e") }
    assert(got.values.map(_._4).toSet == Set("keep", "update", "insert"),
      "fixture must exercise all three merge actions")
  }

  test("q50_incr_agg: state + delta equals the from-scratch aggregate exactly") {
    val got = Relational.q50IncrAgg(spark, TestSpark.sf001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("sum_qty"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("n_delta")))).toMap
    val full = graft.Tables.lineitem(spark, TestSpark.sf001)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("sum_qty"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Double]("sum_qty"), r.getAs[Long]("n")))).toMap
    assert(got.keySet == full.keySet)
    got.foreach { case (k, (sq, n, nd)) =>
      // DECIMAL accumulation: incremental == backfill EXACTLY, not ±eps
      assert(sq == full(k)._1, s"group $k sum: $sq vs ${full(k)._1}")
      assert(n == full(k)._2, s"group $k count")
      assert(nd >= 0 && nd <= n)
    }
    assert(got.values.exists(_._3 > 0), "the delta slice must be non-empty")
  }

  test("q49_dq_checks: counters match direct recomputation; drift check fails as designed") {
    val got = Relational.q49DqChecks(spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_checked"),
        r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass")))).toMap
    assert(got.size == 6)
    val li = graft.Tables.lineitem(spark, TestSpark.sf0001)
    val o = graft.Tables.orders(spark, TestSpark.sf0001)
    val nLi = li.count(); val nO = o.count()
    assert(got("orders_pk_unique") ==
      ((nO, nO - o.select("o_orderkey").distinct().count(), true)))
    assert(got("lineitem_fk_orders")._1 == nLi)
    assert(got("lineitem_fk_orders")._2 ==
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count())
    val qviol = li.filter(col("l_quantity") > 40).count()
    assert(got("lineitem_qty_le_40") == ((nLi, qviol, qviol == 0)))
    assert(qviol > 0 && !got("lineitem_qty_le_40")._3,
      "the drifted range expectation must exercise the failing path")
    assert(got("customer_fk_nation")._3 && got("events_value_nonneg")._3)
    got.foreach { case (name, (n, v, pass)) =>
      assert(v >= 0 && v <= n && pass == (v == 0), s"check $name inconsistent")
    }
  }

  test("e1_lsh_recall: LSH pairs are a subset of exact pairs (precision 1) and recall is sane") {
    val r = Dedup.e1LshRecall(spark, TestSpark.sf001).head()
    val (nExact, nLsh, nCommon) = (r.getAs[Long]("n_exact"),
      r.getAs[Long]("n_lsh"), r.getAs[Long]("n_common"))
    // every LSH pair is verified with the SAME exact Jaccard over the
    // SAME capped shingle sets the ground truth uses, so lsh ⊆ exact
    // exactly — n_common must equal n_lsh, which is the precision-1
    // claim in the Scaladoc made checkable
    assert(nCommon == nLsh, s"LSH emitted a pair outside the exact set: $nLsh vs $nCommon")
    assert(nExact > 0 && nLsh > 0)
    val rec = r.getAs[Double]("recall")
    assert(rec > 0.0 && rec <= 1.0, s"recall $rec")
  }

  test("e1_keeper_quality: keeper is the argmax-quality cluster member; volumes reconcile") {
    val clusters = Dedup.e1DedupClusters(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val score = TextOps.e3Quality(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((math.round(r.getAs[Double]("score") * 10000), r.getAs[Long]("n_tokens")))).toMap
    val got = Dedup.e1KeeperQuality(spark, TestSpark.sf0001).collect()
    assert(got.map(_.getAs[Long]("cluster")).toSet == clusters.values.toSet)
    got.foreach { r =>
      val c = r.getAs[Long]("cluster")
      val members = clusters.collect { case (d, cl) if cl == c => d }.toSeq.sorted
      val keeper = r.getAs[Long]("keeper_doc_id")
      assert(members.contains(keeper), s"keeper $keeper not in cluster $c")
      // argmax score, ties to smallest doc_id — brute-forced
      val want = members.maxBy(d => (score(d)._1, -d))
      assert(keeper == want, s"cluster $c keeper $keeper, brute force $want")
      assert(r.getAs[Long]("cluster_size") == members.size)
      assert(r.getAs[Long]("dropped_docs") == members.size - 1)
      assert(r.getAs[Long]("dropped_tokens") ==
        members.filterNot(_ == keeper).map(score(_)._2).sum)
    }
    // multi-doc clusters exist at this SF, so the policy is exercised
    assert(got.exists(_.getAs[Long]("dropped_docs") > 0))
  }

  test("e3_bpe_merge: greedy left-to-right fold matches brute force, incl. overlapping pairs") {
    // 'aaa' under merge aa must become [aa, a] (no re-merge), 'baab' → [b, aa, b]
    val docs = Seq((1L, "aaa baab aa ab x"), (2L, "aaab aaaa ba"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
    val dir = graft.TestSpark.tmpDir("bpe")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // brute force: pair counts over words len>=2 → top pair (count desc,
    // pair asc) is 'aa'; greedy merge; recount
    val words = docs.flatMap(_._2.split(" ")).filter(_.length >= 2)
    val firstCounts = words.flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, xs) => p -> xs.size }
    val (topPair, _) = firstCounts.toSeq.minBy { case (p, n) => (-n, p) }
    val (a, b) = (topPair(0), topPair(1))
    def greedy(w: String): Seq[String] =
      w.drop(1).foldLeft(Seq(w.take(1))) { (acc, c) =>
        if (acc.last == a.toString && c == b) acc.init :+ (acc.last + c)
        else acc :+ c.toString
      }
    val after = words.map(greedy).flatMap(sy => sy.zip(sy.drop(1)))
      .map { case (x, y) => s"$x+$y" }
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val got = TextOps.e3BpeMerge(spark, dir).collect()
    assert(got.head.getAs[String]("merged") == topPair)
    got.foreach { r =>
      val p = r.getAs[String]("pair")
      assert(after(p) == r.getAs[Long]("n"), s"pair $p")
    }
    // ranks are the brute-force descending order with pair tie-break
    val wantOrder = after.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(got.length).map(_._1)
    assert(got.map(_.getAs[String]("pair")).toSeq == wantOrder)
  }

  test("e2_sq8: codes stay in one byte and MSE is bounded by half a quantization step") {
    val rows = Similarity.e2Sq8(spark, TestSpark.sf0001).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("mn"), r.getAs[Double]("mx"))
      val nCodes = r.getAs[Long]("n_codes")
      assert(nCodes >= 1 && nCodes <= 256, s"dim ${r.getAs[Int]("dim")}: $nCodes codes")
      // worst-case per-coordinate error is half a step: ((mx-mn)/510)^2
      val bound = math.pow((mx - mn) / 510.0, 2) * 1e10 + 1
      assert(r.getAs[Long]("mse_e10") <= bound,
        s"dim ${r.getAs[Int]("dim")}: mse ${r.getAs[Long]("mse_e10")} > $bound")
    }
    // quantization actually uses the code space on real data
    assert(rows.map(_.getAs[Long]("n_codes")).max > 64)
  }

  test("e2_ann_filtered: every neighbor satisfies the predicate; filter reaches the scan") {
    val labelOf = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val df = Similarity.e2AnnFiltered(spark, TestSpark.sf0001)
    val got = df.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(labelOf(r.getAs[Long]("neighbor_id")) == Similarity.FilterLabel,
        s"neighbor ${r.getAs[Long]("neighbor_id")} violates the predicate")
      val sim = r.getAs[Double]("sim")
      assert(sim >= -1.0001 && sim <= 1.0001)
    }
    // pre-filter semantics: the predicate must prune the build-side SCAN,
    // not post-filter the join output
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*EqualTo\\(label".r.findFirstIn(plan).isDefined,
      s"label predicate must reach parquet:\n${plan.take(4000)}")
  }

  test("e3_entropy: matches a direct Shannon computation and respects the log bound") {
    val rows = TextOps.e3Entropy(spark, TestSpark.sf0001).collect()
    val texts = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.length == texts.count(_._2.nonEmpty))
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val n = t.length.toDouble
      val h = t.groupBy(identity).values
        .map(g => g.size / n * math.log(n / g.size)).sum
      assert(math.abs(r.getAs[Double]("entropy") - h) < 1e-3)
      // H <= ln(distinct_chars) — the uniform-distribution bound
      assert(r.getAs[Double]("entropy") <=
        math.log(r.getAs[Long]("distinct_chars").toDouble) + 1e-9)
    }
  }

  test("e6_cluster_split: no near-dup pair straddles splits; doc-level split WOULD leak") {
    def splitOf(key: Long, salt: Long): String = {
      // replica of Sampling.slot: splitmix64(key ^ salt) & MaxValue % 100
      var z = (key ^ salt) + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      val m = (z ^ (z >>> 31)) & Long.MaxValue
      val s = m % 100
      if (s < 90) "train" else if (s < 95) "val" else "test"
    }
    val clusters = Dedup.e1DedupClusters(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val pairs = Dedup.e1MinhashPairs(spark, TestSpark.sf0001).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")))
    // the no-straddle property: both ends of every near-dup pair get the
    // same (cluster-keyed) split
    pairs.foreach { case (a, b) =>
      assert(splitOf(clusters(a), Sampling.SplitSalt) ==
        splitOf(clusters(b), Sampling.SplitSalt), s"pair ($a,$b) straddles")
    }
    // and the doc-level split genuinely leaks on this fixture (the
    // failure mode the operator exists to prevent)
    assert(pairs.exists { case (a, b) =>
      splitOf(a, Sampling.SplitSalt) != splitOf(b, Sampling.SplitSalt) })
    // summary reconciles with the corpus
    val rows = Sampling.e6ClusterSplit(spark, TestSpark.sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == clusters.size)
    assert(rows.map(_.getAs[Long]("n_clusters")).sum ==
      clusters.values.toSet.size)
  }

  test("e6_time_split: no temporal leakage — train strictly precedes eval at the 80/20 cutoff") {
    val rows = Sampling.e6TimeSplit(spark, TestSpark.sf0001).collect()
      .map(r => r.getAs[String]("split") -> r).toMap
    assert(rows.keySet == Set("train", "eval"))
    // the no-leakage property: the whole train range precedes eval
    assert(rows("train").getAs[String]("to_ts") <
      rows("eval").getAs[String]("from_ts"))
    // counts reconcile and the cut lands near 80/20 of the SPAN (event
    // density varies, so only sanity-bound the ratio)
    val (nt, ne) = (rows("train").getAs[Long]("n_events"),
      rows("eval").getAs[Long]("n_events"))
    assert(nt + ne == graft.Tables.events(spark, TestSpark.sf0001).count())
    assert(nt > ne, s"train $nt should dominate eval $ne")
  }

  test("e7_source_caps: cap binds only above the share, kept budget respects it") {
    val rows = Curation.e7SourceCaps(spark, TestSpark.sf0001).collect()
    val total = rows.map(_.getAs[Long]("tokens")).sum
    val cap = total * Curation.SourceCapPct / 100
    rows.foreach { r =>
      val (tk, kept) = (r.getAs[Long]("tokens"), r.getAs[Long]("kept_tokens"))
      assert(kept <= cap && kept <= tk)
      assert(r.getAs[Boolean]("capped") == (tk > cap))
      if (tk <= cap) {
        assert(kept == tk)
        assert(r.getAs[Long]("keep_rate_ppm") == 1000000L)
      }
    }
  }

  test("e2_hard_negatives: every mined negative crosses the label boundary, full coverage") {
    val rows = Similarity.e2HardNegatives(spark, TestSpark.sf0001).collect()
    val n = graft.Tables.embeddings(spark, TestSpark.sf0001).count()
    // any other label qualifies, so (unlike the fixed-slice filtered
    // search) every probed vector finds a negative in its cells
    assert(rows.length == n)
    rows.foreach { r =>
      assert(r.getAs[Int]("label") != r.getAs[Int]("negative_label"))
      val s = r.getAs[Double]("sim")
      assert(s >= -1.0001 && s <= 1.0001)
    }
    // hard negatives are near the anchor by construction: the median
    // mined similarity must beat a random-pair baseline (~0 for random
    // directions)
    val sims = rows.map(_.getAs[Double]("sim")).sorted
    assert(sims(sims.length / 2) > 0.1, s"median ${sims(sims.length / 2)}")
  }

  test("e3_hash_embed: per-doc vectors are unit-norm, dims in range, counts reconcile") {
    val rows = TextOps.e3HashEmbed(spark, TestSpark.sf0001).collect()
    assert(rows.forall { r =>
      val dim = r.getAs[Long]("dim"); dim >= 0 && dim < TextOps.HashDim
    })
    val tokCount = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").count(_.nonEmpty)).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val norm2 = rs.map(r => math.pow(r.getAs[Double]("nv"), 2)).sum
      // rounded components still sum to ~1
      assert(math.abs(norm2 - 1.0) < 0.01, s"doc $id norm² $norm2")
      // |v| per doc can never exceed the doc's token count
      assert(rs.map(r => math.abs(r.getAs[Long]("v"))).sum <= tokCount(id))
    }
  }

  test("microMean precondition: embedding coordinates stay within the documented |x| <= 10 bound") {
    // Similarity.microMean's integer half-up formula is exact only while
    // the numerator 2s + n·100·(2·OFF+1) stays positive (truncating div ==
    // floor), i.e. mean > -10.00005; the symmetric documented bound is
    // |mean| <= 10, and per-coordinate means are bounded by the coordinate
    // range. Out-of-range data would diverge cross-engine SILENTLY, so the
    // precondition is pinned here against every fixture scale the oracle
    // gate runs (the same discipline as the other exactness preconditions).
    Seq(TestSpark.sf0001, TestSpark.sf001, "/root/testdata/sf0.1").foreach { dir =>
      val mx = graft.Tables.embeddings(spark, dir)
        .select(max(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))")))
        .head.getDouble(0)
      assert(mx <= 10.0, s"$dir: max |coordinate| $mx exceeds microMean's exactness bound")
    }
  }
}
