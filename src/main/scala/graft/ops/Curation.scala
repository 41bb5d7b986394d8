package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus-curation composites over `documents` — the queries a
  * training-data pipeline runs ON TOP of the individual dedup/quality
  * operators (SURVEY.md §2 E1/E3): per-source health stats (the per-domain
  * aggregation every web-corpus pipeline uses to find boilerplate-heavy
  * sources) and the final curated-document selection combining near-dup
  * cluster keepers, repetition filters, and quality thresholds. */
object Curation {

  /** E7 — per-source corpus stats: document count, language spread, mean
    * quality score, and the exact-duplicate fraction (docs whose normalized
    * fingerprint occurs 2+ times corpus-wide). Sources with high dup_frac /
    * low avg_quality are the ones a pipeline drops or down-weights
    * wholesale. Plan: fingerprint + token counts are scan-side; one
    * aggregate on the 32-byte fp (map-side combined), one equi-join back,
    * one aggregate on source. Nothing is broadcast-forced — at 100 TB the
    * fp table is corpus-sized and AQE keeps both shuffles honest. */
  def e7SourceStats(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(TextOps.stopwordFilterSql)))
    val nfp = docs.groupBy("fp").agg(count(lit(1)).as("nfp"))
    docs.join(nfp, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(TextOps.qualityScore(col("nt"), col("nsw"))), 4).as("avg_quality"),
        sum(when(col("nfp") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_frac", round(col("n_dup_docs") / col("n_docs"), 4))
      .orderBy("source")
  }

  /** E7 — the curated corpus: documents that survive ALL of (a) near-dup
    * cluster keeper selection (doc_id == its cluster's canonical min id —
    * singletons keep themselves), (b) a repetition filter on the 2-gram
    * duplicate fraction and top-word fraction, and (c) a quality-score
    * threshold. This is the single query a pipeline ships as its output
    * table; each input reuses the declared operator's exact (rounded)
    * definition, so the composite stays oracle-checkable end to end. The
    * repetition gate uses the 2-gram fraction rather than e3Repetition's
    * word-level keep flag: on a closed-vocabulary corpus the word-level
    * fraction is just a length proxy (0.94-correlated with the quality
    * score here), while repeated 2-grams remain a genuine repetition
    * signal. Plan: three narrow per-doc tables equi-joined on doc_id —
    * the cluster loop dominates, and it runs over edge endpoints only
    * (see Dedup.connectedComponentsStar). */
  def e7Curated(s: SparkSession, d: String): DataFrame = {
    // BOTH dedup gates, in the order a production pipeline applies them:
    // the exact-fingerprint pass catches identical copies (the near-dup
    // graph deliberately cannot see documents whose every shingle is
    // df-capped as boilerplate — the 100× ScaleProbe caught exactly this:
    // without the exact gate, a doc duplicated past the cap re-enters the
    // corpus once per copy), then near-dup cluster keepers.
    val exactKeepers = Dedup.e1ExactDedup(s, d)
      .select(col("keeper").as("doc_id"))
    val keepers = Dedup.e1DedupClusters(s, d)
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
    val q = TextOps.e3Quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("score"))
    val rep = TextOps.e3Repetition(s, d)
      .select(col("doc_id"), col("dup_2gram_frac"), col("top_word_frac"))
    q.join(rep, "doc_id").join(keepers, "doc_id").join(exactKeepers, "doc_id")
      .filter(col("score") >= 0.5 &&
        col("dup_2gram_frac") <= 0.05 && col("top_word_frac") <= 0.3)
      .select("doc_id", "n_tokens", "score")
      .orderBy("doc_id")
  }

  /** E7 — the corpus MIXTURE table: per-(lang, source) document and token
    * totals with each cell's share of the total token budget — the report
    * a pretraining run publishes to steer sampling weights (domain/
    * language mixing is tuned against exactly this table, then enforced
    * by the E6 samplers). Plan: one scan-side token count → one
    * (lang, source) aggregate (map-side combined, |langs|×|sources| keys
    * at any corpus size) → the denominator as a whole-table window over
    * that tiny cell table (never a collected scalar, and never a second
    * aggregate branch — which would re-scan the corpus). Integer token
    * sums keep the one rounded division oracle-exact. */
  def e7Mixture(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
      // denominator via a whole-table window over the |langs|×|sources|
      // cell table — a separate total aggregate branch would re-scan the
      // corpus (the e8_concentration lesson)
      .withColumn("total_tokens", sum(col("tokens")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("total_tokens"), 6).as("token_share"))
      .orderBy("lang", "source")

  /** E7 — temperature-smoothed source sampling weights (α = 0.5): the
    * standard multilingual/multi-domain rebalancing — sample source i with
    * probability ∝ tokens_i^α instead of its natural share, so small
    * sources are up-sampled and giant crawls down-sampled without hard
    * caps (the exponent-smoothing used for multilingual pretraining
    * mixes). Emits, per source: raw tokens, natural_share, the smoothed
    * weight, and epochs = weight / natural_share — the effective number
    * of passes over that source at the smoothed mix (> 1 = up-sampled).
    * α is pinned at 0.5 so the smoothing is sqrt(): both engines'
    * correctly-rounded IEEE sqrt makes the weights bit-portable, where a
    * general pow() could drift a ulp. Cross-engine float-sum hazard
    * avoided: sqrt values are rounded to 6dp and summed as DECIMAL (an
    * EXACT, order-independent sum — a raw double sum would depend on
    * partition order), and only the final already-rounded divisions are
    * double. Plan: ONE |sources|-key aggregate over ONE scan, totals via
    * whole-table windows over the source table — flat at any corpus
    * size. */
  def e7TemperatureMix(s: SparkSession, d: String): DataFrame = {
    // totals ride a whole-table window over the source table (a separate
    // total aggregate branch re-scans the corpus — the e8_concentration
    // lesson); DECIMAL window sums stay exact and order-independent
    val bySrc = documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("tokens"))
      .withColumn("w", round(sqrt(col("tokens")), 6).cast("decimal(28,6)"))
      .withColumn("total_tokens",
        sum(col("tokens")).over(Window.partitionBy()))
      .withColumn("total_w", sum(col("w")).over(Window.partitionBy()))
    bySrc
      .select(col("source"), col("tokens"),
        round(col("tokens") / col("total_tokens"), 6).as("natural_share"),
        round(col("w").cast("double") / col("total_w").cast("double"), 6)
          .as("weight"),
        round((col("w").cast("double") / col("total_w").cast("double")) /
          (col("tokens").cast("double") / col("total_tokens").cast("double")), 4)
          .as("epochs"))
      .orderBy("source")
  }

  /** Pretrain budget multiple and the anneal fraction (pretrain/10) —
    * interpolated into both engines. */
  val PretrainX = 2L
  val AnnealDiv = 10L

  /** E7 — the two-phase ANNEAL PLAN: the pretrain→anneal data schedule
    * current practice ends training with (a large diversity-weighted
    * phase, then a short final phase over only the highest-quality
    * slice). Phase A draws PretrainX× the corpus tokens by the α=0.5
    * temperature weights (e7_temperature_mix's smoothing — here in
    * bit-deterministic integer micro-weights w6 = floor(sqrt(tokens)·1e6
    * + 0.5), the microMean floor discipline, so no decimal-sum machinery
    * is needed); phase B draws a 1/AnnealDiv-sized budget from ONLY the
    * top quality decile, allocated per source in proportion to its
    * high-quality token mass (e3_quality_tiers' integer-decile rule
    * supplies the threshold: equal scores never split a tier, so
    * eligibility is score ≥ min(tier-10 score)). All divisions are
    * integer DIV — the schedule is bit-stable across engines and
    * backfills. Bound: (PretrainX·total)·w6 must stay < 2⁶³ — fine to
    * ~10⁹ corpus tokens; beyond that the identical identity runs over
    * DECIMAL/HUGEINT. Emits per source: raw tokens, high-quality tokens,
    * both draws, and the anneal share in basis points — the two-phase
    * recipe card a training run consumes. Plan: ONE corpus scan reduces
    * to a (source, 4-dp score) table (≤|sources|·10⁴ keys,
    * partial-combined); the decile histogram, threshold, and per-source
    * folds all run on that table; totals ride whole-table windows over
    * the |sources|-row result. */
  def e7AnnealPlan(s: SparkSession, d: String): DataFrame = {
    val ss = documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(TextOps.stopwordFilterSql)))
      .select(col("source"),
        round(TextOps.qualityScore(col("nt"), col("nsw")), 4).as("score"),
        col("nt").cast("long").as("nt"))
      .groupBy("source", "score")
      .agg(count(lit(1)).as("c"), sum(col("nt")).as("tk"))
    val wCum = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // single-partition windows, but over the bounded score histogram
    val thr = ss.groupBy("score").agg(sum(col("c")).as("hc"))
      .withColumn("cum", sum(col("hc")).over(wCum))
      .withColumn("tot", sum(col("hc")).over(wTot))
      .filter(expr("(cum * 10 + tot - 1) div tot") === 10L)
      .agg(min(col("score")).as("thr"))
    val bySrc = ss.groupBy("source").agg(sum(col("tk")).as("tokens"))
    val hq = ss.crossJoin(broadcast(thr))
      .filter(col("score") >= col("thr"))
      .groupBy("source").agg(sum(col("tk")).as("hq_tokens"))
    bySrc.join(hq, Seq("source"), "left")
      .withColumn("hq_tokens", coalesce(col("hq_tokens"), lit(0L)))
      .withColumn("w6",
        floor(sqrt(col("tokens").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      // totals via whole-table windows over the |sources|-row table
      .withColumn("total_tokens",
        sum(col("tokens")).over(Window.partitionBy()))
      .withColumn("total_w6", sum(col("w6")).over(Window.partitionBy()))
      .withColumn("total_hq", sum(col("hq_tokens")).over(Window.partitionBy()))
      .withColumn("draw_pretrain",
        expr(s"($PretrainX * total_tokens) * w6 div total_w6"))
      .withColumn("draw_anneal", least(col("hq_tokens"),
        expr(s"($PretrainX * total_tokens div $AnnealDiv) * hq_tokens" +
          " div total_hq")))
      .select(col("source"), col("tokens"), col("hq_tokens"),
        col("draw_pretrain"), col("draw_anneal"),
        when(col("draw_pretrain") + col("draw_anneal") === 0L, 0L)
          .otherwise(expr(
            "10000 * draw_anneal div (draw_pretrain + draw_anneal)"))
          .as("anneal_share_bp"))
      .orderBy("source")
  }

  /** E7 — the curation FUNNEL: how many documents (and tokens) survive
    * each successive gate of the e7_curated pipeline — raw → exact-dedup
    * keepers → near-dup cluster keepers → repetition filter → quality
    * threshold. This is the one-page report every corpus build publishes
    * (each stage's token drop is the cost of that gate), and the
    * monotone-decreasing counts are a built-in sanity check on the
    * composite. Plan: the per-doc gate booleans are computed once in one
    * joined pass (sharing the same operator definitions as e7_curated),
    * then ONE aggregate emits all five stages via stack() — the corpus is
    * never re-scanned per stage. */
  def e7Funnel(s: SparkSession, d: String): DataFrame = {
    val exactK = Dedup.e1ExactDedup(s, d)
      .select(col("keeper").as("doc_id"), lit(true).as("ex"))
    val clusK = Dedup.e1DedupClusters(s, d)
      .select(col("doc_id"), (col("doc_id") === col("cluster")).as("ck"))
    val q = TextOps.e3Quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("score"))
    val rep = TextOps.e3Repetition(s, d)
      .select(col("doc_id"), col("dup_2gram_frac"), col("top_word_frac"))
    val g = q.join(rep, "doc_id")
      .join(clusK, "doc_id")
      .join(exactK, Seq("doc_id"), "left")
      .withColumn("ex", coalesce(col("ex"), lit(false)))
      .withColumn("g2", col("ex") && col("ck"))
      .withColumn("g3", col("g2") &&
        col("dup_2gram_frac") <= 0.05 && col("top_word_frac") <= 0.3)
      .withColumn("g4", col("g3") && col("score") >= 0.5)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, col("n_tokens"))), lit(0L))
    g.agg(count(lit(1)).as("n_raw"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t_raw"),
        cnt(col("ex")).as("n_ex"), tok(col("ex")).as("t_ex"),
        cnt(col("g2")).as("n_ck"), tok(col("g2")).as("t_ck"),
        cnt(col("g3")).as("n_rep"), tok(col("g3")).as("t_rep"),
        cnt(col("g4")).as("n_q"), tok(col("g4")).as("t_q"))
      .selectExpr(
        """stack(5,
          |  0L, 'raw', n_raw, t_raw,
          |  1L, 'exact_keeper', n_ex, t_ex,
          |  2L, 'cluster_keeper', n_ck, t_ck,
          |  3L, 'repetition', n_rep, t_rep,
          |  4L, 'quality', n_q, t_q)
          |AS (stage, gate, n_docs, tokens)""".stripMargin)
      .orderBy("stage")
  }

  /** Purpose salt for the mixture sampler — independent of every other
    * sampling salt so composing this draw with the e6 samplers/splits
    * keeps all of them unbiased. Positive so the oracle's xor stays
    * below 2^63. Resolution: rates quantize to 1/MixRateRes. */
  val MixSampleSalt = 0x59f2c1b7e3a48d26L
  val MixRateRes = 10000L

  /** E7 — temperature-mixture SAMPLING: the e7_temperature_mix weights
    * applied to the corpus. Per-source keep rate = epochs / max(epochs)
    * (the max-epoch source keeps everything; every other source is
    * down-sampled toward the α=0.5 smoothed share — rejection-free
    * one-pass resampling; a trainer recovers the exact target mix by
    * epoch-repeating the max source). Membership is the deterministic
    * splitmix64 gate: slot(doc_id) mod MixRateRes < floor(rate·MixRateRes)
    * — reproducible across runs, engines, and backfills, like every e6
    * sampler. Output is the per-source audit (planned rate, kept
    * docs/tokens, realized share). Plan: two vocabulary-sized aggregates
    * build the rate table (broadcast back), the keep gate is SCAN-SIDE
    * arithmetic, and the audit re-aggregates |sources| keys — the corpus
    * itself is never shuffled. */
  def e7MixtureSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftext.minhashExpression.mix64
    // every corpus-level total rides a whole-table WINDOW over the tiny
    // source table: the first cut derived tt/tw/max_ep/kt as separate
    // aggregate branches and Catalyst re-planned the corpus scan per
    // branch — TEN scans; this shape is two (the rate build and the keep
    // gate), scan-count-asserted in AnalysisSpec
    val wAll = Window.partitionBy()
    val docs = documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    val rates = docs.groupBy("source").agg(sum(col("nt")).as("tokens"))
      .withColumn("w", round(sqrt(col("tokens")), 6).cast("decimal(28,6)"))
      .withColumn("tt", sum(col("tokens")).over(wAll))
      .withColumn("tw", sum(col("w")).over(wAll))
      .withColumn("epochs",
        round((col("w").cast("double") / col("tw").cast("double")) /
          (col("tokens").cast("double") / col("tt").cast("double")), 4))
      .withColumn("max_ep", max(col("epochs")).over(wAll))
      .select(col("source"), round(col("epochs") / col("max_ep"), 6).as("rate"))
      .withColumn("thr", floor(col("rate") * MixRateRes).cast("long"))
    docs.join(broadcast(rates), "source")
      .filter(pmod(mix64(col("doc_id").bitwiseXOR(lit(MixSampleSalt)))
        .bitwiseAND(lit(Long.MaxValue)), lit(MixRateRes)) < col("thr"))
      .groupBy("source")
      .agg(max(col("rate")).as("rate"), count(lit(1)).as("n_kept"),
        sum(col("nt")).as("tokens_kept"))
      .withColumn("kt", sum(col("tokens_kept")).over(wAll))
      .select(col("source"), col("rate"), col("n_kept"), col("tokens_kept"),
        round(col("tokens_kept") / col("kt").cast("double"), 4)
          .as("realized_share"))
      .orderBy("source")
  }

  /** E7 — the DATASET CARD: the one-page summary table a released corpus
    * ships (corpus totals, language shares, dedup rates, quality
    * aggregates) as (section, metric, value) rows. Determinism rule:
    * every `value` is either an integer count cast to double or ONE
    * division of two integer sums — never a float sum over rows, whose
    * accumulation order (and therefore hash) differs between engines.
    * Plan: five independent map-side-combined aggregates over scan-side
    * integers, each reduced to ≤ |langs| rows before a union of tiny
    * frames — the corpus is scanned once per section, nothing
    * corpus-sized ever shuffles. */
  def e7DatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    def row(section: String, metric: org.apache.spark.sql.Column,
        value: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
      Seq(lit(section).as("section"), metric.as("metric"),
        round(value.cast("double"), 6).as("value"))
    val base = docs.agg(
      count(lit(1)).as("nd"),
      sum(size(split(col("text"), " "))).as("nt"),
      countDistinct(col("source")).as("ns"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(Dedup.contentFingerprint(col("text"))).as("nfp"),
      sum(size(expr(TextOps.stopwordFilterSql))).as("nsw"))
    val corpus = base.select(array(
      struct(row("corpus", lit("n_docs"), col("nd")): _*),
      struct(row("corpus", lit("n_tokens"), col("nt")): _*),
      struct(row("corpus", lit("n_sources"), col("ns")): _*),
      struct(row("corpus", lit("n_langs"), col("nl")): _*),
      struct(row("dedup", lit("exact_dup_docs"), col("nd") - col("nfp")): _*),
      struct(row("dedup", lit("exact_dup_rate"),
        (col("nd") - col("nfp")) / col("nd")): _*),
      struct(row("quality", lit("avg_doc_tokens"), col("nt") / col("nd")): _*),
      struct(row("quality", lit("stopword_ratio"), col("nsw") / col("nt")): _*)
    ).as("a")).select(explode(col("a")).as("r")).select("r.*")
    val langShares = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("nd"))))
      .select(row("lang_share", col("lang"), col("c") / col("nd")): _*)
    val spans = Dedup.e1SpanDedup(s, d)
      .agg(sum(col("dup_tokens")).as("dt"), sum(col("n_tokens")).as("tt"))
      .select(row("dedup", lit("span_dup_token_rate"),
        col("dt") / col("tt")): _*)
    val keeps = TextOps.e3QualityModel(s, d)
      .agg(sum(when(col("model_keep"), 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("nd"))
      .select(row("quality", lit("model_keep_rate"), col("k") / col("nd")): _*)
    corpus.unionByName(langShares).unionByName(spans).unionByName(keeps)
      .orderBy("section", "metric")
  }

  /** Max share (percent) any single source may hold of the corpus token
    * budget. */
  val SourceCapPct = 25L

  /** E7 — per-source token CAP (the RefinedWeb/C4-style domain cap): no
    * source may exceed SourceCapPct% of the total token budget, so one
    * over-crawled domain cannot dominate the mixture no matter how large
    * it lands (the complement of e7_temperature_mix, which rebalances
    * smoothly — a cap is the hard guarantee a data-governance policy can
    * state). Emits, per source: its raw tokens, whether the cap binds,
    * the kept token budget, and the integer-ppm keep rate a downstream
    * deterministic sampler (e7_mixture_sample's gate with this rate)
    * enforces document-by-document. All arithmetic is exact integers —
    * cap = total·pct div 100, rates in ppm — so the policy table is
    * bit-stable across engines and backfills. Plan: ONE |sources|-key
    * aggregate over ONE corpus scan; the total rides a whole-table
    * window over the tiny source table (a separate total aggregate
    * branch would re-scan the corpus — the e8_concentration lesson,
    * scan-count-asserted in AnalysisSpec). */
  def e7SourceCaps(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .groupBy("source")
      .agg(asLong(sum(size(split(col("text"), " ")))).as("tokens"))
      .withColumn("total",
        asLong(sum(col("tokens")).over(Window.partitionBy())))
      .withColumn("cap_tokens", expr(s"total * $SourceCapPct div 100"))
      .withColumn("capped", col("tokens") > col("cap_tokens"))
      .withColumn("kept_tokens", least(col("tokens"), col("cap_tokens")))
      .withColumn("keep_rate_ppm", expr("1000000 * kept_tokens div tokens"))
      .select(col("source"), col("tokens"), col("capped"),
        col("kept_tokens"), col("keep_rate_ppm"))
      .orderBy("source")
  }

  /** Token budget for the epoch plan, as a multiple of the corpus, and
    * the per-source repetition ceiling — both interpolated into the
    * oracle. 3×/3 makes the cap BIND on roughly half the fixture sources,
    * so the redistribution branch is actually exercised. */
  val EpochBudgetX = 3L
  val MaxEpochs = 3L

  /** E7 — the EPOCH PLAN: turn a total token budget (EpochBudgetX × the
    * corpus) plus the α=0.5 temperature weights into concrete per-source
    * token draws, under a hard repetition ceiling (MaxEpochs passes over
    * any one source — the data-constrained-scaling discipline: repeating
    * a small source beyond a few epochs stops helping, so its surplus
    * budget should flow to sources that still have fresh text). One
    * water-filling round: target = budget·w/Σw; sources over their cap
    * are clipped and the clipped surplus is re-granted to UNCAPPED
    * sources in proportion to their weights (again clipped — the
    * declared semantics is exactly one redistribution round, the fixed
    * point at fixture scale). Weights are integer micro-units
    * (round(√tokens·10⁶)) and every division is an integer div, so the
    * plan is bit-stable across engines and backfills. Plan shape: ONE
    * |sources|-key aggregate over ONE corpus scan; all corpus-level sums
    * ride whole-table windows over the tiny source table. */
  def e7EpochPlan(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d)
      .groupBy("source")
      .agg(asLong(sum(size(split(col("text"), " ")))).as("tokens"))
      .withColumn("w",
        round(sqrt(col("tokens")) * lit(1000000L)).cast("long"))
      .withColumn("tw", asLong(sum(col("w")).over(Window.partitionBy())))
      .withColumn("total",
        asLong(sum(col("tokens")).over(Window.partitionBy())))
      .withColumn("target", expr(s"total * $EpochBudgetX * w div tw"))
      .withColumn("cap", expr(s"tokens * $MaxEpochs"))
      .withColumn("alloc1", least(col("target"), col("cap")))
      .withColumn("leftover",
        asLong(sum(col("target") - col("alloc1")).over(Window.partitionBy())))
      .withColumn("wunc", asLong(sum(when(col("target") < col("cap"),
        col("w")).otherwise(0L)).over(Window.partitionBy())))
      .withColumn("extra", when(col("target") < col("cap") && col("wunc") > 0,
        expr("leftover * w div wunc")).otherwise(0L))
      .withColumn("plan_tokens",
        least(col("alloc1") + col("extra"), col("cap")))
    src.select(col("source"), col("tokens"),
        expr("1000000 * w div tw").as("weight_ppm"),
        (col("target") > col("cap")).as("capped"),
        col("plan_tokens"),
        expr("1000 * plan_tokens div tokens").as("epochs_m3"))
      .orderBy("source")
  }

  /** E7 — count-weighted keeper manifest (weight histogram): the
    * alternative dedup POLICY to dropping — keep one copy per near-dup
    * cluster and train it with weight = cluster size, preserving the
    * corpus distribution that plain dedup tilts (heavily-duplicated
    * content is popular content; weight-1-per-copy and keep-one-drop-rest
    * are the two extremes, and count-weighting is the tunable middle
    * ground the dedup literature recommends auditing before choosing).
    * Emits the weight histogram with the token mass at stake per weight:
    * `tokens_total` (what weight-w clusters hold), `tokens_kept` (what
    * their keepers retrain on) — the difference is exactly what the drop
    * policy deletes and the weight policy re-inflates. Keeper = the
    * cluster label itself (min doc_id, e1_dedup_clusters' canonical
    * choice). Plan at scale: rides the SHARED pair-table propagation
    * labels (never re-pairs), one doc_id join for token counts, one
    * cluster-keyed aggregate, then a histogram aggregate keyed by weight
    * — bounded by the largest duplicate family, not the corpus. */
  def e7DedupWeights(s: SparkSession, d: String): DataFrame = {
    val nt = documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    Dedup.e1DedupClusters(s, d).join(nt, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("weight"),
        sum(col("nt")).as("tokens_total"),
        sum(when(col("doc_id") === col("cluster"), col("nt")).otherwise(0L))
          .as("tokens_kept"))
      .groupBy("weight")
      .agg(count(lit(1)).as("n_clusters"),
        sum("tokens_total").as("tokens_total"),
        sum("tokens_kept").as("tokens_kept"))
      .orderBy("weight")
  }

  /** Release-boundary salt — independent of every sampling/split/shuffle
    * salt, so "which release a doc landed in" is uncorrelated with any
    * other gate (mirrored into the oracle). */
  val ReleaseSalt = 0x59e2b7c4d1a38f6bL

  /** E7 — RELEASE DIFF card: the per-source delta table a data-release
    * review reads between corpus v1 (the previous snapshot: a
    * deterministic 90% doc gate standing in for "what shipped last
    * time") and v2 (the full corpus). Alongside raw growth
    * (docs/tokens added) it separates ADDITIONS from NOVELTY: an added
    * doc whose content fingerprint already existed in v1 is STALE (a
    * re-crawl / mirror of shipped content — inflates counts, adds no
    * information), so `added_stale` and `novel_tokens` are the numbers
    * that decide whether a source's refresh earned its ingest cost.
    * All-integer deltas (order-independent sums); the one ratio is a
    * division of two integers, IEEE-identical cross-engine. Plan: the
    * release gate and fingerprint are scan-side; the v1 fingerprint set
    * joins the added side on 16-byte hashes (documents never shuffle);
    * two |sources|-key aggregates meet in a tiny full-outer join. At
    * 100× everything after the scan is fingerprint/source-bounded. */
  def e7DatasetDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        Dedup.contentFingerprint(col("text")).as("fp"),
        (Sampling.slot(col("doc_id"), ReleaseSalt) < 90).as("in_v1"))
    val v1 = docs.filter(col("in_v1"))
    val v1agg = v1.groupBy("source")
      .agg(count(lit(1)).as("docs_v1"), sum("nt").as("tokens_v1"))
    val v1fp = v1.select("fp").distinct().withColumn("seen", lit(1L))
    val addagg = docs.filter(!col("in_v1"))
      .join(v1fp, Seq("fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_added"),
        sum("nt").as("tokens_added"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("added_stale"),
        sum(when(col("seen").isNull, col("nt")).otherwise(0L))
          .as("novel_tokens"))
    v1agg.join(addagg, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("docs_v1"), lit(0L)).as("docs_v1"),
        coalesce(col("tokens_v1"), lit(0L)).as("tokens_v1"),
        coalesce(col("docs_added"), lit(0L)).as("docs_added"),
        coalesce(col("tokens_added"), lit(0L)).as("tokens_added"),
        coalesce(col("added_stale"), lit(0L)).as("added_stale"),
        coalesce(col("novel_tokens"), lit(0L)).as("novel_tokens"))
      .withColumn("growth_pct",
        when(col("docs_v1") === 0L, lit(null).cast("double"))
          .otherwise(round(col("docs_added") / col("docs_v1"), 4)))
      .orderBy("source")
  }

  /** Release-gate thresholds (integer units; interpolated into both
    * engines): quality-drift KS < 2500 bp, exact-dup token inflation
    * < 1.5×, unigram TVD from the corpus < 0.25. */
  val GateQualityKsBp = 2500L
  val GateInflationBp = 15000L
  val GateTvd4 = 2500L

  /** E7 — per-source RELEASE GATE: the GO/NO-GO verdict table a data
    * release review signs off on, composing three monitors this engine
    * already ships — e8_quality_drift (did the score distribution move
    * between releases), e1_dup_inflation (is the source's token mass
    * inflated by exact copies), e8_source_divergence (is the source's
    * unigram profile an outlier vs the corpus) — into integer-threshold
    * pass flags and one `admit` verdict. This is the lime-etl idea
    * (run checks, publish a pass/fail table a scheduler gates on —
    * job_test_result.py) lifted to corpus release QA; the declared
    * query form means the verdict itself is oracle-checked, and each
    * component's oracle SQL is composed VERBATIM (qualityDriftChain /
    * dupInflationChain / sourceDivergenceChain — the e3_pack_stats
    * can't-drift rule). A source with no drift reading (all docs one
    * side of the release gate) passes the drift check by default
    * (ks_bp = 0: no evidence of drift is not evidence of drift). All
    * comparisons are integer vs integer; TVD enters as round(tvd·10⁴)
    * — both engines hold the identical 4-dp double, so the integerized
    * comparison cannot split. Plan: three already-bounded monitor
    * outputs (≤ |sources| rows each) meet in two |sources|-key joins —
    * nothing corpus-sized beyond the monitors' own scans. */
  def e7ReleaseGate(s: SparkSession, d: String): DataFrame = {
    val qd = Analysis.e8QualityDrift(s, d).select(col("source"), col("ks_bp"))
    val di = Dedup.e1DupInflation(s, d)
      .select(col("source"), col("n_docs"), col("inflation_bp"))
    val sd = Analysis.e8SourceDivergence(s, d).select(col("source"),
      round(col("tvd") * 10000).cast("long").as("tvd4"))
    di.join(qd, Seq("source"), "left")
      .na.fill(0L, Seq("ks_bp"))
      .join(sd, "source")
      .select(col("source"), col("n_docs"), col("ks_bp"),
        col("inflation_bp"), col("tvd4"),
        (col("ks_bp") < GateQualityKsBp).as("pass_drift"),
        (col("inflation_bp") < GateInflationBp).as("pass_dup"),
        (col("tvd4") < GateTvd4).as("pass_divergence"))
      .withColumn("admit",
        col("pass_drift") && col("pass_dup") && col("pass_divergence"))
      .orderBy("source")
  }

  val ShardSalt = 0x4d9a7e15f0b3c268L

  /** Shard count for the dataloader shard plan — interpolated into BOTH
    * engines. */
  val NShards = 16

  /** E7 — DATALOADER SHARD PLAN: assign every document to one of
    * NShards training shards by hash — shard = slot(doc_id, ShardSalt)
    * mod NShards — and emit the per-shard manifest row a distributed
    * dataloader validates before an epoch: doc/token mass, the
    * order-independent id checksum a written shard must reproduce, and
    * the token-balance SKEW in signed basis points vs the ideal 1/N
    * split (skew_bp = tokens·N·10⁴/total − 10⁴). Balanced shards are
    * the difference between N data-parallel ranks finishing together
    * and the epoch running at the slowest shard's pace; hash sharding
    * is balanced in EXPECTATION only, so this table is the check that
    * catches a pathological corpus before the GPUs idle on it (the
    * WebDataset/tar-shard planning step). ALL-INTEGER; assignment is a
    * pure function of doc_id — stable under reruns, appends, and
    * engine moves, no shuffle state. Plan at 100 TB: scan-side hash
    * gate + one NShards-key aggregate that partial-combines map-side —
    * the corpus never shuffles; the signed-bp arithmetic runs on the
    * N-row result (token totals ≤ 10¹⁴ × 16·10⁴ fits BIGINT; past
    * ~10¹⁵ tokens lift onto DECIMAL(38,0) per the e8_gini rule). */
  def e7ShardPlan(s: SparkSession, d: String): DataFrame = {
    val perShard = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        (Sampling.slot(col("doc_id"), ShardSalt) % lit(NShards.toLong))
          .as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"))
    val tot = perShard.agg(sum(col("n_tokens")).as("tt"))
    perShard.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("id_sum"),
        (expr(s"n_tokens * ${NShards}L * 10000L div tt") - 10000L)
          .as("skew_bp"))
      .orderBy("shard")
  }

  /** Multiplicative-weights learning rate η in basis points —
    * interpolated into BOTH engines. */
  val DoremiEtaBp = 1000L

  /** E7 — one DOMAIN-REWEIGHTING step (the DoReMi recipe — Xie et al.,
    * "DoReMi: Optimizing data mixtures speeds up language model
    * pretraining", NeurIPS 2023 — in its first-order multiplicative-
    * weights form, Freund & Schapire 1997): sources whose held-out LM
    * score trails the corpus mean ("excess loss" — here the
    * e3_stupid_backoff per-source mean, composed VERBATIM from the same
    * builder) are UP-weighted multiplicatively and the mixture
    * renormalizes; the output is the weight-update ledger (base share,
    * excess, factor, new weight) a pretraining mixer feeds to the next
    * epoch's e7_mixture_sample. DoReMi proper exponentiates
    * (w·exp(η·excess)); the linearized factor 1 + η·excess is its
    * first-order form, chosen here because it keeps the WHOLE update in
    * exact integer arithmetic — no exp() whose libm-vs-JVM last ulp is
    * unpinned crosses an engine. Exactness: base weights are doc-share
    * bp, excess is an integer-bp ratio of two exact micro means, the
    * factor clamps at 0 to guard the pathological tail (at η = 0.1 the
    * factor 10000 + excess_bp/10 reaches 0 only at excess_bp ≤ −100000,
    * i.e. a source whose mean is ~11× the corpus mean — a 2×-better
    * source lands at factor_bp 9000, nowhere near the clamp), and the
    * renormalization divides exact long products. Plan at 100 TB: everything downstream of the
    * backoffSourceScores fold runs on the |sources|-row table — the
    * corpus is scanned exactly as often as e3_stupid_backoff scans it,
    * and the two 1-row corpus aggregates broadcast. */
  def e7DoremiStep(s: SparkSession, d: String): DataFrame = {
    val src = TextOps.backoffSourceScores(s, d)
    val tot = broadcast(src.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("sum_s_micro")).as("t_sum"), sum(col("n_pos")).as("t_pos")))
    val staged = src.crossJoin(tot)
      .withColumn("w_bp", expr("n_docs * 10000 div t_docs"))
      .withColumn("mean_s_micro", expr("sum_s_micro div n_pos"))
      .withColumn("corpus_s_micro", expr("t_sum div t_pos"))
      .withColumn("excess_bp", expr(
        "(corpus_s_micro - mean_s_micro) * 10000 div corpus_s_micro"))
      .withColumn("factor_bp", expr(
        s"greatest(CAST(0 AS BIGINT), 10000 + $DoremiEtaBp * excess_bp div 10000)"))
      .withColumn("unnorm", expr("w_bp * factor_bp"))
    val norm = broadcast(staged.agg(sum(col("unnorm")).as("t_unnorm")))
    staged.crossJoin(norm)
      .select(col("source"), col("n_docs"), col("w_bp"),
        col("mean_s_micro"), col("excess_bp"), col("factor_bp"),
        expr("unnorm * 10000 div t_unnorm").as("new_w_bp"))
      .orderBy("source")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e7_doremi_step" -> (e7DoremiStep _),
    "e7_shard_plan" -> (e7ShardPlan _),
    "e7_release_gate" -> (e7ReleaseGate _),
    "e7_anneal_plan" -> (e7AnnealPlan _),
    "e7_dataset_diff" -> (e7DatasetDiff _),
    "e7_dedup_weights" -> (e7DedupWeights _),
    "e7_epoch_plan" -> (e7EpochPlan _),
    "e7_source_caps" -> (e7SourceCaps _),
    "e7_dataset_card" -> (e7DatasetCard _),
    "e7_mixture_sample" -> (e7MixtureSample _),
    "e7_funnel" -> (e7Funnel _),
    "e7_source_stats" -> (e7SourceStats _),
    "e7_curated" -> (e7Curated _),
    "e7_mixture" -> (e7Mixture _),
    "e7_temperature_mix" -> (e7TemperatureMix _),
  )

  val oracles: Map[String, String] = Map(
    // composes TextOps.backoffCtes verbatim (can't-drift); the whole
    // update is integer bp/micro arithmetic — no exp crosses engines
    "e7_doremi_step" ->
      s"""WITH ${TextOps.backoffCtes},
         |dm_tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
         |    CAST(sum(sum_s_micro) AS BIGINT) AS t_sum,
         |    CAST(sum(n_pos) AS BIGINT) AS t_pos FROM bo_src),
         |dm_st AS (SELECT source, n_docs,
         |    n_docs * 10000 // t_docs AS w_bp,
         |    sum_s_micro // n_pos AS mean_s_micro,
         |    t_sum // t_pos AS corpus_s_micro
         |  FROM bo_src CROSS JOIN dm_tot),
         |dm_f AS (SELECT source, n_docs, w_bp, mean_s_micro,
         |    (corpus_s_micro - mean_s_micro) * 10000 // corpus_s_micro
         |      AS excess_bp
         |  FROM dm_st),
         |dm_g AS (SELECT dm_f.*,
         |    greatest(CAST(0 AS BIGINT),
         |      10000 + $DoremiEtaBp * excess_bp // 10000) AS factor_bp
         |  FROM dm_f),
         |dm_u AS (SELECT dm_g.*, w_bp * factor_bp AS unnorm FROM dm_g),
         |dm_n AS (SELECT CAST(sum(unnorm) AS BIGINT) AS t_unnorm FROM dm_u)
         |SELECT source, n_docs, w_bp, mean_s_micro, excess_bp, factor_bp,
         |  unnorm * 10000 // t_unnorm AS new_w_bp
         |FROM dm_u CROSS JOIN dm_n ORDER BY source""".stripMargin,
    // shard = slot mod NShards off the shared splitmix chain; signed-bp
    // balance arithmetic on the N-row result (see e7ShardPlan)
    "e7_shard_plan" ->
      s"""WITH ${Sampling.slotCtes(ShardSalt)},
         |shd AS (SELECT s.doc_id, CAST(s.slot % $NShards AS BIGINT) AS shard,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt
         |  FROM slots s JOIN documents d USING (doc_id)),
         |per AS (SELECT shard, count(*) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(sum(doc_id) AS BIGINT) AS id_sum
         |  FROM shd GROUP BY 1),
         |ttl AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
         |SELECT shard, n_docs, n_tokens, id_sum,
         |  n_tokens * $NShards * 10000 // tt - 10000 AS skew_bp
         |FROM per CROSS JOIN ttl ORDER BY shard""".stripMargin,
    // composes the three monitors' oracle chains VERBATIM (they cannot
    // drift from the audited queries); integer thresholds interpolated
    // from the same constants the Spark side compares against
    "e7_release_gate" ->
      s"""WITH ${Sampling.slotCtes(ReleaseSalt)},
         |${Analysis.qualityDriftChain},
         |${Dedup.dupInflationChain},
         |${Analysis.sourceDivergenceChain}
         |SELECT dir.source, dir.n_docs,
         |  coalesce(qdr.ks_bp, CAST(0 AS BIGINT)) AS ks_bp,
         |  dir.inflation_bp,
         |  CAST(round(sdr.tvd * 10000) AS BIGINT) AS tvd4,
         |  coalesce(qdr.ks_bp, CAST(0 AS BIGINT)) < $GateQualityKsBp
         |    AS pass_drift,
         |  dir.inflation_bp < $GateInflationBp AS pass_dup,
         |  CAST(round(sdr.tvd * 10000) AS BIGINT) < $GateTvd4
         |    AS pass_divergence,
         |  (coalesce(qdr.ks_bp, CAST(0 AS BIGINT)) < $GateQualityKsBp
         |    AND dir.inflation_bp < $GateInflationBp
         |    AND CAST(round(sdr.tvd * 10000) AS BIGINT) < $GateTvd4)
         |    AS admit
         |FROM dir LEFT JOIN qdr USING (source) JOIN sdr USING (source)
         |ORDER BY dir.source""".stripMargin,
    // two-phase schedule in exact integer DIV arithmetic; w6 is the
    // microMean floor discipline over IEEE sqrt (see e7AnnealPlan)
    "e7_anneal_plan" ->
      s"""WITH q AS (SELECT source, len(string_split(text, ' ')) AS nt,
         |  len(list_filter(string_split(text, ' '),
         |    t -> t IN ('the','a','of','and','to'))) AS nsw FROM documents),
         |ss AS (SELECT source,
         |  round(least(1.0, CAST(nt AS DOUBLE) / 100.0)
         |    * (1.0 - CAST(nsw AS DOUBLE) / nt), 4) AS score,
         |  count(*) AS c, CAST(sum(nt) AS BIGINT) AS tk
         |  FROM q GROUP BY 1, 2),
         |h AS (SELECT score, sum(c) AS hc FROM ss GROUP BY score),
         |t AS (SELECT score, sum(hc) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |  sum(hc) OVER () AS tot FROM h),
         |thr AS (SELECT min(score) AS thr FROM t
         |  WHERE (cum * 10 + tot - 1) // tot = 10),
         |bysrc AS (SELECT source, CAST(sum(tk) AS BIGINT) AS tokens
         |  FROM ss GROUP BY source),
         |hq AS (SELECT source, CAST(sum(tk) AS BIGINT) AS hq_tokens
         |  FROM ss, thr WHERE score >= thr GROUP BY source),
         |b AS (SELECT bysrc.source, tokens,
         |  coalesce(hq.hq_tokens, 0) AS hq_tokens,
         |  CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000.0 + 0.5)
         |    AS BIGINT) AS w6
         |  FROM bysrc LEFT JOIN hq ON bysrc.source = hq.source),
         |tot2 AS (SELECT source, tokens, hq_tokens, w6,
         |  sum(tokens) OVER () AS total_tokens,
         |  sum(w6) OVER () AS total_w6,
         |  sum(hq_tokens) OVER () AS total_hq FROM b),
         |dr AS (SELECT source, tokens, hq_tokens,
         |  CAST(($PretrainX * total_tokens) * w6 // total_w6 AS BIGINT)
         |    AS draw_pretrain,
         |  CAST(least(hq_tokens, ($PretrainX * total_tokens // $AnnealDiv)
         |    * hq_tokens // total_hq) AS BIGINT) AS draw_anneal
         |  FROM tot2)
         |SELECT source, tokens, hq_tokens, draw_pretrain, draw_anneal,
         |  CAST(CASE WHEN draw_pretrain + draw_anneal = 0 THEN 0
         |    ELSE 10000 * draw_anneal // (draw_pretrain + draw_anneal)
         |    END AS BIGINT) AS anneal_share_bp
         |FROM dr ORDER BY source""".stripMargin,
    // release diff: Sampling's slot chain gates v1 membership; the
    // fingerprint match is the e1_exact_dedup md5 replica
    "e7_dataset_diff" ->
      s"""WITH ${Sampling.slotCtes(ReleaseSalt)},
         |dd AS (SELECT d.doc_id, d.source,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
         |  md5(lower(trim(d.text))) AS fp,
         |  (sl.slot < 90) AS in_v1
         |  FROM documents d JOIN slots sl ON d.doc_id = sl.doc_id),
         |v1 AS (SELECT * FROM dd WHERE in_v1),
         |v1a AS (SELECT source, count(*) AS docs_v1,
         |  CAST(sum(nt) AS BIGINT) AS tokens_v1 FROM v1 GROUP BY source),
         |v1f AS (SELECT DISTINCT fp FROM v1),
         |ad AS (SELECT dd.source, dd.nt,
         |  CASE WHEN v1f.fp IS NOT NULL THEN 1 ELSE 0 END AS seen
         |  FROM dd LEFT JOIN v1f ON dd.fp = v1f.fp WHERE NOT in_v1),
         |ada AS (SELECT source, count(*) AS docs_added,
         |  CAST(sum(nt) AS BIGINT) AS tokens_added,
         |  CAST(sum(seen) AS BIGINT) AS added_stale,
         |  CAST(sum(CASE WHEN seen = 0 THEN nt ELSE 0 END) AS BIGINT)
         |    AS novel_tokens FROM ad GROUP BY source)
         |SELECT coalesce(v1a.source, ada.source) AS source,
         |  coalesce(docs_v1, 0) AS docs_v1,
         |  coalesce(tokens_v1, 0) AS tokens_v1,
         |  coalesce(docs_added, 0) AS docs_added,
         |  coalesce(tokens_added, 0) AS tokens_added,
         |  coalesce(added_stale, 0) AS added_stale,
         |  coalesce(novel_tokens, 0) AS novel_tokens,
         |  CASE WHEN coalesce(docs_v1, 0) = 0 THEN NULL
         |    ELSE round(coalesce(docs_added, 0) / CAST(docs_v1 AS DOUBLE), 4)
         |    END AS growth_pct
         |FROM v1a FULL OUTER JOIN ada ON v1a.source = ada.source
         |ORDER BY source""".stripMargin,
    "e7_dedup_weights" ->
      s"""WITH RECURSIVE ${Dedup.minhashCtes},
         |edges AS (SELECT da AS a, db AS b FROM mhp
         |  UNION SELECT db, da FROM mhp),
         |reach(v, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b),
         |cl AS (SELECT v AS doc_id, min(lab) AS cluster FROM reach GROUP BY v),
         |nt AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
         |g AS (SELECT cl.cluster, count(*) AS weight,
         |    CAST(sum(nt.nt) AS BIGINT) AS tokens_total,
         |    CAST(sum(CASE WHEN cl.doc_id = cl.cluster THEN nt.nt ELSE 0 END)
         |      AS BIGINT) AS tokens_kept
         |  FROM cl JOIN nt USING (doc_id) GROUP BY cl.cluster)
         |SELECT weight, count(*) AS n_clusters,
         |  CAST(sum(tokens_total) AS BIGINT) AS tokens_total,
         |  CAST(sum(tokens_kept) AS BIGINT) AS tokens_kept
         |FROM g GROUP BY weight ORDER BY weight""".stripMargin,
    "e7_epoch_plan" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT source, tokens,
         |    CAST(round(sqrt(tokens) * 1000000) AS BIGINT) AS w FROM t),
         |g AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
         |    CAST(sum(w) AS BIGINT) AS tw FROM w),
         |a AS (SELECT source, tokens, w, tw,
         |    (total * $EpochBudgetX * w) // tw AS target,
         |    tokens * $MaxEpochs AS cap FROM w CROSS JOIN g),
         |b AS (SELECT *, least(target, cap) AS alloc1 FROM a),
         |l AS (SELECT CAST(sum(target - alloc1) AS BIGINT) AS leftover,
         |    CAST(sum(CASE WHEN target < cap THEN w ELSE 0 END) AS BIGINT)
         |      AS wunc FROM b),
         |f AS (SELECT source, tokens, w, tw, target, cap,
         |    least(alloc1 + CASE WHEN target < cap AND wunc > 0
         |      THEN (leftover * w) // wunc ELSE 0 END, cap) AS plan_tokens
         |  FROM b CROSS JOIN l)
         |SELECT source, tokens,
         |  CAST((1000000 * w) // tw AS BIGINT) AS weight_ppm,
         |  target > cap AS capped,
         |  CAST(plan_tokens AS BIGINT) AS plan_tokens,
         |  CAST((1000 * plan_tokens) // tokens AS BIGINT) AS epochs_m3
         |FROM f ORDER BY source""".stripMargin,
    "e7_source_caps" ->
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source),
         |g AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM t),
         |c AS (SELECT source, tokens,
         |    CAST((total * $SourceCapPct) // 100 AS BIGINT) AS cap_tokens
         |  FROM t CROSS JOIN g)
         |SELECT source, tokens, tokens > cap_tokens AS capped,
         |  least(tokens, cap_tokens) AS kept_tokens,
         |  CAST((1000000 * least(tokens, cap_tokens)) // tokens AS BIGINT)
         |    AS keep_rate_ppm
         |FROM c ORDER BY source""".stripMargin,
    // the span and quality-model sections reuse those queries' own oracle
    // SQL verbatim as subqueries — the card can never drift from the
    // declared queries it summarizes
    "e7_dataset_card" ->
      s"""WITH base AS (SELECT count(*) AS nd,
         |  sum(len(string_split(text, ' '))) AS nt,
         |  count(DISTINCT source) AS ns, count(DISTINCT lang) AS nl,
         |  count(DISTINCT md5(lower(trim(text)))) AS nfp,
         |  sum(len(list_filter(string_split(text, ' '),
         |    t -> t IN ('the','a','of','and','to')))) AS nsw FROM documents),
         |corpus AS (
         |  SELECT 'corpus' AS section, 'n_docs' AS metric,
         |    round(CAST(nd AS DOUBLE), 6) AS value FROM base
         |  UNION ALL SELECT 'corpus', 'n_tokens',
         |    round(CAST(nt AS DOUBLE), 6) FROM base
         |  UNION ALL SELECT 'corpus', 'n_sources',
         |    round(CAST(ns AS DOUBLE), 6) FROM base
         |  UNION ALL SELECT 'corpus', 'n_langs',
         |    round(CAST(nl AS DOUBLE), 6) FROM base
         |  UNION ALL SELECT 'dedup', 'exact_dup_docs',
         |    round(CAST(nd - nfp AS DOUBLE), 6) FROM base
         |  UNION ALL SELECT 'dedup', 'exact_dup_rate',
         |    round(CAST(nd - nfp AS DOUBLE) / nd, 6) FROM base
         |  UNION ALL SELECT 'quality', 'avg_doc_tokens',
         |    round(CAST(nt AS DOUBLE) / nd, 6) FROM base
         |  UNION ALL SELECT 'quality', 'stopword_ratio',
         |    round(CAST(nsw AS DOUBLE) / nt, 6) FROM base),
         |ls AS (SELECT 'lang_share' AS section, lang AS metric,
         |  round(CAST(count(*) AS DOUBLE) / (SELECT nd FROM base), 6) AS value
         |  FROM documents GROUP BY lang),
         |sp AS (SELECT 'dedup' AS section, 'span_dup_token_rate' AS metric,
         |  round(CAST(sum(dup_tokens) AS DOUBLE) / sum(n_tokens), 6) AS value
         |  FROM (${Dedup.oracles("e1_span_dedup")})),
         |km AS (SELECT 'quality' AS section, 'model_keep_rate' AS metric,
         |  round(CAST(sum(CASE WHEN model_keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS value
         |  FROM (${TextOps.oracles("e3_quality_model")}))
         |SELECT section, metric, value FROM corpus
         |UNION ALL SELECT * FROM ls
         |UNION ALL SELECT * FROM sp
         |UNION ALL SELECT * FROM km
         |ORDER BY section, metric""".stripMargin,
    "e7_mixture_sample" -> {
      import OracleSql._
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
         |src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS tokens,
         |  CAST(round(sqrt(CAST(sum(nt) AS DOUBLE)), 6) AS DECIMAL(28,6)) AS w
         |  FROM t GROUP BY source),
         |tot AS (SELECT sum(tokens) AS tt, sum(w) AS tw FROM src),
         |ep AS (SELECT source,
         |  round((CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)) /
         |    (CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE)), 4) AS epochs
         |  FROM src, tot),
         |mxep AS (SELECT max(epochs) AS max_ep FROM ep),
         |rates AS (SELECT source, round(epochs / max_ep, 6) AS rate,
         |  CAST(floor(round(epochs / max_ep, 6) * $MixRateRes) AS BIGINT)
         |    AS thr FROM ep, mxep),
         |hm_in AS (SELECT doc_id, source, nt,
         |  xor(CAST(doc_id AS HUGEINT), CAST('$MixSampleSalt' AS HUGEINT)) AS h0
         |  FROM t),
         |${mixCtes("hm", "h0", "h1", Seq("doc_id", "source", "nt"))},
         |kept AS (SELECT m.source, m.nt FROM hm m JOIN rates r USING (source)
         |  WHERE (h1 % CAST(power(2, 63) AS HUGEINT)) % $MixRateRes < r.thr),
         |agg AS (SELECT source, count(*) AS n_kept,
         |  CAST(sum(nt) AS BIGINT) AS tokens_kept FROM kept GROUP BY source),
         |ktot AS (SELECT sum(tokens_kept) AS kt FROM agg)
         |SELECT a.source, r.rate, a.n_kept, a.tokens_kept,
         |  round(a.tokens_kept / CAST(kt AS DOUBLE), 4) AS realized_share
         |FROM agg a JOIN rates r USING (source), ktot
         |ORDER BY source""".stripMargin
    },
    "e7_temperature_mix" ->
      """WITH t AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |src AS (SELECT source, CAST(sum(nt) AS BIGINT) AS tokens,
        |  CAST(round(sqrt(CAST(sum(nt) AS DOUBLE)), 6) AS DECIMAL(28,6)) AS w
        |  FROM t GROUP BY source),
        |tot AS (SELECT sum(tokens) AS total_tokens, sum(w) AS total_w FROM src)
        |SELECT source, tokens,
        |round(tokens / CAST(total_tokens AS DOUBLE), 6) AS natural_share,
        |round(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE), 6) AS weight,
        |round((CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)) /
        |  (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)), 4) AS epochs
        |FROM src, tot ORDER BY source""".stripMargin,
    "e7_mixture" ->
      """WITH t AS (SELECT lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |tot AS (SELECT sum(nt) AS total_tokens FROM t)
        |SELECT lang, source, count(*) AS n_docs,
        |CAST(sum(nt) AS BIGINT) AS tokens,
        |round(sum(nt) / CAST(total_tokens AS DOUBLE), 6) AS token_share
        |FROM t, tot GROUP BY lang, source, total_tokens
        |ORDER BY lang, source""".stripMargin,
    "e7_source_stats" ->
      """WITH f AS (SELECT source, lang, md5(lower(trim(text))) AS fp,
        |  len(string_split(text, ' ')) AS nt,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to'))) AS nsw
        |  FROM documents),
        |nfp AS (SELECT fp, count(*) AS nfp FROM f GROUP BY fp)
        |SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |round(avg(least(1.0, CAST(nt AS DOUBLE) / 100.0)
        |  * (1.0 - CAST(nsw AS DOUBLE) / nt)), 4) AS avg_quality,
        |CAST(sum(CASE WHEN nfp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |round(sum(CASE WHEN nfp >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_frac
        |FROM f JOIN nfp USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin,
    "e7_curated" ->
      s"""WITH RECURSIVE ${Dedup.minhashCtes},
         |$curationCtes
         |SELECT q.doc_id AS doc_id, n_tokens, score
         |FROM q JOIN clus ON q.doc_id = clus.doc_id AND q.doc_id = clus.cluster
         |JOIN rep ON q.doc_id = rep.doc_id
         |JOIN exk ON q.doc_id = exk.doc_id
         |WHERE score >= 0.5 AND d2 <= 0.05 AND tw <= 0.3
         |ORDER BY doc_id""".stripMargin,
    "e7_funnel" ->
      // same gate definitions as e7_curated, cumulatively ANDed; the
      // funnel stages are sums over ONE per-doc gate table
      s"""WITH RECURSIVE ${Dedup.minhashCtes},
         |$curationCtes,
         |g AS (SELECT q.doc_id, q.n_tokens, q.score, rep.d2, rep.tw,
         |    (exk.doc_id IS NOT NULL) AS ex,
         |    (clus.cluster = q.doc_id) AS ck
         |  FROM q JOIN clus ON q.doc_id = clus.doc_id
         |  JOIN rep ON q.doc_id = rep.doc_id
         |  LEFT JOIN exk ON q.doc_id = exk.doc_id),
         |g2 AS (SELECT *, ex AND ck AS c2 FROM g),
         |g3 AS (SELECT *, c2 AND d2 <= 0.05 AND tw <= 0.3 AS c3 FROM g2),
         |g4 AS (SELECT *, c3 AND score >= 0.5 AS c4 FROM g3)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS gate,
         |    count(*) AS n_docs,
         |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tokens FROM g4
         |  UNION ALL SELECT 1, 'exact_keeper',
         |    CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN ex THEN n_tokens END), 0) AS BIGINT)
         |    FROM g4
         |  UNION ALL SELECT 2, 'cluster_keeper',
         |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN c2 THEN n_tokens END), 0) AS BIGINT)
         |    FROM g4
         |  UNION ALL SELECT 3, 'repetition',
         |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN c3 THEN n_tokens END), 0) AS BIGINT)
         |    FROM g4
         |  UNION ALL SELECT 4, 'quality',
         |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(coalesce(sum(CASE WHEN c4 THEN n_tokens END), 0) AS BIGINT)
         |    FROM g4)
         |ORDER BY stage""".stripMargin,
  )

  /** Gate CTEs shared by the e7_curated and e7_funnel oracles (appended
    * after Dedup.minhashCtes): `clus` (min-label connected components over
    * the LSH pair table), `q` (token count + quality score), `rep`
    * (2-gram dup + top-word fractions), `exk` (exact-fingerprint
    * keepers). */
  private def curationCtes: String =
    """edges AS (SELECT da AS a, db AS b FROM mhp
      |  UNION SELECT db, da FROM mhp),
      |reach(v, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b),
      |clus AS (SELECT v AS doc_id, min(lab) AS cluster FROM reach GROUP BY v),
      |q AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
      |  round(least(1.0, CAST(nt AS DOUBLE) / 100.0)
      |    * (1.0 - CAST(nsw AS DOUBLE) / nt), 4) AS score
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the','a','of','and','to'))) AS nsw FROM documents)),
      |rept AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |repb AS (SELECT doc_id, len(toks) AS n, greatest(len(toks) - 1, 0) AS n2,
      |  len(list_distinct(list_transform(range(1, len(toks)),
      |    i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]))) AS nd2
      |  FROM rept),
      |reptop AS (SELECT doc_id, max(c) AS top FROM (
      |  SELECT doc_id, tok, count(*) AS c FROM (
      |    SELECT doc_id, unnest(toks) AS tok FROM rept) GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |rep AS (SELECT b.doc_id,
      |  CASE WHEN n2 > 0 THEN round(CAST(n2 - nd2 AS DOUBLE) / n2, 4)
      |    ELSE 0.0 END AS d2,
      |  round(CAST(top AS DOUBLE) / n, 4) AS tw
      |  FROM repb b JOIN reptop t ON b.doc_id = t.doc_id),
      |exk AS (SELECT min(doc_id) AS doc_id FROM documents
      |  GROUP BY md5(lower(trim(text))))""".stripMargin
}
