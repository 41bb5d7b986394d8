package graft.ops

import graft.Tables._
import graft.functions.Hashes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** [EXT] Text-analysis operators over the `documents` table (SURVEY.md §2
  * E3): token statistics, quality scoring, corpus-trained language ID
  * (Cavnar–Trenkle n-gram profiles), token frequency, and fingerprinting via
  * the native rolling-hash expression. All are single-pass, shuffle-light
  * plans: per-row lambdas for shingling/token math, one groupBy where a
  * corpus-level aggregate is required. */
object TextOps {

  /** E3 — per-document token/char counts: whitespace tokens plus a BPE-ish
    * regex sub-token count (letter runs / digit runs / other singletons). */
  def e3Tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        asLong(size(split(col("text"), " "))).as("n_tokens"),
        asLong(length(col("text"))).as("n_chars"),
        asLong(size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
          .as("n_subtokens"))
      .orderBy("doc_id")

  /** E3 — corpus language breakdown. */
  def e3LangProfile(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        asLong(sum(length(col("text")))).as("total_chars"),
        round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"))
      .orderBy("lang")

  /** Stopword list shared by the quality score and its consumers. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Composite [0,1] quality score favoring longer documents with low
    * stopword density, given token-count and stopword-count columns. The
    * single definition the declared query AND pipelines filter on. */
  def qualityScore(nt: org.apache.spark.sql.Column,
      nsw: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(1.0), nt / 100.0) * (lit(1.0) - nsw / nt)

  private[ops] def stopwordFilterSql: String =
    s"filter(split(text, ' '), t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")}))"

  /** E3 — quality scoring: stopword ratio, mean token length, and a composite
    * [0,1] score favoring longer documents with low stopword density. */
  def e3Quality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(stopwordFilterSql)))
      .withColumn("letters", length(regexp_replace(col("text"), " ", "")))
      .select(col("doc_id"),
        asLong(col("nt")).as("n_tokens"),
        round(col("nsw") / col("nt"), 4).as("stopword_ratio"),
        round(col("letters") / col("nt"), 4).as("avg_token_len"),
        round(qualityScore(col("nt"), col("nsw")), 4).as("score"))
      .orderBy("doc_id")

  /** Token-count bounds for the Gopher-style gate battery —
    * interpolated into both engines. */
  val GopherMinTokens = 25
  val GopherMaxTokens = 100000

  /** E3 — GOPHER-style quality GATE battery (Rae et al. 2021, §A1.1:
    * the rule-based document filters every production pretraining
    * pipeline runs before model-based scoring): per source, how many
    * documents fail each of four independent gates — token-count bounds
    * [GopherMinTokens, GopherMaxTokens], mean word length in [3, 10]
    * characters, ≥2 stopword hits (the "real prose" check), and
    * distinct-token ratio ≥ 0.3 (the repetition check, Gopher's
    * duplicate-fraction family) — plus the all-gates pass count and
    * keep rate. Per-SOURCE failure counts (not just a corpus total) are
    * the operational form: a source whose docs fail g_rep en masse is a
    * template farm to drop wholesale, one failing g_stop is likely
    * non-prose (code/tables) routed to a different pipeline. Exactness:
    * every gate is INTEGER arithmetic (mean-word-length and ratio gates
    * cross-multiplied: 3·nt ≤ letters ≤ 10·nt, 10·nd ≥ 3·nt), counts
    * are longs, keep rate in integer basis points — nothing floats.
    * Plan at 100 TB: one corpus scan; all four gates evaluate scan-side
    * in one projection; the shuffle carries |sources| rows of counters
    * (map-side combined). */
  def e3GopherGates(s: SparkSession, d: String): DataFrame = {
    val g = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nt", size(col("toks")).cast("long"))
      .withColumn("nd", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("letters",
        length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("nsw", size(expr(stopwordFilterSql)).cast("long"))
      .select(col("source"),
        (col("nt") >= GopherMinTokens.toLong &&
          col("nt") <= GopherMaxTokens.toLong).as("g_len"),
        (col("letters") >= lit(3L) * col("nt") &&
          col("letters") <= lit(10L) * col("nt")).as("g_wordlen"),
        (col("nsw") >= 2L).as("g_stop"),
        (lit(10L) * col("nd") >= lit(3L) * col("nt")).as("g_rep"))
    g.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("g_len"), 1L).otherwise(0L)).as("f_len"),
        sum(when(!col("g_wordlen"), 1L).otherwise(0L)).as("f_wordlen"),
        sum(when(!col("g_stop"), 1L).otherwise(0L)).as("f_stop"),
        sum(when(!col("g_rep"), 1L).otherwise(0L)).as("f_rep"),
        sum(when(col("g_len") && col("g_wordlen") && col("g_stop") &&
          col("g_rep"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("keep_bp", expr("n_pass * 10000 div n_docs"))
      .orderBy("source")
  }

  /** E3 — quality tiering: decile buckets over the composite score, the
    * partition a curriculum / quality-filter pipeline consumes. A global
    * ntile would sort the whole corpus through ONE task, so tiers come
    * from the score HISTOGRAM instead: the 4-decimal score has a bounded
    * domain (≤10⁴ distinct values), so a partial-combined groupBy reduces
    * the corpus to a tiny value table, the cumulative-count → tier
    * arithmetic runs on that table, and a broadcast join maps every
    * document to its tier (the q25 bounded-domain pattern). tier =
    * ceil(10·cum/total) computed in INTEGER arithmetic (DIV) — bit-exact
    * in both engines where a double ceil would be poisoned by binary
    * rounding (ceil(0.3·10) evaluates as ceil(3.0000000000000004) = 4).
    * Equal scores always share a tier — identical-quality documents are
    * never split across a curriculum boundary. */
  def e3QualityTiers(s: SparkSession, d: String): DataFrame = {
    val q = documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(stopwordFilterSql)))
      .select(asLong(col("nt")).as("n_tokens"),
        round(qualityScore(col("nt"), col("nsw")), 4).as("score"))
    val wCum = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the histogram carries doc counts AND token sums, so every per-tier
    // aggregate derives from the tiny value table — the corpus is scanned
    // exactly ONCE (a join-back would rescan it and re-evaluate the score
    // lambda per row; measured 3× slower)
    q.groupBy("score").agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("tk"))
      // single-partition window, but over the ≤10⁴-row histogram
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wTot))
      .withColumn("tier",
        expr("CAST((cum * 10 + tot - 1) DIV tot AS BIGINT)"))
      .groupBy("tier")
      .agg(sum(col("c")).as("n_docs"),
        sum(col("tk")).as("tot_tokens"),
        min(col("score")).as("lo_score"),
        max(col("score")).as("hi_score"))
      .orderBy("tier")
  }

  /** Quality-model parameters: a fixed linear classifier over the e3_quality
    * feature triple (stopword ratio, mean token length, scaled length). A
    * stand-in for a trained fasttext-style quality filter — the pipeline
    * mechanics (broadcast the parameters, score every document, threshold)
    * are exactly what the trained model needs; only the numbers differ.
    * All-IEEE arithmetic (+,*,/ are correctly rounded, so Spark and DuckDB
    * agree bit-for-bit) — deliberately NO sigmoid: exp() varies across
    * libms and the monotone threshold decision is identical without it. */
  val QmBias = -1.5
  val QmWsw = 2.0
  val QmWlen = 0.25
  val QmWnt = 1.0
  val QmNtScale = 256.0

  /** E3 — model-based quality filter: apply the linear classifier to every
    * document via a broadcast parameter row, emitting the score in integer
    * micro-units (a double near ±0 rounds to -0.0 in one engine and 0.0 in
    * the other; integers can't) and the keep decision. Plan at scale: the
    * parameter row is a 1-row broadcast nested-loop join — the corpus
    * never shuffles at all; scoring is scan-side whole-stage codegen. */
  def e3QualityModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Seq((QmBias, QmWsw, QmWlen, QmWnt))
      .toDF("w0", "w_sw", "w_len", "w_nt")
    val z = col("w0") + col("w_sw") * (col("nsw") / col("nt")) +
      col("w_len") * (col("letters") / col("nt")) +
      col("w_nt") * (col("nt") / lit(QmNtScale))
    documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(stopwordFilterSql)))
      .withColumn("letters", length(regexp_replace(col("text"), " ", "")))
      .crossJoin(broadcast(w))
      .select(col("doc_id"),
        round(z * lit(1e6), 0).cast("long").as("score_micro"),
        (z > lit(0.0)).as("model_keep"))
      .orderBy("doc_id")
  }

  /** BM25 parameters and the fixed keyword set the declared query scores.
    * The idf is the log-free RATIO (N − df + ½)/(df + ½) for the same
    * reason as tf-idf: ln() is not bit-stable across libms, and BM25's
    * ranking is monotone in either form. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("filter", "join", "vector")

  /** E3 — BM25 keyword scoring over a fixed term set: the retrieval-grade
    * relevance score (tf saturation via k1, length normalization via b)
    * corpus tooling runs for keyword exploration and contamination
    * triage. All-IEEE arithmetic end to end; the per-doc score folds the
    * per-term contributions in TERM ORDER (sorted struct collect, the
    * centroidArrays pattern) so float summation order — and therefore the
    * hash — is engine-independent. Plan at scale: the term filter prunes
    * the token explode scan-side to |terms| survivors per doc; tf
    * partial-aggregates map-side; df, N/avgdl, and k1/b are 2-, 1- and
    * 1-row broadcasts — the corpus crosses ONE (doc_id, term)-keyed
    * exchange of matched rows only. */
  def e3Bm25(s: SparkSession, d: String): DataFrame =
    bm25(s, d, Bm25Terms)

  /** The general form: score every document against `terms`. The declared
    * query binds the fixture constant; a caller passes any keyword set. */
  def bm25(s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    import s.implicits._
    val p = Seq((Bm25K1, Bm25B)).toDF("k1", "b")
    val dl = documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
    val g = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf") +
      col("k1") * (lit(1.0) - col("b") + col("b") * col("dl") / col("avgdl"))
    val contrib = idf * (col("tf") * (col("k1") + lit(1.0))) / denom
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(g)).crossJoin(broadcast(p))
      .select(col("doc_id"), col("tok"), contrib.as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(aggregate(
          transform(array_sort(collect_list(struct(col("tok"), col("s")))),
            x => x("s")),
          lit(0.0), (acc, x) => acc + x), 4).as("bm25"))
      .orderBy("doc_id")
  }

  /** E3 — language ID via Cavnar–Trenkle character-trigram profiles, trained
    * on the corpus itself (lang labels): rank trigrams per language, keep the
    * top 100, score each document by how many of its distinct trigrams hit
    * each profile, predict the argmax (ties → lexicographically first lang).
    * Integer scores keep the DuckDB oracle exact. The profile is tiny and
    * broadcast; the only shuffles are the two groupBys. */
  /** The trained top-100-trigrams-per-language profile, memoized per
    * (session, corpus) as a lazy checkpoint: this IS the langid model — a
    * real pipeline trains it once and serves every classification (and
    * the confusion-matrix evaluation) from it, not re-aggregating the
    * corpus per query. Tiny by construction (100 × |langs| rows). */
  private def langProfile(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("langid_profile", s, d) {
      val tri = documents(s, d)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.Ngrams.charNgrams(col("t"), 3)).as("g"))
      // The profile aggregate partial-reduces 2M trigram rows to a few
      // thousand (lang, g) keys map-side (tiny shuffle). (A shared
      // (doc, lang, g) pre-aggregate with the doc side was measured
      // slower: trigrams are mostly unique per doc, so it shuffles ~2M
      // keys for no reduction.)
      tri.groupBy("lang", "g").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("c").desc, col("g"))))
        .filter(col("rk") <= 100)
        .select(col("lang").as("cand_lang"), col("g"))
        .localCheckpoint(false)
    }

  /** The per-document langid PREDICTIONS, memoized per (session, corpus)
    * like the profile they come from (round 14): three declared queries
    * (e3_langid, e3_lang_confusion, e3_langid_scoreboard) consume this
    * pass, and a production pipeline scores the corpus once and stores
    * (doc, pred) next to the model — the evaluations read the stored
    * predictions, they never re-classify per report. */
  private def langIdPredictions(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("langid_predictions", s, d) {
      val top = langProfile(s, d)
      // doc-side distinct trigrams are deduped PER ROW (array_distinct on
      // the ngram array) before the explode — a free row-local operation
      // that replaces a (doc, gram) distinct, i.e. a ~2M-key shuffle, with
      // nothing. The profile side above still counts every occurrence.
      val docTri = documents(s, d)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.Ngrams.charNgrams(lower(col("text")), 3))).as("g"))
      val score = docTri
        .join(broadcast(top), "g")
        .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("s"))
      score
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("s").desc, col("cand_lang"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang").as("pred_lang"),
          col("s").as("score"))
        .localCheckpoint(false)
    }

  def e3LangId(s: SparkSession, d: String): DataFrame =
    langIdPredictions(s, d).orderBy("doc_id")

  /** E3 — corpus token frequency, top 20. */
  def e3TokenFreq(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** E3 — document fingerprint via the native rolling-hash Catalyst
    * expression (codegen'd; see graftext.hashExpressions). */
  def e3Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), Hashes.rollingHash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** E3 — top-3 characteristic terms per document by tf·idf. The idf is
    * the log-free inverse document-frequency RATIO (N/df): integer tf, N,
    * and df make the score an exactly-reproducible rational (one IEEE
    * division both engines round identically), so the oracle stays exact —
    * ln() across libms is not bit-stable. Plan shape at scale: token
    * explode → (token df) aggregate (map-side combined) joined back →
    * per-doc window top-k. The df side is NOT hint-broadcast: real
    * vocabulary is open-ended (typos, numbers, multilingual), so a forced
    * broadcast is an OOM hazard at 100 TB — AQE size-gates it instead
    * (broadcasts when it measures small, shuffles when it doesn't), the
    * same treatment q19a gives the customer dimension. N arrives via a
    * 1-row broadcast cross join, not a collected scalar. */
  def e3Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "token")
      .join(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), asLong(col("rk")).as("rk"), col("token"),
        round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rk")
  }

  /** E3 — within-document repetition quality (the Gopher-style repetition
    * filters): duplicate-word fraction, duplicate-2-gram fraction, and
    * top-word fraction, plus the keep/drop decision a curation pipeline
    * filters on. All ratios are integer-count rationals (one IEEE division
    * both engines round identically), so the oracle is exact. Plan shape:
    * the duplicate fractions are SCAN-SIDE (size vs array_distinct size on
    * the row's own token/2-gram arrays — no shuffle at all); only the
    * top-word count needs an aggregate, and that explode → (doc, token)
    * count partial-reduces map-side before its shuffle. At 100 TB this is
    * one narrow pass + one combiner-friendly aggregate per document. */
  def e3Repetition(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val base = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("g2", graft.functions.Ngrams.wordShingles(col("text"), 2))
      .select(col("doc_id"),
        size(col("toks")).as("n"),
        size(array_distinct(col("toks"))).as("nd"),
        size(col("g2")).as("n2"),
        size(array_distinct(col("g2"))).as("nd2"))
    val top = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top"))
    base.join(top, "doc_id")
      .select(col("doc_id"),
        asLong(col("n")).as("n_tokens"),
        round((col("n") - col("nd")) / col("n"), 4).as("dup_word_frac"),
        when(col("n2") > 0,
          round((col("n2") - col("nd2")) / col("n2"), 4)).otherwise(0.0)
          .as("dup_2gram_frac"),
        round(col("top") / col("n"), 4).as("top_word_frac"),
        when((col("n") - col("nd")) / col("n") <= 0.5 &&
          col("top") / col("n") <= 0.3, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** E3 — text normalization: the standard LLM-pipeline cleaning pass
    * (lowercase, strip non-alphanumerics to spaces, collapse runs of
    * whitespace, trim) as pure scan-side column expressions — no shuffle,
    * codegen'd regexes, same throughput shape as a projection. */
  def e3Normalize(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("clean",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")))
      .select(col("doc_id"), col("clean"),
        asLong(size(split(col("clean"), " "))).as("n_tokens"))
      .orderBy("doc_id")

  /** E3 — language-ID confusion matrix: predicted vs labeled language
    * counts — the evaluation table a pipeline publishes next to any
    * classifier it runs at scale. Composes the declared e3LangId exactly;
    * one extra (true, pred) aggregate over its per-doc output, grouped to
    * |langs|² cells regardless of corpus size. */
  def e3LangConfusion(s: SparkSession, d: String): DataFrame =
    e3LangId(s, d)
      .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** E3 — langid model SCOREBOARD: per-language precision / recall / F1
    * of the n-gram language identifier against the labeled corpus — the
    * model-evaluation report that decides whether a classifier is good
    * enough to gate a corpus (the e1_lsh_recall / e2_ann_recall
    * scoreboard idiom applied to the text-analysis family). All three
    * metrics ride exact integer parts-per-million arithmetic
    * (tp·10⁶ div n, F1 = 2PR div (P+R) on the ppm values), so the report
    * hash-matches cross-engine with zero float divisions. Plan at scale:
    * the cost is the langid prediction pass it audits; everything after
    * is aggregates over the |langs|² confusion matrix. */
  def e3LangidScoreboard(s: SparkSession, d: String): DataFrame = {
    val cm = e3LangConfusion(s, d)
    val bt = cm.groupBy("lang").agg(sum("n").as("n_true"),
      sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
        .as("tp"))
    val bp = cm.groupBy("pred_lang").agg(sum("n").as("n_pred"))
    bt.join(bp, col("lang") === col("pred_lang"), "left")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("p_ppm",
        expr("CASE WHEN n_pred > 0 THEN (tp * 1000000) div n_pred ELSE 0 END"))
      .withColumn("r_ppm", expr("(tp * 1000000) div n_true"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        col("p_ppm").as("precision_ppm"), col("r_ppm").as("recall_ppm"),
        expr("CASE WHEN p_ppm + r_ppm > 0 THEN (2 * p_ppm * r_ppm) div (p_ppm + r_ppm) ELSE 0 END")
          .as("f1_ppm"))
      .orderBy("lang")
  }

  /** Perceptron init weights over the integer feature vector
    * x = (1, n_tokens, n_stopwords) — fixed so one step is oracle-able;
    * interpolated into BOTH engines. */
  val PercW: Seq[(String, Long)] = Seq(("bias", 0L), ("w_nt", 1L), ("w_nsw", -3L))

  /** E3 — one distributed PERCEPTRON training step: fit a linear
    * classifier to mimic the heuristic quality gate (the classifier-
    * distillation pattern production pipelines use — train a cheap
    * linear model on heuristic/teacher labels, then gate the corpus with
    * the model; e3_quality_model is the INFERENCE half, this is the
    * TRAINING half, the e2_kmeans_iter treatment applied to supervised
    * learning). The update is the classic perceptron batch step: over
    * misclassified documents only, Δw = Σ y·x — and because features,
    * labels, and weights are all integers, the whole step is exact
    * integer arithmetic with NO learning-rate float and no transcendental
    * (the reason perceptron is chosen over logistic regression here:
    * sigmoid's exp() would diverge across libm implementations). Emits
    * one row per weight dimension: w0, the aggregated gradient, the
    * updated w1, and the misclassified count (the convergence signal a
    * deployment loops on). Plan at scale: label, margin, and prediction
    * are scan-side integer expressions; the ENTIRE training step crosses
    * ONE exchange carrying a single partial-aggregated row per partition
    * — the textbook data-parallel gradient shape. */
  /** Labeled + scored feature frame for a given weight vector
    * (bias, w_nt, w_nsw) — shared by the declared one-step query and the
    * pocket training loop. */
  private def percFeats(s: SparkSession, d: String, w: Seq[Long]): DataFrame =
    documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")).cast("long"))
      .withColumn("nsw", size(expr(stopwordFilterSql)).cast("long"))
      .withColumn("y",
        when(round(qualityScore(col("nt"), col("nsw")), 4) >= 0.5, 1L)
          .otherwise(-1L))
      .withColumn("margin",
        lit(w(0)) + lit(w(1)) * col("nt") + lit(w(2)) * col("nsw"))
      .withColumn("pred", when(col("margin") > 0L, 1L).otherwise(-1L))

  /** One batch step from arbitrary weights, driver-side: the integer
    * gradient (Σ y·x over misclassified) and the misclassified count —
    * ONE aggregate row crosses the wire per step. */
  def perceptronStep(s: SparkSession, d: String, w: Seq[Long]): (Seq[Long], Long) = {
    val r = percFeats(s, d, w).filter(col("pred") =!= col("y"))
      .agg(count(lit(1)).as("n_mis"),
        coalesce(sum(col("y")), lit(0L)).as("gb"),
        coalesce(sum(col("y") * col("nt")), lit(0L)).as("gnt"),
        coalesce(sum(col("y") * col("nsw")), lit(0L)).as("gnsw"))
      .head()
    (Seq(r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(0))
  }

  /** POCKET perceptron training loop — the deployment form of the
    * declared one-step query (the pageRankConverged / kmeans-loop
    * discipline): iterate full batch steps, keep the best weights seen
    * (plain perceptron oscillates on non-separable data; the pocket
    * variant is the standard fix), stop at zero misclassifications or
    * maxIters. The driver reads ONE 4-long aggregate row per round —
    * no corpus data ever moves to the driver. Returns (best weights,
    * their misclassified count, rounds run). */
  def perceptronTrained(s: SparkSession, d: String,
      maxIters: Int = 20): (Seq[Long], Long, Int) = {
    var w = PercW.map(_._2)
    var bestW = w
    var bestMis = Long.MaxValue
    var it = 0
    var done = false
    while (it < maxIters && !done) {
      val (g, mis) = perceptronStep(s, d, w)
      if (mis < bestMis) { bestMis = mis; bestW = w }
      if (mis == 0) done = true
      else w = w.lazyZip(g).map(_ + _)
      it += 1
    }
    (bestW, bestMis, it)
  }

  def e3PerceptronStep(s: SparkSession, d: String): DataFrame =
    percFeats(s, d, PercW.map(_._2))
      .filter(col("pred") =!= col("y"))
      .agg(count(lit(1)).as("n_mis"),
        coalesce(sum(col("y")), lit(0L)).as("g_bias"),
        coalesce(sum(col("y") * col("nt")), lit(0L)).as("g_nt"),
        coalesce(sum(col("y") * col("nsw")), lit(0L)).as("g_nsw"))
      .selectExpr(
        s"""stack(3,
           |  'bias',  CAST(${PercW(0)._2} AS BIGINT), g_bias,
           |  'w_nt',  CAST(${PercW(1)._2} AS BIGINT), g_nt,
           |  'w_nsw', CAST(${PercW(2)._2} AS BIGINT), g_nsw)
           |  AS (dim, w0, grad)""".stripMargin,
        "n_mis")
      .withColumn("w1", col("w0") + col("grad"))
      .select(col("dim"), col("w0"), col("grad"), col("w1"), col("n_mis"))
      .orderBy("dim")

  /** E3 — LM-based fluency score (the CCNet-style language-model quality
    * gate, log-free): each document is scored by the average corpus
    * frequency of its character trigrams under its OWN language's trigram
    * model, in hits-per-million — fluent in-language text hits common
    * trigrams; gibberish, boilerplate soup, or wrong-language text hits
    * rare ones. A real pipeline scores against a KenLM model; the shape is
    * identical (per-token model lookup + per-doc accumulate), with the
    * model trained ON the corpus here so the operator is self-contained.
    * Exactness: integer trigram counts, integer sums, ONE final division
    * rounded at 4dp — no ln(), whose libm variance would break the oracle.
    * Plan: trigram explode → (lang, g) count (map-side combined,
    * vocabulary-bounded: |langs|×|alphabet|³ keys at ANY corpus size) →
    * join back on (lang, g) — AQE-gated, not forced-broadcast, same
    * treatment as the tfidf df table — → per-doc sum (map-side combined).
    * Docs shorter than one trigram have no score row (both engines drop
    * them identically).
    *
    * The train and score passes DELIBERATELY re-run the trigram explode
    * instead of sharing a materialized table (the dedup shingle-table
    * treatment). Measured at the 100× probe (50M docs-rows → ~10⁸ trigram
    * rows, 8g heap): recompute 22 s; sharing via deserialized
    * MEMORY_AND_DISK localCheckpoint dies with AGGREGATE_OUT_OF_MEMORY
    * (the cache starves the consuming aggregate's pages); DISK_ONLY
    * survives but costs 68 s — writing + twice reading 10⁸ short-string
    * rows is 3× the price of re-running the codegen'd explode over the
    * columnar scan. Materialize-once pays off for EXPENSIVE intermediates
    * (the shingle table's hash + df-cap anti-join); a raw explode is
    * cheaper to recompute than to store. */
  def e3LmScore(s: SparkSession, d: String): DataFrame = {
    val tri = documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.Ngrams.charNgrams(lower(col("text")), 3)).as("g"))
    val model = tri.groupBy("lang", "g").agg(count(lit(1)).as("c"))
    val tot = model.groupBy("lang").agg(sum(col("c")).as("tot"))
    tri.join(model, Seq("lang", "g"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tri"), sum(col("c")).as("hits"))
      .join(tot, "lang")
      // divide sequentially in DOUBLE (both engines, same order): a long
      // n_tri * tot product overflows at ~2e13 trigrams/language with a
      // 1e6-char document — exactly the corpus this is designed for
      .select(col("doc_id"), asLong(col("n_tri")).as("n_tri"),
        round(col("hits") * 1000000.0 / col("n_tri") / col("tot"), 4)
          .as("lm_hpm"))
      .orderBy("doc_id")
  }

  /** Chunk window/stride (tokens) for e3Chunk — interpolated into BOTH the
    * Spark query and the oracle SQL. */
  val ChunkTokens = 20
  val ChunkStride = 15

  /** Overlapping token windows of an arbitrary frame carrying (doc_id,
    * text) — the reusable core of e3Chunk, also run by the pipeline
    * example over its intermediate curated table. Columns named in `keep`
    * ride along unchanged. */
  def chunked(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs
      .select(col("doc_id") +: keep.map(col) :+
        split(col("text"), " ").as("toks"): _*)
      .select(col("doc_id") +: keep.map(col) :+ posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(0,
           |    cast(ceil((size(toks) - $ChunkTokens) / ${ChunkStride}.0) as int))),
           |  i -> slice(toks, i * $ChunkStride + 1, $ChunkTokens))""".stripMargin)): _*)
      .select(col("doc_id") +: keep.map(col) ++: Seq(
        asLong(col("pos")).as("chunk_id"),
        concat_ws(" ", col("col")).as("chunk"),
        asLong(size(col("col"))).as("n_tokens")): _*)

  /** E3 — context-window chunking: split each document into overlapping
    * token windows (ChunkTokens wide, ChunkStride apart; trailing window
    * truncated) — the pre-tokenization stage that fits documents to a
    * model's context length, with overlap so no boundary-spanning content
    * is lost. Entirely SCAN-SIDE: the windows are row-local array slices
    * (posexplode of a transform over the token array), so the operator
    * adds zero shuffles at any corpus size — output ordering is the only
    * exchange. Window count = 1 + max(0, ceil((n - w) / s)), so every doc
    * gets at least one chunk and every token is covered. */
  def e3Chunk(s: SparkSession, d: String): DataFrame =
    chunked(documents(s, d)).orderBy("doc_id", "chunk_id")

  /** Token budget per pack for e3Pack — interpolated into BOTH engines. */
  val PackBudget = 256

  /** Shard count for e3Pack's two-level packing: the degree of parallelism
    * per SOURCE, sized to the cluster (local[32] here; a real deployment
    * sets it ≈ executor cores so one source can occupy the whole cluster).
    * Interpolated into BOTH engines. */
  val PackShards = 32

  /** Purpose salt for the shard hash — independent of the sampling salts
    * (Sampling.scala), positive so the xor stays below 2^63 and the
    * oracle's unsigned HUGEINT carry matches Spark exactly. */
  val PackShardSalt = 0x2e65f3a8d94b1c07L

  /** Pack-id stride per shard: local pack ids are offset by
    * shard * 2^40, making pack_id globally unique within a source as long
    * as one shard stays under 2^40 packs (≈ 2.8e14 tokens per (source,
    * shard) at budget 256 — beyond any real corpus slice). Interpolated
    * into BOTH engines. */
  val PackIdStride = 1L << 40

  /** E3 — sequence packing: assign the chunk stream to fixed-token-budget
    * packs (the pre-training batching step between chunking and the data
    * loader). Greedy-by-running-sum approximation, fully distributed and
    * TWO-LEVEL: chunks pack within (source, shard), where shard =
    * splitmix64(doc_id ^ salt) mod PackShards — a pure function of the
    * doc id, so the assignment is deterministic, engine-portable, and
    * crucially makes the degree of parallelism PackShards × |sources|
    * instead of |sources| (single-level packing runs each source's entire
    * chunk stream through ONE task's window sort — with a handful of
    * sources at 100 TB that is an unbounded single-task linear pass).
    * Budget boundaries reset at shard edges (each shard packs its own
    * ordered run), which is exactly the greedy trade already accepted at
    * doc boundaries; local pack ids are offset by shard * PackIdStride so
    * they stay unique per source. Within a shard, chunks are ordered by
    * (doc_id, chunk_id), the running token sum is one window pass, and
    * local pack = (cum - n_tokens) / budget — a chunk straddling a
    * boundary joins the pack it started in, so packs can overflow by at
    * most one chunk (exact bin packing is NP-hard and inherently
    * sequential). Plan: chunk-SIZE explode (deliberately not `chunked` —
    * only integer sizes enter the window shuffle, never the chunk
    * strings) → ONE shuffle on (source, shard) for the ordered window →
    * integer arithmetic; the (source, shard, pack_id) aggregate reuses
    * the same partitioning without a second exchange (plan-asserted in
    * OpsSpec). Integer cumsum and division keep the DuckDB oracle
    * exact. */
  def e3Pack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source", "shard").orderBy("doc_id", "chunk_id")
    documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("shard", pmod(
        org.apache.spark.sql.graftext.minhashExpression
          .mix64(col("doc_id").bitwiseXOR(lit(PackShardSalt)))
          .bitwiseAND(lit(Long.MaxValue)), lit(PackShards.toLong)))
      .select(col("doc_id"), col("source"), col("shard"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(0,
           |    cast(ceil((size(toks) - $ChunkTokens) / ${ChunkStride}.0) as int))),
           |  i -> size(slice(toks, i * $ChunkStride + 1, $ChunkTokens)))""".stripMargin)))
      .select(col("doc_id"), col("source"), col("shard"),
        asLong(col("pos")).as("chunk_id"), asLong(col("col")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // integer division on BOTH engines (Spark `div`, DuckDB `//`) — a
      // double-divide-then-cast would round on DuckDB but truncate here
      .withColumn("pack_id",
        col("shard") * PackIdStride + expr(s"(cum - n_tokens) div $PackBudget"))
      .groupBy("source", "shard", "pack_id")
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  /** E3 — packing-efficiency audit over e3Pack's output: per source,
    * pack count, chunk/token totals, fill extremes, how many packs run
    * under/over the budget (greedy running-sum packing lets a straddling
    * chunk overflow its pack by at most one chunk; trailing shard packs
    * run under), and utilization in integer BASIS POINTS
    * (tokens·10⁴ div (n_packs·budget)). This is the number a data-loader
    * team reads before training: utilization is the fraction of every
    * batch that is real tokens rather than padding. Composes the pack
    * query directly (and the oracle wraps e3_pack's oracle SQL verbatim
    * — the e7_dataset_card discipline — so audit and audited can't
    * drift). Output is ALL-INTEGER. Plan: e3Pack's one (source, shard)
    * exchange, then a |sources|-key aggregate over pack-sized rows. */
  def e3PackStats(s: SparkSession, d: String): DataFrame =
    e3Pack(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("pack_tokens")).as("total_tokens"),
        min(col("pack_tokens")).as("min_fill"),
        max(col("pack_tokens")).as("max_fill"),
        sum(when(col("pack_tokens") < PackBudget, 1L).otherwise(0L))
          .as("n_under"),
        sum(when(col("pack_tokens") > PackBudget, 1L).otherwise(0L))
          .as("n_over"))
      .withColumn("util_bp",
        expr(s"total_tokens * 10000 div (n_packs * $PackBudget)"))
      .orderBy("source")

  /** Bucket width (documents per curve point) for e3VocabGrowth —
    * interpolated into BOTH engines. The knob that keeps the curve at
    * O(10³) points: a 100 TB run sets it so n_docs / width stays small,
    * since the cumulative window runs single-partition over the BUCKETS
    * (never over tokens or documents). */
  val VocabBucket = 100

  /** E3 — vocabulary growth (the Heaps-law curve a corpus analysis
    * publishes to spot crawl saturation and dedup health: a corpus whose
    * vocabulary stops growing is re-crawling itself): distinct tokens
    * seen up to each bucket of `VocabBucket` documents, as (bucket,
    * new_tokens, cum_vocab). Plan: token explode → per-token min(doc_id)
    * — a map-side-combining aggregate whose shuffle carries one row per
    * DISTINCT token (vocabulary-sized, like the tfidf df table, not
    * corpus-sized) → bucket count → cumulative sum over the tiny bucket
    * domain. Integer counts keep the oracle exact. */
  def e3VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val firstDoc = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(min(col("doc_id")).as("first_doc"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDoc
      .withColumn("bucket", expr(s"first_doc div $VocabBucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
      .withColumn("cum_vocab", sum(col("new_tokens")).over(w))
      .orderBy("bucket")
  }

  /** Blocklist pattern for e3Redact — Java regex and DuckDB RE2 agree on
    * `\b` word boundaries and alternation over ASCII, so the SAME pattern
    * string drives both engines (the oracle writes it as a SQL literal).
    * A real pipeline swaps in PII patterns (emails, phones, ids); the
    * fixture text is a closed word vocabulary, so the demonstration
    * blocklist is drawn from it. */
  val RedactRegex = "\\b(spark|hash|key)\\b"
  val RedactMask = "[MASK]"

  /** E3 — blocklist redaction (the scrubbing pass a curation pipeline
    * runs for PII / banned terms, Dolma-style): every blocklisted token
    * is replaced by a fixed mask, and the match count rides along so
    * downstream filters can drop documents whose redaction density is
    * too high. Entirely SCAN-SIDE: two codegen'd regex evaluations per
    * row, no shuffle at any corpus size (the output ORDER BY is the only
    * exchange). Emitting the redacted text itself makes the oracle a
    * character-exact cross-engine check of the regex semantics, not just
    * the counts. */
  def e3Redact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        regexp_replace(col("text"), RedactRegex, RedactMask).as("redacted"),
        asLong(size(regexp_extract_all(col("text"), lit(RedactRegex), lit(0))))
          .as("n_redacted"))
      .orderBy("doc_id")

  /** How many merge candidates / post-merge pairs the BPE queries emit. */
  val BpeTopPairs = 20
  val BpeTopAfter = 10

  /** The word-FREQUENCY table (w, wn) over words of length ≥ 2 — the
    * structure every real BPE trainer (sentencepiece, HF tokenizers)
    * reduces the corpus to before its merge loop: ONE corpus scan, one
    * word-vocabulary-sized aggregate, and every subsequent training
    * iteration runs on this tiny table with counts as weights — the
    * corpus is never rescanned. At 100 TB this is the difference between
    * a merge loop over terabytes and one over megabytes (word vocabulary
    * grows ~Heaps-law sublinearly; see e3_vocab_growth). Memoized per
    * (session, corpus path) with a localCheckpoint — e3_bpe_merge has two
    * consumers (the argmax pick and the fold), and without the
    * materialization each consumer re-planned the corpus scan. */
  private def wordFreq(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("word_freq", s, d) {
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wn"))
        .localCheckpoint(false)
    }

  /** E3 — BPE tokenizer training, the counting step: corpus-wide adjacent
    * character-pair frequencies (occurrence-weighted, exactly what a
    * byte-pair-encoding learner maximizes), ranked; the top row IS the
    * next BPE merge. Plan: the corpus collapses to the word-frequency
    * table first (`wordFreq` — one scan, vocabulary-sized exchange), the
    * pair explode and the weighted count then run on that tiny table, so
    * the whole counting step after the first aggregate is
    * corpus-size-independent. Reference analogue: the token-level
    * profiling the reference's jobs do per table, lifted to subword
    * statistics. */
  def e3BpePairs(s: SparkSession, d: String): DataFrame =
    wordFreq(s, d)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("wn"))
      .groupBy("pair").agg(sum(col("wn")).as("n"))
      // distributed top-K FIRST (TakeOrderedAndProject — per-partition
      // heaps), then the rank window runs over K rows; the old order
      // ranked the whole pair table through one partition before
      // filtering (the e8_zipf discipline, round 15). Same (n desc,
      // pair) total order on both steps ⇒ identical rows and ranks.
      .orderBy(col("n").desc, col("pair")).limit(BpeTopPairs)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("pair"))))
      .select(col("rank").cast("long").as("rank"), col("pair"), col("n"))
      .orderBy("rank")

  /** E3 — one full BPE merge ITERATION: pick the argmax pair, apply it
    * greedily left-to-right to every DISTINCT word (standard BPE: after a
    * merge the new symbol does not re-merge with a preceding `a`, so
    * "aaa" under merge aa → [aa, a]), and recount the now-symbol-level
    * pair frequencies weighted by word count. Looping this plan IS BPE
    * training, and after `wordFreq`'s one corpus scan every iteration
    * touches only the vocabulary table + one broadcast merge row — the
    * production trainer shape. The fold is a per-row Catalyst `aggregate`
    * over the char sequence (symbols comma-joined so the accumulator
    * stays a flat string); the oracle replicates it with DuckDB's
    * list_reduce character for character. */
  def e3BpeMerge(s: SparkSession, d: String): DataFrame = {
    val words = wordFreq(s, d)
    val top = words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("wn"))
      .groupBy("pair").agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1)
      .select(substring(col("pair"), 1, 1).as("a"),
        substring(col("pair"), 2, 1).as("b"))
    val merged = words.crossJoin(broadcast(top))
      .select(concat(col("a"), col("b")).as("merged"), col("wn"), expr(
        """aggregate(
          |  transform(sequence(2, length(w)), i -> substring(w, i, 1)),
          |  substring(w, 1, 1),
          |  (acc, c) -> CASE WHEN (acc = a OR endswith(acc, concat(',', a)))
          |                    AND c = b
          |              THEN concat(acc, c)
          |              ELSE concat(acc, ',', c) END)""".stripMargin)
        .as("syms"))
      .select(col("merged"), col("wn"), split(col("syms"), ",").as("sl"))
      .filter(size(col("sl")) >= 2)
    merged
      .select(col("merged"), col("wn"), explode(expr(
        "transform(sequence(1, size(sl) - 1), i -> concat(sl[i - 1], '+', sl[i]))"))
        .as("pair"))
      .groupBy("merged", "pair").agg(sum(col("wn")).as("n"))
      // distributed top-K before the bounded rank window (the e8_zipf /
      // e3_bpe_pairs discipline): `merged` is one constant value, so the
      // (n desc, pair) order is total on both steps — identical rows and
      // ranks, without ranking the whole symbol-pair table through one
      // partition.
      .orderBy(col("n").desc, col("pair")).limit(BpeTopAfter)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("pair"))))
      .select(col("rank").cast("long").as("rank"), col("merged"),
        col("pair"), col("n"))
      .orderBy("rank")
  }

  /** Number of BPE merges the iterative trainer learns (unrolled in the
    * oracle, so keep it small enough to read). */
  val BpeRounds = 4

  /** One left-to-right BPE merge pass for the pair (a, b) over the
    * comma-joined symbol string in `syms` (split into `sl`): the
    * e3_bpe_merge fold generalized to multi-character symbols — the
    * accumulator's LAST symbol (comma-guarded) is checked against `a`,
    * so a freshly merged symbol can't be re-consumed in the same pass.
    * Symbols are corpus word characters, so the comma separator is safe
    * (fixture alphabet is [a-z0-9]; the e3_bpe_merge convention). */
  private def bpeFoldOnce(a: String, b: String): org.apache.spark.sql.Column =
    expr(
      s"""CASE WHEN size(sl) < 2 THEN syms ELSE
         |aggregate(slice(sl, 2, size(sl) - 1), element_at(sl, 1),
         |  (acc, s) -> CASE WHEN (acc = '$a' OR endswith(acc, ',$a'))
         |                    AND s = '$b'
         |              THEN concat(acc, s)
         |              ELSE concat(acc, ',', s) END)
         |END""".stripMargin)

  /** Learned merge table + final per-word symbol table, memoized per
    * (session, corpus): the driver loop reads ONE tiny argmax row per
    * round (the loop-kernel discipline, graft.ops.Loop) while the symbol state
    * lives in the vocabulary-sized word table — the corpus itself is
    * scanned exactly once (inside the memoized wordFreq). */
  private def bpeTrained(s: SparkSession, d: String)
      : (Seq[(String, String, Long)], DataFrame) =
    graft.Memo.value("bpe_trained", s, d) {
      var cur = wordFreq(s, d).select(col("w"), col("wn"), expr(
        "concat_ws(',', transform(sequence(1, length(w)), i -> substring(w, i, 1)))")
        .as("syms"))
      val merges = (1 to BpeRounds).map { _ =>
        val top = cur.withColumn("sl", split(col("syms"), ","))
          .filter(size(col("sl")) >= 2)
          .select(col("wn"), explode(expr(
            """transform(sequence(1, size(sl) - 1), i -> named_struct(
              |  'a', element_at(sl, i), 'b', element_at(sl, i + 1)))"""
              .stripMargin)).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b")).limit(1)
          .head()
        val (a, b, n) = (top.getAs[String]("a"), top.getAs[String]("b"),
          top.getAs[Long]("n"))
        cur = cur.withColumn("sl", split(col("syms"), ","))
          .withColumn("syms", bpeFoldOnce(a, b)).drop("sl")
          .localCheckpoint(false)
        (a, b, n)
      }
      (merges, cur)
    }

  /** E3 — the learned BPE MERGE TABLE: BpeRounds iterations of the full
    * greedy loop (count adjacent symbol pairs weighted by word frequency
    * → merge the argmax everywhere → recount), i.e. e3_bpe_merge run to
    * a vocabulary. Each round's counting aggregate is PAIR-VOCABULARY-
    * sized and rides the memoized word table — the corpus is scanned
    * once, then training cost is independent of corpus size (Heaps-law
    * word growth is the only scale coupling). Ties break (count desc,
    * a, b) so the learned vocabulary is engine-deterministic; the
    * oracle unrolls all rounds as CTE blocks. */
  def e3BpeVocab(s: SparkSession, d: String): DataFrame = {
    val (merges, _) = bpeTrained(s, d)
    val rows = merges.zipWithIndex.map { case ((a, b, n), i) =>
      (i + 1L, a, b, a + b, n)
    }
    s.createDataFrame(rows)
      .toDF("rank", "a", "b", "merged", "n")
      .orderBy("rank")
  }

  /** E3 — BPE tokenizer APPLICATION: segment every document with the
    * learned merge table (merges applied in rank order, one full
    * left-to-right pass each — exactly the corpus state the trainer
    * constructed, so train and apply can never disagree on a word).
    * Per-word token counts come from the same final symbol table the
    * trainer produced (vocabulary-sized, broadcast-joinable); the corpus
    * pass just explodes tokens and sums — words shorter than the
    * trainer's 2-char floor count 1 token (empty split artifacts 0).
    * Emits per-doc word/token/char counts and chars-per-token in integer
    * milli-units — the compression dial a tokenizer report publishes. */
  def e3BpeApply(s: SparkSession, d: String): DataFrame = {
    val (_, words) = bpeTrained(s, d)
    val perWord = words.select(col("w"),
      asLong(size(split(col("syms"), ","))).as("nb"))
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(perWord), Seq("w"), "left")
      .withColumn("nb", coalesce(col("nb"),
        when(length(col("w")) >= 1, 1L).otherwise(0L)))
      .groupBy("doc_id")
      .agg(asLong(count(lit(1))).as("n_words"),
        asLong(sum(col("nb"))).as("n_bpe_tokens"),
        asLong(sum(length(col("w")))).as("n_chars"))
      .withColumn("cpt_m3",
        when(col("n_bpe_tokens") > 0,
          expr("1000 * n_chars div n_bpe_tokens")).otherwise(0L))
      .orderBy("doc_id")
  }

  /** E3 — per-language TOKENIZER FERTILITY: BPE tokens per word and
    * chars per BPE token, rolled up by language — THE standard
    * multilingual tokenizer audit (a language whose fertility is 2× the
    * corpus mean pays 2× the compute per unit of text and hits the
    * context window at half the content; the number that drives
    * vocab-size and per-language budget decisions, cf. the fertility
    * tables in the XLM-R / BLOOM tokenizer analyses). Consumes the SAME
    * trained merge table and per-word symbol table as e3_bpe_apply
    * (train and audit can never disagree on a word), so the marginal
    * cost is one token explode + a |langs|-key aggregate. Integer
    * milli-units with a single div each (the cpt_m3 discipline). Plan at
    * 100 TB: the vocabulary-sized per-word table rides a broadcast; the
    * (lang)-key aggregate partial-combines map-side — the only exchange
    * carries |langs| rows; training cost is already corpus-independent
    * (the memoized word table). */
  def e3Fertility(s: SparkSession, d: String): DataFrame = {
    val (_, words) = bpeTrained(s, d)
    val perWord = words.select(col("w"),
      asLong(size(split(col("syms"), ","))).as("nb"))
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(perWord), Seq("w"), "left")
      .withColumn("nb", coalesce(col("nb"),
        when(length(col("w")) >= 1, 1L).otherwise(0L)))
      .groupBy("lang")
      .agg(asLong(countDistinct(col("doc_id"))).as("n_docs"),
        asLong(count(lit(1))).as("n_words"),
        asLong(sum(col("nb"))).as("n_bpe_tokens"),
        asLong(sum(length(col("w")))).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        when(col("n_words") > 0,
          expr("1000 * n_bpe_tokens div n_words")).otherwise(0L)
          .as("fertility_m3"),
        when(col("n_bpe_tokens") > 0,
          expr("1000 * n_chars div n_bpe_tokens")).otherwise(0L)
          .as("cpt_m3"))
      .orderBy("lang")
  }

  /** Dimensionality of the feature-hashed document vectors. */
  val HashDim = 16

  /** E3 — feature-HASHED document embeddings (the hashing trick,
    * Weinberger et al. 2009; sklearn HashingVectorizer / Vowpal Wabbit):
    * each token maps to dimension fnv64(tok) mod HashDim with sign
    * bit (fnv64 >> 4) & 1, accumulated per document and L2-normalized —
    * a fixed-width vector per document with NO vocabulary table, NO
    * training, and NO model artifact to ship. This is the text→vector
    * bridge when no learned embedding exists (cheap clustering,
    * locality-sensitive sketches, dedup blocking over the e2 machinery),
    * and the signed hash makes collisions cancel in expectation instead
    * of biasing counts. Plan at 100 TB: tokens explode scan-side, the
    * (doc_id, dim) aggregate is map-side combinable (its exchange carries
    * HashDim rows per doc), and the norm window re-partitions those same
    * HashDim-per-doc rows by doc_id — both exchanges are output-sized,
    * never token-sized. Counts stay exact integers; the one double op per
    * row is the
    * final v/‖v‖ division (sqrt of an exact integer sum — deterministic).
    * Oracle replicates fnv64 in HUGEINT (the e1_simhash treatment); the
    * mod-2⁶⁴-divisible dim/sign extraction makes signed-vs-unsigned
    * arithmetic agree exactly. */
  def e3HashEmbed(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id")
    documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
      .select(col("doc_id"),
        pmod(graft.functions.Hashes.fnv64(col("tok")), lit(HashDim))
          .cast("long").as("dim"),
        (lit(1L) - lit(2L) *
          (shiftrightunsigned(graft.functions.Hashes.fnv64(col("tok")), 4)
            % 2)).as("sign"))
      .groupBy("doc_id", "dim").agg(sum(col("sign")).as("v"))
      .withColumn("nrm", sqrt(sum(col("v") * col("v")).over(w)))
      .select(col("doc_id"), col("dim"),
        col("v"),
        when(col("nrm") > 0, round(col("v") / col("nrm"), 4))
          .otherwise(lit(0.0)).as("nv"))
      .orderBy("doc_id", "dim")
  }

  /** E3 — character-entropy gibberish score: Shannon entropy (nats) of
    * each document's character distribution — the quality axis the
    * length/stopword/repetition gates miss (random-key gibberish has
    * HIGH entropy, single-char flood has ~0; natural text sits in a
    * narrow band, so both tails are drop candidates — the Gopher/C4
    * rule-family member for non-linguistic noise). Plan at scale: the
    * char explode is scan-side; the (doc, char) count aggregate's
    * exchange carries ≤|alphabet| rows per doc, and the per-doc fold
    * runs over that same bounded set. The entropy sum is folded in
    * SORTED char order on BOTH engines (the e3_bm25 treatment) so float
    * summation order can never split them; docs with empty text are
    * excluded on both sides (entropy of nothing is undefined). The char
    * explode rides the native codegen'd 1-gram expression (one fused
    * loop; the equivalent `transform(sequence(...))` higher-order form
    * measured 3× slower at sf0.1). */
  def e3Entropy(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        col("text"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("n"),
        explode(graft.functions.Ngrams.charNgrams(col("text"), 1)).as("ch"))
      .groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("n"), col("ch"),
        (col("c") / col("n") * log(col("n") / col("c"))).as("t"))
      .groupBy("doc_id", "n")
      .agg(count(lit(1)).as("distinct_chars"),
        round(aggregate(
          transform(array_sort(collect_list(struct(col("ch"), col("t")))),
            x => x("t")),
          lit(0.0), (acc, x) => acc + x), 4).as("entropy"))
      .select(col("doc_id"), col("n").as("n_chars"), col("distinct_chars"),
        col("entropy"))
      .orderBy("doc_id")

  /** The phrase the declared phrase-search query looks for. Two terms
    * exercise the full positional-intersection machinery — a k-term
    * phrase is k−1 chained position joins of the same shape. */
  val Phrase: Seq[String] = Seq("sort", "merge")

  /** E3 — inverted-index build audit: per-term document frequency, corpus
    * frequency, and max in-document tf — the statistics a search/BM25
    * layer reads and the size estimate for each posting list. Plan: one
    * (term, doc_id) partial-aggregated exchange for tf, then a
    * VOCABULARY-bounded final aggregate — Heaps-law sublinear in corpus
    * size, so the second exchange is tiny at any scale. The postings
    * themselves ((term, doc, pos) rows) are what `e3_phrase_search`
    * consumes; a deployment materializes them once via Formats and
    * serves every query from the index. */
  def e3Postings(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(asLong(count(lit(1))).as("df"), asLong(sum(col("tf"))).as("cf"),
        asLong(max(col("tf"))).as("max_tf"))
      .orderBy("term")

  /** E3 — exact phrase search by positional posting-list intersection
    * (the inverted-index algorithm, not a LIKE scan): each phrase term's
    * postings are (doc_id, pos) rows filtered scan-side, and term i is
    * equi-joined on (doc_id, pos₀ + i) — the composite key is near-unique,
    * so the join spreads evenly no matter how common the words are (a
    * doc_id-only join would hot-spot on long documents). Emits per-doc
    * occurrence count and the first match position (1-based). At 100 TB
    * the exchanges carry only the PHRASE TERMS' postings — a fraction
    * proportional to the terms' cf, never the corpus — and against a
    * materialized postings table the scan prunes to two term partitions. */
  def e3PhraseSearch(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "w")
    val start = toks.filter(col("w") === Phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val matched = Phrase.zipWithIndex.drop(1).foldLeft(start) {
      case (acc, (w, i)) =>
        val t = toks.filter(col("w") === w)
          .select(col("doc_id").as("di"), col("pos").as("pi"))
        acc.join(t, acc("doc_id") === col("di") &&
            col("pi") === col("p0") + i)
          .drop("di", "pi")
    }
    matched.groupBy("doc_id")
      .agg(asLong(count(lit(1))).as("n_occ"),
        asLong(min(col("p0")) + 1).as("first_pos"))
      .orderBy("doc_id")
  }

  /** E3 — quality-filter CALIBRATION sweep: for each candidate threshold
    * (0.0 to 0.9 in 0.1 steps), the docs/tokens that would survive and
    * the keep rate — the curve a curator reads to pick the operating
    * point BEFORE committing a corpus-sized filter run (each threshold is
    * a (kept volume, quality floor) trade; the knee of this curve is the
    * conventional pick). ONE corpus scan: the 4-dp score is computed once
    * per doc and exploded against the 10-threshold literal array, so the
    * aggregate sees 10·n tiny integer rows, partial-combined to 10 keys.
    * Thresholds and scores compare in integer 10⁻⁴ units (a double `score
    * ≥ 0.3` would hinge on binary rounding at the boundary), and the keep
    * rate divides integers (threshold 0 keeps everything, so the window
    * max IS the corpus total — no second scan for the denominator). */
  def e3QualityCalibration(s: SparkSession, d: String): DataFrame = {
    val q = documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(stopwordFilterSql)))
      .select(asLong(col("nt")).as("nt"),
        round(round(qualityScore(col("nt"), col("nsw")), 4) * 10000)
          .cast("long").as("m4"))
      .select(col("nt"), col("m4"),
        explode(array((0 until 10).map(i => lit(i * 1000L)): _*)).as("thr_m4"))
      .filter(col("m4") >= col("thr_m4"))
      .groupBy("thr_m4")
      .agg(asLong(count(lit(1))).as("kept_docs"),
        asLong(sum(col("nt"))).as("kept_tokens"))
    q.withColumn("keep_rate_ppm",
        expr("1000000 * kept_docs div max(kept_docs) OVER ()"))
      .orderBy("thr_m4")
  }

  /** Document-frequency share (bp) above which a token is induced as a
    * stopword — interpolated into BOTH engines. */
  val StopwordDfBp = 6000L

  /** E3 — STOPWORD INDUCTION from document frequency: tokens appearing
    * in more than StopwordDfBp/10⁴ of documents become the induced
    * stopword list, emitted with each word's df share and its share of
    * the total TOKEN mass — the corpus-adaptive replacement for a fixed
    * English list (multilingual/web corpora violate fixed lists both
    * ways: "the" may be rare in a code-heavy source while boilerplate
    * carrier words behave as stopwords). The token-mass column is the
    * number BM25/TF-IDF indexing actually budgets by: inducing the list
    * prices exactly how much postings volume the stop filter saves
    * (read next to e3_postings / e3_bm25, which consume such a list's
    * complement). ALL-INTEGER shares. Plan at 100 TB: one per-doc
    * DISTINCT explode partial-combines into the vocab-keyed df
    * aggregate; the token-mass aggregate reuses the same explode shape;
    * both marginals broadcast as 1-row folds — vocabulary-bounded,
    * corpus never shuffles. */
  def e3Stopwords(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val df = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val tf = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tot = tf.agg(sum(col("tf")).as("n_tokens"))
    df.join(tf, "t")
      .crossJoin(broadcast(n)).crossJoin(broadcast(tot))
      .withColumn("df_bp", expr("df * 10000 div n_docs"))
      .filter(col("df_bp") > StopwordDfBp)
      .select(col("t").as("stopword"), col("df"), col("df_bp"),
        col("tf").as("token_count"),
        expr("tf * 10000 div n_tokens").as("mass_bp"))
      .orderBy(col("df_bp").desc, col("stopword"))
  }

  /** Stupid-backoff discount α — interpolated into BOTH engines as the
    * literal 0.4 of Brants et al. (EMNLP 2007). */
  val BackoffAlpha = "0.4"

  /** Purpose-salt for the 50/50 train/held-out gate. A doc_id-parity
    * split would CONFOUND with the fixture's source assignment (parity
    * picks exactly half the sources); the salted mix64 slot is
    * independent of every column — the e6 split discipline. */
  val BackoffSalt = 0x4ba8e21d7c5f9036L

  /** The per-source held-out backoff score table behind
    * [[e3StupidBackoff]] and Curation's e7_doremi_step (consumers
    * COMPOSE this builder verbatim — the can't-drift rule). Columns:
    * (source, n_docs, n_pos, n_backoff, sum_s_micro); n_docs counts the
    * SCORED (held-out) docs. */
  private[ops] def backoffSourceScores(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"),
        Sampling.slot(col("doc_id"), BackoffSalt).as("sl"))
    // size >= 2 guard (the e8_heaps precedent): a 1-token doc would make
    // sequence(1, 0) DESCEND to [1, 0] and index toks[1]/toks[-1] — an
    // ANSI INVALID_ARRAY_INDEX crash — while the oracle's range(1, len)
    // emits nothing; the guard makes both engines emit nothing.
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), col("sl"),
      explode(expr("""transform(sequence(1, size(toks) - 1),
                      i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"""))
        .as("b"))
      .select(col("doc_id"), col("source"), col("sl"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toks.filter(col("sl") < 50)
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val ntot = uni.agg(sum(col("cw")).as("ntot"))
    val big = bi.filter(col("sl") < 50)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bi.filter(col("sl") >= 50)
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("cw1"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("cw2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(ntot))
      .withColumn("s_micro", expr(
        s"""CAST(floor(CASE WHEN cb IS NOT NULL
           |    THEN CAST(cb AS DOUBLE) / cw1
           |    ELSE $BackoffAlpha * coalesce(cw2, 0) / ntot END
           |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_pos"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum(col("s_micro")).as("sum_s_micro"))
  }

  /** E3 — STUPID-BACKOFF bigram LM scoring (Brants, Popat, Xu, Och &
    * Dean, "Large language models in machine translation", EMNLP 2007 —
    * THE web-scale LM: no discounting to train, score = c(w₁w₂)/c(w₁)
    * with α·c(w₂)/N on backoff): the bigram and unigram tables train on
    * the salted-mix64 slot<50 half and every slot≥50 document scores
    * against them held-out ([[BackoffSalt]] — doc_id parity was
    * rejected as confounded with source assignment), so unseen bigrams
    * actually occur and the backoff
    * path is exercised (a same-corpus model would have c ≥ 1 everywhere
    * — the e1_contamination train/test lesson applied to LM eval). Read
    * next to e3_lm_score (char-trigram hit-rate): this is the WORD-level
    * fluency screen, and its per-source mean is the "loss" proxy
    * e7_doremi_step reweights on. Exactness: each position's score is
    * one double ratio of exact longs, integerized (floor(S·1e6 + 0.5))
    * scan-side BEFORE the fold, so cross-row summation is exact long
    * arithmetic — no float sum, no transcendental. Plan at 100 TB: both
    * model tables are vocab-bounded (Heaps-saturating) and BROADCAST;
    * scoring is three scan-side hash joins on word keys + one broadcast
    * scalar; the per-source fold partial-combines map-side. */
  def e3StupidBackoff(s: SparkSession, d: String): DataFrame =
    backoffSourceScores(s, d)
      .select(col("source"), col("n_docs"), col("n_pos"), col("n_backoff"),
        expr("n_backoff * 10000 div n_pos").as("backoff_bp"),
        expr("sum_s_micro div n_pos").as("mean_s_micro"))
      .orderBy("source")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e3_stupid_backoff" -> (e3StupidBackoff _),
    "e3_stopwords" -> (e3Stopwords _),
    "e3_bpe_vocab" -> (e3BpeVocab _),
    "e3_bpe_apply" -> (e3BpeApply _),
    "e3_fertility" -> (e3Fertility _),
    "e3_quality_calibration" -> (e3QualityCalibration _),
    "e3_postings" -> (e3Postings _),
    "e3_phrase_search" -> (e3PhraseSearch _),
    "e3_entropy" -> (e3Entropy _),
    "e3_hash_embed" -> (e3HashEmbed _),
    "e3_bpe_pairs" -> (e3BpePairs _),
    "e3_bpe_merge" -> (e3BpeMerge _),
    "e3_redact" -> (e3Redact _),
    "e3_vocab_growth" -> (e3VocabGrowth _),
    "e3_pack" -> (e3Pack _),
    "e3_pack_stats" -> (e3PackStats _),
    "e3_chunk" -> (e3Chunk _),
    "e3_lm_score" -> (e3LmScore _),
    "e3_normalize" -> (e3Normalize _),
    "e3_lang_confusion" -> (e3LangConfusion _),
    "e3_langid_scoreboard" -> (e3LangidScoreboard _),
    "e3_perceptron_step" -> (e3PerceptronStep _),
    "e3_tfidf" -> (e3Tfidf _),
    "e3_tokens" -> (e3Tokens _),
    "e3_lang_profile" -> (e3LangProfile _),
    "e3_quality" -> (e3Quality _),
    "e3_gopher_gates" -> (e3GopherGates _),
    "e3_quality_model" -> (e3QualityModel _),
    "e3_bm25" -> (e3Bm25 _),
    "e3_quality_tiers" -> (e3QualityTiers _),
    "e3_langid" -> (e3LangId _),
    "e3_token_freq" -> (e3TokenFreq _),
    "e3_fingerprint" -> (e3Fingerprint _),
    "e3_repetition" -> (e3Repetition _),
  )

  /** Cavnar–Trenkle langid oracle as a CTE chain ending in
    * `pred` (doc_id, pred_lang, score) — shared by the per-doc and
    * confusion-matrix oracles. */
  private val langidCtes: String =
    """tri AS (SELECT doc_id, lang,
      |  unnest(list_transform(range(1, length(lower(text)) - 1),
      |    i -> substring(lower(text), CAST(i AS INT), 3))) AS g FROM documents),
      |top AS (SELECT lang AS cand_lang, g FROM (
      |  SELECT lang, g, row_number() OVER (
      |    PARTITION BY lang ORDER BY count(*) DESC, g) AS rk
      |  FROM tri GROUP BY lang, g) WHERE rk <= 100),
      |score AS (SELECT doc_id, cand_lang, count(*) AS s
      |  FROM (SELECT DISTINCT doc_id, g FROM tri) dg JOIN top USING (g)
      |  GROUP BY doc_id, cand_lang),
      |pred AS (SELECT doc_id, cand_lang AS pred_lang, s AS score FROM (
      |  SELECT doc_id, cand_lang, s, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY s DESC, cand_lang) AS rn FROM score)
      |WHERE rn = 1)""".stripMargin

  /** DuckDB replica of the full BpeRounds-iteration BPE trainer: the
    * word-frequency table, then per round (pair counts over the comma-
    * joined symbol strings → (n DESC, a, b) argmax → the same
    * last-symbol-guarded left-to-right fold as bpeFoldOnce via
    * list_reduce). Ends at `ws$BpeRounds` (w, wn, syms) with each
    * round's pick in `top$k`. */
  private def bpeTrainCtes: String = {
    val init =
      """ws0 AS (SELECT w, wn,
        |  array_to_string(list_transform(range(1, length(w) + 1),
        |    i -> substring(w, CAST(i AS INT), 1)), ',') AS syms
        |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |    WHERE length(w) >= 2 GROUP BY w))""".stripMargin
    val rounds = (1 to BpeRounds).map { k =>
      s"""sl$k AS (SELECT w, wn, syms, string_split(syms, ',') AS sl
         |  FROM ws${k - 1}),
         |pr$k AS (SELECT sl[CAST(i AS INT)] AS a, sl[CAST(i AS INT) + 1] AS b,
         |    CAST(sum(wn) AS BIGINT) AS n
         |  FROM sl$k, unnest(range(1, len(sl))) u(i) GROUP BY 1, 2),
         |top$k AS (SELECT a, b, n FROM pr$k ORDER BY n DESC, a, b LIMIT 1),
         |ws$k AS (SELECT w, wn,
         |    CASE WHEN len(sl) < 2 THEN syms ELSE
         |      list_reduce(sl, (acc, s) ->
         |        CASE WHEN (acc = a OR ends_with(acc, ',' || a)) AND s = b
         |             THEN acc || s ELSE acc || ',' || s END)
         |    END AS syms
         |  FROM sl$k CROSS JOIN top$k)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$rounds"
  }

  /** Shared oracle CTE block: word occurrences (len ≥ 2) and their
    * adjacent char pairs — the common core of the two BPE oracles. */
  private val bpeCtes: String =
    """w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |w2 AS (SELECT w FROM w0 WHERE length(w) >= 2),
      |p AS (SELECT unnest(list_transform(range(1, length(w)),
      |  i -> substr(w, CAST(i AS INT), 2))) AS pair FROM w2)""".stripMargin

  /** The e3_pack oracle body, shared verbatim with the e3_pack_stats
    * wrapper so the audit can never drift from the query it audits. */
  private val packOracleSql: String =
    s"""WITH mx_in AS (SELECT doc_id, source, text,
       |  xor(CAST(doc_id AS HUGEINT), CAST('$PackShardSalt' AS HUGEINT)) AS h0
       |  FROM documents),
       |${OracleSql.mixCtes("mx", "h0", "h1", Seq("doc_id", "source", "text"))},
       |t AS (SELECT doc_id, source,
       |  CAST((h1 % CAST(power(2, 63) AS HUGEINT)) % $PackShards AS BIGINT) AS shard,
       |  string_split(text, ' ') AS toks FROM mx),
       |w AS (SELECT doc_id, source, shard, toks, unnest(range(0, 1 + greatest(0,
       |  CAST(ceil((len(toks) - $ChunkTokens) / ${ChunkStride}.0) AS INT)))) AS i
       |  FROM t),
       |c AS (SELECT doc_id, source, shard, CAST(i AS BIGINT) AS chunk_id,
       |  CAST(len(list_slice(toks, i * $ChunkStride + 1,
       |    i * $ChunkStride + $ChunkTokens)) AS BIGINT) AS n_tokens FROM w),
       |r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard
       |    ORDER BY doc_id, chunk_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c)
       |SELECT source, shard,
       |  CAST(shard * $PackIdStride + (cum - n_tokens) // $PackBudget AS BIGINT)
       |    AS pack_id,
       |  count(*) AS n_chunks,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
       |FROM r GROUP BY source, shard, pack_id ORDER BY source, pack_id""".stripMargin

  /** The held-out stupid-backoff chain ending in CTE `bo_src` (source,
    * n_docs, n_pos, n_backoff, sum_s_micro) — shared VERBATIM by the
    * e3_stupid_backoff and e7_doremi_step oracles (can't-drift). Each
    * position's score is one double ratio of exact longs, integerized
    * before any cross-row sum — the Spark builder's exact arithmetic. */
  private[ops] lazy val backoffCtes: String = {
    import OracleSql._
    val saltU = java.lang.Long.toUnsignedString(BackoffSalt)
    s"""bo_mx_in AS (SELECT doc_id,
       |  xor(CAST(doc_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS h0
       |  FROM documents),
       |${mixCtes("bo_mx", "h0", "h1", Seq("doc_id"))},
       |bo_sl AS (SELECT doc_id,
       |    CAST((h1 % CAST(power(2, 63) AS HUGEINT)) % 100 AS BIGINT) AS sl
       |  FROM bo_mx),
       |bo_t AS (SELECT d.doc_id, d.source, string_split(d.text, ' ') AS toks,
       |    s.sl
       |  FROM documents d JOIN bo_sl s USING (doc_id)),
       |bo_bi AS (SELECT doc_id, source, sl, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, source, sl, toks,
       |      unnest(range(1, len(toks))) AS i FROM bo_t)),
       |bo_uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
       |  SELECT unnest(toks) AS w FROM bo_t WHERE sl < 50)
       |  GROUP BY w),
       |bo_n AS (SELECT CAST(sum(cw) AS BIGINT) AS ntot FROM bo_uni),
       |bo_big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
       |  FROM bo_bi WHERE sl < 50 GROUP BY w1, w2),
       |bo_sc AS (SELECT b.doc_id, b.source,
       |    CAST(floor(CASE WHEN g.cb IS NOT NULL
       |        THEN CAST(g.cb AS DOUBLE) / u1.cw
       |        ELSE $BackoffAlpha * coalesce(u2.cw, 0) / bo_n.ntot END
       |      * 1000000.0 + 0.5) AS BIGINT) AS s_micro,
       |    CASE WHEN g.cb IS NULL THEN 1 ELSE 0 END AS backoff
       |  FROM bo_bi b
       |  LEFT JOIN bo_big g ON b.w1 = g.w1 AND b.w2 = g.w2
       |  LEFT JOIN bo_uni u1 ON b.w1 = u1.w
       |  LEFT JOIN bo_uni u2 ON b.w2 = u2.w
       |  CROSS JOIN bo_n
       |  WHERE b.sl >= 50),
       |bo_src AS (SELECT source,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_pos,
       |    CAST(sum(backoff) AS BIGINT) AS n_backoff,
       |    CAST(sum(s_micro) AS BIGINT) AS sum_s_micro
       |  FROM bo_sc GROUP BY source)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "e3_stupid_backoff" ->
      s"""WITH $backoffCtes
         |SELECT source, n_docs, n_pos, n_backoff,
         |  n_backoff * 10000 // n_pos AS backoff_bp,
         |  sum_s_micro // n_pos AS mean_s_micro
         |FROM bo_src ORDER BY source""".stripMargin,
    // per-doc DISTINCT df + raw tf over the same split; integer bp
    // shares and the bp threshold (see e3Stopwords)
    "e3_stopwords" ->
      s"""WITH sdf AS (SELECT t, count(*) AS df FROM (
         |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
         |    FROM documents) GROUP BY t),
         |stf AS (SELECT t, count(*) AS tf FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  GROUP BY t),
         |snd AS (SELECT count(*) AS n_docs FROM documents),
         |snt AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tokens FROM stf)
         |SELECT t AS stopword, df, df * 10000 // n_docs AS df_bp,
         |  tf AS token_count, tf * 10000 // n_tokens AS mass_bp
         |FROM sdf JOIN stf USING (t) CROSS JOIN snd CROSS JOIN snt
         |WHERE df * 10000 // n_docs > $StopwordDfBp
         |ORDER BY df_bp DESC, stopword""".stripMargin,
    "e3_bpe_vocab" -> {
      val union = (1 to BpeRounds).map { k =>
        s"SELECT CAST($k AS BIGINT) AS rank, a, b, a || b AS merged, n FROM top$k"
      }.mkString("\nUNION ALL\n")
      s"WITH $bpeTrainCtes\n$union\nORDER BY rank"
    },
    "e3_bpe_apply" ->
      s"""WITH $bpeTrainCtes,
         |pw AS (SELECT w,
         |    CAST(len(string_split(syms, ',')) AS BIGINT) AS nb
         |  FROM ws$BpeRounds),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |j AS (SELECT t.doc_id, t.w, coalesce(pw.nb,
         |    CASE WHEN length(t.w) >= 1 THEN 1 ELSE 0 END) AS nb
         |  FROM tok t LEFT JOIN pw USING (w)),
         |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |    CAST(sum(length(w)) AS BIGINT) AS n_chars
         |  FROM j GROUP BY 1)
         |SELECT doc_id, n_words, n_bpe_tokens, n_chars,
         |  CAST(CASE WHEN n_bpe_tokens > 0
         |    THEN (1000 * n_chars) // n_bpe_tokens ELSE 0 END AS BIGINT)
         |    AS cpt_m3
         |FROM per ORDER BY doc_id""".stripMargin,
    // same trained symbol table as e3_bpe_apply (pw is identical), rolled
    // up per language; integer milli-unit ratios with one div each
    "e3_fertility" ->
      s"""WITH $bpeTrainCtes,
         |pw AS (SELECT w,
         |    CAST(len(string_split(syms, ',')) AS BIGINT) AS nb
         |  FROM ws$BpeRounds),
         |tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |j AS (SELECT t.lang, t.doc_id, t.w, coalesce(pw.nb,
         |    CASE WHEN length(t.w) >= 1 THEN 1 ELSE 0 END) AS nb
         |  FROM tok t LEFT JOIN pw USING (w)),
         |per AS (SELECT lang,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |    CAST(sum(length(w)) AS BIGINT) AS n_chars
         |  FROM j GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
         |  CAST(CASE WHEN n_words > 0
         |    THEN (1000 * n_bpe_tokens) // n_words ELSE 0 END AS BIGINT)
         |    AS fertility_m3,
         |  CAST(CASE WHEN n_bpe_tokens > 0
         |    THEN (1000 * n_chars) // n_bpe_tokens ELSE 0 END AS BIGINT)
         |    AS cpt_m3
         |FROM per ORDER BY lang""".stripMargin,
    "e3_quality_calibration" ->
      """WITH q AS (SELECT len(string_split(text, ' ')) AS nt,
        |  CAST(round(round(least(1.0,
        |      len(string_split(text, ' ')) / 100.0) *
        |      (1.0 - len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','and','to'))) /
        |        CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) * 10000)
        |    AS BIGINT) AS m4 FROM documents),
        |e AS (SELECT nt, m4, t * 1000 AS thr_m4
        |  FROM q, range(0, 10) r(t) WHERE m4 >= t * 1000),
        |a AS (SELECT thr_m4, CAST(count(*) AS BIGINT) AS kept_docs,
        |  CAST(sum(nt) AS BIGINT) AS kept_tokens FROM e GROUP BY 1)
        |SELECT thr_m4, kept_docs, kept_tokens,
        |  CAST(1000000 * kept_docs // max(kept_docs) OVER () AS BIGINT)
        |    AS keep_rate_ppm
        |FROM a ORDER BY thr_m4""".stripMargin,
    "e3_postings" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |p AS (SELECT doc_id, tk[CAST(i AS INT)] AS w
        |  FROM t, unnest(range(1, len(tk) + 1)) u(i)),
        |tf AS (SELECT w AS term, doc_id, count(*) AS tf FROM p
        |  WHERE w <> '' GROUP BY 1, 2)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf, CAST(max(tf) AS BIGINT) AS max_tf
        |FROM tf GROUP BY term ORDER BY term""".stripMargin,
    // DuckDB's 1-based list positions equal Spark's 0-based posexplode + 1,
    // so first_pos lines up and the +1 adjacency offset is base-invariant
    "e3_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i AS INT)] AS w
         |  FROM t, unnest(range(1, len(tk) + 1)) u(i))
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occ,
         |  CAST(min(a.pos) AS BIGINT) AS first_pos
         |FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  AND b.w = '${Phrase(1)}'
         |WHERE a.w = '${Phrase.head}'
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "e3_entropy" ->
      """WITH d0 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n, text
        |  FROM documents WHERE length(text) >= 1),
        |ch AS (SELECT doc_id, n,
        |    unnest(list_transform(range(1, length(text) + 1),
        |      i -> substring(text, CAST(i AS INT), 1))) AS ch
        |  FROM d0),
        |cc AS (SELECT doc_id, n, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM ch GROUP BY 1, 2, 3),
        |tt AS (SELECT doc_id, n, ch,
        |    (CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) AS t
        |  FROM cc)
        |SELECT doc_id, n AS n_chars, CAST(count(*) AS BIGINT)
        |    AS distinct_chars,
        |  round(list_reduce(list_prepend(0.0, list(t ORDER BY ch)),
        |    (a, b) -> a + b), 4) AS entropy
        |FROM tt GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    "e3_hash_embed" ->
      s"""WITH t AS (SELECT doc_id,
         |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    list_reduce(
         |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
         |        list_transform(range(1, length(tok) + 1),
         |          i -> CAST(unicode(substring(tok, CAST(i AS INT), 1)) AS HUGEINT))),
         |      (h, b) -> ((h - h % 256 +
         |          CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |        * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS u
         |  FROM t),
         |sv AS (SELECT doc_id, CAST(u % $HashDim AS BIGINT) AS dim,
         |    1 - 2 * CAST((u // 16) % 2 AS BIGINT) AS sign FROM h),
         |g AS (SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS v
         |  FROM sv GROUP BY doc_id, dim),
         |n AS (SELECT doc_id, dim, v,
         |    sqrt(CAST(sum(v * v) OVER (PARTITION BY doc_id) AS DOUBLE)) AS nrm
         |  FROM g)
         |SELECT doc_id, dim, v,
         |  CASE WHEN nrm > 0 THEN round(v / nrm, 4) ELSE 0.0 END AS nv
         |FROM n ORDER BY doc_id, dim""".stripMargin,
    "e3_bpe_pairs" ->
      s"""WITH $bpeCtes,
         |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
         |  GROUP BY pair),
         |r AS (SELECT pair, n,
         |  row_number() OVER (ORDER BY n DESC, pair) AS rank FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, pair, n FROM r
         |WHERE rank <= $BpeTopPairs ORDER BY rank""".stripMargin,
    "e3_bpe_merge" ->
      s"""WITH $bpeCtes,
         |top AS (SELECT substr(pair, 1, 1) AS a, substr(pair, 2, 1) AS b
         |  FROM (SELECT pair, count(*) AS n FROM p GROUP BY pair
         |        ORDER BY n DESC, pair LIMIT 1)),
         |m AS (SELECT a || b AS merged, string_split(list_reduce(
         |    list_transform(range(1, length(w) + 1),
         |      i -> substr(w, CAST(i AS INT), 1)),
         |    (acc, c) -> CASE WHEN (acc = a OR ends_with(acc, ',' || a))
         |                      AND c = b
         |                THEN acc || c ELSE acc || ',' || c END), ',') AS sl
         |  FROM w2 CROSS JOIN top),
         |p2 AS (SELECT merged, unnest(list_transform(range(1, len(sl)),
         |    i -> sl[CAST(i AS INT)] || '+' || sl[CAST(i AS INT) + 1]))
         |    AS pair FROM m),
         |c AS (SELECT merged, pair, CAST(count(*) AS BIGINT) AS n FROM p2
         |  GROUP BY merged, pair),
         |r AS (SELECT merged, pair, n,
         |  row_number() OVER (ORDER BY n DESC, pair) AS rank FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, merged, pair, n FROM r
         |WHERE rank <= $BpeTopAfter ORDER BY rank""".stripMargin,
    "e3_redact" ->
      s"""SELECT doc_id,
         |regexp_replace(text, '\\b(spark|hash|key)\\b', '[MASK]', 'g')
         |  AS redacted,
         |CAST(len(regexp_extract_all(text, '\\b(spark|hash|key)\\b'))
         |  AS BIGINT) AS n_redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "e3_vocab_growth" ->
      s"""WITH fd AS (SELECT token, min(doc_id) AS first_doc FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents)
         |  GROUP BY token),
         |b AS (SELECT first_doc // $VocabBucket AS bucket, count(*) AS new_tokens
         |  FROM fd GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, new_tokens,
         |  CAST(sum(new_tokens) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_vocab
         |FROM b ORDER BY bucket""".stripMargin,
    "e3_pack" -> packOracleSql,
    // The audit wraps the pack query's OWN oracle verbatim as a
    // subquery (the e7_dataset_card discipline), so the stats can never
    // drift from the query they summarize. util_bp is integer basis
    // points (tokens·10⁴ div capacity) — `//` ≡ Spark `div` on the
    // nonnegative operands; output is ALL-INTEGER.
    "e3_pack_stats" ->
      s"""SELECT source, count(*) AS n_packs,
         |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(pack_tokens) AS BIGINT) AS min_fill,
         |  CAST(max(pack_tokens) AS BIGINT) AS max_fill,
         |  CAST(sum(CASE WHEN pack_tokens < $PackBudget THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_under,
         |  CAST(sum(CASE WHEN pack_tokens > $PackBudget THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_over,
         |  CAST(sum(pack_tokens) AS BIGINT) * 10000
         |    // (count(*) * $PackBudget) AS util_bp
         |FROM ($packOracleSql)
         |GROUP BY source ORDER BY source""".stripMargin,
    "e3_chunk" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, toks, unnest(range(0, 1 + greatest(0,
         |  CAST(ceil((len(toks) - $ChunkTokens) / ${ChunkStride}.0) AS INT)))) AS i
         |  FROM t)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  array_to_string(list_slice(toks, i * $ChunkStride + 1,
         |    i * $ChunkStride + $ChunkTokens), ' ') AS chunk,
         |  CAST(len(list_slice(toks, i * $ChunkStride + 1,
         |    i * $ChunkStride + $ChunkTokens)) AS BIGINT) AS n_tokens
         |FROM w ORDER BY doc_id, chunk_id""".stripMargin,
    "e3_lm_score" ->
      """WITH tri AS (SELECT doc_id, lang,
        |  unnest(list_transform(range(1, length(lower(text)) - 1),
        |    i -> substring(lower(text), CAST(i AS INT), 3))) AS g FROM documents),
        |model AS (SELECT lang, g, count(*) AS c FROM tri GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(c) AS tot FROM model GROUP BY 1),
        |doc AS (SELECT doc_id, lang, count(*) AS n_tri, sum(c) AS hits
        |  FROM tri JOIN model USING (lang, g) GROUP BY 1, 2)
        |SELECT doc_id, n_tri,
        |  round(hits * 1000000.0 / n_tri / tot, 4) AS lm_hpm
        |FROM doc JOIN tot USING (lang) ORDER BY doc_id""".stripMargin,
    "e3_normalize" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |  ' +', ' ', 'g')) AS clean,
        |CAST(len(string_split(trim(regexp_replace(
        |  regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |  ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e3_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY doc_id, token),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    CAST(tf AS DOUBLE) * n_docs / df AS score
        |  FROM tf JOIN idf USING (token), n)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, round(score, 4) AS score
        |FROM (SELECT doc_id, token, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "e3_tokens" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |  AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e3_lang_profile" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e3_quality_tiers" ->
      // same integer ceil(10·cum/tot) arithmetic as the Spark plan; the
      // histogram, cumulative counts, and join-back all stay within one
      // engine, so the double score is only ever compared to itself
      """WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to'))) AS nsw FROM documents),
        |s AS (SELECT CAST(nt AS BIGINT) AS n_tokens,
        |  round(least(1.0, CAST(nt AS DOUBLE) / 100.0)
        |    * (1.0 - CAST(nsw AS DOUBLE) / nt), 4) AS score FROM q),
        |h AS (SELECT score, count(*) AS c, sum(n_tokens) AS tk
        |  FROM s GROUP BY score),
        |t AS (SELECT score, c, tk, sum(c) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER () AS tot FROM h)
        |SELECT CAST((cum * 10 + tot - 1) // tot AS BIGINT) AS tier,
        |  CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(tk) AS BIGINT) AS tot_tokens,
        |  min(score) AS lo_score, max(score) AS hi_score
        |FROM t GROUP BY tier ORDER BY tier""".stripMargin,
    "e3_quality" ->
      """WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to'))) AS nsw,
        |  length(replace(text, ' ', '')) AS letters FROM documents)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |round(CAST(nsw AS DOUBLE) / nt, 4) AS stopword_ratio,
        |round(CAST(letters AS DOUBLE) / nt, 4) AS avg_token_len,
        |round(least(1.0, CAST(nt AS DOUBLE) / 100.0) * (1.0 - CAST(nsw AS DOUBLE) / nt), 4)
        |  AS score
        |FROM q ORDER BY doc_id""".stripMargin,
    // all four gates in cross-multiplied integer arithmetic; keep rate
    // in integer basis points
    "e3_gopher_gates" ->
      s"""WITH f AS (SELECT source,
         |  len(string_split(text, ' ')) AS nt,
         |  len(list_distinct(string_split(text, ' '))) AS nd,
         |  length(replace(text, ' ', '')) AS letters,
         |  len(list_filter(string_split(text, ' '),
         |    t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")}))) AS nsw
         |  FROM documents),
         |g AS (SELECT source,
         |  (nt >= $GopherMinTokens AND nt <= $GopherMaxTokens) AS g_len,
         |  (letters >= 3 * nt AND letters <= 10 * nt) AS g_wordlen,
         |  (nsw >= 2) AS g_stop,
         |  (10 * nd >= 3 * nt) AS g_rep FROM f)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT g_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS f_len,
         |  CAST(sum(CASE WHEN NOT g_wordlen THEN 1 ELSE 0 END) AS BIGINT)
         |    AS f_wordlen,
         |  CAST(sum(CASE WHEN NOT g_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS f_stop,
         |  CAST(sum(CASE WHEN NOT g_rep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS f_rep,
         |  CAST(sum(CASE WHEN g_len AND g_wordlen AND g_stop AND g_rep
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN g_len AND g_wordlen AND g_stop AND g_rep
         |    THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS keep_bp
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "e3_bm25" -> {
      val termsSql = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH p AS (SELECT CAST($Bm25K1 AS DOUBLE) AS k1,
        |    CAST($Bm25B AS DOUBLE) AS b),
        |d0 AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |g AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d0),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ($termsSql) GROUP BY doc_id, tok),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |  ((n - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1.0)) /
        |    (tf + k1 * (1.0 - b + b * dl / avgdl)) AS s
        |  FROM tf JOIN dfr USING (tok) JOIN d0 ON tf.doc_id = d0.doc_id
        |  CROSS JOIN g CROSS JOIN p)
        |SELECT doc_id, count(*) AS n_terms,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(tok := tok, s := s))),
        |      x -> x.s)), (a, b2) -> a + b2), 4) AS bm25
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "e3_quality_model" ->
      s"""WITH w AS (SELECT CAST($QmBias AS DOUBLE) AS w0,
        |  CAST($QmWsw AS DOUBLE) AS w_sw, CAST($QmWlen AS DOUBLE) AS w_len,
        |  CAST($QmWnt AS DOUBLE) AS w_nt),
        |q AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to'))) AS nsw,
        |  length(replace(text, ' ', '')) AS letters FROM documents),
        |s AS (SELECT doc_id,
        |  w0 + w_sw * (CAST(nsw AS DOUBLE) / nt) +
        |  w_len * (CAST(letters AS DOUBLE) / nt) +
        |  w_nt * (nt / CAST($QmNtScale AS DOUBLE)) AS z
        |  FROM q CROSS JOIN w)
        |SELECT doc_id, CAST(round(z * 1000000.0, 0) AS BIGINT) AS score_micro,
        |  z > 0.0 AS model_keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "e3_langid" ->
      s"""WITH $langidCtes
         |SELECT doc_id, pred_lang, score FROM pred ORDER BY doc_id""".stripMargin,
    "e3_lang_confusion" ->
      s"""WITH $langidCtes
         |SELECT d.lang, p.pred_lang, count(*) AS n
         |FROM pred p JOIN documents d ON p.doc_id = d.doc_id
         |GROUP BY d.lang, p.pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "e3_perceptron_step" ->
      s"""WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
         |    len(list_filter(string_split(text, ' '),
         |      t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")}))) AS nsw
         |  FROM documents),
         |l AS (SELECT nt, nsw,
         |    CASE WHEN round(least(1.0, CAST(nt AS DOUBLE) / 100.0)
         |        * (1.0 - CAST(nsw AS DOUBLE) / nt), 4) >= 0.5
         |      THEN 1 ELSE -1 END AS y,
         |    CASE WHEN ${PercW(0)._2} + ${PercW(1)._2} * nt
         |        + (${PercW(2)._2}) * nsw > 0
         |      THEN 1 ELSE -1 END AS pred
         |  FROM q),
         |m AS (SELECT * FROM l WHERE pred <> y),
         |g AS (SELECT count(*) AS n_mis,
         |    CAST(coalesce(sum(y), 0) AS BIGINT) AS g_bias,
         |    CAST(coalesce(sum(y * nt), 0) AS BIGINT) AS g_nt,
         |    CAST(coalesce(sum(y * nsw), 0) AS BIGINT) AS g_nsw FROM m)
         |SELECT dim, w0, grad, w0 + grad AS w1, n_mis FROM (
         |  SELECT 'bias' AS dim, CAST(${PercW(0)._2} AS BIGINT) AS w0,
         |    g_bias AS grad, n_mis FROM g
         |  UNION ALL SELECT 'w_nt', CAST(${PercW(1)._2} AS BIGINT),
         |    g_nt, n_mis FROM g
         |  UNION ALL SELECT 'w_nsw', CAST(${PercW(2)._2} AS BIGINT),
         |    g_nsw, n_mis FROM g)
         |ORDER BY dim""".stripMargin,
    "e3_langid_scoreboard" ->
      s"""WITH $langidCtes,
         |cm AS (SELECT d.lang, p.pred_lang, count(*) AS n
         |  FROM pred p JOIN documents d ON p.doc_id = d.doc_id GROUP BY 1, 2),
         |bt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true,
         |    CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT)
         |      AS tp
         |  FROM cm GROUP BY lang),
         |bp AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS n_pred
         |  FROM cm GROUP BY pred_lang),
         |j AS (SELECT bt.lang, n_true, tp, coalesce(n_pred, 0) AS n_pred,
         |    CASE WHEN coalesce(n_pred, 0) > 0
         |      THEN tp * 1000000 // n_pred ELSE 0 END AS p_ppm,
         |    tp * 1000000 // n_true AS r_ppm
         |  FROM bt LEFT JOIN bp ON bt.lang = bp.pred_lang)
         |SELECT lang, n_true, CAST(n_pred AS BIGINT) AS n_pred, tp,
         |  CAST(p_ppm AS BIGINT) AS precision_ppm,
         |  CAST(r_ppm AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN p_ppm + r_ppm > 0
         |    THEN (2 * p_ppm * r_ppm) // (p_ppm + r_ppm) ELSE 0 END AS BIGINT)
         |    AS f1_ppm
         |FROM j ORDER BY lang""".stripMargin,
    "e3_token_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "e3_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
        |  greatest(len(toks) - 1, 0) AS n2,
        |  len(list_distinct(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]))) AS nd2
        |  FROM t),
        |top AS (SELECT doc_id, max(c) AS top FROM (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
        |  GROUP BY doc_id)
        |SELECT b.doc_id AS doc_id, CAST(n AS BIGINT) AS n_tokens,
        |round(CAST(n - nd AS DOUBLE) / n, 4) AS dup_word_frac,
        |CASE WHEN n2 > 0 THEN round(CAST(n2 - nd2 AS DOUBLE) / n2, 4)
        |  ELSE 0.0 END AS dup_2gram_frac,
        |round(CAST(top AS DOUBLE) / n, 4) AS top_word_frac,
        |CAST(CASE WHEN CAST(n - nd AS DOUBLE) / n <= 0.5
        |  AND CAST(top AS DOUBLE) / n <= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM b JOIN top ON b.doc_id = top.doc_id ORDER BY b.doc_id""".stripMargin,
    "e3_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
        |  (a, b) -> (a * 131 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
