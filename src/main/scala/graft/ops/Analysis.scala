package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Corpus analysis & data-quality operators (SURVEY.md §2 E8).
  * The read-side companions to the E1/E3 curation passes: statistical
  * profiles a pipeline publishes per run (the data-quality spirit of the
  * reference's job test results, lime_etl/service/batch_runner.py's
  * test-cadence loop, re-expressed over corpus-scale tables), law-of-the-
  * corpus fits (Zipf), association mining (PMI collocations), anomaly
  * detection (z-score outliers), diversity metrics, and time-decayed
  * aggregates. Every query is exact-oracle-checked; doubles are rounded
  * at the edge per the Tables determinism contract. */
object Analysis {

  /** E8 — column profile of `orders`: per column, the null count, exact
    * distinct count, and stringified min/max — the per-run data-quality
    * fingerprint an ETL control plane stores and diffs between loads
    * (schema drift, null regressions, key-cardinality jumps). TWO
    * aggregate passes, deliberately: the null/distinct counts run in one
    * multi-DISTINCT aggregate whose Expand fans each row out per distinct
    * column as slim (grouping-id, value) pairs with all-LONG buffers —
    * so Catalyst keeps it a HashAggregate — while the min/max pass is a
    * separate single-row scan. Folding min/max(string) into the Expand
    * aggregate gives the buffer a var-length field, which demotes the
    * whole thing to SortAggregate and SORTS the expanded rows twice
    * (measured 19.1 s vs 5.0 s at the 100× probe — the sort, not the
    * Expand, was the cost). The two 1-row results cross-join broadcast;
    * stack touches 1 row. At 100 TB swap exact distinct for the q42 HLL
    * sketch and the Expand disappears entirely. Numeric min/max are
    * stringified via DECIMAL(18,2) so both engines print identical
    * text. */
  def e8Profile(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    def nn(c: String) = (count(lit(1)) - count(col(c))).as(s"nn_$c")
    def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
    def mnmx(c: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Seq(f(min(col(c))).as(s"mn_$c"), f(max(col(c))).as(s"mx_$c"))
    val asStr = (x: org.apache.spark.sql.Column) => x.cast("string")
    val asDec = (x: org.apache.spark.sql.Column) => x.cast("decimal(18,2)").cast("string")
    val asTs  = (x: org.apache.spark.sql.Column) => date_format(x, "yyyy-MM-dd HH:mm:ss")
    val cols = Seq(
      ("o_orderkey", asStr), ("o_custkey", asStr), ("o_orderstatus", asStr),
      ("o_totalprice", asDec), ("o_orderdate", asTs), ("o_orderpriority", asStr))
    val countAggs = cols.flatMap { case (c, _) => Seq(nn(c), nd(c)) }
    val rangeAggs = cols.flatMap { case (c, f) => mnmx(c, f) }
    val counts = o.agg(countAggs.head, countAggs.tail: _*)
    val ranges = o.agg(rangeAggs.head, rangeAggs.tail: _*)
    val stackArgs = cols.map { case (c, _) =>
      s"'$c', nn_$c, nd_$c, mn_$c, mx_$c" }.mkString(", ")
    counts.crossJoin(broadcast(ranges))
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_nulls, n_distinct, min_val, max_val)")
      .orderBy("column_name")
  }

  /** Outlier threshold in sample standard deviations. Margin audited in
    * the fixtures: the z nearest the cut is 2.2e-4 away at sf0.1 — six
    * orders above the ~1e-12 cross-engine aggregate jitter, so the
    * boundary cannot flip membership between engines. */
  val OutlierZ = 3.0

  /** E8 — z-score anomaly detection on the event stream: events whose
    * value sits more than OutlierZ sample standard deviations from their
    * type's mean. Two-pass shape (stats, then scan+filter) is the 100 TB
    * form: pass 1 partial-aggregates to one (mean, sd) row per type,
    * pass 2 re-scans with the 5-row stats table BROADCAST — no shuffle
    * of the event stream itself, and the filter is evaluated scan-side. */
  def e8Outliers(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("m")) / col("sd"))
      .filter(abs(col("z")) > OutlierZ)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  /** MAD flag threshold ×10⁴: 4.4478 = 3 × 1.4826 (the normal-consistency
    * constant), so the cut matches e8_outliers' 3σ under normality while
    * staying exact integer arithmetic. */
  val MadK = 44478L

  /** Twice the exact median of integer column `v` per `key`, from the
    * value-domain histogram (the q25 cents-histogram idiom): med2 =
    * value@rank((n−1) div 2) + value@rank(n div 2), so even-count
    * midpoints need no fractional types. Windows run over the histogram
    * (value domain), never rows. */
  private def median2(df: DataFrame, key: String, v: String): DataFrame = {
    val w = Window.partitionBy(key)
    val hist = df.groupBy(col(key), col(v)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w.orderBy(v)))
      .withColumn("n", sum(col("cnt")).over(w))
    def at(rank: org.apache.spark.sql.Column) =
      max(when(rank.between(col("cum") - col("cnt"), col("cum") - 1), col(v)))
    hist.groupBy(key)
      .agg((at(expr("(n - 1) div 2")) + at(expr("n div 2"))).as("med2"))
  }

  /** E8 — ROBUST outlier detection via median absolute deviation: events
    * whose |value − median| exceeds 3 × 1.4826 × MAD of their type — the
    * robust twin of e8_outliers, which a single extreme batch can blind
    * (outliers inflate the mean/σ they are judged against; the median/MAD
    * breakdown point is 50%, so the fence holds even when a burst of bad
    * rows IS the anomaly being hunted). Exactness: values in integer
    * 10⁻⁴ units, both medians as integer-exact DOUBLED medians from the
    * q25 histogram idiom, and the flag decision 20000·dev2 > MadK·mad4
    * entirely in integers — no float boundary can split the engines.
    * Plan at scale: two histogram aggregates (value-domain-sized
    * exchanges, map-side combined; windows run over the histogram, never
    * rows) and two broadcast stats joins — the event stream itself is
    * never shuffled, same discipline as e8_outliers. */
  /** The (event_type, med2, mad4) robust stats table — computed batch
    * side (nightly, like e8_outliers' mean/σ) and shared by the batch
    * pass and the streaming scorer (StreamOps.streamMadOutliers). */
  def madStats(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("vm"))
    val med = median2(ev, "event_type", "vm")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(col("vm") * 2 - col("med2")))
    median2(dev, "event_type", "dev2").withColumnRenamed("med2", "mad4")
      .join(med, "event_type")
  }

  def e8MadOutliers(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("event_type"), col("value"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("vm"))
      .join(broadcast(madStats(s, d)), "event_type")
      .withColumn("dev2", abs(col("vm") * 2 - col("med2")))
      .filter(col("dev2") * lit(20000L) > col("mad4") * lit(MadK))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("dev2") / 20000.0, 4).as("dev"))
      .orderBy("event_id")

  /** Staleness fence (days) for e8Freshness — interpolated into BOTH
    * engines. A deployment sets it to its ingest SLA. */
  val FreshStaleDays = 14L

  /** E8 — data-freshness profile per event type: how old is each type's
    * data relative to the pipeline reference instant (DecayRefUs — a
    * deployment passes now()), as the age distribution a DQ dashboard
    * alerts on: newest/oldest age, the DOUBLED median age (q25 idiom:
    * integer-exact, no float percentile), and the share of events older
    * than the staleness fence in integer basis points. A type whose
    * min_age_days grows is a stalled ingest; a rising stale_bp with
    * fresh min_age is a backfill gap — the two failure modes the
    * freshness check in every DQ suite distinguishes. Completes the
    * temporal-quality family: cusum (level shifts), autocorr (cycles),
    * seasonality (daily shape), freshness (arrival lag). Exactness:
    * ages are integer DAYS (micros div 86400e6 — Spark `div` ≡ DuckDB
    * `//` on the nonnegative operands), the median is the integer
    * doubled-median, stale_bp is an integer div — ALL-INTEGER output.
    * Plan: one scan-side age projection, a day-domain histogram
    * aggregate (map-side combined; the median window runs over the
    * bounded day domain, never rows), one |types|-key aggregate. */
  def e8Freshness(s: SparkSession, d: String): DataFrame = {
    // Ages are clamped at 0 BEFORE the day division: an event newer than
    // the reference instant would make age_us negative, where Spark's
    // `div` truncates toward zero but DuckDB's `//` floors — a silent
    // one-day cross-engine split. greatest(age_us, 0) on BOTH engines
    // turns the documented nonnegativity precondition into an enforced
    // one (future-dated events simply read as age 0 = maximally fresh).
    val ev = events(s, d).select(col("event_type"),
      (lit(DecayRefUs) - tsMicros(col("ts"))).as("age_us"))
      .select(col("event_type"),
        expr("greatest(age_us, 0) div 86400000000").as("age_days"))
    val med = median2(ev, "event_type", "age_days")
      .withColumnRenamed("med2", "med2_age_days")
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("age_days")).as("min_age_days"),
        max(col("age_days")).as("max_age_days"),
        sum(when(col("age_days") > FreshStaleDays, 1L).otherwise(0L))
          .as("n_stale"))
      .join(med, "event_type")
      .withColumn("stale_bp", expr("n_stale * 10000 div n"))
      .select(col("event_type"), col("n"), col("min_age_days"),
        col("max_age_days"), col("med2_age_days"), col("n_stale"),
        col("stale_bp"))
      .orderBy("event_type")
  }

  /** E9 — MODULARITY audit of the label-propagation communities: per
    * community, the integer-exact numerator of its modularity
    * contribution, q_num = 4m·e_c − d_c² (so Q = Σ q_num / 4m²) — the
    * standard "are these communities real structure or noise" score,
    * published here as the per-community table so weak communities
    * (q_num ≤ 0: no denser than the configuration-model expectation) are
    * individually visible, not averaged away. Everything is integer
    * arithmetic — edge counts, degree sums, one broadcast 1-row edge
    * total — so the table hash-matches cross-engine with zero float
    * divisions (the reader divides by 4m² for the familiar [-0.5, 1]
    * score). Plan at scale: all inputs are pair-table-sized (the shared
    * LSH pair table, its degree aggregate, the community labels); the
    * corpus never moves. */
  def e9Modularity(s: SparkSession, d: String): DataFrame = {
    val p = Dedup.minhashPairTable(s, d)
    val comm = e9LabelProp(s, d).select(col("doc_id"), col("community"))
    val edges = p.select(col("da").as("v")).unionByName(p.select(col("db").as("v")))
    val deg = edges.groupBy("v").agg(count(lit(1)).as("dg"))
    val dsum = comm.join(deg, col("doc_id") === col("v"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("d_sum"))
    val intra = p
      .join(comm.select(col("doc_id").as("da"), col("community").as("ca")), "da")
      .join(comm.select(col("doc_id").as("db"), col("community").as("cb")), "db")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val m = broadcast(p.agg(count(lit(1)).as("m")))
    dsum.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(m)
      .select(col("community"), col("n_nodes"), col("d_sum"),
        col("intra_edges"),
        (lit(4L) * col("m") * col("intra_edges") - col("d_sum") * col("d_sum"))
          .as("q_num"))
      .orderBy("community")
  }

  /** Rank depth for the Zipf fit — interpolated into BOTH engines. */
  val ZipfTopK = 200

  /** E8 — Zipf's-law fit over the token frequency spectrum: regression
    * of ln(frequency) on ln(rank) for the top ZipfTopK tokens. The slope
    * (≈ −1 for natural language, shallower for templated/synthetic text)
    * is a one-number corpus-health signal: a corpus whose spectrum
    * flattens is accumulating boilerplate (complements e1_boilerplate),
    * and r² says how law-like the corpus is. Plan: token explode →
    * map-side-combined count (vocabulary-sized shuffle, the e3_tfidf df
    * treatment) → distributed top-K (TakeOrderedAndProject — no global
    * sort, each partition keeps K) → the regression aggregates
    * (regr_slope/intercept/r2) run over K rows. The rank window is a
    * single-partition sort over K = 200 rows — constant work at any
    * corpus size. */
  def e8Zipf(s: SparkSession, d: String): DataFrame = {
    val top = documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(ZipfTopK)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("token"))))
      .agg(count(lit(1)).as("n_ranks"),
        round(expr("regr_slope(ln(c), ln(rank))"), 4).as("slope"),
        round(expr("regr_intercept(ln(c), ln(rank))"), 4).as("intercept"),
        round(expr("regr_r2(ln(c), ln(rank))"), 4).as("r2"))
  }

  /** E8 — HEAPS'-LAW vocabulary-growth fit across sources: V = K·nᵝ, fit
    * as the regression of ln(vocab) on ln(tokens) with each SOURCE as one
    * observation — the cross-source form a corpus owner actually uses
    * ("does doubling a source's token mass buy ~2^β the vocabulary, or
    * is it re-crawling the same text"), and the growth-side companion to
    * e8_zipf's frequency-spectrum fit (the two laws are duals). β well
    * below the corpus norm for one source = internal repetition
    * (complements e1_dup_inflation, which only sees EXACT dups); β ≈ 1 =
    * vocabulary still growing linearly, the corpus is nowhere near
    * saturating. The TYPE is the word 3-GRAM — the unit the dedup stack
    * already indexes — because n-gram space is where growth lives (the
    * fixture's unigram vocabulary is a deliberately tiny ~31 shared
    * types, so a unigram fit reads a degenerate β = 0 at every scale;
    * real corpora fit Heaps on n-grams for the same reason once unigram
    * vocab saturates). r² says how law-like the source family is. Float
    * contract: ln + the regr_* aggregates over |sources| points, 4-dp
    * rounded — the e8_zipf precedent. Plan at 100 TB: one 3-gram explode
    * (built scan-side with the e8_collocations transform/sequence shape)
    * into a (source, gram)-key DISTINCT (map-side combined, bounded by
    * Σ per-source n-gram vocabularies) and a (source)-key count, then
    * the regression folds |sources| rows to ONE — the corpus is scanned
    * once and documents never shuffle. */
  def e8Heaps(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"))
        .as("gram"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("gram")).as("vocab"))
      .agg(count(lit(1)).as("n_sources"),
        round(expr("regr_slope(ln(vocab), ln(n_grams))"), 4).as("beta"),
        round(expr("regr_intercept(ln(vocab), ln(n_grams))"), 4).as("ln_k"),
        round(expr("regr_r2(ln(vocab), ln(n_grams))"), 4).as("r2"))

  /** E8 — DUPLICATED-NGRAM incidence per source (the memorization /
    * train-set-duplication metric of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): over the dedup stack's
    * per-doc DISTINCT word-3-shingle table, an incidence (doc, shingle)
    * is DUPLICATED when its shingle occurs in ≥ 2 documents; the table
    * reports each source's duplicated-incidence share in basis points.
    * Read next to e1_dup_inflation (EXACT whole-doc dups) and e8_heaps
    * (vocabulary growth): this is the partial-overlap mass those two
    * bracket — the signal that tells a curator which source needs
    * span-level dedup (e1_span_dedup) rather than whole-doc dedup.
    * Composes Dedup.shingleHashes VERBATIM (the PRE-cap table — hot
    * shingles are precisely the duplicated mass, so the df cap must not
    * hide them; the e1_shingle_profile precedent). ALL-INTEGER (exact
    * df counts, basis points by integer division). Plan at 100 TB: df is
    * a shingle-keyed count over (doc, h) rows (map-side combined); the
    * incidence join is the same h-keyed equi-join the MinHash chain
    * shuffles; incidences then fold to ONE digest row per doc BEFORE the
    * doc-keyed source fetch, so the documents join carries |docs| rows,
    * never incidences; the final fold is |sources|-keyed. */
  def e8DupNgrams(s: SparkSession, d: String): DataFrame = {
    val inc = Dedup.shingleHashes(s, d)
    val dfh = inc.groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = inc.join(dfh, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ni"),
        sum(when(col("df") > 1L, 1L).otherwise(0L)).as("di"))
    perDoc
      .join(documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum(col("ni")).as("n_inc"), sum(col("di")).as("dup_inc"))
      .select(col("source"), col("n_inc"), col("dup_inc"),
        expr("dup_inc * 10000 div n_inc").as("dup_bp"))
      .orderBy("source")
  }

  /** Collocation thresholds — interpolated into BOTH engines. */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** E8 — PMI collocations: the PmiTopK adjacent-word pairs most
    * over-represented vs independence, PMI = ln(P(xy)/(P(x)P(y))),
    * computed in log space term by term (ln c_xy − ln N₂ − ln c_x −
    * ln c_y + 2 ln N₁ — the literal product c_xy·N₁² overflows a long at
    * corpus scale). min-count PmiMinCount kills the noise pairs that
    * dominate raw PMI. Plan: ONE bigram explode feeding a map-side-
    * combined (w1, w2) count; unigram counts and the two scalar totals
    * are vocabulary-sized side tables joined BROADCAST; final top-K is
    * distributed TakeOrdered over the rounded key with (w1, w2)
    * tie-break so both engines cut the same 50. */
  def e8Collocations(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(split(col("text"), " ").as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val n1 = uni.agg(sum(col("cw")).as("n1"))
    val bg = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= PmiMinCount)
    val n2 = bg.agg(sum(col("cxy")).as("n2"))
    bg
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("cx"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("cy"))), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("cxy"),
        round(log(col("cxy")) - log(col("n2")) - log(col("cx")) -
          log(col("cy")) + lit(2.0) * log(col("n1")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(PmiTopK)
  }

  /** E8 — per-source diversity: language count, Shannon entropy, and
    * Simpson index over each source's language distribution — the mix
    * dashboard a curation run publishes next to e7_source_stats (a
    * source whose entropy collapses is crawling a single-language
    * pocket). Two tiny chained aggregates: (source, lang) counts —
    * at most sources × languages rows after map-side combine — then a
    * per-source fold; nothing corpus-sized is shuffled. */
  def e8Diversity(s: SparkSession, d: String): DataFrame = {
    // per-source doc totals via a window over the sources×langs cell
    // table — a separate per-source aggregate branch re-scans the corpus
    val bl = documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    bl
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
        round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 4)
          .as("entropy"),
        round(lit(1.0) - sum(pow(col("c") / col("n"), 2)), 4).as("simpson"))
      .orderBy("source")
  }

  /** Decay reference instant (2024-02-01T00:00:00Z, just past the
    * fixture's event horizon) and time constant (7 days), in epoch
    * microseconds — interpolated into BOTH engines. A pinned reference
    * keeps the operator a pure function of the data (the determinism
    * contract); a deployment passes the run's logical date. */
  val DecayRefUs = 1706745600000000L
  val DecayTauUs = 7L * 86400L * 1000000L

  /** E8 — exponentially time-decayed value per event type:
    * Σ value·exp(−Δt/τ) — the freshness-weighted engagement score
    * behind trending/ranking features, where yesterday counts e^(1/7)
    * more than the day before. Entirely map-side arithmetic feeding one
    * 5-group aggregate: the exp weight is computed scan-side from the
    * raw timestamp, partial sums combine per partition, and the
    * exchange carries 5 rows — the same plan at any event volume. */
  def e8Decay(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        // + 0.0: a decayed sum just under zero rounds to -0.0 in DuckDB,
        // +0.0 here; the driver hashes bits (the e8_drift class)
        (round(sum(col("value") *
          exp((tsMicros(col("ts")) - lit(DecayRefUs)).cast("double") /
            lit(DecayTauUs.toDouble))), 2) + lit(0.0)).as("decayed"))
      .orderBy("event_type")

  /** Numeric column pairs for the correlation matrix — interpolated into
    * BOTH engines. */
  val CorrPairs = Seq(
    ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))

  /** E8 — Pearson correlation matrix over the lineitem measures: the
    * feature-redundancy screen a pipeline runs before model features or
    * schema review (a pair at |r| ≈ 1 is one column stored twice). All
    * six coefficients run in ONE Aggregate pass — corr partial-aggregates
    * via co-moment accumulators (n, Σx, Σy, Σxy, Σx², Σy² per pair), so
    * the exchange carries one fixed-size row per partition at any table
    * size; the stack to long format touches 1 row. */
  def e8Corr(s: SparkSession, d: String): DataFrame = {
    // + 0.0: a tiny negative correlation rounds to -0.0 in DuckDB but
    // +0.0 here, and the driver hashes bits (the e8_drift class)
    val aggs = CorrPairs.zipWithIndex.map { case ((a, b), i) =>
      (round(corr(col(a), col(b)), 4) + lit(0.0)).as(s"c$i") }
    val stackArgs = CorrPairs.zipWithIndex.map { case ((a, b), i) =>
      s"'$a', '$b', c$i" }.mkString(", ")
    lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${CorrPairs.size}, $stackArgs) AS " +
        "(col_a, col_b, pearson)")
      .orderBy("col_a", "col_b")
  }

  /** Purpose salt splitting orders into the simulated previous load
    * (slot < 50) vs current load — deterministic and independent of the
    * other purpose salts. Positive so the oracle's xor stays below 2^63. */
  val DriftSalt = 0x7c3a9e51d2b48f67L

  /** E8 — load-over-load drift report: per column, the distinct-count
    * profile of the "previous" vs "current" load (a deterministic
    * hash-split of orders standing in for two run snapshots; a deployment
    * feeds two real load partitions) and the percent change — the diff an
    * ETL control plane alerts on (key-cardinality jumps = upstream
    * duplication; collapses = truncated extracts). ONE pass over the
    * table: 12 filtered DISTINCT aggregates share a single scan via
    * Catalyst's Expand (each row fans out per distinct target, slim
    * (grouping-id, value) pairs); the side gate is the scan-side
    * splitmix64 slot, so no pre-shuffle split materializes. */
  def e8Drift(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val sided = orders(s, d).withColumn("side",
      when(Sampling.slot(col("o_orderkey"), DriftSalt) < 50, lit("prev"))
        .otherwise(lit("curr")))
    val aggs = cols.flatMap { c => Seq(
      expr(s"count(DISTINCT $c) FILTER (WHERE side = 'prev')").as(s"p_$c"),
      expr(s"count(DISTINCT $c) FILTER (WHERE side = 'curr')").as(s"c_$c")) }
    val stackArgs = cols.map(c => s"'$c', p_$c, c_$c").mkString(", ")
    sided.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, nd_prev, nd_curr)")
      // + 0.0 normalizes signed zero: a tiny NEGATIVE drift (nd_curr
      // just under nd_prev) rounds to -0.0 in DuckDB but +0.0 here, and
      // the driver hashes raw bits — caught by the round-8 bitwise gate
      // at sf0.1 (the e2_kmeans_iter r7 class; IEEE: -0.0 + 0.0 = +0.0).
      .withColumn("delta_pct",
        round(lit(100.0) * (col("nd_curr") - col("nd_prev")) / col("nd_prev"), 2)
          + lit(0.0))
      .orderBy("column_name")
  }

  /** Purpose salt for the KS two-sample split (independent of DriftSalt,
    * so the KS halves and the profile-drift halves are uncorrelated). */
  val KsSalt = 0x3f8e6a25c9d417b2L

  /** E8 — two-sample Kolmogorov–Smirnov DISTRIBUTION drift per event type:
    * D = max |ECDF₁ − ECDF₂| between two deterministic halves of the value
    * stream. e8_drift compares cardinality fingerprints; KS compares the
    * SHAPE of the value distribution — the statistic a monitoring system
    * thresholds to catch "same row counts, different distribution"
    * regressions. Everything stays rational until the final division of
    * two integer counts (IEEE-identical cross-engine); emitted in integer
    * micro-units. Tie semantics: the cumulative window is RANGE-framed
    * (both engines' default with ORDER BY), so the ECDF step lands after
    * ALL rows of a tied value — the textbook D over tied samples. Plan at
    * scale: the split gate is scan-side splitmix arithmetic; ONE
    * event_type exchange for the cumulative window (per-key rows =
    * values per type), and the max partial-aggregates map-side. */
  def e8KsDrift(s: SparkSession, d: String): DataFrame = {
    val sided = events(s, d).select(col("event_type"), col("value"),
      when(Sampling.slot(col("event_id"), KsSalt) < 50, 0L).otherwise(1L)
        .as("grp"))
    val w = Window.partitionBy("event_type").orderBy("value")
    sided
      .withColumn("c1", sum(when(col("grp") === 0L, 1L).otherwise(0L)).over(w))
      .withColumn("c2", sum(when(col("grp") === 1L, 1L).otherwise(0L)).over(w))
      .withColumn("n1", sum(when(col("grp") === 0L, 1L).otherwise(0L))
        .over(Window.partitionBy("event_type")))
      .withColumn("n2", sum(when(col("grp") === 1L, 1L).otherwise(0L))
        .over(Window.partitionBy("event_type")))
      // Guard the ECDF ratios: if a deterministic split leaves one half
      // empty for a type, Spark's non-ANSI x/0 yields NULL while DuckDB's
      // IEEE double division yields inf — a silent cross-engine
      // divergence instead of a clean miss. A `when(n>0)` divisor (NULLIF
      // in the oracle) makes both engines produce NULL, and the
      // degenerate type is then dropped outright: KS over an empty
      // sample is undefined, not zero. Fixtures never hit this; a small
      // or heavily skewed corpus could.
      .withColumn("dif",
        abs(col("c1") / when(col("n1") > 0, col("n1")) -
          col("c2") / when(col("n2") > 0, col("n2"))))
      .groupBy("event_type")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        round(max(col("dif")) * lit(1e6), 0).cast("long").as("ks_micro"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .orderBy("event_type")
  }

  /** Purpose salts for the EMBEDDING drift monitor: EmbDriftSalt splits
    * the vector stream into ref/cur halves; EmbDirSalt derives the fixed
    * probe direction. Both interpolated/inlined into BOTH engines. */
  val EmbDriftSalt = 0x58b3e9d2c7a6f041L
  val EmbDirSalt = 0x1c6f8d4a3e92b750L

  /** The fixed probe direction: 64 DYADIC weights in [-100/128, 100/128],
    * splitmix64-derived in Scala once and interpolated into both engines
    * as literals. Dyadic (denominator 128) keeps every weight exactly
    * representable as float AND as its shortest-decimal rendering, so the
    * Spark float literal and the DuckDB double literal promote to the
    * SAME double — the projection fold is then bit-identical. */
  private[ops] lazy val embDriftDir: Array[Float] = {
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until 64).map(j =>
      ((((mix(j.toLong ^ EmbDirSalt) & Long.MaxValue) % 201L) - 100L)
        / 128.0).toFloat).toArray
  }

  /** E8 — EMBEDDING-space drift: the two-sample KS monitor (e8_ks_drift)
    * applied to the embedding stream — per label, D between the ref/cur
    * halves' distributions of the projection onto a FIXED random
    * direction. Value drift (e8_drift/ks_drift) misses a model or
    * pipeline change that shifts vectors while leaving scalar columns
    * intact; a random 1-D projection is the standard cheap witness (a
    * mean/covariance shift almost surely moves some projection, and one
    * fixed direction is a deterministic, replayable choice). Exactness:
    * the projection is the native index-ordered dot against dyadic
    * literal weights (bit-identical cross-engine), binned by floor(p·100)
    * — deterministic on identical doubles — and the KS numerator is the
    * INTEGER cross-product max |ri·nc − ci·nr|, so the output is
    * all-integer. Plan at scale: projection + split gate + bin are
    * scan-side; ONE (label, bin) aggregate (bounded domain: bins span
    * the projection range, not the corpus); the cumulative windows run
    * over that bounded histogram, never rows. */
  def e8EmbedDrift(s: SparkSession, d: String): DataFrame = {
    val w = typedLit(embDriftDir)
    val pr = embeddings(s, d).select(
      col("label").cast("int").as("label"),
      when(Sampling.slot(col("vec_id"), EmbDriftSalt) < 50, 1L).otherwise(0L)
        .as("isref"),
      floor(graft.functions.Vectors.dot(col("embedding"), w) * 100).as("bin"))
    val h = pr.groupBy("label", "bin")
      .agg(sum(col("isref")).as("ra"), sum(lit(1L) - col("isref")).as("ca"))
    val wc = Window.partitionBy("label").orderBy("bin")
    val wl = Window.partitionBy("label")
    h.withColumn("ri", sum(col("ra")).over(wc))
      .withColumn("ci", sum(col("ca")).over(wc))
      .withColumn("nr", sum(col("ra")).over(wl))
      .withColumn("nc", sum(col("ca")).over(wl))
      .select(col("label"), col("nr"), col("nc"),
        abs(col("ri") * col("nc") - col("ci") * col("nr")).as("num"))
      .groupBy("label")
      .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
        max(col("num")).as("ks_num"))
      .withColumn("ks_bp", expr("ks_num * 10000 div (n_ref * n_cur)"))
      .orderBy("label")
  }

  /** E8 — per-source QUALITY-SCORE drift between releases: the
    * two-sample KS monitor (e8_embed_drift's integer discipline) applied
    * to the e3_quality composite score, gated by the SAME ReleaseSalt
    * 90/10 split as e7_dataset_diff/e8_centroid_shift — "did a source's
    * quality DISTRIBUTION move in the arriving release". This is the
    * quality-filter owner's early-warning: a crawler change that shifts
    * a source's score profile silently re-weights every downstream
    * threshold gate (e3_quality_tiers, e7_curated, e6_curriculum) before
    * any of them look wrong individually. Scores are the exact
    * 4-dp-integer m4 units of e3_quality_calibration (same rounding
    * chain, both engines bit-for-bit); the KS numerator is the exact
    * integer max |ri·nc − ci·nr| with one final DIV to basis points.
    * Plan: score + gate are scan-side, the (source, m4) histogram
    * partial-combines map-side (≤ |sources|·10001 cells), and the
    * cumulative windows run over that bounded histogram — never over
    * documents. */
  def e8QualityDrift(s: SparkSession, d: String): DataFrame = {
    val pr = documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", expr(
        s"size(${TextOps.stopwordFilterSql})"))
      .select(col("source"),
        when(Sampling.slot(col("doc_id"), Curation.ReleaseSalt) < 90, 1L)
          .otherwise(0L).as("isv1"),
        round(round(TextOps.qualityScore(col("nt"), col("nsw")), 4) * 10000)
          .cast("long").as("m4"))
    val h = pr.groupBy("source", "m4")
      .agg(sum(col("isv1")).as("ra"), sum(lit(1L) - col("isv1")).as("ca"))
    val wc = Window.partitionBy("source").orderBy("m4")
    val wl = Window.partitionBy("source")
    h.withColumn("ri", sum(col("ra")).over(wc))
      .withColumn("ci", sum(col("ca")).over(wc))
      .withColumn("nr", sum(col("ra")).over(wl))
      .withColumn("nc", sum(col("ca")).over(wl))
      .select(col("source"), col("nr"), col("nc"),
        abs(col("ri") * col("nc") - col("ci") * col("nr")).as("num"))
      .groupBy("source")
      .agg(max(col("nr")).as("n_v1"), max(col("nc")).as("n_v2"),
        max(col("num")).as("ks_num"))
      // a source whose docs all landed one side of the gate has no
      // distribution to drift FROM — dropped, the e8_centroid_shift
      // missing-side discipline (at sf0.001 a 25-doc source lands all-v1
      // with probability 0.9^25 ≈ 7%, so this branch is real)
      .filter(col("n_v1") > 0 && col("n_v2") > 0)
      .withColumn("ks_bp", expr("ks_num * 10000 div (n_v1 * n_v2)"))
      .orderBy("source")
  }

  /** E8 — per-user event-type transition matrix: P(next event type |
    * current), the first-order Markov behavior model behind session
    * analytics and bot detection (a user whose transition row collapses
    * onto one edge is a script). Plan: ONE shuffle on user_id for the
    * per-user ordered lead window, then a map-side-combined count to the
    * types×types matrix (25 rows here) and a window over that tiny
    * grouped result for row-normalized probabilities — nothing
    * event-stream-sized moves after the first exchange, at any volume. */
  def e8Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val steps = events(s, d)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    steps
      .withColumn("p", round(col("n") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"), 4))
      .orderBy("from_type", "to_type")
  }

  /** E8 — CUSUM change-point trace per event type: the cumulative sum of
    * (daily mean − series mean), the classic sequential drift detector —
    * a metric that quietly shifts level mid-month shows as a V/Λ in the
    * trace long before pointwise z-scores (e8_outliers) fire, completing
    * the quality family: profile (static), drift (two loads), outliers
    * (pointwise), cusum (temporal). Plan: the event stream reduces to
    * (type, day) daily means in one map-side-combined aggregate; both
    * windows (series mean, day-ordered running sum) run over the
    * DAY-DOMAIN rows — types × days, constant per partition at any event
    * volume. All accumulated quantities are integer MICRO-UNITS (the q44
    * treatment): a rounded double mean re-summed by each engine in its
    * own order can flip a 4-decimal rounding boundary (it did, once, at
    * sf0.001 — cusum row off by exactly 1e-4), while per-row
    * round(value·10⁴) is order-free and every sum after it is exact long
    * arithmetic. */
  def e8Cusum(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(round(sum(round(col("value") * 10000).cast("long")) /
          count(lit(1)).cast("double"), 0).cast("long").as("dmu"))
    val wAll = Window.partitionBy("event_type")
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("bu", round(avg(col("dmu")).over(wAll), 0).cast("long"))
      .withColumn("cu", sum(col("dmu") - col("bu")).over(wCum))
      .select(col("event_type"), col("day"),
        round(col("dmu") / 10000.0, 4).as("daily_mean"),
        round(col("cu") / 10000.0, 4).as("cusum"))
      .orderBy("event_type", "day")
  }

  /** Autocorrelation lags for e8Autocorr — interpolated into BOTH
    * engines. Lags 1-3 catch day-over-day persistence and short cycles;
    * a deployment watching weekly seasonality adds lag 7 with the same
    * plan shape. */
  val AcfLags: Seq[Int] = Seq(1, 2, 3)

  /** E8 — lag-k autocorrelation of the per-type daily-mean series: the
    * periodicity detector that completes the temporal quality family
    * (cusum sees level SHIFTS, autocorrelation sees CYCLES — a corpus
    * whose ingest volume or metric rings at a fixed lag has an upstream
    * scheduler artifact, not organic traffic). Estimator: the standard
    * ACF r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)², with every term kept
    * in INTEGER arithmetic by multiplying through by n: with S = Σx and
    * c_t = n·x_t − S (an exact long), r_k = Σ c_t·c_{t+k} / Σ c_t² — a
    * rounded-double mean would re-round differently per engine, while
    * one final division is order-free (the e8_cusum micro-unit
    * discipline, pushed through a quadratic form). Magnitude: micro-unit
    * daily means ≤1e7, ~31 days → |c| ≤ 3e8, Σc² ≤ 3e18 < 2⁶³; a
    * deployment with bigger values drops the micro-unit scale factor
    * before the quadratic. Plan: events reduce to (type, day) in one
    * map-side-combined aggregate; the n/S window, the lead()s, and the
    * final aggregate all run over the tiny DAY-DOMAIN rows partitioned
    * by type — per-type work is days², independent of event volume. */
  def e8Autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(round(sum(round(col("value") * 10000).cast("long")) /
          count(lit(1)).cast("double"), 0).cast("long").as("x"))
    val wAll = Window.partitionBy("event_type")
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val base = daily
      .withColumn("c",
        col("x") * count(lit(1)).over(wAll) - sum(col("x")).over(wAll))
    val lagged = AcfLags.foldLeft(base) { (df, k) =>
      df.withColumn(s"c$k", lead(col("c"), k).over(wOrd))
    }
    val aggs = sum(col("c") * col("c")).as("den") +:
      AcfLags.map(k => sum(col("c") * col(s"c$k")).as(s"num$k"))
    lagged.groupBy("event_type")
      .agg(asLong(count(lit(1))).as("n_days"), aggs: _*)
      .select(col("event_type") +: col("n_days") +:
        // + 0.0: near-zero NEGATIVE autocorrelation rounds to -0.0 in
        // DuckDB, +0.0 here; the driver hashes bits (e8_drift class)
        AcfLags.map(k =>
          round(col(s"num$k") / col("den").cast("double"), 4) + lit(0.0)
            as s"r$k"): _*)
      .orderBy("event_type")
  }

  /** E8 — traffic BURSTINESS per event type: the Fano factor
    * (variance-to-mean ratio) of per-day event counts — the standard
    * dispersion screen for arrival processes (Fano, Phys. Rev. 72,
    * 1947; used on event streams to separate Poisson-like organic
    * traffic, F ≈ 1, from bursty bot/batch traffic, F ≫ 1, and from
    * rate-limited/templated feeds, F ≪ 1). Read next to e8_seasonality
    * (periodic structure) and e8_autocorr (serial structure): this is
    * the marginal-dispersion cell of that monitor family, and the one
    * that fires on aperiodic bursts both of them miss. Exactness: daily
    * counts are integers; the quadratic form n·Σc² − (Σc)² folds in
    * DECIMAL(38,0) (the e8_gini/e8_moments widening rule — (Σc)² would
    * wrap a long once one type exceeds ~3e9 events, well inside the
    * 100 TB plan); the single double division rounds at 4 dp. Plan at
    * 100 TB: the (type, day) count partial-combines map-side to a
    * types×days-bounded digest; the per-type fold runs on that digest,
    * never on events. */
  def e8Burstiness(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(asLong(count(lit(1))).as("n_days"), sum(col("c")).as("n_events"),
        max(col("c")).as("peak_day"), min(col("c")).as("trough_day"),
        sum(col("c").cast(d38) * col("c")).as("ss"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        col("peak_day"), col("trough_day"),
        round(col("n_events") / col("n_days").cast("double"), 4)
          .as("mean_per_day"),
        round((col("n_days").cast(d38) * col("ss")
            - col("n_events").cast(d38) * col("n_events"))
          .cast("double")
          / (col("n_days") * col("n_events")).cast("double"), 4).as("fano"))
      .orderBy("event_type")
  }

  /** E8 — higher distribution MOMENTS of the event value per type:
    * skewness and excess kurtosis next to q38's sd/variance — the two
    * shape numbers that separate "same mean and spread" distributions
    * (a template generator clamps tails → negative excess kurtosis; a
    * fraud/bot burst fattens one tail → skew moves first; both are
    * invisible to e8_profile's range columns and q38's second moment).
    * Exactness: values integerize scan-side (round(v·1e4), the
    * e8_autocorr micro unit); pass 1 folds exact (n, Σ) per type and the
    * integer-micro mean S1 div n broadcasts back (the remainder bias is
    * < 1e-4 of a unit and identical in both engines — positive values,
    * so floor and truncation agree); pass 2 folds centered powers d²,
    * d³, d⁴ in DECIMAL(38,0) (d⁴ ≈ 1e28 per row would wrap a long at
    * 1e8+ rows — the e8_gini widening rule). The only doubles are the
    * final ratios: ·, /, sqrt are all correctly-rounded IEEE on
    * identical inputs, so skew = m3/(m2·√m2) and kurt = m4/m2² − 3
    * cross engines bit-exactly (no pow(), whose libm vs JVM last ulp
    * is NOT pinned). Plan at 100 TB: two scans, both folding map-side
    * to |types| keys; the stats table broadcasts — the e8_outliers
    * two-pass shape. */
  def e8Moments(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val mv = events(s, d).select(col("event_type"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("mi"))
    val stats = mv.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("mi")).as("s1"))
      .withColumn("mu", expr("s1 div n"))
    mv.join(broadcast(stats), "event_type")
      .withColumn("dd", (col("mi") - col("mu")).cast(d38))
      .groupBy("event_type")
      .agg(min(col("n")).as("n"), min(col("s1")).as("s1"),
        sum(col("dd") * col("dd")).as("s2"),
        sum(col("dd") * col("dd") * col("dd")).as("s3"),
        sum(col("dd") * col("dd") * col("dd") * col("dd")).as("s4"))
      .select(col("event_type"), col("n"),
        round(col("s1").cast("double") / (col("n") * lit(10000.0)), 4)
          .as("mean"),
        round(sqrt(col("s2").cast("double") / col("n").cast("double"))
          / lit(10000.0), 4).as("sd"),
        expr("""CASE WHEN s2 = 0 THEN 0.0 ELSE
                round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                  / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                    * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))), 4)
                END""").as("skew"),
        expr("""CASE WHEN s2 = 0 THEN 0.0 ELSE
                round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
                  / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0, 4)
                END""").as("kurtosis"))
      .orderBy("event_type")
  }

  /** E8 — Benford leading-digit analysis of `o_totalprice`: observed
    * first-digit shares against Benford's log₁₀(1+1/d) expectation — the
    * classic forensic screen for fabricated or template-generated numeric
    * columns (organically-priced totals track Benford; synthetic uniform
    * generators don't, and the per-digit deviation says which). The
    * digit is extracted in INTEGER space (first character of the cents
    * value's decimal representation) so both engines agree exactly;
    * the only doubles are one division and the log₁₀ constants, computed
    * identically. One scan, 9-key map-side-combined aggregate. */
  def e8Benford(s: SparkSession, d: String): DataFrame = {
    orders(s, d)
      .select(substring(round(col("o_totalprice") * 100, 0).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      // total via a whole-table window over the 9-digit table — a
      // separate total aggregate branch re-scans orders
      .withColumn("t", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        round(col("n") / col("t").cast("double"), 4).as("share"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")), 4)
          .as("benford"),
        round(col("n") / col("t").cast("double") -
          log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")), 4)
          .as("dev"))
      .orderBy("digit")
  }

  /** PageRank parameters — interpolated into BOTH engines. Damping 0.85
    * is the canonical choice; 3 iterations is enough to rank the fixture
    * graph (and keeps the unrolled oracle CTE chain readable) — a
    * deployment loops to convergence with the same per-iteration plan. */
  val PrDamping = 0.85
  val PrBase = 0.15
  val PrIters = 3

  /** The endpoint-restricted rank graph shared by the fixed-iteration
    * declared query and the convergence loop. */
  private final case class PrGraph(edges: DataFrame, deg: DataFrame,
      verts: DataFrame, nv: DataFrame)

  private def prGraph(pairs: DataFrame): PrGraph = {
    val edges = bothWays(pairs).localCheckpoint(true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("dg"))
    val verts = edges.select(col("src").as("id")).distinct()
    PrGraph(edges, deg, verts, verts.agg(count(lit(1)).as("n")))
  }

  private def prInit(g: PrGraph): DataFrame =
    g.verts.crossJoin(broadcast(g.nv))
      .select(col("id"), (lit(1.0) / col("n").cast("double")).as("r"))

  /** Edge ⋈ rank ⋈ degree → the contribution sum `s` by dst — the single
    * edge-sized shuffle each damping round costs (e9Pagerank, e9Ppr). */
  private def prContrib(g: PrGraph, r: DataFrame): DataFrame =
    g.edges
      .join(r, g.edges("src") === r("id"))
      .join(g.deg, "src")
      .select(col("dst"), (col("r") / col("dg").cast("double")).as("c"))
      .groupBy("dst").agg(sum(col("c")).as("s"))

  /** One damping round: base/n + d · the contribution sum. */
  private def prRound(g: PrGraph, r: DataFrame): DataFrame = {
    val contrib = prContrib(g, r)
    g.verts.crossJoin(broadcast(g.nv))
      .join(contrib, g.verts("id") === contrib("dst"), "left")
      .select(col("id"),
        (lit(PrBase) / col("n").cast("double") +
          lit(PrDamping) * coalesce(col("s"), lit(0.0))).as("r"))
  }

  private def prOut(r: DataFrame): DataFrame =
    r.select(col("id").as("doc_id"), round(col("r"), 6).as("rank"))
      .orderBy("doc_id")

  /** The driver finish (graft.ops.Loop): the damping rounds over the
    * collected pair rows, with prGraph/prRound's semantics and double
    * arithmetic — both directions of every pair are edges (duplicates and
    * self-loops included), the vertices are the distinct endpoints (a
    * null endpoint is one more vertex that no edge reaches), deg counts
    * edges by source, and each round is base/n + d·Σ r/deg summed in edge
    * order. Rounds stop after `maxIters` or, after computing round k, when
    * max |r_k − r_{k−1}| over the non-null vertices is below `tol` (0
    * when there is none). Returns the (id, r) rows and the rounds run. */
  private def prDriver(s: SparkSession, pairs: Array[(java.lang.Long, java.lang.Long)],
      tol: Double, maxIters: Int): (DataFrame, Int) = {
    val ids = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).filter(_ != null)
      .map(_.longValue).toArray.sorted.distinct
    val hasNull = pairs.exists(p => p._1 == null || p._2 == null)
    val n = (ids.length + (if (hasNull) 1 else 0)).toDouble
    def ix(v: java.lang.Long): Int =
      if (v == null) -1 else java.util.Arrays.binarySearch(ids, v.longValue)
    val (a, b) = (pairs.map(p => ix(p._1)), pairs.map(p => ix(p._2)))
    // every pair in both directions, forward pairs first
    val (src, dst) = (a ++ b, b ++ a)
    val deg = new Array[Double](ids.length)
    src.foreach(i => if (i >= 0) deg(i) += 1.0)
    var r = Array.fill(ids.length)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIters && delta >= tol) {
      val sum = new Array[Double](ids.length)
      for (e <- src.indices if src(e) >= 0 && dst(e) >= 0)
        sum(dst(e)) += r(src(e)) / deg(src(e))
      val next = sum.map(c => PrBase / n + PrDamping * c)
      delta = next.indices.map(i => math.abs(next(i) - r(i))).maxOption.getOrElse(0.0)
      r = next
      it += 1
    }
    import s.implicits._
    // the null vertex receives nothing: base/n once a round has run
    val rows = ids.indices.map(i => (Option(ids(i)), r(i))) ++
      (if (hasNull) Seq((Option.empty[Long], if (it == 0) 1.0 / n else PrBase / n)) else Nil)
    (rows.toDF("id", "r"), it)
  }

  /** The pair table's endpoints as bigint: the id type of both paths,
    * whatever integer type the edge list has. */
  private def prPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("da").cast("long").as("da"), col("db").cast("long").as("db"))

  /** The driver finish when the pair rows fit `budget` (one Spark job:
    * the size check and the fetch), else None. */
  private def prOnDriver(pairs: DataFrame, budget: Long, tol: Double,
      maxIters: Int): Option[(DataFrame, Int)] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Loop.collectUnder(pairs.as[(java.lang.Long, java.lang.Long)], budget)
      .map(rows => prDriver(spark, rows, tol, maxIters))
  }

  /** E9 — PageRank over the near-duplicate graph (the LSH-verified
    * MinHash pair table, undirected): rank ≈ how central a document is in
    * its duplication neighborhood — high-rank nodes are the canonical
    * copies of heavily-duplicated content, the principled alternative to
    * min-doc_id keeper selection (and the first graph-ANALYTICS operator
    * next to the connected-components cluster resolution). Vertices are
    * restricted to edge endpoints: an isolated document has the floor
    * rank by definition and never needs to enter the iteration — at
    * 100 TB the loop moves the PAIR table (pairs << corpus), never the
    * corpus. When the pair rows fit the driver budget (graft.ops.Loop)
    * they are collected in one action and the PrIters rounds run on the
    * driver. Otherwise the plan is the shared memoized pair table feeding
    * a degree aggregate + PrIters rounds of (edge ⋈ rank ⋈ degree → sum
    * by dst) — one edge-sized shuffle per round, built as ONE lazy plan
    * with no per-round action; the 1-row vertex count and the per-round
    * rank table ride broadcast. Both engines and both paths run the
    * identical double arithmetic (base/n + d·Σ r/deg), so ranks
    * hash-match at 6 decimals. */
  def e9Pagerank(s: SparkSession, d: String): DataFrame =
    pageRankFixed(Dedup.minhashPairTable(s, d), Loop.DriverBytes)

  /** e9Pagerank's rounds over a pair table, with the driver budget given
    * (Loop.ForceDistributed forces the distributed plan). */
  private[graft] def pageRankFixed(pairs0: DataFrame, budget: Long): DataFrame = {
    val pairs = prPairs(pairs0)
    prOnDriver(pairs, budget, Double.NegativeInfinity, PrIters)
      .fold {
        val g = prGraph(pairs)
        var r = prInit(g)
        for (_ <- 1 to PrIters) r = prRound(g, r)
        r
      }(_._1)
      .transform(prOut)
  }

  /** PageRank to CONVERGENCE — the deployment loop the fixed-iteration
    * declared query documents: the same damping round repeats until
    * max |Δrank| < tol. On the driver finish (the pair rows fit the
    * budget) the rank rows never exist in Spark until the result; the
    * distributed path runs graft.ops.Loop rounds — a lazy checkpoint of
    * the new rank table and ONE action per round, the max |Δrank| join
    * against the previous generation, which is then released (the graph
    * itself never shrinks, so it never hands off mid-loop). `maxIters` is
    * the runaway valve for a tol below what damping^k can reach in
    * reasonable rounds. Returns the converged ranks (rounded at 6
    * decimals like the declared query) and the number of rounds run —
    * the stopping rule on both paths is: after computing round k, stop
    * when max |r_k − r_{k−1}| < tol. */
  def pageRankConverged(s: SparkSession, d: String, tol: Double,
      maxIters: Int): (DataFrame, Int) =
    pageRankConverged(Dedup.minhashPairTable(s, d), tol, maxIters)
  def pageRankConverged(s: SparkSession, d: String, tol: Double): (DataFrame, Int) =
    pageRankConverged(s, d, tol, 50)

  /** Convergence core over an arbitrary undirected pair table (da, db) —
    * the near-dup graph in the declared query; any edge list (citation,
    * link, co-occurrence graphs) in a deployment. */
  def pageRankConverged(pairs: DataFrame, tol: Double,
      maxIters: Int = 50): (DataFrame, Int) =
    pageRankConverged(pairs, tol, maxIters, Loop.DriverBytes)

  /** pageRankConverged with the driver budget given (Loop.ForceDistributed
    * forces the distributed rounds). */
  private[graft] def pageRankConverged(pairs0: DataFrame, tol: Double,
      maxIters: Int, budget: Long): (DataFrame, Int) = {
    val pairs = prPairs(pairs0)
    val (r, it) = prOnDriver(pairs, budget, tol, maxIters).getOrElse {
      val g = prGraph(pairs)
      val loop = new Loop[Double]
      val r = loop.run(prInit(g), maxIters)(_ >= tol)(prRound(g, _))(maxDelta(_, _, "r"))
      (r, loop.rounds)
    }
    (prOut(r), it)
  }

  /** max |x − x₀| of column `x` over the ids of `next` and `prev`, 0 when
    * they share none: the stopping statistic of the converged loops, ONE
    * action. */
  private def maxDelta(next: DataFrame, prev: DataFrame, x: String): Double = {
    val st = next.join(prev.select(col("id"), col(x).as("x0")), "id")
      .agg(max(abs(col(x) - col("x0")))).head()
    if (st.isNullAt(0)) 0.0 else st.getDouble(0)
  }

  /** E9 — degree distribution of the near-dup graph: how many documents
    * have k near-duplicates, the one-page summary of corpus duplication
    * structure (a heavy tail = template families; a spike at high k = a
    * mirror site). Two tiny chained aggregates over the shared pair
    * table — endpoint degrees, then degree histogram; nothing
    * corpus-sized moves. */
  def e9Degrees(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashPairTable(s, d)
    pairs.select(col("da").as("id"))
      .unionByName(pairs.select(col("db").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** Synchronous label-propagation rounds for e9_label_prop — fixed so
    * the oracle can unroll them (the PrIters treatment). */
  val LpIters = 2

  /** E9 — COMMUNITY detection by synchronous label propagation over the
    * near-dup graph: each vertex starts labeled with its own id, and each
    * round adopts the MODE of its neighbors' labels (ties broken by the
    * smaller label, so every round is deterministic — the known LP
    * pitfall is unordered tie-breaking). Communities are the dense cores
    * connected components cannot see: CC welds everything reachable, LP
    * splits a chain of borderline matches into its tight families —
    * exactly the refinement the cluster-resolution pass wants when LSH
    * links two template families through one bridge document. Vertices
    * are edge endpoints only, and each round is one edge-table join plus
    * one (vertex, label)-keyed aggregate plus a per-vertex top-1 window —
    * every shuffle is pair-table-sized, the corpus never moves (the
    * connectedComponents/PageRank discipline). Fixed LpIters rounds keep
    * it oracle-able; a deployment runs the rounds on graft.ops.Loop
    * under pageRankConverged's max-|Δ| stopping rule. */
  def e9LabelProp(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = bothWays(Dedup.minhashPairTable(s, d))
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lab", col("v"))
    val w = Window.partitionBy("src").orderBy(col("c").desc, col("lab"))
    for (_ <- 1 to LpIters)
      labels = edges.join(labels, col("dst") === col("v"))
        .groupBy("src", "lab").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("v"), col("lab"))
    labels.select(col("v").as("doc_id"), col("lab").as("community"))
      .orderBy("doc_id")
  }

  /** Peel rounds for e9_kcore — fixed so the oracle can unroll them
    * (the LpIters / PrIters treatment); kcoreConverged is the
    * run-to-fixpoint deployment form. */
  val KcorePeels = 3

  /** Core threshold for e9_kcore — interpolated into BOTH engines. */
  val KcoreK = 2

  /** E9 — K-CORE peeling of the near-dup graph (k = 2, three synchronous
    * peel rounds): repeatedly remove nodes with degree < k and the edges
    * they carry. What survives is the densely-duplicated CORE — content
    * families held together by many pairwise matches — while chains and
    * pendants (borderline single-link matches, exactly what a too-loose
    * LSH threshold admits) peel away; the core/periphery split is the
    * standard triage for "weld these clusters confidently vs review
    * these links". Emits survivors with their residual degree. Each
    * round is two semi-join-shaped prunes + a degree aggregate, all
    * PAIR-TABLE-sized (the corpus never moves); fixed rounds make the
    * DuckDB oracle an unrolled CTE chain. The rounds are kcorePeeled's,
    * shared with the fixpoint form below, so a round that removes
    * nothing ends the peel early with the same survivors. */
  def e9Kcore(s: SparkSession, d: String): DataFrame =
    kcorePeeled(Dedup.minhashPairTable(s, d), KcoreK, KcorePeels)._1.orderBy("doc_id")

  /** K-core to FIXPOINT — the deployment form: peel until a round removes
    * no edge, or `maxIters` rounds removed some. Returns (survivor doc_ids
    * with final degree, rounds that removed an edge), so `rounds` reads as
    * peels applied, as KcorePeels counts them. At the fixpoint every
    * survivor has degree ≥ k — the true k-core, which fixed-round peeling
    * only approximates from above. */
  def kcoreConverged(s: SparkSession, d: String, k: Long = KcoreK,
      maxIters: Int = 50): (DataFrame, Int) =
    kcorePeeled(Dedup.minhashPairTable(s, d), k, maxIters)

  /** The peel rounds of e9Kcore and kcoreConverged, one graft.ops.Loop
    * round each: drop every edge of the (da, db) pairs with an endpoint of
    * degree < k, until a round removes nothing or `maxPeels` rounds ran.
    * A round reads its edges three times (two degree legs and the prune
    * input), so each takes a kernel round even at a fixed count. Its ONE
    * action counts the new and the replaced edges together; peeling only
    * removes rows, so equal counts are equal sets. Returns the survivors'
    * (doc_id, degree) and the rounds that removed an edge. */
  private def kcorePeeled(pairs: DataFrame, k: Long, maxPeels: Int): (DataFrame, Int) = {
    val loop = new Loop[Long] // edges the round removed
    val edges = loop.run(pairs.select(col("da"), col("db")), maxPeels)(_ > 0) { prev =>
      val keep = endpointDegrees(prev).filter(col("dg") >= k).select("v")
      prev.join(keep.select(col("v").as("da")), "da")
        .join(keep.select(col("v").as("db")), "db")
        .select("da", "db")
    } { (next, prev) =>
      prev.select(lit(1L).as("n")).unionByName(next.select(lit(-1L).as("n")))
        .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    }
    (endpointDegrees(edges).select(col("v").as("doc_id"), col("dg").as("degree")),
      loop.stats.count(_ > 0))
  }

  /** Each endpoint's degree `dg` in a (da, db) edge list. */
  private def endpointDegrees(edges: DataFrame): DataFrame =
    edges.select(col("da").as("v")).unionByName(edges.select(col("db").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))

  /** E9 — global triangle count of the near-dup graph plus the number of
    * connected vertex pairs ("wedges" through the canonical ordering),
    * yielding the global clustering signal: near-dup TRIANGLES are
    * transitive-duplication evidence (A≈B≈C≈A = one content family;
    * triangle-free pairs are chains of borderline matches — exactly the
    * structures cluster resolution will weld or split). Standard
    * ordered-triple enumeration on the (da < db) canonical edge list:
    * e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — two equi-join shuffles of the
    * PAIR table (never the corpus), candidate wedges bounded by the
    * per-node degree the LSH caps already bound. */
  def e9Triangles(s: SparkSession, d: String): DataFrame = {
    val p = Dedup.minhashPairTable(s, d)
    val wedges = p.as("e1")
      .join(p.as("e2"), col("e1.db") === col("e2.da"))
      .select(col("e1.da").as("a"), col("e1.db").as("b"),
        col("e2.db").as("c"))
    val tris = wedges.join(p.as("e3"),
        col("a") === col("e3.da") && col("c") === col("e3.db"))
      .agg(count(lit(1)).as("n_triangles"))
    val nw = wedges.agg(count(lit(1)).as("n_wedges"))
    tris.crossJoin(nw)
      .select(col("n_triangles"), col("n_wedges"),
        round(col("n_triangles") / col("n_wedges").cast("double"), 4)
          .as("closure"))
  }

  /** E9 — degree-binned LOCAL clustering profile c(k) of the near-dup
    * graph (Watts–Strogatz coefficient, pooled per degree): for each
    * degree bucket, the fraction of open wedges at its vertices that are
    * closed by a third edge. Read next to e9_assortativity and
    * e9_triangles' single global closure number, c(k) is the CURVE that
    * separates the two dedup regimes the global number conflates: mirror
    * networks keep c(k) high at high degree (hubs sit inside welded
    * families — safe to collapse transitively), template-star corpora
    * decay c(k) ~ 1/k (hub neighbors are mutual strangers — transitive
    * welding would over-merge, exactly what e1_dedup_clusters' reviewer
    * checks). POOLED per bucket (Σ triangles-at-v / Σ C(deg v, 2)) keeps
    * every number an exact integer until ONE final division — a
    * per-vertex-average c(k) would sum floats in engine-dependent order.
    * Triangles are enumerated once in canonical a<b<c order (the
    * e9_triangles two-join shape, here a LEFT SEMI against the third
    * edge) and credit each corner via a 3-way union. Plan: everything is
    * PAIR-TABLE-sized — wedge join bounded by Σdeg² under the upstream
    * df/hot-block caps, corner credit is a union of three projections of
    * the triangle list, output is one row per distinct degree. */
  def e9LocalClustering(s: SparkSession, d: String): DataFrame = {
    val p = Dedup.minhashPairTable(s, d)
    val deg = p.select(col("da").as("v"))
      .unionByName(p.select(col("db").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val tri = p.as("e1")
      .join(p.as("e2"), col("e1.db") === col("e2.da"))
      .select(col("e1.da").as("a"), col("e1.db").as("b"),
        col("e2.db").as("c"))
      .join(p.as("e3"),
        col("a") === col("e3.da") && col("c") === col("e3.db"), "left_semi")
    val triAt = tri.select(col("a").as("v"))
      .unionByName(tri.select(col("b").as("v")))
      .unionByName(tri.select(col("c").as("v")))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(triAt, Seq("v"), "left")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .groupBy(col("dg").as("degree"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_closed"),
        expr("sum(dg * (dg - 1)) div 2").as("n_pairs"))
      .select(col("degree"), col("n_docs"), col("n_closed"), col("n_pairs"),
        when(col("n_pairs") === 0L, lit(0.0))
          .otherwise(round(col("n_closed") / col("n_pairs").cast("double"), 4))
          .as("clustering"))
      .orderBy("degree")
  }

  /** E9 — per-community CONDUCTANCE of the label-propagation partition:
    * φ(S) = cut(S) / min(vol(S), 2m − vol(S)) — the standard cut-quality
    * score (Kannan–Vempala–Vetta) that modularity does not give you:
    * e9_modularity says how much better than random the partition is
    * GLOBALLY; conductance names WHICH community leaks. In the dedup
    * pipeline this is the weld-confidence column for e1_dedup_clusters'
    * reviewer — a community with φ near 0 is sealed (collapse it to one
    * keeper without checking), φ near 1 is mostly boundary (every member
    * pair needs the verifier before welding). Exactness: cut, volume, m
    * are integer counts; ONE final division per community (non-negative,
    * no signed-zero hazard). A cut edge credits BOTH its communities via
    * a two-projection union. Plan: labels ride the pair-table-sized
    * e9_label_prop rounds, degrees/volumes are pair-table aggregates, the
    * 1-row edge total cross-join broadcasts — the corpus never moves
    * (the e9 family discipline). */
  def e9Conductance(s: SparkSession, d: String): DataFrame = {
    val p = Dedup.minhashPairTable(s, d)
    val comm = e9LabelProp(s, d).select(col("doc_id"), col("community"))
    val deg = p.select(col("da").as("v"))
      .unionByName(p.select(col("db").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val vol = comm.join(deg, col("doc_id") === col("v"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("volume"))
    val sides = p
      .join(comm.select(col("doc_id").as("da"), col("community").as("ca")),
        "da")
      .join(comm.select(col("doc_id").as("db"), col("community").as("cb")),
        "db")
      .filter(col("ca") =!= col("cb"))
    val cut = sides.select(col("ca").as("community"))
      .unionByName(sides.select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("cut_edges"))
    val m = broadcast(p.agg(count(lit(1)).as("m")))
    vol.join(cut, Seq("community"), "left")
      .withColumn("cut_edges", coalesce(col("cut_edges"), lit(0L)))
      .crossJoin(m)
      .select(col("community"), col("n_nodes"), col("volume"),
        col("cut_edges"),
        when(least(col("volume"), lit(2L) * col("m") - col("volume")) === 0L,
          lit(0.0))
          .otherwise(round(col("cut_edges") /
            least(col("volume"), lit(2L) * col("m") - col("volume"))
              .cast("double"), 4)).as("conductance"))
      .orderBy("community")
  }

  /** Fixed output size for the link-prediction candidate list. */
  val LinkPredK = 50

  /** E9 — LINK PREDICTION over the near-dup graph by common-neighbor
    * Jaccard (Liben-Nowell & Kleinberg 2003, the standard baseline): for
    * every NON-adjacent doc pair two hops apart, the overlap of their
    * neighbor sets. In a dedup pipeline this is the RECALL-REPAIR list:
    * two docs that independently matched the same third documents but
    * not each other are exactly the borderline pairs LSH banding loses
    * (similarity under the band threshold) — an operator reviews the
    * top of this table to decide whether to add bands or lower the
    * threshold, and e1_lsh_curve prices that dial. Jaccard =
    * cn/(deg_a + deg_b − cn) is exact (adjacent pairs are anti-joined
    * out, so the union never double-counts the endpoints); one integer
    * ratio → IEEE-identical. Plan: everything is PAIR-TABLE-sized —
    * wedge generation is the e9_triangles self-join (Σdeg² bounded by
    * the upstream df/hot-block caps), candidates anti-join the edge
    * list, degrees ride two broadcasts, and the fixed-K output is
    * TakeOrderedAndProject (per-partition heaps), never a global sort. */
  def e9LinkPred(s: SparkSession, d: String): DataFrame = {
    val p = Dedup.minhashPairTable(s, d)
    val e = bothWays(p)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val cand = e.as("e1")
      .join(e.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .groupBy(col("e1.src").as("doc_a"), col("e2.dst").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(p, col("doc_a") === col("da") && col("doc_b") === col("db"),
        "left_anti")
    cand
      .join(broadcast(deg.as("d1")), col("doc_a") === col("d1.id"))
      .join(broadcast(deg.as("d2")), col("doc_b") === col("d2.id"))
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("d1.deg").as("deg_a"), col("d2.deg").as("deg_b"),
        round(col("common") /
          (col("d1.deg") + col("d2.deg") - col("common")).cast("double"), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("common").desc, col("doc_a"),
        col("doc_b"))
      .limit(LinkPredK)
  }

  /** HITS iterations for e9_hits — fixed so the oracle can unroll them
    * (the PrIters / LpIters treatment). */
  val HitsIters = 2

  /** One HITS half-step: sum `score` over edges along `fromCol → toCol`,
    * then L∞-normalize. Max-normalization (not the textbook L2/L1) is
    * deliberate: max over doubles is ORDER-INDEPENDENT, so the only
    * cross-engine float hazard left is the per-vertex contribution sum
    * (≤ degree summands — the e9_pagerank precedent), not a corpus-wide
    * reduction whose association order differs between engines. */
  private def hitsHalf(ed: DataFrame, v: DataFrame, score: DataFrame,
      fromCol: String, toCol: String): DataFrame = {
    val contrib = ed
      .join(score.select(col("id").as("jid"), col("x")),
        col(fromCol) === col("jid"))
      .groupBy(col(toCol).as("vid")).agg(sum(col("x")).as("sx"))
    val raw = v.join(contrib, col("id") === col("vid"), "left")
      .select(col("id"), coalesce(col("sx"), lit(0.0)).as("x"))
    raw.crossJoin(broadcast(raw.agg(max(col("x")).as("mx"))))
      .select(col("id"), (col("x") / col("mx")).as("x"))
  }

  /** E9 — HITS hubs/authorities (Kleinberg 1999) over the CANONICALLY
    * DIRECTED near-dup graph: each verified pair (da < db) becomes the
    * edge da → db — "the earlier document points at its later
    * near-duplicate". Under that orientation the two scores split the
    * duplication structure the undirected analytics cannot: a high HUB is
    * an early document whose content many later documents echo (the
    * template/source of a family — the principled keeper candidate, read
    * next to e9_pagerank's centrality), while a high AUTHORITY is a late
    * document stitched from many earlier ones (aggregator/mirror pages —
    * prime drop candidates). Fixed HitsIters mutual-reinforcement rounds
    * (a ← Σ h over in-edges, h ← Σ a over out-edges, each L∞-normalized);
    * hitsConverged runs the same rounds to convergence. Plan: vertices are edge
    * endpoints only, every join/aggregate is PAIR-TABLE-sized, the 1-row
    * max rides a broadcast — the corpus never moves (the e9 family
    * discipline). */
  def e9Hits(s: SparkSession, d: String): DataFrame = {
    val (ed, v) = hitsGraph(Dedup.minhashPairTable(s, d))
    var hub = v.select(col("id"), lit(1.0).as("x"))
    var auth = v.select(col("id"), lit(1.0).as("x"))
    for (_ <- 1 to HitsIters) {
      auth = hitsHalf(ed, v, hub, "src", "dst")
      hub = hitsHalf(ed, v, auth, "dst", "src")
    }
    hitsOut(hub, auth)
  }

  /** The directed (src, dst) edges of a (da, db) pair table and their
    * endpoints (id). */
  private def hitsGraph(pairs: DataFrame): (DataFrame, DataFrame) = {
    val ed = pairs.select(col("da").as("src"), col("db").as("dst"))
    (ed, ed.select(col("src").as("id")).unionByName(ed.select(col("dst").as("id"))).distinct())
  }

  /** The (doc_id, hub, authority) rows of e9_hits and hitsConverged. */
  private def hitsOut(hub: DataFrame, auth: DataFrame): DataFrame =
    hub.select(col("id"), col("x").as("hx"))
      .join(auth.select(col("id"), col("x").as("ax")), "id")
      .select(col("id").as("doc_id"), round(col("hx"), 6).as("hub"),
        round(col("ax"), 6).as("authority"))
      .orderBy("doc_id")

  /** HITS to CONVERGENCE — the deployment loop the fixed-iteration
    * declared query documents: graft.ops.Loop rounds of both hitsHalf
    * steps until max |Δhub| < tol, each round ONE action, the max |Δhub|
    * join against the replaced hub table. An empty pair table stops after
    * one round (max |Δ| over no vertex is 0). The pair table is read
    * every round, so pass a materialized one (as the declared queries'
    * pair memo is). Returns (scores rounded like the declared query,
    * rounds run). Hub delta is the convergence witness: the authority
    * update is a pure function of the hub table, so a converged hub
    * implies a converged authority one half-step later. */
  def hitsConverged(pairs: DataFrame, tol: Double,
      maxIters: Int = 50): (DataFrame, Int) = {
    val (ed, v) = hitsGraph(pairs)
    val loop = new Loop[Double]
    // a hub table holds every vertex, so a round reads the vertex set
    // from the live generation instead of aggregating the edges again
    val hub = loop.run(v.select(col("id"), lit(1.0).as("x")), maxIters)(_ >= tol) { prev =>
      val pv = prev.select("id")
      hitsHalf(ed, pv, hitsHalf(ed, pv, prev, "src", "dst"), "dst", "src")
    }(maxDelta(_, _, "x"))
    (hitsOut(hub, hitsHalf(ed, hub.select("id"), hub, "src", "dst")), loop.rounds)
  }

  /** E9 — degree ASSORTATIVITY of the near-dup graph (Newman 2002):
    * the Pearson correlation of endpoint degrees over edges — POSITIVE
    * means hubs link to hubs (interlinked mirror networks: dedup will
    * collapse whole neighborhoods at once), NEGATIVE means hubs link to
    * leaves (template-star families: one keeper absorbs many one-off
    * copies) — the one-number summary of which dedup regime the corpus
    * is in, read next to e9_degrees' histogram. Exactness: both edge
    * orientations are summed so the x/y marginals are IDENTICAL —
    * Pearson reduces to (M·Σxy − (Σx)²)/(M·Σx² − (Σx)²) with every
    * moment an exact INTEGER sum over edges and ONE final division
    * (no sqrt: var(x) = var(y) by symmetry); `+ 0.0` because r is
    * legitimately negative, and a zero denominator (a degree-regular
    * graph, e.g. equal-size cliques) reports 0.0 — correlation is
    * undefined without variance, and "no structure signal" is the
    * operational reading. Moments fit longs through the probe scales;
    * a 100 TB run lifts the identical identity onto DECIMAL(38,0).
    * Plan: one degree aggregate + two broadcast degree joins back to
    * edges + a 1-row moment fold — everything pair-table-sized (the
    * e9 family discipline). */
  def e9Assortativity(s: SparkSession, d: String): DataFrame = {
    val e = bothWays(Dedup.minhashPairTable(s, d))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
    e.join(broadcast(deg.select(col("id").as("src"), col("dg").as("dx"))),
        "src")
      .join(broadcast(deg.select(col("id").as("dst"), col("dg").as("dy"))),
        "dst")
      .agg(count(lit(1)).as("n_dir_edges"),
        sum(col("dx")).as("sx"), sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n_dir_edges"),
        (when(col("n_dir_edges") * col("sxx") === col("sx") * col("sx"),
          lit(0.0))
          .otherwise(round(
            (col("n_dir_edges") * col("sxy") - col("sx") * col("sx")) /
              (col("n_dir_edges") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), 4)) + lit(0.0)).as("assortativity"))
  }

  /** BFS parameters for e9_bfs — fixed rounds/seeds so the oracle can
    * unroll the frontier expansion (the KcorePeels treatment). */
  val BfsRounds = 3
  val BfsSeeds = 3

  /** E9 — multi-source BFS REACH PROFILE of the near-dup graph: seed the
    * frontier at the BfsSeeds highest-degree documents (the hubs of the
    * biggest duplication families; ties broken by doc_id so both engines
    * pick the same seeds) and expand BfsRounds synchronous rounds,
    * emitting the histogram of hop distances (−1 = endpoint never
    * reached). This is the "blast radius" audit behind keeper selection:
    * a corpus whose mass sits ≤ 2 hops from its top hubs is a few mirror
    * families (dedup will collapse it dramatically); mass at −1 means
    * duplication is scattered in many small independent clusters. The
    * rounds are bfs's, shared with bfsConverged: ALL pair-table-sized
    * (the corpus never moves). */
  def e9Bfs(s: SparkSession, d: String): DataFrame = {
    val e = bothWays(Dedup.minhashPairTable(s, d))
    e.select(col("src").as("v")).distinct()
      .join(bfs(e, bfsSeeds(e, BfsSeeds), Nil, BfsRounds)._1, Seq("v"), "left")
      .select(coalesce(col("dist"), lit(-1)).as("dist"))
      .groupBy("dist").agg(count(lit(1)).as("n_docs"))
      .orderBy("dist")
  }

  /** Both directions of every (da, db) pair as (src, dst) edges. */
  private def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))

  /** The `k` highest-degree vertices `v` of (src, dst) edges, ties broken
    * by id so both engines pick the same seeds. */
  private def bfsSeeds(e: DataFrame, k: Int): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("src")).limit(k).select(col("src").as("v"))

  /** Synchronous BFS from `seeds` (keys…, v) over the (src, dst) edges
    * `e`, the rounds of e9Bfs, perSeedBfsDist and bfsConverged: one
    * graft.ops.Loop round per hop k adds the unvisited neighbors of layer
    * k − 1 at distance k — one frontier ⋈ edges expansion, a DISTINCT and
    * a LEFT ANTI against the visited set, which grows by union without
    * re-shuffling earlier layers. `keys` run independent searches side by
    * side (one per seed in perSeedBfsDist). A round reads the visited set
    * three times, so each takes a kernel round even at a fixed count; its
    * ONE action counts the vertices it added. Stops after a round that
    * added none or after `maxRounds`; returns the (keys…, v, dist) table
    * and the rounds that added a vertex. */
  private def bfs(e: DataFrame, seeds: DataFrame, keys: Seq[String],
      maxRounds: Int): (DataFrame, Int) = {
    val loop = new Loop[Long] // vertices the round added
    val kv = keys :+ "v"
    // loop.rounds is the previous round's number while a round runs
    val dist = loop.run(seeds.withColumn("dist", lit(0)), maxRounds)(_ > 0) { prev =>
      val frontier = prev.filter(col("dist") === loop.rounds)
        .select(keys.map(col) :+ col("v").as("fv"): _*)
      prev.unionByName(e.join(frontier, col("src") === col("fv"))
        .select(keys.map(col) :+ col("dst").as("v"): _*).distinct()
        .join(prev.select(kv.map(col): _*), kv, "left_anti")
        .withColumn("dist", lit(loop.rounds + 1)))
    }((next, _) => next.agg(count(when(col("dist") === loop.rounds + 1, 1))).head().getLong(0))
    (dist, loop.stats.count(_ > 0))
  }

  /** E9 — EFFECTIVE DIAMETER (sampled): per-seed hop-distance
    * distribution over the dedup pair graph from the BfsSeeds top-degree
    * seeds, each running its OWN BFS (contrast e9_bfs, whose joint
    * frontier measures distance to the seed SET) — the d90 readout
    * (smallest d with ≥ 90% of reachable (seed, vertex) pairs within d)
    * is the standard small-world summary (Leskovec, Kleinberg & Faloutsos,
    * "Graphs over time", KDD 2005), and on a dedup graph it is the
    * transitive-contamination horizon: how many near-dup hops connect a
    * typical contaminated pair. Deterministic: hop counts and the cum_bp
    * shares are integers; seeds are the (degree desc, id) top-K.
    * Plan at 100 TB: the frontier tables are (seed, vertex) pairs — at
    * most BfsSeeds× e9_bfs's — with one edge-sized shuffle per round
    * over the pair memo; the distribution fold is
    * ≤ BfsRounds+1 keys and the cumulative window runs on that bounded
    * digest (allowlisted in the unpartitioned-window audit). */
  /** Per-seed BFS distance table (sd, v, dist ≤ BfsRounds) from the
    * BfsSeeds top-degree seeds — the builder e9_effective_diameter and
    * e9_closeness COMPOSE verbatim (can't-drift). */
  private def perSeedBfsDist(s: SparkSession, d: String): DataFrame = {
    val e = bothWays(Dedup.minhashPairTable(s, d))
    bfs(e, bfsSeeds(e, BfsSeeds).select(col("v").as("sd"), col("v")), Seq("sd"), BfsRounds)._1
  }

  def e9EffectiveDiameter(s: SparkSession, d: String): DataFrame = {
    val dist = perSeedBfsDist(s, d)
    val hist = dist.groupBy("dist").agg(count(lit(1)).as("n_pairs"))
    val wc = Window.orderBy("dist")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_pairs", sum(col("n_pairs")).over(wc))
      .crossJoin(broadcast(hist.agg(sum(col("n_pairs")).as("t_pairs"))))
      .select(asLong(col("dist")).as("dist"), col("n_pairs"),
        col("cum_pairs"),
        expr("cum_pairs * 10000 div t_pairs").as("cum_bp"))
      .orderBy("dist")
  }

  /** E9 — HARMONIC CLOSENESS centrality of the sampled seeds (Boldi &
    * Vigna, "Axioms for centrality", Internet Math. 2014 — the
    * closeness variant that handles disconnected graphs, which dedup
    * pair graphs always are): per seed, Σ 1/d over its ≤ BfsRounds-hop
    * reachability — how CENTRAL each top-degree near-dup hub is, the
    * per-seed drill-down of e9_effective_diameter's pooled distribution
    * (one seed with a deep tail and one with a tight clique read the
    * same pooled d90; this table separates them). Composes
    * perSeedBfsDist verbatim. All-integer: 1/d in exact micro units
    * (1e6 div d — d ≤ BfsRounds keeps every weight exact), so the fold
    * is a long sum. Plan at 100 TB: the BFS builder's cost (pair-table
    * × rounds); the fold is ≤ BfsSeeds keys. */
  def e9Closeness(s: SparkSession, d: String): DataFrame =
    perSeedBfsDist(s, d)
      .filter(col("dist") >= 1)
      .groupBy(col("sd").as("seed_doc"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("CAST(1000000 div dist AS BIGINT)")).as("harmonic_micro"))
      .orderBy("seed_doc")

  /** BFS to EXHAUSTION — the deployment loop the fixed-round declared
    * query documents: expand until a round reaches no new vertex, each
    * round ONE action (the count of the vertices it added). The pair
    * table is read every round, so pass a materialized one (as the
    * declared queries' pair memo is). Returns (per-vertex hop distances
    * from the top-degree seeds — the full reachability closure, no −1
    * layer because the loop only stops when nothing is left to reach —
    * and the rounds that added a vertex, as BfsRounds counts them).
    * `maxIters` is the runaway valve for a pathological diameter. */
  def bfsConverged(pairs: DataFrame, seedK: Int = BfsSeeds,
      maxIters: Int = 50): (DataFrame, Int) = {
    val e = bothWays(pairs)
    val (dist, rounds) = bfs(e, bfsSeeds(e, seedK), Nil, maxIters)
    (dist.orderBy("v"), rounds)
  }

  /** E8 — hour-of-week seasonality profile: the 7×24 activity heatmap
    * (events and distinct users per weekday-hour cell, plus each cell's
    * share of all traffic) — the baseline behind bot detection (humans
    * have diurnal structure, scrapers don't), load-shaped scheduling, and
    * the expected-volume envelope per-cell alerting compares against.
    * Weekday is Monday-based (Spark `weekday`; DuckDB isodow − 1) so the
    * engines agree without locale-dependent day names; share is an exact
    * integer parts-per-million division. Plan: one scan → a 168-key
    * aggregate (count + distinct users partial-combine map-side; user
    * cardinality per cell bounds the distinct exchange), then the 1-row
    * total broadcast back — fixed-size exchanges at any corpus size. */
  def e8Seasonality(s: SparkSession, d: String): DataFrame = {
    events(s, d)
      .groupBy(weekday(col("ts")).cast("long").as("wd"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      // total via a whole-table window over the 168-cell table — a
      // separate total aggregate branch re-scans the event stream
      .withColumn("tot", sum(col("n_events")).over(Window.partitionBy()))
      .select(col("wd"), col("hr"), col("n_events"), col("n_users"),
        expr("1000000 * n_events div tot").as("ppm"))
      .orderBy("wd", "hr")
  }

  /** E8 — source-concentration report: how dominated the corpus token
    * budget is by its largest sources — the one-row health metric a
    * data-mixture owner tracks release over release (a crawl that
    * collapses to three domains trains a worse model than its token count
    * suggests). Emits the Herfindahl–Hirschman index over per-source
    * token shares, the top source and its share, and the effective source
    * count 1/HHI (the "how many equal-sized sources is this corpus worth"
    * number). Shares are integer ppm (token·10⁶ div total) and HHI is the
    * exact integer Σppm², so the sum is order-independent across engines
    * and partitionings — the q44/e3_quality_model micro-unit discipline;
    * the only float op is the final 10¹²/HHI division. Reference
    * analogue: the per-table row-count health checks lime-etl publishes
    * per run (`job_test_result.py`), lifted to a distribution statistic.
    * Plan at scale: ONE |sources|-key map-side-combined aggregate over
    * ONE corpus scan; the total/ppm enrichment is a whole-table window
    * over the tiny source table and the report is one more 1-row
    * aggregate (argmax via min(struct(−ppm, source)) so the tie-break is
    * smallest source name). The first cut of this query derived
    * total/top/HHI as separate consumers of the source aggregate, which
    * Catalyst planned as FIVE corpus scans — the single-consumer chain
    * below is scan-count-asserted in AnalysisSpec. */
  def e8Concentration(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy() // the |sources|-row table, not the corpus
    documents(s, d)
      .groupBy("source")
      .agg(asLong(sum(size(split(col("text"), " ")))).as("tk"))
      .withColumn("total_tokens", asLong(sum(col("tk")).over(w)))
      .withColumn("n_sources", count(lit(1)).over(w))
      .withColumn("ppm", expr("1000000 * tk div total_tokens"))
      .groupBy("n_sources", "total_tokens")
      .agg(asLong(sum(col("ppm") * col("ppm"))).as("hhi"),
        min(struct(negate(col("ppm")).as("np"), col("source"), col("ppm")))
          .as("top"))
      .select(col("n_sources"), col("total_tokens"),
        col("top.source").as("top_source"),
        col("top.ppm").as("top_share_ppm"), col("hhi"),
        round(lit(1.0e12) / col("hhi"), 2).as("effective_sources"))
  }

  /** E8 — per-source GINI coefficient of the document token-length
    * distribution: the INEQUALITY audit that HHI (e8_concentration)
    * cannot give — concentration says which sources dominate the corpus,
    * Gini says which sources are internally dominated by a few huge
    * documents (G→1: one scraped dump carries the source; G→0: uniform
    * docs — e3_chunk/e3_pack behave very differently on the two, and
    * sampling weights computed per-doc silently become per-byte weights
    * when G is high). Exactness: the sorted-rank identity
    * G = (2Σᵢ i·xᵢ − (n+1)Σx) / (n·Σx) evaluated entirely in INTEGERS
    * with one final division — and computed from the LENGTH HISTOGRAM,
    * not a per-doc rank: a tied block of c docs at length tk and
    * cumulative count cum contributes 2Σi·x = tk·(2·cum − c + 1)·c
    * exactly. Plan at 100 TB (the e3_quality_tiers bounded-domain
    * treatment): ONE (source, tk) aggregate partial-combines the corpus
    * map-side into a bounded histogram (distinct lengths ≤ max doc
    * tokens), the cumulative window and the final fold run on that tiny
    * table — the corpus is never sorted and never shuffled; a per-doc
    * row_number Gini would pay a full per-source sort instead. */
  def e8Gini(s: SparkSession, d: String): DataFrame = {
    val wc = Window.partitionBy("source").orderBy("tk")
    // The rank-weighted products run in DECIMAL(38,0), not BIGINT: at the
    // 100 TB domain (tk~1e4, cum~1e9 docs/source, c~1e6) tk·(2cum−c+1)·c
    // ≈ 2e22 exceeds 2^63 and Spark long arithmetic wraps SILENTLY —
    // while DuckDB's sum(BIGINT) is HUGEINT, so the engines would diverge
    // exactly where the op claims exactness. Decimal sums stay exact to
    // 10^38; the ONLY float ops remain the two final double casts and
    // one division, and decimal→double rounds half-even identically in
    // both engines — the same contract the raw-long version had.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    documents(s, d)
      .select(col("source"), asLong(size(split(col("text"), " "))).as("tk"))
      .groupBy("source", "tk").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("rw2",
        col("tk").cast(d38) *
          (lit(2L) * col("cum") - col("c") + lit(1L)).cast(d38) *
          col("c").cast(d38))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        sum(col("tk") * col("c")).as("total_tokens"),
        sum(col("rw2")).as("rw2"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round((col("rw2") - (col("n_docs") + 1L).cast(d38) *
            col("total_tokens").cast(d38)).cast("double") /
          (col("n_docs").cast(d38) * col("total_tokens").cast(d38))
            .cast("double"), 4).as("gini"))
      .orderBy("source")
  }

  /** Group-size threshold below which a quasi-identifier group is flagged
    * re-identifiable (the k of k-anonymity). */
  val KanonK = 5

  /** E8 — k-anonymity audit: the re-identification risk report a privacy
    * review runs before a corpus ships. Documents sharing a
    * quasi-identifier tuple — here (lang, source, 200-char length bucket);
    * production swaps in whatever attribute projection release policy
    * names — form equivalence groups; a group of size g < k means its
    * members are distinguishable among fewer than k records, the standard
    * k-anonymity failure. Emits the group-size histogram with each size's
    * doc mass and risky flag: the shape of the report tells a reviewer
    * whether to generalize buckets (coarsen), suppress small groups, or
    * pass. Plan at scale: one QI-keyed aggregate (map-side combinable,
    * key domain = |langs|·|sources|·|buckets|), then a histogram
    * aggregate over group sizes — the corpus is scanned once and never
    * shuffled; both exchanges are vocabulary-sized. */
  def e8Kanon(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 200").as("len_bucket"))
      .agg(count(lit(1)).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_groups"), asLong(sum(col("g"))).as("n_docs"))
      .withColumn("risky", col("g") < KanonK)
      .orderBy("g")

  /** Poisson-bootstrap replicate count and per-(doc, replicate) hash salt. */
  val BootB = 16
  val BootSalt = 0x51a7b2396cd40e85L
  /** Cumulative Poisson(1) CDF in 2^53 units: a draw u53 < BootCdf53(k)
    * (first match) gets weight k; the tail past 8 (P ≈ 10⁻⁶) caps at 9. */
  private val BootCdf53 = Seq(3313563428353947L, 6627126856707895L,
    8283908570884869L, 8836169142277194L, 8974234285125275L,
    9001847313694891L, 9006449485123161L, 9007106938184342L,
    9007189119816990L)

  /** E8 — Poisson BOOTSTRAP over the corpus: per-replicate weighted mean
    * document length with effective sample size — the uncertainty
    * estimate (spread across replicates ⇒ confidence interval) for any
    * corpus statistic a release report quotes. Classical bootstrap
    * resamples n-of-n WITH replacement — inexpressible at scale without
    * shuffling the corpus B times — but each document's multiplicity in a
    * replicate is asymptotically Poisson(1), so the standard big-data
    * form draws a deterministic per-(doc, replicate) Poisson weight
    * SCAN-SIDE and aggregates: B map-side-combined partial sums, an
    * exchange of B rows, zero data movement. Weights come from splitmix64
    * via an exact integer inverse-CDF (u53 vs 2⁵³-unit thresholds — no
    * float compare to diverge cross-engine), so replicates are
    * reproducible across runs, engines, and backfills like every e6
    * sampler. The one double op per replicate is the final mean division,
    * NULL-guarded for the (never-observed) empty replicate on both
    * engines. */
  def e8Bootstrap(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("r"))
      .withColumn("m", org.apache.spark.sql.graftext.minhashExpression.mix64(
        (col("doc_id") * BootB + col("r")).bitwiseXOR(lit(BootSalt))))
      .withColumn("u53", shiftrightunsigned(col("m"), 11))
      .withColumn("w", BootCdf53.zipWithIndex.foldRight(lit(9L)) {
        case ((t, k), acc) => when(col("u53") < t, lit(k.toLong)).otherwise(acc)
      })
      .groupBy("r")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("nt")).as("swnt"))
      .select(col("r").cast("long").as("r"), col("n_eff"),
        when(col("n_eff") > 0,
          round(col("swnt") / col("n_eff").cast("double"), 4)).as("mean_tokens"))
      .orderBy("r")

  /** E8 — per-source DISTRIBUTION divergence from the corpus: total
    * variation distance between each source's unigram distribution and
    * the corpus-wide one — the domain-shift number a mixture planner
    * reads next to e7_source_stats (same doc counts, different
    * vocabulary usage = a source that will skew the model). TVD instead
    * of KL/JS deliberately: divergences need log(), whose cross-engine
    * bit behavior is unpinned (libm vs JVM StrictMath) — the repo's
    * e3_lm_score precedent — while TVD over integer counts is EXACT:
    * ½·Σ_t |c_s(t)/N_s − c(t)/N| = (Σ_present |c_s·N − c·N_s| +
    * N_s·(N − Σ_present c)) / (2·N_s·N), every term integer (the absent-
    * token mass folds into one closed form, so per-source work is the
    * SOURCE's vocabulary — never |vocab|×|sources|), with ONE final
    * integer→double division, IEEE-identical cross-engine. Bound: needs
    * N_s·N < 2⁶² (Σ terms ≤ 2·N_s·N); at trillion-token corpora the
    * same identity runs over DECIMAL(38,0)/HUGEINT sums. Plan: two
    * tokenize scans feed the (source,token) and token count aggregates;
    * N_s and N REUSE those aggregates' exchanges (ReusedExchange, plan-
    * asserted) rather than re-scanning, N_s/N ride broadcasts back, and
    * the st⋈ct join is vocabulary-keyed with NO forced broadcast — at
    * 100 TB vocabularies it degrades to a shuffled hash join on the
    * token key, never a corpus shuffle (tokens cross as partial counts,
    * map-side combined). */
  /** E8 — per-label embedding CENTROID SHIFT between releases: did the
    * embedding pipeline move between what shipped (v1: the same
    * deterministic 90% gate as e7_dataset_diff, on vec_id with the same
    * ReleaseSalt) and the arriving batch (v2: the other 10%)? A model /
    * preprocessing change shows up as every label's centroid moving; a
    * content shift moves only the affected labels — read next to
    * e8_embed_drift (distribution-shape KS on one projection), this is
    * the MEAN-vector component of the same monitor. Exactness: the
    * per-dim mean difference |m1/n1 − m2/n2| is cross-multiplied to the
    * integer |m1·n2 − m2·n1| over micro-quantized coordinates
    * (floor(x·1e6 + 0.5), the microMean discipline), summed exactly, with
    * ONE final integer→double division per label — no per-dim float
    * accumulation to diverge cross-engine. L1 and L∞ both emitted (L1 =
    * total drift mass, L∞ = worst single coordinate — a spiked L∞ with
    * flat L1 is one broken feature, not a retrain). Bound: |m1·n2| ≤
    * n1·n2·10^7 must stay < 2^63 — fine to ~10^5 vectors per label-side
    * at |x| ≤ 10; beyond that the identical identity runs over
    * DECIMAL(38,0)/HUGEINT. Labels missing a side are dropped (a v2-only
    * label has no baseline to drift FROM — it is e7_dataset_diff's
    * novelty row instead). Plan: gate + micro-quantize are scan-side on
    * the posexplode, the (label, dim) aggregate partial-combines
    * map-side (k·64 keys cross the wire), then a k-key fold — one
    * exchange of fixed-size rows at any corpus size. */
  def e8CentroidShift(s: SparkSession, d: String): DataFrame = {
    val pr = embeddings(s, d)
      .select(col("label").cast("int").as("label"),
        when(Sampling.slot(col("vec_id"), Curation.ReleaseSalt) < 90, 1L)
          .otherwise(0L).as("inv1"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("mic",
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    pr.groupBy("label", "dim")
      .agg(sum(when(col("inv1") === 1L, col("mic")).otherwise(0L)).as("m1"),
        sum(col("inv1")).as("c1"),
        sum(when(col("inv1") === 0L, col("mic")).otherwise(0L)).as("m2"),
        sum(lit(1L) - col("inv1")).as("c2"))
      .groupBy("label")
      .agg(max(col("c1")).as("n_v1"), max(col("c2")).as("n_v2"),
        sum(abs(col("m1") * col("c2") - col("m2") * col("c1"))).as("num"),
        max(abs(col("m1") * col("c2") - col("m2") * col("c1"))).as("mx"))
      .filter(col("n_v1") > 0 && col("n_v2") > 0)
      .select(col("label"), col("n_v1"), col("n_v2"),
        round(col("num").cast("double") /
          (col("n_v1") * col("n_v2")).cast("double"), 4).as("l1_shift_micro"),
        round(col("mx").cast("double") /
          (col("n_v1") * col("n_v2")).cast("double"), 4).as("linf_shift_micro"))
      .orderBy("label")
  }

  def e8SourceDivergence(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("cs"))
    val ct = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val ns = st.groupBy("source")
      .agg(sum(col("cs")).as("n_s"), count(lit(1)).as("vocab"))
    val nt = ct.agg(sum(col("c")).as("n"))
    st.join(ct, "t")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nt))
      .groupBy(col("source"), col("n_s"), col("vocab"), col("n"))
      .agg(sum(abs(col("cs") * col("n") - col("c") * col("n_s"))).as("psum"),
        sum(col("c")).as("pc"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab"),
        round((col("psum") + col("n_s") * (col("n") - col("pc"))) /
          (lit(2.0) * col("n_s") * col("n")), 4).as("tvd"))
      .orderBy("source")
  }

  /** E8 — per-source JENSEN-SHANNON divergence between the source's
    * unigram distribution P and the REST of the corpus Q: the smoothed,
    * symmetric, [0, ln 2]-bounded companion to e8_source_divergence's
    * exact TVD — TVD weighs all mass moves equally, JSD (the mixture-KL
    * average) punishes mass appearing where the other side has ~none,
    * which is the signature of a source that is topically alien rather
    * than merely re-weighted (the metric behind distribution-matching
    * curation like DSIR, and the standard report column next to TVD in
    * corpus cards). Tokens absent from the source fold analytically:
    * their total contribution is ln2·(1 − Σ_{t∈Vs} q_t)/2, so the join
    * only ever touches the source's OWN vocabulary rows. Precision: each
    * term uses ln() on ratios of integer-exact counts in IDENTICAL
    * operation order both engines; all terms are ≥ 0 (no cancellation),
    * so the vocab-sized FP sum stays within ~1e-12 of order-invariant —
    * absorbed by the 4-dp round (the e8_zipf ln contract; the exact-TVD
    * twin exists precisely because ln is not bit-stable, so the two
    * queries together give one exact and one information-theoretic view).
    * Plan at 100 TB: identical shape to e8_source_divergence — one
    * (source, token) aggregate partial-combines map-side, the vocab
    * aggregate AQE-gates its broadcast, marginals arrive as 1-row/
    * |sources|-row broadcasts, and the final fold is |sources| rows. */
  def e8Jsd(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("cs"))
    val ct = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val ns = st.groupBy("source")
      .agg(sum(col("cs")).as("n_s"), count(lit(1)).as("vocab"))
    val nt = ct.agg(sum(col("c")).as("n"))
    st.join(ct, "t")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nt))
      .withColumn("p", col("cs").cast("double") / col("n_s").cast("double"))
      .withColumn("q", (col("c") - col("cs")).cast("double") /
        (col("n") - col("n_s")).cast("double"))
      .withColumn("term",
        col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
          when(col("q") > 0.0,
            col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
            .otherwise(lit(0.0)))
      .groupBy(col("source"), col("n_s"), col("vocab"))
      .agg(sum(col("term")).as("tsum"), sum(col("q")).as("qsum"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab"),
        round((col("tsum") +
          log(lit(2.0)) * (lit(1.0) - col("qsum"))) / 2.0, 4).as("jsd"))
      .orderBy("source")
  }

  /** E8 — PEARSON χ² test of source × lang INDEPENDENCE: the one-number
    * answer to "is language distribution a property of the corpus or of
    * each source?" — the stratification check run before trusting
    * per-source language quotas (e6_stratified_sample) or per-language
    * mixture weights (e7_mixture): a large χ² (V → 1) means language mass
    * is concentrated in specific sources, so source-level sampling
    * decisions silently become language decisions. Includes
    * OBSERVED-ZERO cells (expected > 0 contributes its full e to the
    * statistic), so the contingency table is the complete sources×langs
    * cross join, not just observed pairs. Exactness: each cell term is
    * the algebraic form (o·n − rs·cs)²/(n·rs·cs) evaluated in DOUBLE
    * with identical operation order in both engines; the cross-cell sum
    * is FP-order-dependent but the domain is bounded (|sources|·|langs|
    * cells) and the result is 4-dp rounded — the e8_diversity contract.
    * At the 100 TB domain o·n ≈ 10¹²·10¹² = 10²⁴ exceeds BIGINT, which
    * is exactly why the term is computed in double (exact to 2⁻⁵³
    * relative, far inside the 4-dp grid) instead of wrapping integer
    * arithmetic. Plan at 100 TB (the bounded-domain treatment): ONE
    * (source, lang) aggregate partial-combines the corpus map-side;
    * marginals, the cross join, and the fold all run on that tiny table
    * — the corpus is scanned once and never shuffled. */
  def e8Chi2(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rs = cells.groupBy("source").agg(sum(col("o")).as("rs"))
    val cs = cells.groupBy("lang").agg(sum(col("o")).as("cs"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("source")).as("nr"),
      countDistinct(col("lang")).as("nc"))
    rs.crossJoin(broadcast(cs))
      .join(cells, Seq("source", "lang"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("t",
        pow(col("o").cast("double") * col("n").cast("double") -
            col("rs").cast("double") * col("cs").cast("double"), 2) /
          (col("n").cast("double") * col("rs").cast("double") *
            col("cs").cast("double")))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("t")).as("chi2"))
      .select(col("n").as("n_docs"), col("nr").as("n_sources"),
        col("nc").as("n_langs"),
        ((col("nr") - 1L) * (col("nc") - 1L)).as("dof"),
        round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") /
          (col("n").cast("double") *
            least(col("nr") - 1L, col("nc") - 1L).cast("double"))), 4)
          .as("cramers_v"))
  }

  /** E8 — MUTUAL INFORMATION I(source; lang) in nats, with both marginal
    * entropies and the normalized coefficient — the information-theoretic
    * face of e8_chi2's same contingency table (χ² asks "is there ANY
    * dependence?"; MI says HOW MANY BITS of a document's language its
    * source identity carries — the number a mixture designer reads to
    * know whether balancing sources also balances languages for free).
    * Determinism follows the e8_chi2 contract exactly: every cell term
    * is computed from exact integer (o, rs, cs, n) through the identical
    * double expression (one ln per cell — the e8_heaps/e8_tail_index ln
    * precedent), zero cells contribute exactly 0 (filtered, the
    * 0·ln 0 = 0 convention), the ≤ |sources|·|langs| terms fold like
    * χ²'s, and everything rounds at 4 dp. Plan at 100 TB: identical to
    * e8_chi2 — one (source, lang) aggregate partial-combines map-side;
    * marginals and the fold run on the bounded table. */
  def e8MutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rs = cells.groupBy("source").agg(sum(col("o")).as("rs"))
    val cs = cells.groupBy("lang").agg(sum(col("o")).as("cs"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("source")).as("nr"),
      countDistinct(col("lang")).as("nc"))
    val mi = cells.join(rs, "source").join(broadcast(cs), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("t",
        expr("""(CAST(o AS DOUBLE) / n) *
                ln(CAST(o AS DOUBLE) * n / (CAST(rs AS DOUBLE) * cs))"""))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("t")).as("mi"))
    def entropy(m: DataFrame, c: String): DataFrame =
      m.crossJoin(broadcast(tot.select("n")))
        .withColumn("h",
          expr(s"-(CAST($c AS DOUBLE) / n) * ln(CAST($c AS DOUBLE) / n)"))
        .agg(sum(col("h")).as(s"h_$c"))
    mi.crossJoin(broadcast(entropy(rs, "rs")))
      .crossJoin(broadcast(entropy(cs, "cs")))
      .select(col("n").as("n_docs"), col("nr").as("n_sources"),
        col("nc").as("n_langs"), round(col("mi"), 4).as("mi_nats"),
        round(col("h_rs"), 4).as("h_source"),
        round(col("h_cs"), 4).as("h_lang"),
        round(col("mi") / least(col("h_rs"), col("h_cs")), 4).as("nmi"))
  }

  /** Tail-sample size for the Hill estimator — interpolated into BOTH
    * engines. 20 keeps the order statistic inside every fixture source
    * at sf0.001 (each source holds ≥ 21 docs at the smallest scale). */
  val TailM = 20

  /** E8 — per-source HILL TAIL-INDEX of the document token-length
    * distribution: α̂ = m / Σᵢ₌₁..ₘ ln(xᵢ/xₘ₊₁) over the m largest
    * documents — the heavy-tail EXPONENT that e8_gini's single
    * inequality number cannot give: Gini says "a few huge docs dominate",
    * Hill says HOW heavy the tail is (α ≤ 2: infinite variance — token
    * budgets and pack-bin estimates computed from mean doc length are
    * meaningless; α large: exponential-ish tail, per-doc planning is
    * safe). The estimator every web-scale corpus audit runs before
    * believing a mean. Exactness: the top-(m+1) order statistic is
    * pinned by the (tk DESC, doc_id) total order; the only float work is
    * m+1 ln() calls and one division, 4-dp rounded (the e8_zipf ln
    * contract); a fully-tied tail (denominator exactly 0 — m sequential
    * IEEE adds of the same constant in both engines) emits NULL rather
    * than ±inf. Plan at 100 TB: the per-source top-(m+1) runs as a
    * partition-parallel rank window over (source, tk, doc_id) triples —
    * narrow rows, combiner-unfriendly but tiny; at extreme per-source
    * cardinality swap the window for a two-stage per-partition top-k
    * merge (the TakeOrdered discipline, per group). Everything after the
    * rank filter touches ≤ (m+1)·|sources| rows. */
  def e8TailIndex(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("tk").desc, col("doc_id"))
    documents(s, d)
      .select(col("source"), col("doc_id"),
        asLong(size(split(col("text"), " "))).as("tk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TailM + 1)
      .groupBy("source")
      .agg(sum(when(col("rn") <= TailM, log(col("tk").cast("double"))))
          .as("sl"),
        max(when(col("rn") === TailM + 1, col("tk"))).as("x_k"),
        count(lit(1)).as("n_tail"))
      .filter(col("x_k").isNotNull)
      .withColumn("den",
        col("sl") - lit(TailM.toDouble) * log(col("x_k").cast("double")))
      .select(col("source"), lit(TailM.toLong).as("m"), col("x_k"),
        when(col("den") > 0.0,
          round(lit(TailM.toDouble) / col("den"), 4)).as("hill_alpha"))
      .orderBy("source")
  }

  /** Degree thresholds for the rich-club curve — interpolated into BOTH
    * engines. */
  val RichClubKs: Seq[Int] = Seq(1, 2, 3, 4)

  /** E9 — RICH-CLUB coefficient curve over the near-dup pair graph:
    * φ(k) = 2·E₍₎ₖ / (Nₖ(Nₖ−1)) where Nₖ counts nodes of degree > k and
    * E₍₎ₖ the edges with BOTH endpoints above k — "do the most-duplicated
    * documents duplicate EACH OTHER?" A rising φ(k) is the template-farm
    * signature (hub docs forming a near-clique — one boilerplate family),
    * flat φ is diffuse duplication; e9_degrees gives the degree
    * distribution, this gives its CORRELATION structure (the same reason
    * e9_assortativity exists, but thresholded to the tail where cleanup
    * decisions actually bind). ALL-INTEGER: counts and one basis-point
    * integer division per k; zero/one-node clubs emit φ = 0. Plan at
    * 100 TB: degrees and the min-endpoint-degree edge table are
    * pair-table-sized; the fixed k list cross-joins as a 4-row broadcast
    * and each (k, ·) aggregate partial-combines map-side — nothing
    * larger than the pair table ever shuffles. */
  def e9RichClub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashPairTable(s, d).select(col("da"), col("db"))
    val deg = pairs.select(col("da").as("id"))
      .unionByName(pairs.select(col("db").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val pe = pairs
      .join(deg.select(col("id").as("da"), col("deg").as("dega")), "da")
      .join(deg.select(col("id").as("db"), col("deg").as("degb")), "db")
      .select(least(col("dega"), col("degb")).as("mindeg"))
    // the hint rides only the two inner non-equi joins; Spark drops a
    // broadcast hint on the preserved (left) side of a left outer join,
    // so the left joins start from the unhinted k list
    val kl = RichClubKs.map(_.toLong).toDF("k")
    val ks = broadcast(kl)
    val nk = ks.join(deg, col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = ks.join(pe, col("mindeg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    kl.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_bp",
        when(col("n_nodes") >= 2L,
          expr("n_edges * 20000 div (n_nodes * (n_nodes - 1))"))
          .otherwise(lit(0L)))
      .orderBy("k")
  }

  /** Personalized-PageRank seed count and salt — interpolated into BOTH
    * engines. */
  val PprSeeds = 4
  val PprSalt = 0x5f27c93ab1e6d840L

  /** E9 — PERSONALIZED PageRank from a fixed seed set: restart mass
    * concentrates on PprSeeds splitmix64-selected graph vertices instead
    * of the uniform vector, so the scores answer "which documents are
    * structurally CLOSE to these seeds through the duplication graph" —
    * the graph-retrieval primitive behind seed-expansion curation (grow
    * a labeled contamination/template family along near-dup edges; the
    * local-community view that global e9_pagerank flattens). Same
    * damping, iteration count, and edge-sized round as e9_pagerank
    * (shared prGraph; rounds differ only in the restart vector — a
    * broadcast |S|-row join replaces the 1-row uniform base). Seeds are
    * pinned by (mix64(id ^ salt), id) rank over the VERTEX set, so both
    * engines pick identical seeds with no driver round-trip; scores are
    * 6-dp rounded doubles (the e9_pagerank float contract: per-vertex
    * sums bounded by degree). Fewer than PprSeeds vertices would carry
    * reduced restart mass; the pair graph exceeds the seed count at
    * every fixture scale. Plan at 100 TB: identical to e9_pagerank (its
    * prContrib is the round's contribution step) — one edge-sized
    * shuffle per round, checkpointed edges, degrees and the seed vector
    * broadcast, all rounds one lazy plan. */
  def e9Ppr(s: SparkSession, d: String): DataFrame = {
    val g = prGraph(Dedup.minhashPairTable(s, d))
    val seeds = g.verts
      .select(col("id"), org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("id").bitwiseXOR(lit(PprSalt))).as("m"))
      .orderBy("m", "id").limit(PprSeeds).select("id")
    val sv = g.verts
      .join(broadcast(seeds.withColumn("seed", lit(1L))), Seq("id"), "left")
      .select(col("id"),
        when(col("seed").isNotNull, lit(1.0) / PprSeeds)
          .otherwise(lit(0.0)).as("sv"))
      .localCheckpoint(true)
    var r = sv.select(col("id"), col("sv").as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = prContrib(g, r)
      r = sv.join(contrib, sv("id") === contrib("dst"), "left")
        .select(sv("id"),
          (lit(PrBase) * col("sv") +
            lit(PrDamping) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    r.join(sv.select(col("id"), (col("sv") > 0.0).as("is_seed")), "id")
      .select(col("id").as("doc_id"), round(col("r"), 6).as("pprank"),
        col("is_seed"))
      .orderBy("doc_id")
  }

  /** E8 — per-DIMENSION embedding feature-health profile: for each of
    * the 64 coordinates, the corpus mean, variance, and exact micro-unit
    * range — the isotropy/dead-feature table read next to e2_top_pc's λ
    * (λ says ONE direction dominates; this says WHICH raw coordinates
    * are degenerate: near-zero variance = dead feature, outsized
    * variance or shifted mean = the rogue dimension that dominates
    * unnormalized distance). Exactness: mean and mean-of-squares use
    * the exact integer half-up microMean identity over scan-side
    * micro-quantized values (order-independent long sums; the
    * e2_centroids discipline), min/max are exact micro-unit integers,
    * and the variance closes over the two identical 4-dp doubles with
    * one final 4-dp round. Plan at 100 TB: one posexplode scan
    * partial-combines to 64 keys map-side — only 64 fixed-size rows
    * ever cross the wire. */
  def e8DimStats(s: SparkSession, d: String): DataFrame = {
    def halfUp(sumExpr: String): String =
      s"""CAST((2 * CAST($sumExpr AS BIGINT) + count(1) * 20000100)
         |  div (200 * count(1)) - 100000 AS DOUBLE) / 10000.0""".stripMargin
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).cast("long").as("dim"),
        col("x").cast("double").as("xd"))
      .withColumn("mic", floor(col("xd") * 1000000.0 + 0.5).cast("long"))
      .withColumn("micsq",
        floor(col("xd") * col("xd") * 1000000.0 + 0.5).cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        expr(halfUp("sum(mic)")).as("mean"),
        expr(halfUp("sum(micsq)")).as("m2"),
        min(col("mic")).as("min_micro"), max(col("mic")).as("max_micro"))
      .select(col("dim"), col("n"), col("mean"),
        round(col("m2") - col("mean") * col("mean"), 4).as("variance"),
        col("min_micro"), col("max_micro"))
      .orderBy("dim")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e8_dim_stats" -> (e8DimStats _),
    "e9_ppr" -> (e9Ppr _),
    "e8_jsd" -> (e8Jsd _),
    "e8_chi2" -> (e8Chi2 _),
    "e8_tail_index" -> (e8TailIndex _),
    "e9_rich_club" -> (e9RichClub _),
    "e8_centroid_shift" -> (e8CentroidShift _),
    "e8_source_divergence" -> (e8SourceDivergence _),
    "e8_kanon" -> (e8Kanon _),
    "e8_bootstrap" -> (e8Bootstrap _),
    "e8_concentration" -> (e8Concentration _),
    "e8_seasonality" -> (e8Seasonality _),
    "e8_corr" -> (e8Corr _),
    "e8_transitions" -> (e8Transitions _),
    "e8_cusum" -> (e8Cusum _),
    "e8_freshness" -> (e8Freshness _),
    "e8_autocorr" -> (e8Autocorr _),
    "e8_burstiness" -> (e8Burstiness _),
    "e8_moments" -> (e8Moments _),
    "e8_benford" -> (e8Benford _),
    "e9_pagerank" -> (e9Pagerank _),
    "e9_label_prop" -> (e9LabelProp _),
    "e9_modularity" -> (e9Modularity _),
    "e9_degrees" -> (e9Degrees _),
    "e9_kcore" -> (e9Kcore _),
    "e9_triangles" -> (e9Triangles _),
    "e9_link_pred" -> (e9LinkPred _),
    "e9_hits" -> (e9Hits _),
    "e9_bfs" -> (e9Bfs _),
    "e9_effective_diameter" -> (e9EffectiveDiameter _),
    "e9_closeness" -> (e9Closeness _),
    "e8_mutual_info" -> (e8MutualInfo _),
    "e9_assortativity" -> (e9Assortativity _),
    "e9_local_clustering" -> (e9LocalClustering _),
    "e9_conductance" -> (e9Conductance _),
    "e8_gini" -> (e8Gini _),
    "e8_drift" -> (e8Drift _),
    "e8_ks_drift" -> (e8KsDrift _),
    "e8_embed_drift" -> (e8EmbedDrift _),
    "e8_quality_drift" -> (e8QualityDrift _),
    "e8_profile" -> (e8Profile _),
    "e8_outliers" -> (e8Outliers _),
    "e8_mad_outliers" -> (e8MadOutliers _),
    "e8_zipf" -> (e8Zipf _),
    "e8_heaps" -> (e8Heaps _),
    "e8_dup_ngrams" -> (e8DupNgrams _),
    "e8_collocations" -> (e8Collocations _),
    "e8_diversity" -> (e8Diversity _),
    "e8_decay" -> (e8Decay _),
  )

  /** Label-propagation CTE chain (after minhashCtes): undirected edges,
    * identity labels, LpIters synchronous mode-adoption rounds ending in
    * CTE `l$LpIters` (v, lab). MATERIALIZED so DuckDB doesn't inline the
    * MinHash chain once per reference (the e9_pagerank treatment). */
  private val lpCtes: String = {
    val base =
      """e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
        |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lab FROM e)""".stripMargin
    val iters = (1 to LpIters).map { k =>
      s"""m$k AS MATERIALIZED (SELECT e.src, l.lab, count(*) AS c
         |  FROM e JOIN l${k - 1} l ON e.dst = l.v GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT src AS v, lab FROM (
         |  SELECT src, lab, row_number() OVER (PARTITION BY src
         |    ORDER BY c DESC, lab) AS rn FROM m$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters"
  }

  /** The e8_quality_drift CTE chain (requires `slots` from
    * Sampling.slotCtes(ReleaseSalt) in the same WITH; ends in CTE `qdr`:
    * source, n_v1, n_v2, ks_num, ks_bp). Shared verbatim with the
    * e7_release_gate oracle so the gate can never drift from the
    * monitor it composes. */
  private[ops] lazy val qualityDriftChain: String =
    """qd AS (SELECT d.source,
      |  CASE WHEN sl.slot < 90 THEN 1 ELSE 0 END AS isv1,
      |  CAST(round(round(least(1.0,
      |      len(string_split(d.text, ' ')) / 100.0) *
      |      (1.0 - len(list_filter(string_split(d.text, ' '),
      |        t -> t IN ('the','a','of','and','to'))) /
      |        CAST(len(string_split(d.text, ' ')) AS DOUBLE)), 4)
      |    * 10000) AS BIGINT) AS m4
      |  FROM documents d JOIN slots sl ON d.doc_id = sl.doc_id),
      |h AS (SELECT source, m4, sum(isv1) AS ra, sum(1 - isv1) AS ca
      |  FROM qd GROUP BY 1, 2),
      |c AS (SELECT source, m4, ra, ca,
      |  sum(ra) OVER (PARTITION BY source ORDER BY m4) AS ri,
      |  sum(ca) OVER (PARTITION BY source ORDER BY m4) AS ci,
      |  sum(ra) OVER (PARTITION BY source) AS nr,
      |  sum(ca) OVER (PARTITION BY source) AS nc FROM h),
      |qdr AS (SELECT source, CAST(max(nr) AS BIGINT) AS n_v1,
      |  CAST(max(nc) AS BIGINT) AS n_v2,
      |  CAST(max(abs(ri * nc - ci * nr)) AS BIGINT) AS ks_num,
      |  CAST(max(abs(ri * nc - ci * nr)) AS BIGINT) * 10000
      |    // (CAST(max(nr) AS BIGINT) * CAST(max(nc) AS BIGINT))
      |    AS ks_bp
      |FROM c GROUP BY source
      |HAVING max(nr) > 0 AND max(nc) > 0)""".stripMargin

  /** The e8_source_divergence CTE chain (self-contained; ends in CTE
    * `sdr`: source, n_tokens, vocab, tvd). Shared verbatim with the
    * e7_release_gate oracle. */
  private[ops] lazy val sourceDivergenceChain: String =
    """tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |st AS (SELECT source, t, count(*) AS cs FROM tok GROUP BY source, t),
      |ct AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
      |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_s,
      |  count(*) AS vocab FROM st GROUP BY source),
      |ntt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
      |pr AS (SELECT st.source, ns.n_s, ns.vocab, ntt.n,
      |  CAST(sum(abs(st.cs * ntt.n - ct.c * ns.n_s)) AS BIGINT) AS psum,
      |  CAST(sum(ct.c) AS BIGINT) AS pc
      |  FROM st JOIN ct USING (t) JOIN ns USING (source), ntt
      |  GROUP BY st.source, ns.n_s, ns.vocab, ntt.n),
      |sdr AS (SELECT source, n_s AS n_tokens, vocab,
      |  round((psum + n_s * (n - pc)) /
      |    (CAST(2 AS DOUBLE) * n_s * n), 4) AS tvd
      |FROM pr)""".stripMargin

  /** The per-seed unrolled BFS CTE chain (requires Dedup.minhashCtes'
    * `mhp` in the same WITH; ends at `efd_d$BfsRounds`: sd, v, dist) —
    * the oracle twin of [[perSeedBfsDist]], shared by the
    * effective-diameter and closeness oracles. lazy: referenced by the
    * `oracles` map literal. */
  private lazy val perSeedBfsCtes: String = {
    val base =
      s"""efd_e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
         |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
         |efd_deg AS (SELECT src, count(*) AS dg FROM efd_e GROUP BY src),
         |efd_seeds AS MATERIALIZED (SELECT src AS sd FROM efd_deg
         |  ORDER BY dg DESC, src LIMIT $BfsSeeds),
         |efd_d0 AS MATERIALIZED (SELECT sd, sd AS v, 0 AS dist
         |  FROM efd_seeds)""".stripMargin
    val iters = (1 to BfsRounds).map { k =>
      s"""efd_f$k AS MATERIALIZED (SELECT DISTINCT f.sd, e.dst AS v
         |  FROM efd_e e JOIN efd_d${k - 1} f
         |    ON e.src = f.v AND f.dist = ${k - 1}
         |  LEFT JOIN efd_d${k - 1} p ON f.sd = p.sd AND e.dst = p.v
         |  WHERE p.v IS NULL),
         |efd_d$k AS MATERIALIZED (SELECT sd, v, dist FROM efd_d${k - 1}
         |  UNION ALL SELECT sd, v, $k AS dist FROM efd_f$k)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters"
  }

  val oracles: Map[String, String] = Map(
    // complete sources×langs cross join (observed-zero cells included);
    // per-cell algebraic term in DOUBLE with the same op order as the
    // Spark side, 4-dp rounded fold (see e8Chi2 Scaladoc)
    "e8_chi2" ->
      """WITH cells AS (SELECT source, lang, count(*) AS o FROM documents
        |  GROUP BY 1, 2),
        |mrow AS (SELECT source, sum(o) AS rs FROM cells GROUP BY 1),
        |mcol AS (SELECT lang, sum(o) AS cs FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT source) AS BIGINT) AS nr,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS nc FROM cells),
        |fcell AS (SELECT mrow.source, mcol.lang, rs, cs,
        |    coalesce(o, 0) AS o
        |  FROM mrow CROSS JOIN mcol
        |  LEFT JOIN cells ON cells.source = mrow.source
        |    AND cells.lang = mcol.lang),
        |terms AS (SELECT
        |  pow(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE), 2)
        |    / (CAST(n AS DOUBLE) * CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE))
        |    AS t, n, nr, nc
        |  FROM fcell CROSS JOIN tot)
        |SELECT n AS n_docs, nr AS n_sources, nc AS n_langs,
        |  (nr - 1) * (nc - 1) AS dof,
        |  round(sum(t), 4) AS chi2,
        |  round(sqrt(sum(t) / (CAST(n AS DOUBLE)
        |    * CAST(least(nr - 1, nc - 1) AS DOUBLE))), 4) AS cramers_v
        |FROM terms GROUP BY n, nr, nc""".stripMargin,
    // per-source top-(m+1) order statistic pinned by (tk DESC, doc_id);
    // ln + one division, 4-dp rounded; fully-tied tail emits NULL
    // (see e8TailIndex Scaladoc)
    "e8_tail_index" ->
      s"""WITH lt AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
         |  FROM documents),
         |rk AS (SELECT source, tk,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY tk DESC, doc_id) AS rn
         |  FROM lt),
         |top AS (SELECT source,
         |    sum(CASE WHEN rn <= $TailM THEN ln(CAST(tk AS DOUBLE)) END)
         |      AS sl,
         |    max(CASE WHEN rn = $TailM + 1 THEN tk END) AS x_k
         |  FROM rk WHERE rn <= $TailM + 1 GROUP BY source)
         |SELECT source, CAST($TailM AS BIGINT) AS m, x_k,
         |  CASE WHEN sl - $TailM * ln(CAST(x_k AS DOUBLE)) > 0
         |    THEN round($TailM / (sl - $TailM * ln(CAST(x_k AS DOUBLE))), 4)
         |  END AS hill_alpha
         |FROM top WHERE x_k IS NOT NULL ORDER BY source""".stripMargin,
    // rich-club curve off the pair graph: degrees + min-endpoint-degree
    // edges, fixed k list, all-integer bp division (see e9RichClub)
    "e9_rich_club" -> {
      val kList = RichClubKs.map(k => s"CAST($k AS BIGINT)").mkString(", ")
      s"""WITH ${Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |rc_deg AS (SELECT id, count(*) AS deg FROM (
         |    SELECT da AS id FROM mhp2 UNION ALL SELECT db FROM mhp2)
         |  GROUP BY 1),
         |rc_pe AS (SELECT least(d1.deg, d2.deg) AS mindeg
         |  FROM mhp2 JOIN rc_deg d1 ON mhp2.da = d1.id
         |  JOIN rc_deg d2 ON mhp2.db = d2.id),
         |rc_ks AS (SELECT unnest([$kList]) AS k),
         |rc_nk AS (SELECT k, count(*) AS n_nodes FROM rc_ks
         |  JOIN rc_deg ON rc_deg.deg > k GROUP BY k),
         |rc_ek AS (SELECT k, count(*) AS n_edges FROM rc_ks
         |  JOIN rc_pe ON rc_pe.mindeg > k GROUP BY k)
         |SELECT rc_ks.k, coalesce(n_nodes, 0) AS n_nodes,
         |  coalesce(n_edges, 0) AS n_edges,
         |  CASE WHEN coalesce(n_nodes, 0) >= 2
         |    THEN coalesce(n_edges, 0) * 20000 // (n_nodes * (n_nodes - 1))
         |    ELSE 0 END AS phi_bp
         |FROM rc_ks LEFT JOIN rc_nk USING (k) LEFT JOIN rc_ek USING (k)
         |ORDER BY k""".stripMargin
    },
    // cross-multiplied integer centroid-shift identity over micro-
    // quantized coordinates; one final integer->double division per
    // label (see e8CentroidShift Scaladoc); same ReleaseSalt gate as
    // e7_dataset_diff
    "e8_centroid_shift" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(graft.ops.Curation.ReleaseSalt)
      s"""WITH cs_in AS (SELECT CAST(label AS INT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS e,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
         |  FROM embeddings),
         |${mixCtes("cs", "q0", "qm", Seq("label", "e"))},
         |gate AS (SELECT label, e,
         |  CASE WHEN (qm % CAST(power(2, 63) AS HUGEINT)) % 100 < 90
         |    THEN 1 ELSE 0 END AS inv1 FROM cs),
         |px AS (SELECT label, inv1, i.range AS dim,
         |  CAST(floor(e[CAST(i.range + 1 AS INT)] * 1000000.0 + 0.5)
         |    AS BIGINT) AS mic
         |  FROM gate, range(0, 64) i),
         |ag AS (SELECT label, dim,
         |  sum(CASE WHEN inv1 = 1 THEN mic ELSE 0 END) AS m1,
         |  sum(inv1) AS c1,
         |  sum(CASE WHEN inv1 = 0 THEN mic ELSE 0 END) AS m2,
         |  sum(1 - inv1) AS c2
         |  FROM px GROUP BY 1, 2)
         |SELECT label, CAST(max(c1) AS BIGINT) AS n_v1,
         |  CAST(max(c2) AS BIGINT) AS n_v2,
         |  round(CAST(sum(abs(m1 * c2 - m2 * c1)) AS DOUBLE) /
         |    CAST(CAST(max(c1) AS BIGINT) * CAST(max(c2) AS BIGINT)
         |      AS DOUBLE), 4) AS l1_shift_micro,
         |  round(CAST(max(abs(m1 * c2 - m2 * c1)) AS DOUBLE) /
         |    CAST(CAST(max(c1) AS BIGINT) * CAST(max(c2) AS BIGINT)
         |      AS DOUBLE), 4) AS linf_shift_micro
         |FROM ag GROUP BY label
         |HAVING max(c1) > 0 AND max(c2) > 0
         |ORDER BY label""".stripMargin
    },
    // sparse-TVD identity in exact integer arithmetic; one final
    // integer->double division (see e8SourceDivergence Scaladoc). Chain
    // shared verbatim with the e7_release_gate oracle.
    "e8_source_divergence" ->
      s"""WITH $sourceDivergenceChain
         |SELECT source, n_tokens, vocab, tvd
         |FROM sdr ORDER BY source""".stripMargin,
    // source-vs-rest JSD over the source's own vocabulary rows with the
    // absent-token mass folded analytically (see e8Jsd Scaladoc); term
    // expressions in the same operation order as the Spark side
    "e8_jsd" ->
      """WITH jt AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |jst AS (SELECT source, t, count(*) AS cs FROM jt GROUP BY 1, 2),
        |jct AS (SELECT t, count(*) AS c FROM jt GROUP BY 1),
        |jns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_s,
        |    CAST(count(*) AS BIGINT) AS vocab
        |  FROM jst GROUP BY 1),
        |jnt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM jct),
        |jterm AS (SELECT jst.source, n_s, vocab,
        |    CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
        |    CAST(c - cs AS DOUBLE) / CAST(n - n_s AS DOUBLE) AS q
        |  FROM jst JOIN jct USING (t)
        |  JOIN jns ON jst.source = jns.source CROSS JOIN jnt),
        |jfold AS (SELECT source, n_s, vocab,
        |    sum(p * ln(2.0 * p / (p + q)) +
        |      CASE WHEN q > 0 THEN q * ln(2.0 * q / (p + q))
        |        ELSE 0 END) AS tsum,
        |    sum(q) AS qsum
        |  FROM jterm GROUP BY 1, 2, 3)
        |SELECT source, n_s AS n_tokens, vocab,
        |  round((tsum + ln(2.0) * (1.0 - qsum)) / 2.0, 4) AS jsd
        |FROM jfold ORDER BY source""".stripMargin,
    "e8_kanon" ->
      s"""WITH q AS (SELECT lang, source, n_chars // 200 AS len_bucket,
         |    count(*) AS g
         |  FROM documents GROUP BY 1, 2, 3),
         |h AS (SELECT g, CAST(count(*) AS BIGINT) AS n_groups,
         |    CAST(sum(g) AS BIGINT) AS n_docs FROM q GROUP BY g)
         |SELECT CAST(g AS BIGINT) AS g, n_groups, n_docs,
         |  g < $KanonK AS risky FROM h ORDER BY g""".stripMargin,
    "e8_bootstrap" -> {
      import OracleSql._
      val cases = BootCdf53.zipWithIndex
        .map { case (t, k) => s"WHEN u53 < $t THEN $k" }.mkString("\n|  ")
      s"""WITH dd AS (SELECT doc_id, len(string_split(text, ' ')) AS nt
         |  FROM documents),
         |b0 AS (SELECT doc_id, nt, r.range AS r FROM dd, range(0, $BootB) r),
         |bm_in AS (SELECT nt, r,
         |  xor(CAST(doc_id * $BootB + r AS HUGEINT),
         |      CAST('5883867397891559045' AS HUGEINT)) AS v FROM b0),
         |${mixCtes("bm", "v", "m", Seq("nt", "r"))},
         |bw AS (SELECT nt, r, CASE $cases ELSE 9 END AS w FROM
         |  (SELECT nt, r, m // 2048 AS u53 FROM bm)),
         |ag AS (SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
         |    CAST(sum(w * nt) AS BIGINT) AS swnt FROM bw GROUP BY r)
         |SELECT CAST(r AS BIGINT) AS r, n_eff,
         |  CASE WHEN n_eff > 0 THEN round(swnt / CAST(n_eff AS DOUBLE), 4)
         |  END AS mean_tokens
         |FROM ag ORDER BY r""".stripMargin
    },
    "e8_concentration" ->
      """WITH t AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tk
        |  FROM documents GROUP BY source),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(sum(tk) AS BIGINT) AS total_tokens FROM t),
        |sp AS (SELECT source,
        |    CAST((1000000 * tk) // total_tokens AS BIGINT) AS ppm
        |  FROM t CROSS JOIN g),
        |top AS (SELECT source AS top_source, ppm AS top_share_ppm FROM sp
        |  ORDER BY ppm DESC, source LIMIT 1),
        |h AS (SELECT CAST(sum(ppm * ppm) AS BIGINT) AS hhi FROM sp)
        |SELECT n_sources, total_tokens, top_source, top_share_ppm, hhi,
        |  round(1000000000000.0 / hhi, 2) AS effective_sources
        |FROM g CROSS JOIN top CROSS JOIN h""".stripMargin,
    "e8_seasonality" ->
      """WITH c AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd,
        |    CAST(hour(ts) AS BIGINT) AS hr,
        |    count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT sum(n_events) AS tot FROM c)
        |SELECT wd, hr, n_events, n_users,
        |  CAST((1000000 * n_events) // tot AS BIGINT) AS ppm
        |FROM c CROSS JOIN t ORDER BY wd, hr""".stripMargin,
    "e8_benford" ->
      """WITH dg AS (SELECT CAST(left(CAST(CAST(round(o_totalprice * 100)
        |    AS BIGINT) AS VARCHAR), 1) AS BIGINT) AS digit FROM orders),
        |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT digit, n,
        |  round(n / CAST(t AS DOUBLE), 4) AS share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4) AS benford,
        |  round(n / CAST(t AS DOUBLE)
        |    - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4) AS dev
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // integer daily counts; the quadratic form n·Σc² − (Σc)² folds
    // exact-wide in BOTH engines — DECIMAL(38,0) Spark-side, HUGEINT
    // (exact int128, same value domain at these magnitudes) DuckDB-side
    // (the e8_gini/e8_moments widening rule — (Σc)² wraps a BIGINT past
    // ~3e9 events/type); one double division rounds at 4 dp
    "e8_burstiness" ->
      """WITH bday AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(max(c) AS BIGINT) AS peak_day,
        |  CAST(min(c) AS BIGINT) AS trough_day,
        |  round(CAST(sum(c) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
        |    AS mean_per_day,
        |  round(CAST(CAST(count(*) AS HUGEINT)
        |        * sum(CAST(c AS HUGEINT) * c)
        |      - CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS BIGINT)
        |      AS DOUBLE)
        |    / CAST(count(*) * CAST(sum(c) AS BIGINT) AS DOUBLE), 4) AS fano
        |FROM bday GROUP BY event_type ORDER BY event_type""".stripMargin,
    // centered powers in DECIMAL(38,0) about the integer-micro mean
    // (positive values: // and div agree); final ratios use only
    // correctly-rounded IEEE ops (no pow), identical text both engines
    "e8_moments" ->
      """WITH mv AS (SELECT event_type,
        |    CAST(round(value * 10000) AS BIGINT) AS mi FROM events),
        |ms AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(mi) AS BIGINT) AS s1 FROM mv GROUP BY 1),
        |mm AS (SELECT event_type, n, s1, s1 // n AS mu FROM ms),
        |md AS (SELECT mv.event_type, mm.n, mm.s1,
        |    CAST(mv.mi - mm.mu AS DECIMAL(38,0)) AS dd
        |  FROM mv JOIN mm USING (event_type)),
        |mf AS (SELECT event_type, min(n) AS n, min(s1) AS s1,
        |    sum(dd * dd) AS s2, sum(dd * dd * dd) AS s3,
        |    sum(dd * dd * dd * dd) AS s4
        |  FROM md GROUP BY event_type)
        |SELECT event_type, n,
        |  round(CAST(s1 AS DOUBLE) / (n * 10000.0), 4) AS mean,
        |  round(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0, 4)
        |    AS sd,
        |  CASE WHEN s2 = 0 THEN 0.0 ELSE
        |    round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))), 4)
        |    END AS skew,
        |  CASE WHEN s2 = 0 THEN 0.0 ELSE
        |    round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0, 4)
        |    END AS kurtosis
        |FROM mf ORDER BY event_type""".stripMargin,
    "e8_autocorr" ->
      // n·x_t − S keeps the centered terms exact longs; one double
      // division per lag at the very end (same micro-unit discipline as
      // e8_cusum, pushed through the quadratic form)
      s"""WITH daily AS (SELECT event_type,
         |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  CAST(round(sum(CAST(round(value * 10000) AS BIGINT))
         |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, day,
         |  x * (count(*) OVER (PARTITION BY event_type))
         |    - (sum(x) OVER (PARTITION BY event_type)) AS c FROM daily),
         |l AS (SELECT event_type, c,
         |  ${AcfLags.map(k =>
             s"lead(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS c$k")
             .mkString(",\n  ")}
         |  FROM b)
         |SELECT event_type, count(*) AS n_days,
         |  ${AcfLags.map(k =>
             s"round(sum(c * c$k) / CAST(sum(c * c) AS DOUBLE), 4) + 0.0 AS r$k")
             .mkString(",\n  ")}
         |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e8_cusum" ->
      """WITH daily AS (SELECT event_type,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(round(sum(CAST(round(value * 10000) AS BIGINT))
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS dmu
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT *, CAST(round(avg(dmu)
        |  OVER (PARTITION BY event_type)) AS BIGINT) AS bu FROM daily),
        |c AS (SELECT *, sum(dmu - bu) OVER (PARTITION BY event_type
        |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS cu FROM b)
        |SELECT event_type, day,
        |  round(CAST(dmu AS DOUBLE) / 10000.0, 4) AS daily_mean,
        |  round(CAST(cu AS DOUBLE) / 10000.0, 4) AS cusum
        |FROM c ORDER BY event_type, day""".stripMargin,
    "e8_transitions" ->
      """WITH steps AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, count(*) AS n FROM steps
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4)
        |    AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    "e9_degrees" -> {
      // mhp2/w materialized for the same inlining reason as e9_pagerank
      s"""WITH ${Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |ids AS (SELECT da AS id FROM mhp2 UNION ALL SELECT db FROM mhp2),
         |deg AS (SELECT id, count(*) AS degree FROM ids GROUP BY 1)
         |SELECT degree, count(*) AS n_docs FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin
    },
    "e9_kcore" -> {
      // three unrolled peel rounds (the e9_pagerank treatment); every
      // e$i is referenced by the next round's degree count (twice via
      // UNION ALL) and both IN-filters → MATERIALIZED
      val rounds = (1 to KcorePeels).map { i =>
        s"""d$i AS (SELECT v, count(*) AS dg FROM (
           |    SELECT da AS v FROM e${i - 1} UNION ALL SELECT db FROM e${i - 1})
           |  GROUP BY v),
           |k$i AS (SELECT v FROM d$i WHERE dg >= $KcoreK),
           |e$i AS MATERIALIZED (SELECT da, db FROM e${i - 1}
           |  WHERE da IN (SELECT v FROM k$i) AND db IN (SELECT v FROM k$i))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashCtes},
         |e0 AS MATERIALIZED (SELECT da, db FROM mhp),
         |$rounds
         |SELECT v AS doc_id, count(*) AS degree FROM (
         |  SELECT da AS v FROM e$KcorePeels
         |  UNION ALL SELECT db FROM e$KcorePeels)
         |GROUP BY v ORDER BY doc_id""".stripMargin
    },
    "e9_triangles" -> {
      s"""WITH ${Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |w AS MATERIALIZED (SELECT e1.da AS a, e1.db AS b, e2.db AS c
         |  FROM mhp2 e1 JOIN mhp2 e2 ON e1.db = e2.da),
         |t AS (SELECT count(*) AS n_triangles FROM w
         |  JOIN mhp2 e3 ON w.a = e3.da AND w.c = e3.db),
         |nw AS (SELECT count(*) AS n_wedges FROM w)
         |SELECT n_triangles, n_wedges,
         |  round(n_triangles / CAST(n_wedges AS DOUBLE), 4) AS closure
         |FROM t CROSS JOIN nw""".stripMargin
    },
    "e9_label_prop" ->
      s"""WITH ${Dedup.minhashCtes},
         |$lpCtes
         |SELECT v AS doc_id, lab AS community
         |FROM l$LpIters ORDER BY doc_id""".stripMargin,
    // common-neighbor Jaccard over the pair graph; adjacency anti-joined
    // out so the union identity deg_a + deg_b - common is exact
    "e9_link_pred" ->
      s"""WITH ${Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp2
         |  UNION ALL SELECT db, da FROM mhp2),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |cn AS (SELECT e1.src AS doc_a, e2.dst AS doc_b, count(*) AS common
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src < e2.dst
         |  GROUP BY 1, 2),
         |lp_cand AS (SELECT cn.* FROM cn
         |  LEFT JOIN mhp2 m ON cn.doc_a = m.da AND cn.doc_b = m.db
         |  WHERE m.da IS NULL)
         |SELECT doc_a, doc_b, common, d1.deg AS deg_a, d2.deg AS deg_b,
         |  round(common / CAST(d1.deg + d2.deg - common AS DOUBLE), 4)
         |    AS jaccard
         |FROM lp_cand JOIN deg d1 ON doc_a = d1.id JOIN deg d2 ON doc_b = d2.id
         |ORDER BY jaccard DESC, common DESC, doc_a, doc_b
         |LIMIT $LinkPredK""".stripMargin,
    "e9_modularity" ->
      // mhp is referenced 4× (mm, deg twice via UNION ALL, intra) and
      // l$LpIters 3× — both AS MATERIALIZED snapshots (mhp2/lab2) so
      // DuckDB runs the MinHash chain and the propagation loop ONCE
      // instead of inlining them per reference (the e9_pagerank rule).
      s"""WITH ${Dedup.minhashCtes},
         |$lpCtes,
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |lab2 AS MATERIALIZED (SELECT v, lab FROM l$LpIters),
         |mm AS (SELECT count(*) AS m FROM mhp2),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
         |    SELECT da AS v FROM mhp2 UNION ALL SELECT db FROM mhp2)
         |  GROUP BY v),
         |ds AS (SELECT c.lab AS community, count(*) AS n_nodes,
         |    CAST(sum(dg) AS BIGINT) AS d_sum
         |  FROM lab2 c JOIN deg ON c.v = deg.v GROUP BY c.lab),
         |intra AS (SELECT a.lab AS community,
         |    CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM mhp2 JOIN lab2 a ON mhp2.da = a.v
         |  JOIN lab2 b ON mhp2.db = b.v
         |  WHERE a.lab = b.lab GROUP BY a.lab)
         |SELECT ds.community, ds.n_nodes, ds.d_sum,
         |  coalesce(intra.intra_edges, 0) AS intra_edges,
         |  CAST(4 * mm.m * coalesce(intra.intra_edges, 0)
         |    - ds.d_sum * ds.d_sum AS BIGINT) AS q_num
         |FROM ds LEFT JOIN intra USING (community) CROSS JOIN mm
         |ORDER BY community""".stripMargin,
    // per-dim micro-quantized integer half-up means (the centroidCte
    // arithmetic) + exact micro ranges; variance closes over the two
    // identical 4-dp doubles (see e8DimStats)
    "e8_dim_stats" ->
      """WITH dx AS (SELECT i.range AS dim0,
        |    CAST(embedding[CAST(i.range + 1 AS INT)] AS DOUBLE) AS xd
        |  FROM embeddings, range(0, 64) i),
        |dm AS (SELECT CAST(dim0 + 1 AS BIGINT) AS dim,
        |    count(*) AS n,
        |    CAST((2 * CAST(sum(CAST(floor(xd * 1000000.0 + 0.5)
        |        AS BIGINT)) AS BIGINT)
        |      + count(*) * 20000100) // (200 * count(*)) - 100000
        |      AS DOUBLE) / 10000.0 AS mean,
        |    CAST((2 * CAST(sum(CAST(floor(xd * xd * 1000000.0 + 0.5)
        |        AS BIGINT)) AS BIGINT)
        |      + count(*) * 20000100) // (200 * count(*)) - 100000
        |      AS DOUBLE) / 10000.0 AS m2,
        |    CAST(min(CAST(floor(xd * 1000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS min_micro,
        |    CAST(max(CAST(floor(xd * 1000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS max_micro
        |  FROM dx GROUP BY dim0)
        |SELECT dim, n, mean, round(m2 - mean * mean, 4) AS variance,
        |  min_micro, max_micro
        |FROM dm ORDER BY dim""".stripMargin,
    // e9_pagerank's materialized loop with the uniform base swapped for
    // the seed restart vector (pp-prefixed mix chain over the VERTEX
    // set; see e9Ppr)
    "e9_ppr" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(PprSalt)
      val base =
        s"""e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
           |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
           |deg AS MATERIALIZED (SELECT src, count(*) AS dg FROM e GROUP BY 1),
           |v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
           |pp_in AS (SELECT id,
           |  xor(CAST(id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS p0
           |  FROM v),
           |${mixCtes("pp", "p0", "p1", Seq("id"))},
           |sd AS MATERIALIZED (SELECT id FROM (
           |  SELECT id, row_number() OVER (
           |    ORDER BY ${toSigned("p1")}, id) AS rn FROM pp)
           |  WHERE rn <= $PprSeeds),
           |sv AS MATERIALIZED (SELECT v.id,
           |  CASE WHEN sd.id IS NOT NULL THEN 1.0 / $PprSeeds
           |    ELSE 0.0 END AS sv
           |  FROM v LEFT JOIN sd ON v.id = sd.id),
           |r0 AS MATERIALIZED (SELECT id, sv AS r FROM sv)""".stripMargin
      val iters = (1 to PrIters).map { k =>
        s"""c$k AS MATERIALIZED (SELECT e.dst AS id,
           |    sum(r${k - 1}.r / CAST(deg.dg AS DOUBLE)) AS cs
           |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id
           |  JOIN deg ON e.src = deg.src GROUP BY e.dst),
           |r$k AS MATERIALIZED (SELECT sv.id,
           |    $PrBase * sv.sv + $PrDamping * coalesce(c$k.cs, 0.0) AS r
           |  FROM sv LEFT JOIN c$k ON sv.id = c$k.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashCtes},
         |$base,
         |$iters
         |SELECT r$PrIters.id AS doc_id, round(r, 6) AS pprank,
         |  sv.sv > 0.0 AS is_seed
         |FROM r$PrIters JOIN sv ON r$PrIters.id = sv.id
         |ORDER BY doc_id""".stripMargin
    },
    "e9_pagerank" -> {
      // Every CTE that is referenced more than once (transitively, the
      // whole MinHash chain through `e`) is AS MATERIALIZED: DuckDB
      // otherwise INLINES each reference, so the 3-iteration loop would
      // recompute the full signature pipeline ~10× — at sf0.1 that
      // recomputation spilled past the machine's disk before it failed.
      // Materializing mirrors what the Spark side does anyway (the pair
      // table is localCheckpoint'd once and shared).
      val base =
        s"""e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
           |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
           |deg AS MATERIALIZED (SELECT src, count(*) AS dg FROM e GROUP BY 1),
           |v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
           |nv AS MATERIALIZED (SELECT count(*) AS n FROM v),
           |r0 AS MATERIALIZED (SELECT id, 1.0 / CAST(n AS DOUBLE) AS r
           |  FROM v CROSS JOIN nv)""".stripMargin
      val iters = (1 to PrIters).map { k =>
        s"""c$k AS MATERIALIZED (SELECT e.dst AS id,
           |    sum(r${k - 1}.r / CAST(deg.dg AS DOUBLE)) AS s
           |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id
           |  JOIN deg ON e.src = deg.src GROUP BY e.dst),
           |r$k AS MATERIALIZED (SELECT v.id,
           |    $PrBase / CAST(nv.n AS DOUBLE) + $PrDamping * coalesce(c$k.s, 0.0) AS r
           |  FROM v CROSS JOIN nv LEFT JOIN c$k ON v.id = c$k.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashCtes},
         |$base,
         |$iters
         |SELECT id AS doc_id, round(r, 6) AS rank
         |FROM r$PrIters ORDER BY doc_id""".stripMargin
    },
    "e9_hits" -> {
      // Every multiply-referenced CTE is AS MATERIALIZED (the e9_pagerank
      // rule: DuckDB inlines otherwise and re-runs the MinHash chain per
      // reference). Normalization divides by a scalar-subquery max —
      // order-independent, so the only float summation is the per-vertex
      // contribution sum both engines bound by the vertex degree.
      val base =
        s"""ed AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp),
           |v AS MATERIALIZED (SELECT DISTINCT id FROM (
           |  SELECT da AS id FROM mhp UNION ALL SELECT db FROM mhp) u),
           |h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM v),
           |a0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM v)""".stripMargin
      val iters = (1 to HitsIters).map { k =>
        s"""anr$k AS MATERIALIZED (SELECT v.id, coalesce(s.sx, 0.0) AS x
           |  FROM v LEFT JOIN (SELECT ed.dst AS id, sum(h${k - 1}.x) AS sx
           |    FROM ed JOIN h${k - 1} ON ed.src = h${k - 1}.id
           |    GROUP BY ed.dst) s USING (id)),
           |a$k AS MATERIALIZED (SELECT id,
           |  x / (SELECT max(x) FROM anr$k) AS x FROM anr$k),
           |hnr$k AS MATERIALIZED (SELECT v.id, coalesce(s.sx, 0.0) AS x
           |  FROM v LEFT JOIN (SELECT ed.src AS id, sum(a$k.x) AS sx
           |    FROM ed JOIN a$k ON ed.dst = a$k.id
           |    GROUP BY ed.src) s USING (id)),
           |h$k AS MATERIALIZED (SELECT id,
           |  x / (SELECT max(x) FROM hnr$k) AS x FROM hnr$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashCtes},
         |$base,
         |$iters
         |SELECT h$HitsIters.id AS doc_id, round(h$HitsIters.x, 6) AS hub,
         |  round(a$HitsIters.x, 6) AS authority
         |FROM h$HitsIters JOIN a$HitsIters USING (id)
         |ORDER BY doc_id""".stripMargin
    },
    // symmetric-marginal Pearson in exact integer moments with one final
    // division; zero-variance (degree-regular) graphs report 0.0
    "e9_assortativity" ->
      s"""WITH ${Dedup.minhashCtes},
         |e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
         |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS dg
         |  FROM e GROUP BY src),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
         |  CAST(sum(a.dg) AS BIGINT) AS sx,
         |  CAST(sum(a.dg * a.dg) AS BIGINT) AS sxx,
         |  CAST(sum(a.dg * b.dg) AS BIGINT) AS sxy
         |  FROM e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id)
         |SELECT n_dir_edges,
         |  CASE WHEN n_dir_edges * sxx = sx * sx THEN 0.0
         |       ELSE round((n_dir_edges * sxy - sx * sx) /
         |         CAST(n_dir_edges * sxx - sx * sx AS DOUBLE), 4) END
         |    + 0.0 AS assortativity
         |FROM m""".stripMargin,
    // histogram-form sorted-rank Gini: a tied block of c docs at length
    // tk with cumulative count cum contributes 2*sum(i*x) =
    // tk*(2*cum - c + 1)*c exactly; all integers, one final division
    "e8_gini" ->
      """WITH t AS (SELECT source,
        |    len(string_split(text, ' ')) AS tk FROM documents),
        |h AS (SELECT source, tk, count(*) AS c FROM t GROUP BY 1, 2),
        |ch AS (SELECT source, tk, c,
        |  sum(c) OVER (PARTITION BY source ORDER BY tk) AS cum FROM h)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(sum(tk * c) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(tk * (2 * cum - c + 1) * c)
        |      - (sum(c) + 1) * sum(tk * c) AS DOUBLE) /
        |    CAST(sum(c) * sum(tk * c) AS BIGINT), 4) AS gini
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,
    // pooled-per-degree clustering: exact integer triangle/wedge sums,
    // one final division; canonical a<b<c triangles via EXISTS (the
    // e9_triangles join shape), each crediting its three corners
    "e9_local_clustering" ->
      s"""WITH ${Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |deg AS (SELECT v, count(*) AS dg FROM (
         |    SELECT da AS v FROM mhp2 UNION ALL SELECT db FROM mhp2)
         |  GROUP BY v),
         |tri AS MATERIALIZED (SELECT e1.da AS a, e1.db AS b, e2.db AS c
         |  FROM mhp2 e1 JOIN mhp2 e2 ON e1.db = e2.da
         |  WHERE EXISTS (SELECT 1 FROM mhp2 e3
         |    WHERE e3.da = e1.da AND e3.db = e2.db)),
         |ta AS (SELECT v, count(*) AS t FROM (
         |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY v)
         |SELECT dg AS degree, count(*) AS n_docs,
         |  CAST(sum(coalesce(t, 0)) AS BIGINT) AS n_closed,
         |  CAST(sum(dg * (dg - 1)) // 2 AS BIGINT) AS n_pairs,
         |  CASE WHEN sum(dg * (dg - 1)) = 0 THEN 0.0
         |       ELSE round(CAST(sum(coalesce(t, 0)) AS DOUBLE) /
         |         CAST(sum(dg * (dg - 1)) // 2 AS BIGINT), 4) END
         |    AS clustering
         |FROM deg LEFT JOIN ta USING (v)
         |GROUP BY dg ORDER BY degree""".stripMargin,
    // cut/volume per label-prop community in exact integers, one final
    // division; a cut edge credits BOTH its communities
    "e9_conductance" ->
      s"""WITH ${Dedup.minhashCtes},
         |$lpCtes,
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |lab2 AS MATERIALIZED (SELECT v, lab FROM l$LpIters),
         |deg AS (SELECT src AS v, count(*) AS dg FROM e GROUP BY src),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM mhp2),
         |vol AS (SELECT lab AS community, count(*) AS n_nodes,
         |    CAST(sum(dg) AS BIGINT) AS volume
         |  FROM lab2 JOIN deg ON lab2.v = deg.v GROUP BY lab),
         |sides AS MATERIALIZED (SELECT a.lab AS ca, b.lab AS cb
         |  FROM mhp2 JOIN lab2 a ON mhp2.da = a.v
         |  JOIN lab2 b ON mhp2.db = b.v
         |  WHERE a.lab <> b.lab),
         |cut AS (SELECT community, count(*) AS cut_edges FROM (
         |    SELECT ca AS community FROM sides
         |    UNION ALL SELECT cb FROM sides)
         |  GROUP BY community)
         |SELECT vol.community, n_nodes, volume,
         |  CAST(coalesce(cut_edges, 0) AS BIGINT) AS cut_edges,
         |  CASE WHEN least(volume, 2 * m - volume) = 0 THEN 0.0
         |       ELSE round(coalesce(cut_edges, 0) /
         |         CAST(least(volume, 2 * m - volume) AS DOUBLE), 4) END
         |    AS conductance
         |FROM vol LEFT JOIN cut USING (community) CROSS JOIN mm
         |ORDER BY community""".stripMargin,
    // the e9_bfs scaffold keyed per seed (sd) — chain shared verbatim by
    // the effective-diameter and closeness oracles (can't-drift); the
    // distribution + cum_bp / harmonic weights are integer
    "e9_effective_diameter" -> {
      s"""WITH ${Dedup.minhashCtes},
         |$perSeedBfsCtes,
         |efd_h AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM efd_d$BfsRounds GROUP BY dist),
         |efd_c AS (SELECT dist, n_pairs,
         |    CAST(sum(n_pairs) OVER (ORDER BY dist
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_pairs
         |  FROM efd_h),
         |efd_t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t_pairs FROM efd_h)
         |SELECT CAST(dist AS BIGINT) AS dist, n_pairs, cum_pairs,
         |  cum_pairs * 10000 // t_pairs AS cum_bp
         |FROM efd_c CROSS JOIN efd_t ORDER BY dist""".stripMargin
    },
    // composes the per-seed BFS chain verbatim; 1/d in exact micro units
    "e9_closeness" ->
      s"""WITH ${Dedup.minhashCtes},
         |$perSeedBfsCtes
         |SELECT sd AS seed_doc, CAST(count(*) AS BIGINT) AS n_reach,
         |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
         |FROM efd_d$BfsRounds WHERE dist >= 1
         |GROUP BY sd ORDER BY seed_doc""".stripMargin,
    // the e8_chi2 contingency shape; one ln per non-zero cell on exact
    // integer inputs (the e8_heaps ln precedent); 4-dp rounds
    "e8_mutual_info" ->
      """WITH mic AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |mir AS (SELECT source, CAST(sum(o) AS BIGINT) AS rs FROM mic
        |  GROUP BY source),
        |mis AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cs FROM mic
        |  GROUP BY lang),
        |mit AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT source) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS nc FROM mic),
        |mim AS (SELECT n, nr, nc, sum((CAST(o AS DOUBLE) / n) *
        |      ln(CAST(o AS DOUBLE) * n / (CAST(rs AS DOUBLE) * cs))) AS mi
        |  FROM mic JOIN mir USING (source) JOIN mis USING (lang)
        |  CROSS JOIN mit GROUP BY n, nr, nc),
        |mihr AS (SELECT sum(-(CAST(rs AS DOUBLE) / n)
        |    * ln(CAST(rs AS DOUBLE) / n)) AS h_rs
        |  FROM mir CROSS JOIN (SELECT n FROM mit)),
        |mihc AS (SELECT sum(-(CAST(cs AS DOUBLE) / n)
        |    * ln(CAST(cs AS DOUBLE) / n)) AS h_cs
        |  FROM mis CROSS JOIN (SELECT n FROM mit))
        |SELECT n AS n_docs, nr AS n_sources, nc AS n_langs,
        |  round(mi, 4) AS mi_nats, round(h_rs, 4) AS h_source,
        |  round(h_cs, 4) AS h_lang,
        |  round(mi / least(h_rs, h_cs), 4) AS nmi
        |FROM mim CROSS JOIN mihr CROSS JOIN mihc""".stripMargin,
    "e9_bfs" -> {
      // Unrolled synchronous frontier expansion; anti-joins are LEFT JOIN
      // ... IS NULL (DuckDB's plan for NOT EXISTS on a materialized CTE).
      val base =
        s"""e AS MATERIALIZED (SELECT da AS src, db AS dst FROM mhp
           |  UNION ALL SELECT db AS src, da AS dst FROM mhp),
           |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src),
           |seeds AS MATERIALIZED (SELECT src AS v FROM deg
           |  ORDER BY dg DESC, src LIMIT $BfsSeeds),
           |bfs_d0 AS MATERIALIZED (SELECT v, 0 AS dist FROM seeds)""".stripMargin
      // CTE names are bfs_-prefixed: the surrounding WITH already contains
      // Dedup.minhashCtes, whose banding stage defines f1..f4 — unprefixed
      // f$k collided with it (CORRECTNESS_r10 "Duplicate CTE name f1").
      val iters = (1 to BfsRounds).map { k =>
        s"""bfs_f$k AS MATERIALIZED (SELECT DISTINCT e.dst AS v
           |  FROM e JOIN bfs_d${k - 1} f ON e.src = f.v AND f.dist = ${k - 1}
           |  LEFT JOIN bfs_d${k - 1} p ON e.dst = p.v WHERE p.v IS NULL),
           |bfs_d$k AS MATERIALIZED (SELECT v, dist FROM bfs_d${k - 1}
           |  UNION ALL SELECT v, $k AS dist FROM bfs_f$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashCtes},
         |$base,
         |$iters,
         |verts AS (SELECT DISTINCT src AS v FROM e)
         |SELECT CAST(coalesce(bfs_d$BfsRounds.dist, -1) AS INT) AS dist,
         |  count(*) AS n_docs
         |FROM verts LEFT JOIN bfs_d$BfsRounds ON verts.v = bfs_d$BfsRounds.v
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "e8_corr" -> {
      val blocks = CorrPairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |round(corr($a, $b), 4) + 0.0 AS pearson FROM lineitem""".stripMargin }
      blocks.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },
    // vd_in/vd replicate Sampling.slot on vec_id (qm-chain); wv carries
    // the dyadic weight literals; the fold is the proven index-ordered
    // list_reduce; everything after the bin is integer
    "e8_embed_drift" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(EmbDriftSalt)
      val wLits = embDriftDir.map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""WITH wv AS (SELECT $wLits::DOUBLE[] AS w),
         |vd_in AS (SELECT vec_id, CAST(label AS INT) AS label,
         |  CAST(embedding AS DOUBLE[]) AS e,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
         |  FROM embeddings),
         |${mixCtes("vd", "q0", "qm", Seq("vec_id", "label", "e"))},
         |pr AS (SELECT label,
         |  CASE WHEN (qm % CAST(power(2, 63) AS HUGEINT)) % 100 < 50
         |    THEN 1 ELSE 0 END AS isref,
         |  CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, 65),
         |      i -> e[CAST(i AS INT)] * w[CAST(i AS INT)])),
         |    (a, b) -> a + b) * 100) AS BIGINT) AS bin
         |  FROM vd, wv),
         |h AS (SELECT label, bin, sum(isref) AS ra, sum(1 - isref) AS ca
         |  FROM pr GROUP BY 1, 2),
         |c AS (SELECT label, bin, ra, ca,
         |  sum(ra) OVER (PARTITION BY label ORDER BY bin) AS ri,
         |  sum(ca) OVER (PARTITION BY label ORDER BY bin) AS ci,
         |  sum(ra) OVER (PARTITION BY label) AS nr,
         |  sum(ca) OVER (PARTITION BY label) AS nc FROM h)
         |SELECT label, CAST(max(nr) AS BIGINT) AS n_ref,
         |  CAST(max(nc) AS BIGINT) AS n_cur,
         |  CAST(max(abs(ri * nc - ci * nr)) AS BIGINT) AS ks_num,
         |  CAST(max(abs(ri * nc - ci * nr)) AS BIGINT) * 10000
         |    // (CAST(max(nr) AS BIGINT) * CAST(max(nc) AS BIGINT)) AS ks_bp
         |FROM c GROUP BY label ORDER BY label""".stripMargin
    },
    // the e3_quality_calibration m4 scoring chain verbatim + the
    // ReleaseSalt slot gate; integer KS numerator over the bounded
    // (source, m4) histogram with one final DIV (the e8_embed_drift
    // discipline keyed by source). The chain is shared VERBATIM with
    // the e7_release_gate oracle (the e3_pack_stats can't-drift rule).
    "e8_quality_drift" ->
      s"""WITH ${Sampling.slotCtes(graft.ops.Curation.ReleaseSalt)},
         |$qualityDriftChain
         |SELECT source, n_v1, n_v2, ks_num, ks_bp FROM qdr
         |ORDER BY source""".stripMargin,
    "e8_ks_drift" -> {
      import OracleSql._
      s"""WITH mx_in AS (SELECT event_type, value,
         |  xor(CAST(event_id AS HUGEINT), CAST('$KsSalt' AS HUGEINT)) AS h0
         |  FROM events),
         |${mixCtes("mx", "h0", "h1", Seq("event_type", "value"))},
         |sided AS (SELECT event_type, value,
         |  CASE WHEN (h1 % CAST(power(2, 63) AS HUGEINT)) % 100 < 50
         |       THEN 0 ELSE 1 END AS grp FROM mx),
         |cum AS (SELECT event_type,
         |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY event_type ORDER BY value) AS c1,
         |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY event_type ORDER BY value) AS c2,
         |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY event_type) AS n1,
         |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER (
         |    PARTITION BY event_type) AS n2
         |  FROM sided)
         |SELECT event_type, CAST(max(n1) AS BIGINT) AS n1,
         |  CAST(max(n2) AS BIGINT) AS n2,
         |  CAST(round(max(abs(CAST(c1 AS DOUBLE) / NULLIF(n1, 0) -
         |    CAST(c2 AS DOUBLE) / NULLIF(n2, 0))) * 1000000.0, 0) AS BIGINT)
         |    AS ks_micro
         |FROM cum GROUP BY event_type
         |HAVING max(n1) > 0 AND max(n2) > 0
         |ORDER BY event_type""".stripMargin
    },
    "e8_drift" -> {
      import OracleSql._
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val carry = cols.mkString(", ")
      val blocks = cols.map { c =>
        s"""SELECT '$c' AS column_name,
           |count(DISTINCT $c) FILTER (WHERE side = 'prev') AS nd_prev,
           |count(DISTINCT $c) FILTER (WHERE side = 'curr') AS nd_curr
           |FROM sided""".stripMargin }
      s"""WITH mx_in AS (SELECT $carry,
         |  xor(CAST(o_orderkey AS HUGEINT), CAST('$DriftSalt' AS HUGEINT)) AS h0
         |  FROM orders),
         |${mixCtes("mx", "h0", "h1", cols)},
         |sided AS (SELECT $carry,
         |  CASE WHEN (h1 % CAST(power(2, 63) AS HUGEINT)) % 100 < 50
         |       THEN 'prev' ELSE 'curr' END AS side FROM mx),
         |wide AS (
         |${blocks.mkString("\nUNION ALL\n")})
         |SELECT column_name, nd_prev, nd_curr,
         |  round(100.0 * (nd_curr - nd_prev) / CAST(nd_prev AS DOUBLE), 2) + 0.0
         |    AS delta_pct
         |FROM wide ORDER BY column_name""".stripMargin
    },
    "e8_profile" -> {
      def block(c: String, mn: String, mx: String) =
        s"""SELECT '$c' AS column_name,
           |count(*) - count($c) AS n_nulls,
           |count(DISTINCT $c) AS n_distinct,
           |$mn AS min_val, $mx AS max_val FROM orders""".stripMargin
      def vc(e: String) = s"CAST($e AS VARCHAR)"
      Seq(
        block("o_orderkey", vc("min(o_orderkey)"), vc("max(o_orderkey)")),
        block("o_custkey", vc("min(o_custkey)"), vc("max(o_custkey)")),
        block("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        block("o_totalprice",
          vc("CAST(min(o_totalprice) AS DECIMAL(18,2))"),
          vc("CAST(max(o_totalprice) AS DECIMAL(18,2))")),
        block("o_orderdate",
          "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
        block("o_orderpriority",
          "min(o_orderpriority)", "max(o_orderpriority)"),
      ).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "e8_outliers" ->
      s"""WITH s AS (SELECT event_type, avg(value) AS m,
         |  stddev_samp(value) AS sd FROM events GROUP BY 1)
         |SELECT event_id, e.event_type, value,
         |  round((value - m) / sd, 4) AS z
         |FROM events e JOIN s USING (event_type)
         |WHERE abs((value - m) / sd) > $OutlierZ
         |ORDER BY event_id""".stripMargin,
    // Integer day ages (// ≡ Spark div, nonnegative here), the doubled-
    // median over the day-domain histogram (the e8_mad m1 idiom), and
    // basis-point staleness — all-integer output.
    "e8_freshness" ->
      s"""WITH a AS (SELECT event_type,
         |    greatest($DecayRefUs - epoch_us(ts), 0) // 86400000000 AS age_days
         |  FROM events),
         |h AS (SELECT event_type, age_days, count(*) AS cnt
         |  FROM a GROUP BY 1, 2),
         |r AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type
         |    ORDER BY age_days) AS cum,
         |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
         |m AS (SELECT event_type, CAST(
         |    max(CASE WHEN (n - 1) // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN age_days END) +
         |    max(CASE WHEN n // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN age_days END) AS BIGINT) AS med2_age_days
         |  FROM r GROUP BY event_type),
         |g AS (SELECT event_type, count(*) AS n,
         |    CAST(min(age_days) AS BIGINT) AS min_age_days,
         |    CAST(max(age_days) AS BIGINT) AS max_age_days,
         |    CAST(sum(CASE WHEN age_days > $FreshStaleDays THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_stale
         |  FROM a GROUP BY event_type)
         |SELECT g.event_type, g.n, g.min_age_days, g.max_age_days,
         |  m.med2_age_days, g.n_stale, g.n_stale * 10000 // g.n AS stale_bp
         |FROM g JOIN m USING (event_type) ORDER BY event_type""".stripMargin,
    "e8_mad_outliers" ->
      s"""WITH e AS (SELECT event_id, event_type, value,
         |    CAST(round(value * 10000) AS BIGINT) AS vm FROM events),
         |h1 AS (SELECT event_type, vm, count(*) AS cnt FROM e GROUP BY 1, 2),
         |r1 AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY vm)
         |    AS cum, sum(cnt) OVER (PARTITION BY event_type) AS n FROM h1),
         |m1 AS (SELECT event_type, CAST(
         |    max(CASE WHEN (n - 1) // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN vm END) +
         |    max(CASE WHEN n // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN vm END) AS BIGINT) AS med2
         |  FROM r1 GROUP BY event_type),
         |d AS (SELECT e.event_id, e.event_type, e.value,
         |    abs(e.vm * 2 - m1.med2) AS dev2
         |  FROM e JOIN m1 USING (event_type)),
         |h2 AS (SELECT event_type, dev2, count(*) AS cnt FROM d GROUP BY 1, 2),
         |r2 AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY dev2)
         |    AS cum, sum(cnt) OVER (PARTITION BY event_type) AS n FROM h2),
         |m2 AS (SELECT event_type, CAST(
         |    max(CASE WHEN (n - 1) // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN dev2 END) +
         |    max(CASE WHEN n // 2 BETWEEN cum - cnt AND cum - 1
         |      THEN dev2 END) AS BIGINT) AS mad4
         |  FROM r2 GROUP BY event_type)
         |SELECT event_id, d.event_type, value,
         |  round(dev2 / 20000.0, 4) AS dev
         |FROM d JOIN m2 USING (event_type)
         |WHERE dev2 * 20000 > mad4 * $MadK
         |ORDER BY event_id""".stripMargin,
    "e8_zipf" ->
      s"""WITH tc AS (SELECT token, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token
         |    FROM documents) GROUP BY 1),
         |top AS (SELECT token, c FROM tc ORDER BY c DESC, token
         |  LIMIT $ZipfTopK),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, token)
         |  AS rank FROM top)
         |SELECT count(*) AS n_ranks,
         |  round(regr_slope(ln(c), ln(rank)), 4) AS slope,
         |  round(regr_intercept(ln(c), ln(rank)), 4) AS intercept,
         |  round(regr_r2(ln(c), ln(rank)), 4) AS r2
         |FROM rk""".stripMargin,
    // cross-source Heaps fit on word 3-grams: one (source, gram)
    // distinct + gram count per source, then the regression folds
    // |sources| rows to one
    // same shingle text as the MinHash chain (prelude-accelerated); sums
    // cast BIGINT (DuckDB sum(BIGINT) widens to HUGEINT)
    "e8_dup_ngrams" ->
      s"""WITH ${Dedup.shingleHashCtes},
         |dfq AS (SELECT h, count(*) AS df FROM shing GROUP BY h),
         |pdoc AS (SELECT s.doc_id, count(*) AS ni,
         |    sum(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END) AS di
         |  FROM shing s JOIN dfq USING (h) GROUP BY s.doc_id)
         |SELECT d.source, CAST(sum(pdoc.ni) AS BIGINT) AS n_inc,
         |  CAST(sum(pdoc.di) AS BIGINT) AS dup_inc,
         |  CAST(sum(pdoc.di) * 10000 // sum(pdoc.ni) AS BIGINT) AS dup_bp
         |FROM pdoc JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "e8_heaps" ->
      """WITH g AS (SELECT source,
        |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
        |  FROM (SELECT source, string_split(text, ' ') AS toks,
        |      unnest(range(1, len(string_split(text, ' ')) - 1)) AS i
        |    FROM documents)),
        |sv AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(count(DISTINCT gram) AS BIGINT) AS vocab
        |  FROM g GROUP BY source)
        |SELECT count(*) AS n_sources,
        |  round(regr_slope(ln(vocab), ln(n_grams)), 4) AS beta,
        |  round(regr_intercept(ln(vocab), ln(n_grams)), 4) AS ln_k,
        |  round(regr_r2(ln(vocab), ln(n_grams)), 4) AS r2
        |FROM sv""".stripMargin,
    "e8_collocations" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |uni AS (SELECT w, count(*) AS cw FROM (
         |  SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |n1 AS (SELECT CAST(sum(cw) AS BIGINT) AS n1 FROM uni),
         |bg AS (SELECT w1, w2, count(*) AS cxy FROM (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM (
         |    SELECT toks, unnest(range(1, len(toks))) AS i FROM t))
         |  GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount),
         |n2 AS (SELECT CAST(sum(cxy) AS BIGINT) AS n2 FROM bg)
         |SELECT w1 || ' ' || w2 AS bigram, cxy,
         |  round(ln(cxy) - ln(n2) - ln(cx) - ln(cy) + 2.0 * ln(n1), 4)
         |    AS pmi
         |FROM bg
         |JOIN (SELECT w AS w1, cw AS cx FROM uni) USING (w1)
         |JOIN (SELECT w AS w2, cw AS cy FROM uni) USING (w2)
         |CROSS JOIN n1 CROSS JOIN n2
         |ORDER BY pmi DESC, bigram LIMIT $PmiTopK""".stripMargin,
    "e8_diversity" ->
      """WITH bl AS (SELECT source, lang, count(*) AS c FROM documents
        |  GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM bl
        |  GROUP BY 1)
        |SELECT source, max(n) AS n_docs, count(*) AS n_langs,
        |  round(-sum((c / n) * ln(c / n)), 4) AS entropy,
        |  round(1.0 - sum(power(c / n, 2)), 4) AS simpson
        |FROM bl JOIN t USING (source) GROUP BY source
        |ORDER BY source""".stripMargin,
    "e8_decay" ->
      s"""SELECT event_type, count(*) AS n,
         |  round(sum(value * exp(
         |    CAST(epoch_us(ts) - $DecayRefUs AS DOUBLE) / $DecayTauUs)),
         |    2) + 0.0 AS decayed
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
