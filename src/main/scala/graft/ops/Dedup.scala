package graft.ops

import graft.Tables._
import graft.functions.Hashes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [EXT] Deduplication operators over `documents` (SURVEY.md §2 E1):
  * exact (hash-groupBy), exact n-gram Jaccard (co-occurrence join — the
  * scalable form: no O(n²) cross join, work is proportional to shared
  * shingles), MinHash+LSH banding (candidate generation at scale), and
  * SimHash (native expression). */
object Dedup {

  /** Word 3-shingles per doc, distinct, as (doc_id, s) rows. Shingling is a
    * native fused-loop expression (graftext.ngramExpressions) — documents
    * with fewer than 3 tokens yield an empty array and drop out at the
    * explode, matching the previous size-filtered HOF formulation. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Ngrams.wordShingles(col("text"), 3))).as("s"))

  /** Distinct 64-bit shingle hashes per doc — the dedup hot path. Hashes
    * are computed inside the shingling loop (word_shingle_hashes), so no
    * shingle string is ever materialized; joins and MinHash run on longs.
    * Collision risk over 2^64 is negligible at any realistic corpus size. */
  private def shingleHashArr(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), array_distinct(
        org.apache.spark.sql.graftext.ngramExpressions
          .wordShingleHashes(col("text"), 3)).as("hs"))
      .filter(size(col("hs")) > 0)

  private[ops] def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashArr(s, d).select(col("doc_id"), explode(col("hs")).as("h"))

  /** Document-frequency cap for the pairwise paths. The co-occurrence join
    * costs Σ_s df(s)² — one super-common shingle ruins it at scale, so
    * shingles shared by more than this many documents are dropped from the
    * Jaccard computation (standard stop-shingle filtering in web-scale
    * dedup). At the fixture scales no shingle reaches the cap (max df 25 at
    * sf0.1), so results are unchanged; at 100 TB this bounds the join. */
  val MaxShingleDf = 256

  /** Per-(session, corpus) memo of the EXACT co-occurrence intersection
    * counts (da < db, i = |A∩B|, na, nb over the df-capped shingle sets) —
    * the Σdf² ground-truth pair stage that e1_ngram_jaccard,
    * e1_containment, and (through the jaccard table) e1_lsh_recall and
    * e1_lsh_curve each re-ran per execution (~1 s each at sf0.1; the
    * SAME can't-drift argument as minhashPairTable and the e2
    * exactSampleTruth memo: every audit must score against the one
    * ground truth, and a deployment materializes the verified pair
    * table once per corpus release, then fans the audits out from it). */
  private[ops] def shingleInterCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("pair_intersections", s, d) {
      val sh = rareShingleHashes(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      sh.as("a")
        .join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("i"))
        .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .localCheckpoint(false)
    }

  /** (doc_id, h) shingle-hash rows with hot shingles removed, MATERIALIZED
    * once (localCheckpoint): every consumer references this table 2-4
    * times (self-join sides, df counts, set sizes), and without
    * materialization each reference re-scans documents and re-shingles the
    * corpus. Dedup pipelines at scale always persist the exploded shingle
    * table before the pairwise stage — on a cluster this is persist(DISK)/
    * a checkpoint; in-process it is a local checkpoint. Also truncates
    * lineage for the cluster-propagation loop built on top. The hot list
    * is tiny by construction → broadcast anti join, no extra shuffle of
    * the big side beyond the df count. Memoized per (session, corpus):
    * FIVE declared queries (jaccard, minhash, clusters, contamination, and
    * the pipeline example) derive from this table, and a real pipeline
    * materializes it once per corpus and fans every dedup stage out from
    * it. */
  private[ops] def rareShingleHashes(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("shingle_table", s, d) {
      val sh = shingleHashes(s, d)
      val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf).select("h")
      sh.join(broadcast(hot), Seq("h"), "left_anti").localCheckpoint(false)
    }

  /** The canonical content fingerprint: md5 of the normalized text. ONE
    * definition shared by the batch exact-dedup pass and the streaming
    * ingest stage (StreamOps.streamFingerprintDedup), so a retuning of the
    * normalization can never make the two silently diverge. */
  def contentFingerprint(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(lower(trim(c)))

  /** E1 — exact duplicate groups by normalized-text hash.
    * One shuffle on the 128-bit fingerprint; at 100 TB this is the standard
    * first dedup pass (hash is computed scan-side, so the shuffle carries
    * 32-byte keys, not documents). */
  def e1ExactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(contentFingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
      .orderBy("keeper")

  /** E1 — NOVELTY SATURATION curve: walk the corpus in doc_id order
    * (ingestion order in the fixture) in ten equal-width deciles and
    * count how many content fingerprints are NEW in each — the
    * diminishing-returns curve of continued crawling (the corpus-level
    * Heaps law at document granularity, read next to e1_source_novelty's
    * per-source increments and e8_heaps' vocabulary fit): a flattening
    * tail says further ingestion of this stream buys mostly duplicates,
    * which is what decides whether the NEXT 10 TB is worth storing.
    * All-integer: the decile is doc_id·10 div (max_id+1) (exact, no
    * rank window over the corpus), news are first-decile counts of the
    * exact-dedup fingerprint, shares are bp divisions. Plan at 100 TB:
    * one scan computing (fp, decile) scan-side; the min-decile fold
    * shuffles 16-byte fingerprints once (the e1_exact_dedup exchange);
    * everything after is ≤10 rows, including the cumulative window
    * (allowlisted: decile-histogram input). */
  def e1SaturationCurve(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), contentFingerprint(col("text")).as("fp"))
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val dd = docs.crossJoin(broadcast(mx))
      .withColumn("decile", expr("doc_id * 10 div (mx + 1)"))
    val firsts = dd.groupBy("fp").agg(min(col("decile")).as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_new"))
    val per = dd.groupBy("decile").agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per.join(firsts, Seq("decile"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_new", sum(col("n_new")).over(w))
      .select(col("decile"), col("n_docs"), col("n_new"),
        expr("n_new * 10000 div n_docs").as("new_bp"),
        col("cum_docs"), col("cum_new"),
        expr("cum_new * 10000 div cum_docs").as("cum_new_bp"))
      .orderBy("decile")
  }

  /** Bloom filter geometry for e1_bloom_audit — interpolated into both
    * engines. m = 2^14 bits / k = 4 hashes sizes the fixture into the
    * informative fill range (≈45% fill, a measurable few-hundred-bp FP
    * rate at sf0.1 — a filter in the 0%-FP regime audits nothing);
    * production turns m up with the corpus. */
  val BloomBits = 1L << 14
  val BloomK = 4
  /** Per-hash seeds + the 50/50 stored/probe split salt (positive and
    * < 2^63 so the unsigned HUGEINT carry matches Spark — the slotCtes
    * invariant). */
  val BloomSeeds: Seq[Long] = Seq(0x243f6a8885a308d3L,
    0x13198a2e03707344L, 0x0a4093822299f31dL, 0x082efa98ec4e6c89L)
  val BloomSplitSalt = 0x452821e638d01377L

  /** E1 — BLOOM FILTER SIZING AUDIT for the incremental-dedup guard: the
    * scale path of e1_incremental_neardup fronts its LEFT ANTI with a
    * bloom filter over content fingerprints, and this query prices that
    * filter's geometry (m, k) on the actual corpus BEFORE a 100 TB run
    * commits to it. The corpus hash-splits 50/50 (the e8_embed_drift
    * release-gate discipline, on doc_id): the stored half's distinct
    * fingerprints set their k bit positions; the probe half's
    * fingerprints NOT shared with the stored half (a shared fingerprint
    * is a true positive, not an FP) test membership — a probe whose
    * every position is set is a FALSE POSITIVE, the event that costs the
    * incremental path a wasted shuffle-join probe. Emits the predicted
    * rate (bits_set/m)^k — computed EXACTLY as bits_set⁴·10⁴ div m⁴ in
    * DECIMAL(38,0)/HUGEINT, no float pow — next to the measured rate, so
    * an operator sees both the theory and the corpus's agreement with
    * it. ALL-INTEGER output. Fingerprint → slot arithmetic: the first 15
    * hex chars of the md5 fold to a positive int64 (identical text →
    * identical fold in both engines), each seed's position is
    * mix64(h ^ seed) mod m — m is a power of two, so Spark's signed pmod
    * and DuckDB's unsigned mod agree (low-18-bit equality survives the
    * signedness difference). Plan at 100 TB: fingerprints are computed
    * scan-side (documents never shuffle); the stored side's bit table is
    * ≤ m rows — CONSTANT size regardless of corpus — so membership
    * testing is a BROADCAST join against every probe position; the only
    * corpus-sized exchanges carry 8-byte fingerprint keys for the two
    * distincts and the anti-join. */
  def e1BloomAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftext.minhashExpression.mix64
    // ONE corpus scan → one h-keyed membership aggregate, CHECKPOINTED
    // (the shared-pair-table memo pattern): the audit's four scalar
    // branches (stored count, bit table, probe count, FP count) would
    // otherwise each re-scan the corpus — the e8_concentration
    // five-scan lesson. The checkpoint is distinct-fingerprint-sized
    // (9-byte rows), and "probe-only" is a flag comparison on it
    // instead of a corpus-sized anti-join.
    val fpTab = documents(s, d).select(
        conv(substring(contentFingerprint(col("text")), 1, 15), 16, 10)
          .cast("long").as("h"),
        (graft.ops.Sampling.slot(col("doc_id"), BloomSplitSalt) < 50)
          .as("stored"))
      .groupBy("h")
      .agg(max(col("stored")).as("in_stored"),
        max(!col("stored")).as("in_probe"))
      .localCheckpoint(true)
    val storedFp = fpTab.filter(col("in_stored")).select("h")
    val probeOnly = fpTab.filter(col("in_probe") && !col("in_stored"))
      .select("h")
    def positions = array_distinct(array(BloomSeeds.map(sd =>
      pmod(mix64(col("h").bitwiseXOR(lit(sd))), lit(BloomBits))): _*))
    val bits = storedFp.select(explode(positions).as("bit")).distinct()
    val probePos = probeOnly.select(col("h"), positions.as("ps"))
      .select(col("h"), size(col("ps")).as("np"), explode(col("ps")).as("bit"))
    val falsePos = probePos.join(broadcast(bits), "bit")
      .groupBy("h", "np").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("np"))
      .agg(count(lit(1)).as("false_pos"))
    val m4 = java.math.BigInteger.valueOf(BloomBits).pow(4)
    storedFp.agg(count(lit(1)).as("n_stored"))
      .crossJoin(bits.agg(count(lit(1)).as("bits_set")))
      .crossJoin(probeOnly.agg(count(lit(1)).as("n_probe")))
      .crossJoin(falsePos)
      .select(lit(BloomBits).as("m_bits"), lit(BloomK.toLong).as("k"),
        col("n_stored"), col("bits_set"),
        expr(s"bits_set * 10000 div ${BloomBits}").as("fill_bp"),
        expr(s"CAST((CAST(bits_set AS DECIMAL(38,0)) * bits_set * bits_set" +
            s" * bits_set * 10000) div CAST('$m4' AS DECIMAL(38,0)) AS BIGINT)")
          .as("pred_fp_bp"),
        col("n_probe"), col("false_pos"),
        when(col("n_probe") === 0L, lit(0L))
          .otherwise(expr("false_pos * 10000 div n_probe"))
          .as("meas_fp_bp"))
  }

  /** E1 — per-source TOKEN INFLATION from exact duplicates: how many
    * tokens each source contributes vs how many SURVIVE the exact-dedup
    * pass (one representative per content fingerprint within the
    * source), and the inflation ratio in basis points — the token-level
    * companion to e1_kmv_global's estimated shingle forecast, and the
    * number a mixture owner subtracts before trusting e7_source_stats'
    * raw token masses (a source 3× inflated by mirror copies buys 1/3
    * the diversity its token count claims). Exact duplicates share the
    * text, hence the token count, so tokens_unique = Σ per-fingerprint
    * nt. All integers with one DIV. Plan at 100 TB: one scan computing
    * (fingerprint, token count) scan-side, a (source, fp)-key aggregate
    * whose exchange carries 32-byte keys + two longs (map-side combined),
    * then a |sources|-key fold — documents never shuffle. */
  def e1DupInflation(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), contentFingerprint(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source", "fp")
      .agg(count(lit(1)).as("n"), max(col("nt")).as("nt1"),
        sum(col("nt")).as("ntall"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("ntall")).as("tokens_total"),
        sum(col("nt1")).as("tokens_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        col("tokens_total"), col("tokens_unique"),
        expr("10000 * tokens_total div tokens_unique").as("inflation_bp"))
      .orderBy("source")

  /** E1 — exact n-gram Jaccard near-dup pairs (threshold 0.2) via shingle
    * co-occurrence: explode distinct shingles, self-join on shingle to get
    * |A∩B| as a count, then Jaccard from per-doc shingle counts. Equi-join
    * on the shingle key shuffles only (doc_id, shingle) pairs — survives
    * scale-up where a pairwise cross join would not. */
  def e1NgramJaccard(s: SparkSession, d: String): DataFrame =
    // Join on the 64-bit shingle hash, not the string: the exchange carries
    // (doc_id, hash) = 16 bytes/row and the join compares longs; the hash
    // is computed inside the native shingling loop (no strings built).
    // Hot shingles are df-capped (see rareShingleHashes) — Jaccard is
    // computed over the discriminative shingle sets. The co-occurrence
    // stage reads the shared shingleInterCounts memo (round 14): the
    // Σdf² join runs once per session, not once per consumer execution.
    shingleInterCounts(s, d)
      .select(col("da"), col("db"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("j"))
      .filter(col("j") >= 0.2)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")

  /** Jaccard threshold for the prefix-filter join, as an exact rational
    * (4/5 = 0.8) so every gate below is integer arithmetic — no float
    * threshold comparison can diverge cross-engine. */
  val PrefixT_Num = 4
  val PrefixT_Den = 5

  /** E1 — EXACT set-similarity self-join by prefix filtering (the
    * AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) —
    * the high-threshold complement to the LSH path. LSH is approximate
    * (recall < 1 between the band thresholds); this is provably complete:
    * order every document's shingle set by ascending global document
    * frequency (rarest first, ties by hash), keep only the first
    * n − ceil(t·n) + 1 shingles as the JOIN KEY SET, and any pair with
    * Jaccard ≥ t is guaranteed to collide on at least one prefix shingle
    * (if both prefixes missed every shared shingle, the shared set would
    * have to fit inside the suffixes, forcing |A∩B| ≤ ceil(t·|A|) − 1 <
    * t·|A| ≤ |A∩B| — contradiction). At t = 0.8 the exchange carries only
    * ~20% of the shingle rows — and the rarest 20%, so Σ df² over prefix
    * shingles is far below the full co-occurrence join's bound — then a
    * per-candidate exact verify (sorted-array intersection) confirms the
    * threshold. Length filter 5·min(n) ≥ 4·max(n) prunes size-incompatible
    * candidates inside the join condition. 100 TB shape: candidates are
    * linear-ish in corpus size at high t (web-dedup measurements in the
    * PPJoin literature), and the verify joins move only candidate docs'
    * hash arrays, never text. The oracle needs no order replication:
    * the algorithm is exact, so the answer is definitionally the full
    * Jaccard-≥-0.8 pair set over the same df-capped sets. */
  def e1PrefixJoin(s: SparkSession, d: String): DataFrame = {
    val (cand, _) = prefixCandidates(s, d)
    val sh = rareShingleHashes(s, d)
    val arr = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    cand
      .join(arr.as("x"), col("da") === col("x.doc_id"))
      .join(arr.as("y"), col("db") === col("y.doc_id"))
      .select(col("da"), col("db"),
        size(array_intersect(col("x.hs"), col("y.hs"))).cast("long").as("i"),
        size(col("x.hs")).cast("long").as("na"),
        size(col("y.hs")).cast("long").as("nb"))
      // integer-exact threshold gate: i/(na+nb−i) ≥ 4/5 ⟺ 5i ≥ 4(na+nb−i)
      .filter(col("i") * PrefixT_Den >=
        (col("na") + col("nb") - col("i")) * PrefixT_Num)
      .select(col("da"), col("db"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** Candidate pairs from the df-ordered prefix join plus the prefix row
    * count (exposed for the spec's efficiency assertion). */
  private[ops] def prefixCandidates(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sh = rareShingleHashes(s, d)
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // rank shingles rarest-first within each doc; the (df, h) order is any
    // consistent global order — correctness never depends on it, only the
    // candidate count does (rare-first minimizes prefix collisions)
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val pref = sh.join(dfh, Seq("h")).join(sz, Seq("doc_id"))
      .withColumn("r", row_number().over(w))
      // prefix length n − ceil(4n/5) + 1; ceil(4n/5) = (4n+4) div 5,
      // floor() over an exact small-int double is integer-exact
      .filter(col("r") <= col("n") -
        floor((col("n") * PrefixT_Num + PrefixT_Num) / PrefixT_Den) + 1)
      .select(col("doc_id"), col("h"), col("n"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * PrefixT_Den >= col("b.n") * PrefixT_Num &&
        col("b.n") * PrefixT_Den >= col("a.n") * PrefixT_Num)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    (cand, pref)
  }

  /** Minimum max-direction containment for a pair to be reported. */
  val MinContainment = 0.5

  /** E1 — asymmetric CONTAINMENT pairs: c(A→B) = |A∩B| / |A| over the same
    * df-capped shingle sets the Jaccard pass uses. A short document quoted
    * wholesale inside a much longer one has c(A→B) ≈ 1 but Jaccard ≈
    * |A|/|B| ≈ 0 — symmetric similarity can never flag it, and
    * quote/subset inclusion is exactly what eval-set decontamination and
    * license-text detection need. Same co-occurrence join shape (and the
    * same df cap + Σ df² cost bound) as e1_ngram_jaccard; both direction
    * ratios are emitted, thresholded on the larger one BEFORE rounding. */
  def e1Containment(s: SparkSession, d: String): DataFrame =
    // same shared co-occurrence memo as e1_ngram_jaccard (the unfiltered
    // intersection counts — containment needs pairs the 0.2 Jaccard gate
    // drops, e.g. a short doc quoted inside a much longer one)
    shingleInterCounts(s, d)
      .select(col("da"), col("db"),
        (col("i").cast("double") / col("na")).as("cab"),
        (col("i").cast("double") / col("nb")).as("cba"))
      .filter(greatest(col("cab"), col("cba")) >= lit(MinContainment))
      .select(col("da"), col("db"),
        round(col("cab"), 4).as("containment_ab"),
        round(col("cba"), 4).as("containment_ba"))
      .orderBy("da", "db")

  /** E1 — MinHash+LSH near-dup pairs: candidates from band collisions,
    * verified with exact Jaccard ≥ 0.2 on the shingle sets. Oracle-checked
    * end to end (minhashPairsOracle replicates signature + banding in
    * DuckDB); LSH recall vs the exact pass is additionally asserted in
    * ScalaTest.
    *
    * The whole pipeline derives from ONE materialization of the df-capped
    * shingle table: `sets` (per-doc capped shingle-hash sets) feeds the
    * signature, the banding, AND both sides of the verification join —
    * critically, the signature input is the SAME capped set the Jaccard
    * paths and the oracle use (an uncapped signature would silently
    * diverge from the oracle the moment a real corpus has a boilerplate
    * shingle past the cap). Band keys use the mix-fold band_hashes
    * expression (not xxhash64): equally collision-resistant for banding,
    * and — being splitmix64 arithmetic — exactly replicable in DuckDB. */
  def e1MinhashPairs(s: SparkSession, d: String): DataFrame = {
    val mh = org.apache.spark.sql.graftext.minhashExpression
    val sets = rareShingleHashes(s, d).groupBy("doc_id")
      .agg(collect_set(col("h")).as("sh"), count(lit(1)).as("n"))
      .localCheckpoint(false)
    val bands = sets
      .withColumn("sig", mh.minhashSigFromHashes(col("sh")))
      .select(col("doc_id"),
        posexplode(mh.bandHashes(col("sig"), 4)).as(Seq("band", "bh")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    cand
      .join(sets.as("p"), col("da") === col("p.doc_id"))
      .join(sets.as("q"), col("db") === col("q.doc_id"))
      .withColumn("i", size(array_intersect(col("p.sh"), col("q.sh"))))
      .select(col("da"), col("db"),
        (col("i").cast("double") / (col("p.n") + col("q.n") - col("i"))).as("j"))
      .filter(col("j") >= 0.2)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** Jaccard thresholds (1e-4 units) swept by e1_retention_curve. */
  val RetentionThresholds: Seq[Long] =
    Seq(2000L, 3000L, 4000L, 5000L, 6000L, 7000L, 8000L, 9000L)

  /** E1 — corpus RETENTION CURVE vs the near-dup threshold: for each
    * candidate Jaccard cut, how many documents and tokens the greedy
    * keep-the-smaller-id policy would drop, and the kept shares in basis
    * points — the PRICE TABLE for the dedup-policy dial. e1_lsh_curve
    * prices the dial's RECALL side (which true pairs each banding
    * setting finds); this prices its YIELD side (how much corpus
    * survives each cut) — together they are the two axes of the
    * threshold decision a curation owner actually makes. Greedy
    * pair-drop (a doc is dropped iff it is the larger endpoint of any
    * qualifying pair) is the deterministic per-pair form of keeper
    * selection; cluster-exact dropping is e1_dedup_clusters' job and
    * differs only on chains, which the ≥ 0.2 verified pair floor keeps
    * rare. All counts integer; thresholds compare against the pair
    * table's 4-dp jaccard ×10⁴ (both engines hold identical integers).
    * Plan: the pair table fans out ×|thresholds| (pair-sized, never
    * corpus-sized), one DISTINCT + token join per threshold batch, a
    * |thresholds|-key aggregate, and the 1-row corpus total broadcast
    * back. */
  def e1RetentionCurve(s: SparkSession, d: String): DataFrame = {
    val nt = documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    val tot = nt.agg(count(lit(1)).as("nd"), sum(col("nt")).as("ntok"))
    val dropped = e1MinhashPairs(s, d)
      .select(col("db"), round(col("jaccard") * 10000).cast("long").as("ji"))
      .withColumn("thr", explode(array(RetentionThresholds.map(lit): _*)))
      .filter(col("ji") >= col("thr"))
      .select("thr", "db").distinct()
      .join(nt.withColumnRenamed("doc_id", "db"), "db")
      .groupBy("thr")
      .agg(count(lit(1)).as("n_dropped"), sum(col("nt")).as("tokens_dropped"))
    val thrDf = s.createDataFrame(RetentionThresholds.map(Tuple1(_)))
      .toDF("thr")
    thrDf.join(dropped, Seq("thr"), "left")
      .na.fill(0L, Seq("n_dropped", "tokens_dropped"))
      .crossJoin(broadcast(tot))
      .select(col("thr"), col("n_dropped"), col("tokens_dropped"),
        expr("10000 * (nd - n_dropped) div nd").as("kept_docs_bp"),
        expr("10000 * (ntok - tokens_dropped) div ntok")
          .as("kept_tokens_bp"))
      .orderBy("thr")
  }

  /** E1 — SimHash fingerprints (native codegen'd expression). Oracle:
    * DuckDB recomputes the full FNV-1a + bit-majority pipeline in HUGEINT
    * arithmetic (see oracles below) — exact for ASCII text, where the
    * oracle's per-character code points equal the UTF-8 bytes the Scala
    * implementation hashes. */
  def e1Simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), Hashes.simHash(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Band-bucket population cap for simhash candidate generation. Unlike
    * the MinHash band keys (64-bit hashes, cardinality grows with the
    * corpus), a simhash band key is only 16 bits — each band has at most
    * 65,536 buckets REGARDLESS of corpus size, so at 10^9+ docs every
    * bucket holds ~n/65k docs and an uncapped band self-join degenerates
    * to ~n²/65k candidate pairs: the same Σdf² blowup `MaxShingleDf`
    * prevents on the shingle path. Buckets over the cap are dropped from
    * candidate generation (broadcast anti join — the hot list is tiny by
    * construction), mirrored exactly in the DuckDB oracle. At the fixture
    * scales no bucket reaches the cap, so results are unchanged. */
  val MaxBandBucket = 256

  /** E1 — SimHash near-dup pairs: 4 bands of 16 bits as the LSH key, then
    * exact Hamming distance ≤ 12 via bit_count(xor). Oracle-checked (the
    * DuckDB side recomputes signatures + banding exactly).
    *
    * Recall semantics: by pigeonhole, 4 bands of 16 bits guarantee a band
    * collision only for hamming ≤ 3; pairs at hamming 4-12 are found only
    * when their differing bits happen to cluster outside one band. The
    * result is "banded candidates ∩ hamming ≤ 12" — a recall-limited LSH
    * candidate set (faithfully mirrored by the oracle), NOT an exhaustive
    * hamming-≤ 12 join. Hot band buckets are additionally dropped by
    * `MaxBandBucket` (see above) so candidate generation stays linear in
    * the corpus at scale. */
  def e1SimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = documents(s, d)
      .select(col("doc_id"), Hashes.simHash(col("text")).as("sh"))
    val allBands = sig.select(col("doc_id"), col("sh"),
      posexplode(expr(
        "array(sh & 65535, shiftright(sh, 16) & 65535, shiftright(sh, 32) & 65535, shiftright(sh, 48) & 65535)"))
        .as(Seq("band", "bh")))
    val hot = allBands.groupBy("band", "bh").agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") > MaxBandBucket).select("band", "bh")
    val bands = allBands.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        expr("bit_count(x.sh ^ y.sh)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 12)
      .orderBy("da", "db")
  }

  /** E1 — dedup-cluster resolution: connected components over the near-dup
    * pair graph (the LSH-verified minhashPairTable edges), each document labeled with its
    * cluster's canonical keeper (minimum doc_id in the component).
    * Singleton documents are their own cluster. This is the step a real
    * curation pipeline runs AFTER near-dup pairing: pairs alone don't say
    * which copies to drop; components do.
    *
    * Implementation: connectedComponentsStar over edge endpoints only (a
    * document with no near-dup edge is its own cluster, attached by one
    * left join). When the pair table fits the driver budget
    * (graft.ops.Loop) the pair rows ARE collected — one action — and
    * union-find finishes on the driver; otherwise large-star/small-star
    * rounds run with one fused action per round until the live edge set
    * fits, and the driver finishes from there. */
  def e1DedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClusterTable(s, d).orderBy("doc_id")

  /** The cluster label table (doc_id, cluster), memoized per (session,
    * corpus) — round 14: SIX declared queries (the cluster query itself,
    * cluster stats, keeper quality, the curated composite, the funnel,
    * dedup weights, the cluster-keyed split) consume these labels, and
    * the docstrings above already state the deployment shape: the cluster
    * table is a STORED artifact produced once per corpus release and read
    * by every downstream stage (e1_incremental_clusters even treats it as
    * such). The components pass (its size check and any per-round
    * actions) therefore runs once per session, not once per consumer
    * execution. */
  private[ops] def dedupClusterTable(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("dedup_cluster_table", s, d) {
      connectedComponentsStar(
        documents(s, d).select(col("doc_id")), minhashPairTable(s, d))._1
        .localCheckpoint(false)
    }

  /** Near-dup pair table (da, db), materialized once per corpus (lazy
    * localCheckpoint) like the shingle table it derives from: the cluster
    * resolution, the curated-corpus composite, and the pipeline example
    * all consume the SAME pair table — a real pipeline writes near-dup
    * pairs once and fans its downstream stages out from that table, not
    * re-running the pairwise join per consumer. The pairs come from the
    * MinHash+LSH path (banded candidates, exact-Jaccard verified), NOT the
    * exact co-occurrence join: the 10× ScaleProbe measures LSH producing
    * the identical pair set ~17× faster (the exact join's Σdf² fan-out is
    * quadratic in duplication density — it is the small-scale verifier,
    * the LSH table is what a pipeline ships at 100 TB). Oracle-exact:
    * the DuckDB side replicates signature + banding + verification. */
  private[ops] def minhashPairTable(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("minhash_pair_table", s, d) {
      e1MinhashPairs(s, d).select(col("da"), col("db")).localCheckpoint(false)
    }

  /** Cluster-durable variant of the pair-table memo: write the LSH
    * near-dup pair table ONCE to `path` (skipped when the table already
    * exists) and read it back as a regular parquet table. The
    * localCheckpoint memo above is EXECUTOR-LOCAL storage — lost on
    * executor failure with no recompute lineage — which is fine for one
    * in-process session but not for a real pipeline; the production shape
    * is this one: persist the pair table as a table, fan every downstream
    * stage (cluster resolution, keeper selection, curation, PageRank) out
    * from the table, and let a restarted run reuse it without re-running
    * the pairwise stage. Write-once-if-absent mirrors the write-once
    * corpus dirs of the memos (graft.Memo); a recompute against a NEW
    * corpus snapshot writes a new path. */
  def materializedPairTable(s: SparkSession, d: String, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      graft.sources.Formats.writeParquet(e1MinhashPairs(s, d), path)
    graft.sources.Formats.readParquet(s, path)
  }

  /** Connected components of an undirected edge list (da, db): every
    * vertex of `vertices` (column doc_id) and every edge endpoint is
    * labeled with the minimum doc_id of its component, its canonical
    * cluster id. The one connected-components entry point: the cluster
    * table, keeper selection, incremental maintenance, semantic dedup and
    * the curation pipeline example all call it. Returns the labels and
    * the number of DISTRIBUTED rounds run (0 when the driver finished the
    * whole loop).
    *
    * Edge semantics (both paths): a pair with a null endpoint, a
    * self-loop and a duplicate pair add nothing. The distributed path
    * spells this greatest/least + filter(a =!= b) + distinct; the driver
    * path keeps the rows where da =!= db, which drops exactly the same
    * ones (a null endpoint makes the comparison null).
    *
    * Driver finish (graft.ops.Loop): when the pair rows fit the driver
    * budget, union-find over them where each root is its component's
    * minimum — the ids are sorted, and a union always hangs the larger
    * index under the smaller. Its output is the star edge set (v, root)
    * that the distributed rounds converge to, so both paths share the
    * label assembly below.
    *
    * Distributed rounds: the LARGE-STAR / SMALL-STAR alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14),
    * O(log n) rounds where min-label propagation needs the component
    * DIAMETER (the constructed 64-chain: 63 min-label rounds, at most 10
    * star rounds in DedupStarSpec). Round shape (neither phase buffers a
    * neighbor list, so a hub costs nothing beyond the groupBy's partial
    * aggregation):
    *   large-star: symmetrize; m(u) = min(u, min Γ(u)) via groupBy-min;
    *     emit (v, m(u)) for every neighbor v > u (join back on u).
    *   small-star: orient (big, small); m(u) = min Γ(u); emit (v, m(u))
    *     for every in-neighbor v plus (u, m(u)).
    * Both phases emit edges already oriented (big, small) and
    * self-loop-free; each round ends in distinct() (dedup keeps the edge
    * multiset from compounding). Convergence = the oriented edge SET is
    * unchanged (edges are REWRITTEN, not only removed, so it is not
    * monotone): the round's ONE action is a full outer join of the new
    * edge set against the previous one, counting |next|, next∖prev and
    * prev∖next. At the fixpoint the graph is a union of stars centered on
    * component minima (the paper's Theorem 1), so labels read directly
    * off the final edges: (u, v) with u > v means cluster(u) = v. Once
    * |next| edges fit the budget, the live edges go to the driver finish. */
  def connectedComponentsStar(vertices: DataFrame, pairs: DataFrame): (DataFrame, Int) =
    connectedComponentsStar(vertices, pairs, Loop.DriverBytes)

  /** Round cap of the distributed star rounds (a runaway valve: the
    * 64-chain converges in at most 10). */
  val StarMaxRounds = 60

  /** connectedComponentsStar with the driver budget given (bytes, at
    * Loop.EdgeBytes an edge): Loop.ForceDistributed forces the
    * distributed rounds, and a budget below the pairs' makes the rounds
    * hand off mid-loop. */
  private[graft] def connectedComponentsStar(vertices: DataFrame,
      pairs: DataFrame, budget: Long): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val live = pairs.select(col("da"), col("db")).filter(col("da") =!= col("db"))
    Loop.collectUnder(live.as[(Long, Long)], budget) match {
      case Some(es) => (starLabels(vertices, starFinish(es).toSeq.toDF("a", "b")), 0)
      case None =>
        val loop = new Loop[org.apache.spark.sql.Row]
        var edges = loop.start(live
          .select(greatest(col("da"), col("db")).as("a"),
            least(col("da"), col("db")).as("b"))
          .distinct())
        var done = false
        var finished: Option[Array[(Long, Long)]] = None
        while (!done && finished.isEmpty && loop.rounds < StarMaxRounds) {
          val prev = edges
          val (gen, st) = loop.round(starRound(prev)) { next =>
            next.withColumn("in_next", lit(1))
              .join(prev.withColumn("in_prev", lit(1)), Seq("a", "b"), "full_outer")
              .agg(count(col("in_next")).as("m"),
                count(when(col("in_prev").isNull, 1)).as("fresh"),
                count(when(col("in_next").isNull, 1)).as("gone"))
              .head()
          }
          edges = gen
          done = st.getLong(1) == 0L && st.getLong(2) == 0L
          if (!done) finished =
            Loop.handoff(gen.as[(Long, Long)], st.getLong(0) * Loop.EdgeBytes, budget)
        }
        val star = finished.fold(edges) { es =>
          loop.close() // the labels no longer read the live edges
          starFinish(es).toSeq.toDF("a", "b")
        }
        (starLabels(vertices, star), loop.rounds)
    }
  }

  /** One large-star + small-star round over oriented edges (a > b). No
    * intermediate distinct on `large`: small-star is duplicate-insensitive
    * (smin is a MIN aggregate and the round ends in distinct()), and
    * duplicate volume is bounded by |sym| = 2|edges|. */
  private def starRound(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val lmin = sym.groupBy("a")
      .agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    val large = sym.join(lmin, "a").filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
    val smin = large.groupBy("a").agg(min(col("b")).as("m"))
    large.join(smin, "a")
      .select(col("b").as("a"), col("m").as("b"))
      .unionByName(smin.select(col("a"), col("m").as("b")))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** The driver finish: union-find over edges whose endpoints differ,
    * each root its component's minimum, returned as the star edge set
    * (v, root) for every non-root endpoint v. */
  private def starFinish(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val ids = edges.flatMap { case (a, b) => Array(a, b) }.sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def ix(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(ix(a)), find(ix(b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.indices.iterator.map(i => (i, find(i))).collect {
      case (i, r) if r != i => (ids(i), ids(r))
    }.toArray
  }

  /** Labels from a star edge set (a, b): b is a's cluster; every other
    * vertex of `vertices` or of the edges is its own. */
  private def starLabels(vertices: DataFrame, star: DataFrame): DataFrame =
    vertices.select(col("doc_id"))
      .unionByName(star.select(col("a").as("doc_id")))
      .unionByName(star.select(col("b").as("doc_id")))
      .distinct()
      .join(star.select(col("a").as("doc_id"), col("b").as("lab")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster"))

  /** E1 — e1_dedup_clusters computed by the star alternation: the SAME
    * cluster table (same oracle SQL) as e1DedupClusters, computed fresh
    * per call instead of read from the session's cluster memo. */
  def e1DedupClustersStar(s: SparkSession, d: String): DataFrame =
    connectedComponentsStar(
      documents(s, d).select(col("doc_id")), minhashPairTable(s, d))._1
      .orderBy("doc_id")

  /** E1 — train/test contamination check (decontamination): for every doc
    * in the 'test' split (the SplitSalt-keyed hash split — Sampling), the
    * number of 'train' docs it shares at least one word-3-shingle with and
    * how many of its own shingles are contaminated. This is the standard
    * benchmark-decontamination pass an LLM data pipeline runs before
    * publishing a training corpus. Plan: ONE equi-join on the 64-bit
    * shingle hash between the (tiny) test-side shingle table and the
    * (huge) train side — split membership is a scan-side hash filter on
    * both sides of the SAME materialized shingle table, and the df cap
    * (rareShingleHashes) bounds the join fan-out exactly as it does for
    * Jaccard. At 100 TB the test side is small enough to broadcast or
    * bloom-filter against the train scan; the equi-join shape is already
    * the right one. */
  def e1Contamination(s: SparkSession, d: String): DataFrame = {
    val sh = rareShingleHashes(s, d)
    val slot = Sampling.slot(col("doc_id"), Sampling.SplitSalt)
    val train = sh.filter(slot < 90)
    val test = sh.filter(slot >= 95)
    test.as("te").join(train.as("tr"), col("te.h") === col("tr.h"))
      .groupBy(col("te.doc_id").as("doc_id"))
      .agg(countDistinct(col("tr.doc_id")).as("n_train_docs"),
        countDistinct(col("te.h")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  /** Non-overlapping word segments of `SegmentWords` tokens per document
    * (trailing partial segment kept), deduped within the doc. */
  val SegmentWords = 10

  /** Spark SQL array of the document's consecutive `SegmentWords`-word
    * segments (trailing partial kept) — shared by segment dedup (distinct
    * within doc) and boilerplate detection (every occurrence kept). */
  private val segArraySql =
    s"""transform(sequence(0, (size(split(text, ' ')) - 1) div $SegmentWords),
       |  i -> concat_ws(' ', slice(split(text, ' '), i * $SegmentWords + 1, $SegmentWords)))"""
      .stripMargin

  /** DuckDB replica of `segArraySql` over a `toks` list column. */
  private val segListSql =
    s"""list_transform(range(0, ((len(toks) - 1) // $SegmentWords) + 1),
       |    i -> array_to_string(
       |      toks[CAST(i * $SegmentWords + 1 AS INT) : CAST((i + 1) * $SegmentWords AS INT)],
       |      ' '))""".stripMargin

  /** E1 — segment-level (sub-document) dedup: split every document into
    * consecutive 10-word segments, find segments occurring in 2+ documents,
    * and report each document's duplicated-segment ratio — the
    * boilerplate-removal / substring-dedup pass (à la the 50-token-window
    * dedup used on web corpora) at a granularity exact doc-level dedup
    * cannot see. Plan: explode segments → hash scan-side → df count
    * (map-side combined) → join back on the 64-bit FNV segment hash →
    * per-doc aggregate. Segment STRINGS never leave the scan: the
    * materialized table, both shuffles, and the join all carry 16-byte
    * (doc_id, segh) rows — the shingle paths' key discipline applied to
    * segments. The oracle deliberately stays keyed on the segment STRING,
    * so the correctness gate validates the hash-key reduction on the oracle
    * corpora (a colliding FNV hash there would break the hash match). At
    * production cardinalities the usual 64-bit birthday bound applies — a
    * collision silently merges two distinct segments and nudges df /
    * dup_ratio up; accepted, as for every 64-bit-fingerprint dedup pass. */
  def e1SegmentDedup(s: SparkSession, d: String): DataFrame = {
    // referenced twice (df-count side + join-back side): checkpoint so the
    // corpus is scanned and segmented once, lazily (no job at construction)
    val segs = documents(s, d)
      .select(col("doc_id"), explode(array_distinct(expr(segArraySql))).as("seg"))
      .select(col("doc_id"), Hashes.fnv64(col("seg")).as("segh"))
      .localCheckpoint(false)
    val dfc = segs.groupBy("segh").agg(count(lit(1)).as("df"))
    segs.join(dfc, "segh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        round(col("n_dup_segments") / col("n_segments"), 4).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** A segment is boilerplate when it appears in `BoilerplateDf`+ distinct
    * documents OF THE SAME SOURCE (site templates repeat within a site). */
  val BoilerplateDf = 3

  /** E1 — boilerplate detection (the line/segment-frequency pass web-corpus
    * pipelines run before quality scoring): segments recurring across
    * `BoilerplateDf`+ distinct documents of the SAME source are template
    * text — navigation, footers, legal blurbs — not content. Differs from
    * e1_segment_dedup on the two axes that make it boilerplate-shaped:
    * frequency is counted per SOURCE (a phrase common on one site is
    * template; the same phrase across many sites is just common language),
    * and every segment occurrence counts (a doc repeating its own footer
    * 3× has 3 boilerplate segments to remove, not 1). Emits per document
    * the segment counts, boilerplate ratio, and clean_tokens — the token
    * budget that SURVIVES removal, which is the number the mixture/
    * sampling tables actually need. Plan: segments explode scan-side and
    * immediately reduce to (doc_id, source, segh, ntok) — strings never
    * leave the scan; the per-(source, segh) doc-frequency partial-
    * aggregates; the join back is keyed (source, segh) so a hot template
    * segment fans out at most |docs of that source| rows. The oracle stays
    * keyed on segment STRINGS, validating the FNV hash reduction
    * end-to-end exactly as e1_segment_dedup does. */
  def e1Boilerplate(s: SparkSession, d: String): DataFrame = {
    // referenced twice (df side + join-back side): checkpoint so the
    // corpus is scanned and segmented once, lazily
    val segs = documents(s, d)
      .select(col("doc_id"), col("source"), explode(expr(segArraySql)).as("seg"))
      .select(col("doc_id"), col("source"), Hashes.fnv64(col("seg")).as("segh"),
        size(split(col("seg"), " ")).cast("long").as("ntok"))
      .localCheckpoint(false)
    val dfc = segs.groupBy("source", "segh")
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(dfc, Seq("source", "segh"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("df") >= BoilerplateDf, 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("df") < BoilerplateDf, col("ntok")).otherwise(0L))
          .as("clean_tokens"))
      .select(col("doc_id"), col("source"), col("n_segments"), col("n_boiler"),
        round(col("n_boiler") / col("n_segments"), 4).as("boiler_ratio"),
        col("clean_tokens"))
      .orderBy("doc_id")
  }

  /** E1/E2 — embedding near-dup pairs: exact cosine within label blocks,
    * threshold 0.35. Dot/norm math is double-accumulated in index order so
    * the DuckDB oracle (list_cosine_similarity over DOUBLE[]) is bit-equal. */
  def e2EmbeddingNeardup(s: SparkSession, d: String): DataFrame = {
    val e = Similarity.withNorm(embeddings(s, d))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", Similarity.cosine)
      .filter(col("sim") >= 0.35)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(col("sim"), 4).as("sim"))
      .orderBy("va", "vb")
  }

  /** E1 — cross-source duplication matrix: near-dup pair counts grouped
    * by (source, source) — the "who copies whom" table a curation
    * pipeline uses to find mirror sites, scraped aggregators, and
    * syndication clusters before deciding source weights. Consumes the
    * SAME materialized LSH-verified pair table as cluster resolution and
    * the curated composite (one more fan-out from the shared near-dup
    * artifact, not a re-run of the pairwise join); two equi-joins attach
    * sources to pair endpoints, the unordered pair is canonicalized with
    * least/greatest, and the final aggregate is |sources|² keys at any
    * corpus size. */
  def e1SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    minhashPairTable(s, d)
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** E1/E7 — per-source NOVELTY: what fraction of each source's rare-
    * shingle vocabulary appears in NO other source — the "what does this
    * source actually add" number a corpus planner reads next to the
    * overlap matrix (e1_source_overlap says who copies whom; this says
    * who contributes content nobody else has). Consumes the SAME
    * memoized rare-shingle table as every dedup stage. Plan: the corpus
    * reduces scan-side to (doc_id, h) longs; one distinct to (source, h)
    * — the per-source vocabulary, bounded by the shingle table, with the
    * hot-shingle cap already applied upstream; one |h|-key count of
    * sources per shingle; one broadcast-sized per-source fold. Nothing
    * document-sized ever shuffles, and at 100× replication the distinct
    * (source, h) table is UNCHANGED (replicas repeat their source's
    * vocabulary), so everything after the scan is flat. */
  def e1SourceNovelty(s: SparkSession, d: String): DataFrame = {
    // the per-source distinct shingle table IS the shared KMV-source memo
    // (same join + distinct; the hu/ud sketch keys just don't ride along)
    val srcH = sourceShingleTable(s, d).select("source", "h")
    val nSrc = srcH.groupBy("h").agg(count(lit(1)).as("n_sources"))
    val nDocs = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    srcH.join(nSrc, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_sources") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .join(broadcast(nDocs), "source")
      .select(col("source"), col("n_docs"), col("n_shingles"), col("n_unique"),
        round(col("n_unique") / col("n_shingles"), 4).as("novelty"))
      .orderBy("source")
  }

  /** E1 — MinHash sketch-accuracy audit: for every verified near-dup pair,
    * the ESTIMATED Jaccard (fraction of the 64 signature slots agreeing —
    * the unbiased MinHash estimator) next to the exact shingle Jaccard,
    * with the absolute error. This is the q42/q43 idea applied to the
    * dedup sketch — but because the signature derivation is splitmix64
    * arithmetic replicated exactly in the oracle, the ESTIMATES themselves
    * hash-match cross-engine, not just an accuracy contract. Operationally
    * this is the audit a pipeline runs when tuning band/row counts: it
    * quantifies how sharp the signature is around the 0.2 threshold. The
    * signature join ships 64 longs per doc for pair endpoints only; at
    * 100 TB it runs over the (already output-bounded) pair table, or a
    * sample of it. */
  def e1MinhashAccuracy(s: SparkSession, d: String): DataFrame = {
    val mh = org.apache.spark.sql.graftext.minhashExpression
    val sigs = rareShingleHashes(s, d).groupBy("doc_id")
      .agg(collect_set(col("h")).as("sh"))
      .select(col("doc_id"), mh.minhashSigFromHashes(col("sh")).as("sig"))
    e1MinhashPairs(s, d)
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .withColumn("eq", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"))
      .withColumn("est_jaccard", round(col("eq") / 64.0, 4))
      .select(col("da"), col("db"), col("jaccard"), col("est_jaccard"),
        // both operands are already 4-decimal-rounded doubles, so the
        // subtraction is the same IEEE op on the same bits in both engines
        round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))
      .orderBy("da", "db")
  }

  /** E1 — b-BIT MinHash audit (Li & König, WWW'10, b = 1): keep only the
    * LOW BIT of each of the 64 minhash slots — a 64-BIT signature
    * instead of 64 longs, the 32× storage/bandwidth dial a 100 TB
    * signature store actually turns — and score the corrected estimator
    * Ĵ = max(0, 2·(matching-bit fraction) − 1) against both the exact
    * Jaccard and the full-signature estimate on the SAME verified
    * pairs e1_minhash_accuracy audits. Random bit collisions match with
    * probability ½, hence the 2m−1 correction; the audit shows what
    * resolution survives the compression (b=1 needs ~4× the
    * permutations for the same variance — priced here empirically).
    * Exactness: bit matches are exact integers; both estimators divide
    * by 64 (a power of two — exact in IEEE), and max(0, ·) keeps est_b1
    * nonnegative so no signed-zero guard is needed; low-bit parity via
    * bitwise AND is two's-complement-identical in both engines. Plan:
    * identical to e1_minhash_accuracy — signatures join the
    * output-bounded pair table only. */
  def e1MinhashBbit(s: SparkSession, d: String): DataFrame = {
    val mh = org.apache.spark.sql.graftext.minhashExpression
    val sigs = rareShingleHashes(s, d).groupBy("doc_id")
      .agg(collect_set(col("h")).as("sh"))
      .select(col("doc_id"), mh.minhashSigFromHashes(col("sh")).as("sig"))
    e1MinhashPairs(s, d)
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .withColumn("eq", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"))
      .withColumn("mb", expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> CASE WHEN (x & 1) = (y & 1) THEN 1 ELSE 0 END), 0, (a, b) -> a + b)"))
      .select(col("da"), col("db"), col("jaccard"),
        round(col("eq") / 64.0, 4).as("est_full"),
        asLong(col("mb")).as("n_bit_matches"),
        round(greatest(lit(0), col("mb") * 2 - 64) / 64.0, 4).as("est_b1"),
        round(abs(round(col("eq") / 64.0, 4) - col("jaccard")), 4)
          .as("err_full"),
        round(abs(round(greatest(lit(0), col("mb") * 2 - 64) / 64.0, 4) -
          col("jaccard")), 4).as("err_b1"))
      .orderBy("da", "db")
  }

  /** Blocking parameters for e1FuzzyPairs — interpolated into BOTH
    * engines. Prefix length bounds the per-pair edit-distance work to
    * O(FuzzyPrefix²) regardless of document length; the (lang, length
    * bucket) blocking key bounds the candidate set the way LSH bands do
    * for MinHash. */
  val FuzzyPrefix = 40
  val FuzzyMaxDist = 10
  val FuzzyLenBucket = 100

  /** Block-population cap for e1FuzzyPairs, the MaxBandBucket treatment:
    * a (lang, length-bucket) block with more than this many documents is
    * dropped from candidate generation entirely, so the in-block pairwise
    * work stays ≤ cap·(cap−1)/2 per block and TOTAL candidates stay
    * linear in the number of blocks — i.e. in the corpus — instead of
    * quadratic in the hottest block. At fixture scales no block reaches
    * the cap, so results are unchanged; at 100 TB the cap is what keeps
    * a billion same-length English documents from forming one 10^18-pair
    * block (a production run would widen the key — finer buckets, a
    * content prefix hash — to recover recall inside hot blocks). */
  val MaxFuzzyBlock = 256

  /** E1 — fuzzy near-match pairs by BLOCKED edit distance: candidate
    * pairs share a (lang, n_chars div bucket, first-2-chars) blocking
    * key — standard record-linkage blocking: the length bucket because
    * texts of very different lengths can't be close, the 2-char prefix
    * because an in-place edit rarely touches position 0-1 — and survive
    * iff the Levenshtein distance of their FuzzyPrefix-char prefixes is
    * ≤ FuzzyMaxDist. Recall semantics (mirrored by the oracle, like the
    * simhash pigeonhole note): a near-dup pair differing in its first
    * two characters is missed — the price of the finer key; in exchange
    * the finer key keeps sub-populations under MaxFuzzyBlock that a
    * coarser key would discard wholesale, so measured recall RISES
    * (77 vs 37 pairs on the sf0.1 fixture) while candidate work drops
    * ~6×. Complements the set-based near-dup family (Jaccard/MinHash/
    * SimHash ignore token ORDER; edit distance is the order-sensitive
    * measure that catches small in-place edits). Plan: one equi-join
    * shuffle on the blocking key; hot blocks are dropped by
    * MaxFuzzyBlock (broadcast anti-join, exactly the shingle-df /
    * band-bucket treatment) so candidate generation stays linear in the
    * corpus. Spark's 3-arg `levenshtein(l, r, max)` abandons a pair
    * early once the running distance exceeds the threshold, so the
    * per-pair cost is O(prefix · max), not O(prefix²). */
  def e1FuzzyPairs(s: SparkSession, d: String): DataFrame = {
    val blocked0 = documents(s, d).select(
      col("doc_id"), col("lang"),
      expr(s"n_chars div $FuzzyLenBucket").as("lb"),
      substring(col("text"), 1, 2).as("pfx2"),
      substring(col("text"), 1, FuzzyPrefix).as("pfx"))
    val hot = blocked0.groupBy("lang", "lb", "pfx2")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > MaxFuzzyBlock).select("lang", "lb", "pfx2")
    val blocked = blocked0
      .join(broadcast(hot), Seq("lang", "lb", "pfx2"), "left_anti")
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
          col("a.pfx2") === col("b.pfx2") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist",
        levenshtein(col("a.pfx"), col("b.pfx"), FuzzyMaxDist))
      .filter(col("dist") >= 0)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        asLong(col("dist")).as("dist"))
      .orderBy("da", "db")
  }

  /** Purpose salt splitting the corpus into existing corpus (slot < 90)
    * vs new batch (slot ≥ 90) for the incremental-dedup demonstration —
    * deterministic, sf-independent, and independent of the sampling
    * salts. Positive so the xor stays below 2^63 in the oracle. */
  val IncrSalt = 0x4be8d17a92c5f3e6L

  /** E1 — incremental dedup: admit only the NEW batch documents whose
    * content fingerprint is unseen — neither in the existing corpus nor
    * earlier in the batch itself (min doc_id wins within a batch group).
    * This is the steady-state shape of dedup at 100 TB: the corpus is
    * deduped ONCE, and each nightly increment is checked against the
    * corpus fingerprint set instead of re-deduping the world. Plan: the
    * batch side partial-aggregates to one row per distinct fingerprint
    * map-side, then a LEFT ANTI join on the 16-byte fingerprint — the
    * exchange carries hashes, never documents, and Spark's runtime
    * row-level filtering (injected bloom on the anti-join key) prunes
    * corpus partitions before the join at scale. The corpus/batch split
    * here is a deterministic slot of doc_id so both engines and every sf
    * agree on membership. */
  def e1Incremental(s: SparkSession, d: String): DataFrame = {
    val f = documents(s, d).select(col("doc_id"),
      Sampling.slot(col("doc_id"), IncrSalt).as("slot"),
      contentFingerprint(col("text")).as("fp"))
    val corpusFps = f.filter(col("slot") < 90).select("fp").distinct()
    f.filter(col("slot") >= 90)
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** E1 — incremental NEAR-dup dedup: the fuzzy twin of e1_incremental.
    * The exact-fingerprint anti join admits a near-copy (one edited
    * sentence defeats it); this pass checks each new-batch document's
    * MinHash bands against the EXISTING CORPUS's band index and reports,
    * per batch document that collides-and-verifies (exact Jaccard ≥ 0.2
    * on the df-capped shingle sets), its best corpus match — the
    * documents a nightly ingest must NOT admit even though their bytes
    * are new. Same IncrSalt slot split as e1_incremental, so the two
    * queries describe the same nightly batch under both policies. Plan
    * at scale: the band index over the corpus is the pre-built artifact
    * (same banded table e1_minhash_pairs ships); the batch's bands probe
    * it with an equi-join on (band, bh) — batch-sized × collision rate,
    * never corpus × corpus — and only colliding candidates fetch shingle
    * sets for verification. The argmax is a map-side-combinable
    * max(struct), keyed on integer basis-points so the tie-break is
    * engine-independent. */
  def e1IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    val isBatch = (c: org.apache.spark.sql.Column) =>
      Sampling.slot(c, IncrSalt) >= 90
    e1MinhashPairs(s, d)
      .filter(isBatch(col("da")) =!= isBatch(col("db")))
      .select(
        when(isBatch(col("da")), col("da")).otherwise(col("db")).as("doc_id"),
        when(isBatch(col("da")), col("db")).otherwise(col("da")).as("match_id"),
        expr("CAST(round(jaccard * 10000) AS BIGINT)").as("jbp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jbp"), (-col("match_id")).as("nm"))).as("best"))
      .select(col("doc_id"), col("n_matches"),
        (-col("best.nm")).as("match_id"),
        round(col("best.jbp") / 10000.0, 4).as("jaccard"))
      .orderBy("doc_id")
  }

  /** E1 — INCREMENTAL cluster maintenance: assign the arriving batch
    * (slot ≥ 90, the e1_incremental split) its near-dup cluster labels
    * WITHOUT re-clustering the corpus — the steady-state form of
    * e1_dedup_clusters at 100 TB, where the corpus cluster table is a
    * stored artifact and each load must only resolve what the batch
    * touches. Mechanism: CONTRACTION. Corpus-side pairs yield the stored
    * label table (here derived once from the corpus slice; in production
    * it is read); every pair touching a batch doc is then mapped through
    * that table (corpus endpoint → its cluster label, batch endpoint →
    * itself) and the star CC pass runs over the CONTRACTED graph — whose
    * size is (batch pairs + touched clusters), not the corpus. Because a
    * cluster label IS its component's min id and contraction preserves
    * reachability, the contracted component min equals the full-graph
    * label EXACTLY — including the hard case where one batch doc merges
    * two existing corpus clusters. The oracle is therefore the full
    * recursive recompute restricted to batch rows: the gate itself
    * proves incremental ≡ recompute. */
  def e1IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val isBatch = (c: org.apache.spark.sql.Column) =>
      Sampling.slot(c, IncrSalt) >= 90
    val mh = minhashPairTable(s, d)
      .withColumn("ba", isBatch(col("da")))
      .withColumn("bb", isBatch(col("db")))
    val corpusIds = documents(s, d).select(col("doc_id"))
      .filter(!isBatch(col("doc_id")))
    val corpusLabels = connectedComponentsStar(corpusIds,
      mh.filter(!col("ba") && !col("bb")).select("da", "db"))._1
    // both endpoints mapped through the label table in one pass: corpus
    // endpoint → its stored cluster label, batch endpoint → itself
    val mapped = mh.filter(col("ba") || col("bb"))
      .join(corpusLabels.select(col("doc_id").as("da"),
        col("cluster").as("la")), Seq("da"), "left")
      .join(corpusLabels.select(col("doc_id").as("db"),
        col("cluster").as("lb")), Seq("db"), "left")
      .select(
        when(col("ba"), col("da")).otherwise(coalesce(col("la"), col("da")))
          .as("da"),
        when(col("bb"), col("db")).otherwise(coalesce(col("lb"), col("db")))
          .as("db"))
    val batchIds = documents(s, d).select(col("doc_id"))
      .filter(isBatch(col("doc_id")))
    connectedComponentsStar(batchIds, mapped)._1
      .join(batchIds, Seq("doc_id"), "left_semi")
      .orderBy("doc_id")
  }

  /** E1 — the dedup accuracy scoreboard (the e2_ann_recall analogue):
    * LSH pair recall against the exact shingle-Jaccard ground truth.
    * Precision is 1.0 by construction (every band candidate is verified
    * with the same exact Jaccard the ground-truth pass uses, over the
    * same capped shingle sets), so the one number that matters is how
    * many true near-dup pairs band collisions surfaced — the dial that
    * band/row tuning (4×16 here) trades against candidate volume. Both
    * sides derive from the ONE materialized shingle/pair table; the
    * three counts are 1-row aggregates cross-joined broadcast. The exact
    * side is the quadratic verifier, so this query shares its ≥100×
    * probe exclusion. */
  def e1LshRecall(s: SparkSession, d: String): DataFrame = {
    val ex = e1NgramJaccard(s, d).select(col("da"), col("db"))
    val lsh = minhashPairTable(s, d)
    val common = lsh.join(ex, Seq("da", "db"), "left_semi")
    ex.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(col("n_common").cast("double") / col("n_exact"), 4).as("recall"))
  }

  /** Salt + size for the sampled dedup audit's deterministic query set —
    * interpolated into both engines (fixed SIZE, not a fraction: see
    * Similarity.AnnQuerySalt for why that is what makes the exact pass
    * linear in the corpus). */
  val LshQuerySalt = 0x4de1c6a9f2705b38L
  val LshQueryK = 50

  private def sampledDocIds(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("doc_id").bitwiseXOR(lit(LshQuerySalt))).as("m"))
      .orderBy("m", "doc_id").limit(LshQueryK).select("doc_id")

  /** E1 — the SAMPLED LSH recall audit: e1_lsh_recall's scoreboard with
    * the exact ground truth computed only for a deterministic fixed-size
    * doc sample — the deployable form that lifts the audit family's
    * ≥100× ScaleProbe exclusion. e1_lsh_recall's exact side is the full
    * pairwise Σdf² co-occurrence join; here the exact pass joins the 50
    * sampled docs' shingles against the corpus shingle table ONCE
    * (sample × corpus, bounded by the same df cap), so exact work grows
    * linearly with the corpus. Pairs are ORIENTED (qid = sampled doc,
    * other = any doc) on both the exact and LSH sides, so recall is a
    * like-for-like ratio; the LSH side is the shared materialized pair
    * table symmetrized and restricted to sampled endpoints. recall is
    * zero-guarded (a sample with no near-dups reads 0.0, not NaN). */
  /** Sampled exact near-dup ground truth: ORIENTED (qid, other, jaccard)
    * pairs where qid is one of the LshQueryK sampled docs and other is
    * any corpus doc sharing a capped shingle — the shared exact side of
    * the sampled dedup audits (sample × corpus, linear; same 4-dp
    * jaccard form as the mhp chain). */
  private def sampledExactNeardupPairs(s: SparkSession, d: String): DataFrame = {
    val sh = rareShingleHashes(s, d)
    val qs = broadcast(sampledDocIds(s, d))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.join(qs, Seq("doc_id"), "left_semi").as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("qid"), col("b.doc_id").as("other"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("qid"), col("n").as("nq")), "qid")
      .join(sz.select(col("doc_id").as("other"), col("n").as("no")), "other")
      .filter(col("i").cast("double") / (col("nq") + col("no") - col("i")) >= 0.2)
      .select(col("qid"), col("other"),
        round(col("i").cast("double") / (col("nq") + col("no") - col("i")), 4)
          .as("jaccard"))
  }

  /** The LSH pair table symmetrized and restricted to sampled qids —
    * the audited side of the sampled dedup audits. */
  private def sampledLshPairs(s: SparkSession, d: String): DataFrame = {
    val mh0 = minhashPairTable(s, d)
    mh0.select(col("da").as("qid"), col("db").as("other"))
      .unionByName(mh0.select(col("db").as("qid"), col("da").as("other")))
      .join(broadcast(sampledDocIds(s, d)).select(col("doc_id").as("qid")),
        Seq("qid"), "left_semi")
  }

  def e1LshRecallSampled(s: SparkSession, d: String): DataFrame = {
    val ex = sampledExactNeardupPairs(s, d).select("qid", "other")
    val mh = sampledLshPairs(s, d)
    val common = mh.join(ex, Seq("qid", "other"), "left_semi")
    ex.agg(count(lit(1)).as("n_exact"))
      .crossJoin(mh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        when(col("n_exact") === 0L, lit(0.0))
          .otherwise(round(col("n_common").cast("double") / col("n_exact"), 4))
          .as("recall"))
  }

  /** E1 — the banding S-curve on the sampled doc set: e1_lsh_curve
    * re-based on sampledExactNeardupPairs, lifting the last dedup-audit
    * ≥100× exclusion — exact pairs touching a sampled doc, banded by
    * their 4-dp jaccard, each band scored by how many pairs the banded
    * MinHash index also surfaced (oriented both sides, like the sampled
    * recall). Same integer output shape as e1_lsh_curve; bands with no
    * sampled exact pair are absent on both engines. */
  def e1LshCurveSampled(s: SparkSession, d: String): DataFrame = {
    val ex = sampledExactNeardupPairs(s, d)
    val mh = sampledLshPairs(s, d).select(col("qid"), col("other"),
      lit(1L).as("hit"))
    val band = when(col("jaccard") < 0.3, "j_020_030")
      .when(col("jaccard") < 0.5, "j_030_050")
      .when(col("jaccard") < 0.7, "j_050_070")
      .otherwise("j_070_100")
    ex.join(mh, Seq("qid", "other"), "left")
      .select(band.as("band"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_found"))
      .withColumn("recall_bp", expr("n_found * 10000 div n_exact"))
      .orderBy("band")
  }

  /** E1 — the LSH recall S-CURVE made empirical: exact near-dup pairs
    * banded by their Jaccard similarity, each band scored by how many of
    * its pairs the banded-MinHash index also found (recall in integer
    * basis points). This is the tuning evidence behind any (bands, rows)
    * choice: banding theory says P(candidate) = 1−(1−j^r)^b — an S-curve
    * steep around the working threshold — and this table is that curve
    * measured on the corpus (high-j bands ≈ 10000 bp, the 0.2–0.3 tail
    * partially sampled — exactly the trade the threshold buys). The
    * pareto-scoreboard discipline applied to the dedup side
    * (e2_ann_pareto's twin). Consumes the exact verifier BY DEFINITION →
    * shares its ≥100× ScaleProbe exclusion; the LSH chain it audits is
    * the scale path. ALL-INTEGER output. */
  def e1LshCurve(s: SparkSession, d: String): DataFrame = {
    val ex = e1NgramJaccard(s, d).select(col("da"), col("db"), col("jaccard"))
    val mh = minhashPairTable(s, d)
      .select(col("da"), col("db"), lit(1L).as("hit"))
    val band = when(col("jaccard") < 0.3, "j_020_030")
      .when(col("jaccard") < 0.5, "j_030_050")
      .when(col("jaccard") < 0.7, "j_050_070")
      .otherwise("j_070_100")
    ex.join(mh, Seq("da", "db"), "left")
      .select(band.as("band"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_found"))
      .withColumn("recall_bp", expr("n_found * 10000 div n_exact"))
      .orderBy("band")
  }

  /** N for the benchmark-decontamination pass: the published LLM
    * decontamination recipe checks TEST-set N-GRAM overlap at n = 13
    * (the GPT-3 appendix / PaLM-style choice: long enough that a shared
    * n-gram is evidence of copied text, not phrase reuse) —
    * interpolated into BOTH engines. */
  val ContamN = 13

  /** E1 — 13-GRAM decontamination (the published-recipe companion to
    * e1_contamination's 3-shingle screen): for every doc in the 'test'
    * split, how many 'train' docs share at least one word-13-gram and
    * how many of its own 13-grams are contaminated. The 3-shingle pass
    * is the high-recall tripwire (any phrase overlap); this is the
    * high-precision pass pipelines actually gate on before publishing
    * an eval — a shared 13-gram essentially proves copied text. Plan is
    * the same ONE equi-join on the 64-bit n-gram hash (codegen'd
    * native expression scan-side; strings never shuffle), split
    * membership a scan-side hash gate on both sides, df-capped like
    * every shingle join so one boilerplate 13-gram cannot quadratic the
    * join at 100 TB. */
  def e1Contamination13(s: SparkSession, d: String): DataFrame = {
    val sh0 = documents(s, d).select(col("doc_id"),
      explode(array_distinct(org.apache.spark.sql.graftext.ngramExpressions
        .wordShingleHashes(col("text"), ContamN))).as("h"))
    val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("h")
    val sh = sh0.join(broadcast(hot), Seq("h"), "left_anti")
    val slot = Sampling.slot(col("doc_id"), Sampling.SplitSalt)
    val train = sh.filter(slot < 90)
    val test = sh.filter(slot >= 95)
    test.as("te").join(train.as("tr"), col("te.h") === col("tr.h"))
      .groupBy(col("te.doc_id").as("doc_id"))
      .agg(countDistinct(col("tr.doc_id")).as("n_train_docs"),
        countDistinct(col("te.h")).as("n_shared_13grams"))
      .orderBy("doc_id")
  }

  /** Sketch size for the KMV (k-minimum-values) union estimator —
    * interpolated into BOTH engines. σ ≈ 1/√k ≈ 6%, so the err_ok
    * contract's 15% bound is ~2.4σ. */
  val KmvK = 256

  /** E1 — MERGEABLE union-cardinality sketches (KMV) per source pair:
    * "how many distinct shingles would sources A and B have merged" —
    * the corpus-planning question (dedup yield, storage, mixture sizing)
    * answered WITHOUT scanning A∪B, from per-source sketches alone.
    * KMV: keep each source's K smallest (unsigned) shingle hashes; the
    * union sketch of two sources is the K smallest of the two sketches'
    * union (pure array math — this mergeability is why distributed
    * engines ship KMV/theta sketches as partial aggregates), and
    * n̂ = (K−1)·2⁶⁴ / h_K. Like the q42/q43 sketches the oracle is the
    * portable ACCURACY CONTRACT (each engine's own estimate within 15%
    * of its own exact union, computed from bit-identical hash sets), not
    * value equality on the estimate. Output is the exact union + err_ok
    * per pair. Plan at scale: per-source sketches are one rank-K window
    * over (source, 8-byte hash) rows; the pairwise stage touches ONLY
    * |sources|·K sketch rows — the corpus is scanned once. The exact
    * side (for the contract) is the same df-capped h-equi-join as every
    * shingle intersection. */
  /** Per-(session, corpus) memo of the per-source DISTINCT shingle table
    * (source, h, hu unsigned order key, ud unsigned double value) — the
    * input both KMV queries sketch. Each execution referenced it 3-4
    * times lazily (sizes, the intersection self-join sides, the sketch
    * rank), re-running the join+distinct per reference; a deployment
    * persists the per-source shingle table once next to the sketches. */
  private def sourceShingleTable(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("source_shingle_table", s, d) {
      val two64 = math.pow(2, 64)
      rareShingleHashes(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("h")).distinct()
        // unsigned order key (sign-bit flip) + unsigned double value
        .withColumn("hu", col("h").bitwiseXOR(lit(Long.MinValue)))
        .withColumn("ud", when(col("h") < 0, col("h").cast("double") + two64)
          .otherwise(col("h").cast("double")))
        .localCheckpoint(false)
    }

  def e1KmvUnion(s: SparkSession, d: String): DataFrame = {
    val K = KmvK
    val two64 = math.pow(2, 64)
    val ssrc = sourceShingleTable(s, d)
    val sz = ssrc.groupBy("source").agg(count(lit(1)).as("n"))
    val ix = ssrc.as("a")
      .join(ssrc.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("i"))
    val px = sz.as("x").join(sz.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("sa"), col("y.source").as("sb"),
        (col("x.n") + col("y.n")).as("nn"))
      .join(ix, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"),
        (col("nn") - coalesce(col("i"), lit(0L))).as("n_exact"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("hu")
    val sk = ssrc.withColumn("rn", row_number().over(wk)).filter(col("rn") <= K)
      .select(col("source"), col("hu"), col("ud"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("sa", "sb").orderBy("hu")
    val est = broadcast(px)
      .join(sk, col("source") === col("sa") || col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("n_exact"), col("hu"), col("ud"))
      .distinct()
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= K)
      .groupBy("sa", "sb", "n_exact")
      .agg(count(lit(1)).as("m"),
        max(when(col("rn") === K, col("ud"))).as("udk"))
    est.select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_exact"),
        when(col("m") < K, col("m") === col("n_exact"))
          .otherwise(abs(lit((K - 1).toDouble) * two64 / col("udk")
            / col("n_exact") - 1.0) <= 0.15).as("err_ok"))
      .orderBy("source_a", "source_b")
  }

  /** E1 — the GLOBAL dedup-yield forecast from merged sketches: one row
    * comparing Σ per-source distinct shingles against the corpus-wide
    * distinct count — `savings_bp` is the cross-source redundancy a merge
    * would collapse, the first number a corpus-merge plan quotes. The
    * n-way union estimate comes from merging ALL per-source KMV sketches
    * (k-smallest of the sketch union ≡ k-smallest of the global set —
    * the mergeability law Round9OpsSpec pins), so at scale the planner
    * reads |sources|·K sketch rows, not the corpus; the exact global
    * distinct is computed here only to close the err_ok contract. */
  def e1KmvGlobal(s: SparkSession, d: String): DataFrame = {
    val K = KmvK
    val two64 = math.pow(2, 64)
    val ssrc = sourceShingleTable(s, d)
    val tot = ssrc.groupBy("source").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_sources"), sum(col("n")).as("sum_per_source"))
    val ex = ssrc.agg(countDistinct(col("h")).as("n_exact"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("hu")
    val sk = ssrc.withColumn("rn", row_number().over(wk)).filter(col("rn") <= K)
    // |sources|·K rows: the unpartitioned rank below is bounded by the
    // sketch union, never the corpus
    val wg = org.apache.spark.sql.expressions.Window.orderBy("hu")
    val gsk = sk.select(col("hu"), col("ud")).distinct()
      .withColumn("grn", row_number().over(wg)).filter(col("grn") <= K)
      .agg(count(lit(1)).as("m"), max(when(col("grn") === K, col("ud"))).as("udk"))
    tot.crossJoin(ex).crossJoin(gsk)
      .select(col("n_sources"), col("sum_per_source"), col("n_exact"),
        expr("(sum_per_source - n_exact) * 10000 div sum_per_source")
          .as("savings_bp"),
        when(col("m") < K, col("m") === col("n_exact"))
          .otherwise(abs(lit((K - 1).toDouble) * two64 / col("udk")
            / col("n_exact") - 1.0) <= 0.15).as("err_ok"))
  }

  /** E1 — duplicate-family size distribution: how many clusters have k
    * members (singletons included) — the headline table of a dedup
    * report: mass in large families = mirrored/template content and
    * predicts exactly how many documents keeper-selection will drop
    * (Σ (k−1)·n_k). Two tiny aggregates over the cluster labels the
    * components pass already computes; nothing corpus-sized moves
    * beyond the e1_dedup_clusters pass it shares. */
  def e1ClusterStats(s: SparkSession, d: String): DataFrame =
    e1DedupClusters(s, d)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** E1 — quality-aware keeper selection: the curation decision the cluster
    * resolution exists to feed. min-doc_id keeper selection (e1_dedup_clusters'
    * `cluster` label, and what e7_curated ships) keeps an arbitrary copy;
    * this pass keeps the HIGHEST-QUALITY member of every near-dup cluster
    * (the e3_quality composite score), the policy production pipelines
    * (e.g. RefinedWeb-style dedup) actually run — among mirrored copies,
    * keep the cleanest one. Emits, per cluster: size, the keeper (argmax
    * score, ties to the smallest doc_id), its score, and the doc/token
    * volume the drop decision removes. Reference analogue: the
    * duplicate-row checks in `lime_etl`'s job tests pick which row
    * survives; this is that decision at corpus scale with an explicit
    * quality policy.
    *
    * Plan at scale: quality is scan-side arithmetic (no shuffle); cluster
    * labels come from the pair-table-sized components pass; then ONE
    * doc_id equi-join and ONE cluster-keyed aggregate whose argmax is a
    * map-side-combinable `max(struct(...))` — no window over the corpus,
    * no per-cluster sort. The score rides in integer micro-units so the
    * argmax tie-break is engine-independent (the e2_kmeans_iter /
    * e3_quality_model float-order treatment). */
  def e1KeeperQuality(s: SparkSession, d: String): DataFrame = {
    val q = documents(s, d)
      .withColumn("nt", size(split(col("text"), " ")))
      .withColumn("nsw", size(expr(TextOps.stopwordFilterSql)))
      .select(col("doc_id"), asLong(col("nt")).as("nt"),
        asLong(round(round(TextOps.qualityScore(col("nt"), col("nsw")), 4)
          * 10000)).as("score_micro"))
    connectedComponentsStar(
      documents(s, d).select(col("doc_id")), minhashPairTable(s, d))._1
      .join(q, Seq("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("score_micro"), negate(col("doc_id")).as("nd"),
          col("doc_id"), col("nt"))).as("best"),
        asLong(sum(col("nt"))).as("tot"))
      .select(col("cluster"), col("cluster_size"),
        col("best.doc_id").as("keeper_doc_id"),
        round(col("best.score_micro") / 10000.0, 4).as("keeper_score"),
        (col("cluster_size") - 1).as("dropped_docs"),
        (col("tot") - col("best.nt")).as("dropped_tokens"))
      .orderBy("cluster")
  }

  /** Span shingle width for exact-substring dedup: a duplicated region must
    * repeat at least this many consecutive tokens to count. Real pipelines
    * use ~50 BPE tokens (Lee et al. 2021); the fixture docs are short, so 5
    * keeps the operator exercised at test scale — the plan is K-invariant. */
  val SpanK = 5

  /** E1 — exact substring-SPAN dedup: the token-span-level pass ("dedup the
    * repeated passage, not the document") that document-level exact/minhash
    * dedup cannot express. A K-token shingle that occurs 2+ times ANYWHERE
    * in the corpus (other docs or elsewhere in the same doc) marks its K
    * tokens as duplicated; per document, overlapping/adjacent marked
    * regions merge into maximal removable spans (gaps-and-islands over the
    * running max of span ends). Emits per doc the span count, duplicated
    * token total, and trim ratio — the numbers a span-trimming rewrite
    * needs. Reference analogue: the repeated-content checks lime-etl jobs
    * run per-table (`lime_etl/domain/job_test_result.py`) lifted to token
    * granularity. Plan at scale: positional shingle hashes explode
    * scan-side (no shingle string leaves the scan), the occurrence count
    * partial-aggregates map-side, and the only corpus-sized shuffles are
    * the hash-keyed count/join-back plus ONE doc_id window whose per-key
    * row count is bounded by document length. The span merge itself is
    * O(positions) per doc inside that window — no pairwise work anywhere,
    * unlike the Jaccard paths, so no df cap is needed (a hot shingle adds
    * one row per occurrence, not df² pairs). */
  def e1SpanDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // positional hashes: posexplode keeps the in-doc offset the pairwise
    // paths throw away; NOT distinct — a self-repeat is two positions and
    // both are real duplicated regions. Referenced twice (count + join
    // back), so materialize once.
    val pos = documents(s, d)
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graftext.ngramExpressions
          .wordShingleHashes(col("text"), SpanK)))
      .toDF("doc_id", "pos", "h")
      .localCheckpoint(false)
    val dupPos = pos
      .join(pos.groupBy("h").agg(count(lit(1)).as("c")).filter(col("c") >= 2),
        Seq("h"))
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // island starts where this shingle's span [pos, pos+K-1] neither
    // overlaps nor touches the furthest span end seen so far
    val prevEnd = max(col("pos") + lit(SpanK - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dupPos
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + lit(1), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s0"), max(col("pos")).as("mx"))
      .select(col("doc_id"), col("s0"), (col("mx") + lit(SpanK - 1)).as("e0"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e0") - col("s0") + lit(1)).as("dup_tokens"))
    documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 4)
          .as("trim_ratio"))
      .orderBy("doc_id")
  }

  /** CDC parameters: rolling-window width (words) for the boundary hash,
    * expected chunk length (boundary fires when the mixed window hash ≡ 0
    * mod CdcAvg, so chunks average ~CdcAvg words), and the corpus-wide
    * occurrence count at which a chunk counts as duplicated. */
  val CdcK = 3
  val CdcAvg = 8L
  val CdcMinOcc = 2

  /** E1 — CONTENT-DEFINED CHUNKING dedup (the Rabin/rolling-hash family
    * storage dedup and recent text-dedup work both use): cut each
    * document at positions where splitmix64(window-hash) ≡ 0 mod CdcAvg,
    * then count how often each variable-length chunk recurs corpus-wide.
    * Because boundaries are anchored to CONTENT, not offsets, an inserted
    * sentence only perturbs its own chunk — where e1_segment_dedup's
    * fixed windows shift at every later offset and lose all matches
    * past the edit. Complements the span pass: spans need the duplicated
    * region to share exact K-shingles at every position; CDC fingerprints
    * whole chunks, so one hash identity per ~CdcAvg words. Plan: token
    * split, window hashes, boundary gate, chunk slicing and chunk
    * fingerprints are ALL scan-side array ops (zero shuffles until the
    * fingerprint count); the only exchange is the fp-keyed occurrence
    * window over thin chunk rows — documents and chunk text never
    * shuffle. */
  def e1CdcChunks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        org.apache.spark.sql.graftext.ngramExpressions
          .wordShingleHashes(col("text"), CdcK).as("wh"))
      .withColumn("n", size(col("toks")))
      // boundary starts [0] ++ interior window starts 1..|wh|−1 passing
      // the splitmix gate — one fused codegen loop (CdcStartsExpr,
      // bit-identical to the old filter(sequence(...)) HOF spelling,
      // whose CodegenFallback barred the whole pre-explode stage from
      // codegen and re-ran the shingle+gate chain per inlined reference
      // with no CSE)
      .withColumn("starts",
        org.apache.spark.sql.graftext.minhashExpression
          .cdcStarts(col("wh"), CdcAvg))
      // each chunk ends where the next starts (last chunk ends at n).
      // CRITICAL PLAN PROPERTY: no lambda body may reference an outer
      // ARRAY-VALUED expression — CollapseProject inlines the alias, and
      // a higher-order function re-evaluates its body PER ELEMENT, so
      // `element_at(starts, ...)` inside a transform re-ran the whole
      // interpreted mix64 boundary filter per chunk: O(chunks × tokens)
      // per document, measured 35 s of a 65 s total at sf0.1. arrays_zip
      // evaluates `starts`/`ends` ONCE per row, and after the explode
      // every remaining expression is per-row and codegen'd (measured
      // 65 s → ~2 s, same rows/hashes).
      .withColumn("ends", concat(
        when(size(col("starts")) >= 2,
          slice(col("starts"), lit(2), size(col("starts")) - 1))
          .otherwise(array().cast("array<int>")),
        array(col("n"))))
      .withColumn("ch", arrays_zip(col("starts"), col("ends")))
    val chunks = docs
      .select(col("doc_id"), asLong(col("n")).as("n_tokens"), col("toks"),
        explode(col("ch")).as("c"))
      .select(col("doc_id"), col("n_tokens"),
        asLong(col("c.ends") - col("c.starts")).as("len"),
        Hashes.fnv64(array_join(
          slice(col("toks"), col("c.starts") + 1, col("c.ends") - col("c.starts")),
          " ")).as("fp"))
    // occurrence counting as a window over fp, not aggregate + join-back:
    // the join shape evaluates the expensive chunk pipeline TWICE (the agg
    // branch and the probe branch each recompute the array ops — no
    // exchange reuse between a partial-agg exchange and a join exchange);
    // the window shuffles the same thin (32-byte) chunk rows once and
    // reads the pipeline once. Measured ~2× at sf0.1.
    chunks
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy("fp")))
      .groupBy("doc_id", "n_tokens")
      .agg(asLong(count(lit(1))).as("n_chunks"),
        asLong(sum(when(col("occ") >= CdcMinOcc, 1L).otherwise(0L)))
          .as("dup_chunks"),
        asLong(sum(when(col("occ") >= CdcMinOcc, col("len")).otherwise(0L)))
          .as("dup_tokens"))
      .withColumn("dup_ratio",
        round(col("dup_tokens") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** E1 — shingle document-frequency profile: the df distribution of the
    * PRE-cap shingle-hash table, bucketed by decimal digit count of df
    * (≤ 19 rows at ANY corpus size; digits-of-an-integer is exact string
    * arithmetic in both engines, unlike floor(log2) whose libm rounding
    * could split a power-of-two boundary). Per bucket: shingle count,
    * Σdf (the exploded table's row mass), Σdf² (the EXACT pairwise
    * join's candidate-pair work — the quantity MaxShingleDf exists to
    * bound), min/max df, and how many shingles the cap drops (n_hot).
    * This is the tuning evidence for the cap: pair_work concentrated in
    * the top bucket = a handful of stop-shingles carrying quadratic
    * blowup, exactly what the anti-join removes. Plan: one corpus scan →
    * codegen'd shingle hashing → an |distinct-shingles|-key count
    * (map-side combined, 8-byte keys — strings never shuffle) → a
    * ≤19-key aggregate. Output is ALL-INTEGER (no float cell can ever
    * split the engines). Bounds: Σdf² per bucket < 2⁶³ for df < 3×10⁹.
    * Ref: lime_etl delegates data-plane profiling to user SQL (its
    * lime_etl/services/admin modules are control-plane only); this is
    * the corpus-side analogue of its per-run result audits. */
  def e1ShingleProfile(s: SparkSession, d: String): DataFrame =
    shingleHashes(s, d)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .groupBy(length(col("df").cast("string")).cast("long").as("df_digits"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("total_df"),
        sum(col("df") * col("df")).as("pair_work"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"),
        sum(when(col("df") > MaxShingleDf, 1L).otherwise(0L)).as("n_hot"))
      .orderBy("df_digits")

  /** E1 — HYBRID (lexical ∪ semantic) dedup verdict: per source, how
    * many documents each detector drops — the LSH/Jaccard pair table's
    * keep-smaller-id policy vs e2_semdedup's in-cell cosine policy —
    * their overlap, the UNION the production pipeline actually ships
    * (lexical catches templates and clones, semantic catches
    * paraphrases; SemDeDup deploys exactly this pairing), and the kept
    * token share in basis points. The `both` column is the detector-
    * REDUNDANCY number: high overlap means the cheap lexical pass
    * already covers most of what the embedding pass would drop, and the
    * marginal cost of semantic dedup buys only the difference —
    * the budget decision this table exists to inform. Composes the two
    * shipped detectors VERBATIM (shared pair table + e2_semdedup —
    * can't-drift); ALL-INTEGER. Plan at 100 TB: both drop sets are
    * id-only (pair-table-sized / n-sized), LEFT-joined onto one corpus
    * scan; the source fold partial-combines map-side. */
  def e1HybridDedup(s: SparkSession, d: String): DataFrame = {
    val lex = minhashPairTable(s, d)
      .select(col("db").as("doc_id")).distinct()
      .withColumn("lex", lit(1L))
    val sem = Similarity.e2Semdedup(s, d)
      .select(col("vec_id").as("doc_id")).distinct()
      .withColumn("sem", lit(1L))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .join(lex, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(col("source"), col("nt"),
        coalesce(col("lex"), lit(0L)).as("l"),
        coalesce(col("sem"), lit(0L)).as("m"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("l")).as("drop_lex"), sum(col("m")).as("drop_sem"),
        sum(col("l") * col("m")).as("drop_both"),
        sum(greatest(col("l"), col("m"))).as("drop_union"),
        sum(col("nt")).as("total_tokens"),
        sum(when(col("l") + col("m") === 0L, col("nt")).otherwise(0L))
          .as("kept_tokens"))
      .withColumn("kept_bp",
        expr("kept_tokens * 10000 div total_tokens"))
      .orderBy("source")
  }

  /** Winnowing knobs — interpolated into BOTH engines. Window w over the
    * 3-gram hash sequence guarantees any shared run of ≥ w + 2 tokens
    * yields a shared fingerprint (the winnowing guarantee). */
  val WinnowW = 4
  val WinnowTau = 0.2
  val WinnowDfCap = 64

  /** E1 — WINNOWING fingerprints (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS algorithm): per document, the minimum 3-gram FNV hash of every
    * complete w-window over the hash sequence, DISTINCT — a position-
    * aware fingerprint set ~1/w the size of the full shingle set that
    * still GUARANTEES detection of any shared token run of length ≥
    * w + k − 1 (the local-window property random MinHash sampling does
    * not give: MinHash bounds the Jaccard ESTIMATE, winnowing bounds
    * which MATCHES survive — the plagiarism/attribution contract).
    * Pairs are scored by Jaccard over the winnowed sets through the
    * same df-cap + equi-join discipline as e1_ngram_jaccard /
    * e5_video_neardup. Exactness: hashes are the native codegen'd FNV
    * (bit-replicated in SQL), window minima compare SIGNED longs in
    * both engines, sets are exact. Plan at 100 TB: hashes + window
    * minima are per-document (partition-parallel window, narrow rows);
    * only the ~n/w 8-byte fingerprints join, hot fingerprints are
    * df-capped exactly like hot shingles, and the pair fan-out is
    * fingerprint-bounded. */
  def e1Winnowing(s: SparkSession, d: String): DataFrame = {
    val hw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p").rowsBetween(0, WinnowW - 1)
    val fps = documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.graftext.ngramExpressions
          .wordShingleHashes(col("text"), 3).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("nh"),
        posexplode(col("hs")).as(Seq("p", "h")))
      .withColumn("fp", min(col("h")).over(hw))
      .filter(col("p") <= col("nh") - WinnowW)
      .select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint(false)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinnowDfCap).select("fp")
    val ff = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val sz = ff.groupBy("doc_id").agg(count(lit(1)).as("n"))
    ff.as("a")
      .join(ff.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i"))
        >= WinnowTau)
      .select(col("da"), col("db"), col("i").as("common_fps"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_winnowing" -> (e1Winnowing _),
    "e1_hybrid_dedup" -> (e1HybridDedup _),
    "e1_cdc_chunks" -> (e1CdcChunks _),
    "e1_span_dedup" -> (e1SpanDedup _),
    "e1_minhash_accuracy" -> (e1MinhashAccuracy _),
    "e1_minhash_bbit" -> (e1MinhashBbit _),
    "e1_lsh_recall" -> (e1LshRecall _),
    "e1_lsh_recall_sampled" -> (e1LshRecallSampled _),
    "e1_lsh_curve_sampled" -> (e1LshCurveSampled _),
    "e1_lsh_curve" -> (e1LshCurve _),
    "e1_cluster_stats" -> (e1ClusterStats _),
    "e1_keeper_quality" -> (e1KeeperQuality _),
    "e1_fuzzy_pairs" -> (e1FuzzyPairs _),
    "e1_incremental" -> (e1Incremental _),
    "e1_incremental_neardup" -> (e1IncrementalNeardup _),
    "e1_incremental_clusters" -> (e1IncrementalClusters _),
    "e1_kmv_union" -> (e1KmvUnion _),
    "e1_kmv_global" -> (e1KmvGlobal _),
    "e1_shingle_profile" -> (e1ShingleProfile _),
    "e1_source_novelty" -> (e1SourceNovelty _),
    "e1_exact_dedup" -> (e1ExactDedup _),
    "e1_saturation_curve" -> (e1SaturationCurve _),
    "e1_bloom_audit" -> (e1BloomAudit _),
    "e1_dup_inflation" -> (e1DupInflation _),
    "e1_retention_curve" -> (e1RetentionCurve _),
    "e1_ngram_jaccard" -> (e1NgramJaccard _),
    "e1_prefix_join" -> (e1PrefixJoin _),
    "e1_minhash_pairs" -> (e1MinhashPairs _),
    "e1_simhash" -> (e1Simhash _),
    "e1_simhash_pairs" -> (e1SimhashPairs _),
    "e1_dedup_clusters" -> (e1DedupClusters _),
    "e1_dedup_clusters_star" -> (e1DedupClustersStar _),
    "e1_contamination" -> (e1Contamination _),
    "e1_contamination13" -> (e1Contamination13 _),
    "e1_containment" -> (e1Containment _),
    "e1_segment_dedup" -> (e1SegmentDedup _),
    "e1_source_overlap" -> (e1SourceOverlap _),
    "e1_boilerplate" -> (e1Boilerplate _),
    "e2_embedding_neardup" -> (e2EmbeddingNeardup _),
  )

  /** Shared CTE block: word-3-shingle sets (df-capped) + pairwise
    * intersection sizes — the common core of the Jaccard-pair and
    * cluster oracles. Yields CTEs `sh` (doc_id, s), `sz` (doc_id, n),
    * `inter` (da, db, i), and `jp` (da, db, jaccard ≥ 0.2). */
  private[ops] val jaccardCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  range(1, len(toks) - 1),
       |  i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' ||
       |       toks[CAST(i AS INT) + 2]))) AS s FROM t),
       |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > $MaxShingleDf),
       |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |jp AS (SELECT da, db, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |  FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.2)""".stripMargin

  /** DuckDB replica of graftext.hashExpressions.simHashImpl as a CTE
    * yielding (doc_id, sh): per-token FNV-1a 64 evaluated in HUGEINT
    * arithmetic (DuckDB BIGINT multiplication traps on overflow, so the
    * wrap-around is done explicitly mod 2^64; XOR only touches the low
    * byte, so it is spliced in via BIGINT xor on h%256), then the
    * bit-majority vote and a final unsigned→signed fold to match Spark's
    * LongType. Exact for ASCII text (fixture max code point is 121), where
    * unicode(char) equals the UTF-8 byte the Scala loop hashes. */
  private val simhashCte: String =
    """hs AS (
      |  SELECT doc_id, len(list_filter(string_split(text,' '), t -> t <> '')) AS n,
      |    list_transform(list_filter(string_split(text,' '), t -> t <> ''), tok ->
      |      list_reduce(
      |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |          list_transform(range(1, length(tok)+1),
      |            i -> CAST(unicode(substring(tok, CAST(i AS INT), 1)) AS HUGEINT))),
      |        (h, b) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
      |                   * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
      |    ) AS hws
      |  FROM documents),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN u >= CAST(power(2,63) AS HUGEINT)
      |              THEN u - CAST(power(2,64) AS HUGEINT) ELSE u END AS BIGINT) AS sh
      |  FROM (SELECT doc_id,
      |    list_sum(list_transform(range(0, 64), b ->
      |      CASE WHEN 2 * len(list_filter(hws, h -> (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1)) > n
      |           THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)) AS u
      |  FROM hs))""".stripMargin

  /** DuckDB replica of the FULL MinHash+LSH pipeline (shingle FNV hashes →
    * two-hash xor-rotate signature → mix-fold band hashes → candidate join
    * → exact-Jaccard verify). See OracleSql for the HUGEINT arithmetic
    * conventions. Every stage mirrors a Scala loop exactly:
    * wordShingleHashesImpl = FNV-1a of the joined shingle string;
    * sigFromLongsImpl = min over signed(mix(h) ^ rotr(mix(h^XC), k));
    * bandHashesImpl = mix-fold over each band's 4 slots. */
  /** DuckDB replica of the PRE-cap per-doc distinct shingle-hash table
    * (`toks` → `shing` (doc_id, h)) — shared by the MinHash chain and
    * the e1_shingle_profile df audit (which must see the hot shingles
    * the cap drops, so it consumes `shing`, not `sh`). */
  private[ops] val shingleHashCtes: String = {
    import OracleSql._
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |shing AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(
       |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |        list_transform(range(1, length(s)+1),
       |          i -> CAST(unicode(substring(s, CAST(i AS INT), 1)) AS HUGEINT))),
       |      (h, b) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
       |                 * 1099511628211) % $M) AS h
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |      i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
       |           tk[CAST(i AS INT) + 2])) AS s FROM toks))""".stripMargin
  }

  // The chain below is assembled from NAMED component strings so the
  // local-gate prelude (preludeSetup) can materialize each stage from the
  // SAME text the inline chain uses — the stage SQL and the inline SQL
  // cannot drift because they are the same string.
  private val hotCte: String =
    s"hot AS (SELECT h FROM shing GROUP BY h HAVING count(*) > $MaxShingleDf)"
  private val shCte: String =
    "sh AS (SELECT doc_id, h FROM shing WHERE h NOT IN (SELECT h FROM hot))"
  private val h12Ctes: String = {
    import OracleSql._
    s"""h1t_in AS (SELECT doc_id, h FROM sh),
       |${mixCtes("h1t", "h", "h1", Seq("doc_id", "h"))},
       |h2t_in AS (SELECT doc_id, h1, xor(h, $XC) AS hx FROM h1t),
       |${mixCtes("h2t", "hx", "h2", Seq("doc_id", "h1"))}""".stripMargin
  }
  private val sigCte: String = {
    import OracleSql._
    s"""sig AS (
       |  SELECT doc_id, k,
       |    min(${toSigned("u")}) AS s
       |  FROM (
       |    SELECT doc_id, k.range AS k,
       |      xor(h1, (h2 // CAST(power(2, k.range) AS HUGEINT)) +
       |              (h2 % CAST(power(2, k.range) AS HUGEINT)) * CAST(power(2, 64 - k.range) AS HUGEINT)) AS u
       |    FROM h2t, range(0, 64) k)
       |  GROUP BY doc_id, k)""".stripMargin
  }
  private val bandsCtes: String = {
    import OracleSql._
    s"""slots AS (
       |  SELECT doc_id, k // 4 AS band,
       |    list(CASE WHEN s < 0 THEN CAST(s AS HUGEINT) + $M ELSE CAST(s AS HUGEINT) END ORDER BY k) AS su
       |  FROM sig GROUP BY doc_id, k // 4),
       |f1_in AS (SELECT doc_id, band, su, xor($BandSeed, su[1]) AS s1 FROM slots),
       |${mixCtes("f1", "s1", "g1", Seq("doc_id", "band", "su"))},
       |f2_in AS (SELECT doc_id, band, su, xor(g1, su[2]) AS s2 FROM f1),
       |${mixCtes("f2", "s2", "g2", Seq("doc_id", "band", "su"))},
       |f3_in AS (SELECT doc_id, band, su, xor(g2, su[3]) AS s3 FROM f2),
       |${mixCtes("f3", "s3", "g3", Seq("doc_id", "band", "su"))},
       |f4_in AS (SELECT doc_id, band, xor(g3, su[4]) AS s4 FROM f3),
       |${mixCtes("f4", "s4", "bh", Seq("doc_id", "band"))}""".stripMargin
  }
  private val candCte: String =
    """cand AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM f4 x JOIN f4 y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)""".stripMargin
  private val szCte: String =
    "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"
  private val interCte: String =
    """inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin
  private val mhpCte: String =
    """mhp AS (SELECT da, db, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
      |  FROM cand JOIN inter USING (da, db)
      |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
      |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.2)""".stripMargin

  private val minhashCtesBlock: String =
    s"$shingleHashCtes,\n$hotCte,\n$shCte,\n$h12Ctes,\n$sigCte,\n$bandsCtes,\n$candCte,\n$szCte,\n$interCte,\n$mhpCte"

  /** Local-gate accelerator (tools/check_oracle.py): the MinHash chain is
    * inlined into ~20 consuming oracles, and DuckDB re-runs the whole
    * chain per query — the sf0.1 sweep spent ~25 min mostly re-shingling
    * the same corpus. `preludeSetup` materializes the chain ONCE per
    * scale as temp tables (ordered; each stage's SQL is built from the
    * SAME component strings the inline chain uses, so the two cannot
    * drift), and `preludeRewrites` swaps the inline chain text for stub
    * CTEs reading those tables — an exact-string replace, valid because
    * both sides of every rule come from the same Scala constants. The
    * DRIVER's gate ignores the prelude and runs the original
    * self-contained SQL; outputs are bitwise-identical either way (the
    * temp table holds exactly the CTE's rows). */
  val preludeSetup: Seq[(String, String)] = Seq(
    "mat_shing" -> s"WITH $shingleHashCtes SELECT * FROM shing",
    "mat_hot" -> s"WITH shing AS (SELECT * FROM mat_shing),\n$hotCte SELECT * FROM hot",
    "mat_sh" -> s"WITH shing AS (SELECT * FROM mat_shing),\nhot AS (SELECT * FROM mat_hot),\n$shCte SELECT * FROM sh",
    "mat_sig" -> s"WITH sh AS (SELECT * FROM mat_sh),\n$h12Ctes,\n$sigCte SELECT * FROM sig",
    "mat_f4" -> s"WITH sig AS (SELECT * FROM mat_sig),\n$bandsCtes SELECT * FROM f4",
    "mat_sz" -> s"WITH sh AS (SELECT * FROM mat_sh),\n$szCte SELECT * FROM sz",
    "mat_inter" -> s"WITH sh AS (SELECT * FROM mat_sh),\n$interCte SELECT * FROM inter",
    "mat_mhp" -> (s"WITH f4 AS (SELECT * FROM mat_f4),\n$candCte,\n" +
      "sz AS (SELECT * FROM mat_sz),\ninter AS (SELECT * FROM mat_inter),\n" +
      s"$mhpCte SELECT * FROM mhp"))

  private val preludeStubs: String =
    Seq("shing", "hot", "sh", "sig", "f4", "sz", "inter", "mhp")
      .map(n => s"$n AS (SELECT * FROM mat_$n)").mkString(",\n")

  /** Exact-text (from → to) rules, applied in order: the full chain first
    * (it contains the shingle chain as a prefix), then standalone shingle
    * uses. A consumer referencing a chain-internal name outside the stub
    * set would fail loudly in DuckDB (unknown CTE), not silently drift. */
  val preludeRewrites: Seq[(String, String)] = Seq(
    minhashCtesBlock -> preludeStubs,
    shingleHashCtes -> "shing AS (SELECT * FROM mat_shing)")

  /** The full MinHash+LSH CTE chain ending in `mhp` (da, db, jaccard) —
    * shared by the pair, cluster, and curated-corpus oracles, mirroring
    * the shared pair table on the Spark side (minhashPairTable). */
  private[ops] val minhashCtes: String = minhashCtesBlock

  private val minhashPairsOracle: String =
    s"WITH $minhashCtesBlock\nSELECT da, db, jaccard FROM mhp ORDER BY da, db"

  /** DuckDB replica of sampledDocIds (mix64(doc_id ^ LshQuerySalt)
    * ORDER BY (m, doc_id) LIMIT K), ending in CTE `qsel` (doc_id) —
    * shared by the sampled dedup-audit oracles. */
  private lazy val docSelCtes: String = {
    import OracleSql._
    val saltU = java.lang.Long.toUnsignedString(LshQuerySalt)
    s"""qd_in AS (SELECT doc_id,
       |  xor(CAST(doc_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
       |  FROM documents),
       |${mixCtes("qd", "q0", "qm", Seq("doc_id"))},
       |qsel AS (SELECT doc_id FROM (
       |  SELECT doc_id, row_number() OVER (
       |    ORDER BY ${toSigned("qm")}, doc_id) AS qrn FROM qd)
       |  WHERE qrn <= $LshQueryK)""".stripMargin
  }

  /** The sampled exact ground truth (`exs`: qid, other, jaccard) and the
    * sampled symmetrized LSH side (`mhs`: qid, other) — oracle twins of
    * sampledExactNeardupPairs / sampledLshPairs. Requires minhashCtes
    * (for sh/sz/mhp) and docSelCtes (for qsel) in the same WITH. */
  private lazy val sampledExCtes: String =
    """qint AS (SELECT a.doc_id AS qid, b.doc_id AS other, count(*) AS i
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM qsel)
      |  GROUP BY 1, 2),
      |exs AS MATERIALIZED (SELECT qid, other,
      |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard FROM qint
      |  JOIN sz x ON qid = x.doc_id JOIN sz y ON other = y.doc_id
      |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.2),
      |mhs AS MATERIALIZED (SELECT qid, other FROM (
      |  SELECT da AS qid, db AS other FROM mhp
      |  UNION ALL SELECT db, da FROM mhp)
      |  WHERE qid IN (SELECT doc_id FROM qsel))""".stripMargin

  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE $minhashCtesBlock,
       |edges AS (SELECT da AS a, db AS b FROM mhp
       |  UNION SELECT db, da FROM mhp),
       |reach(v, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b)
       |SELECT v AS doc_id, min(lab) AS cluster FROM reach
       |GROUP BY v ORDER BY doc_id""".stripMargin

  /** The e1_dup_inflation CTE chain (self-contained; ends in CTE `dir`:
    * source, n_docs, n_unique, tokens_total, tokens_unique,
    * inflation_bp). Shared verbatim with the e7_release_gate oracle so
    * the gate can never drift from the monitor it composes. */
  private[ops] lazy val dupInflationChain: String =
    """g AS (SELECT source, md5(lower(trim(text))) AS fp,
      |    count(*) AS n,
      |    max(len(string_split(text, ' '))) AS nt1,
      |    sum(len(string_split(text, ' '))) AS ntall
      |  FROM documents GROUP BY 1, 2),
      |dir AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_unique,
      |  CAST(sum(ntall) AS BIGINT) AS tokens_total,
      |  CAST(sum(nt1) AS BIGINT) AS tokens_unique,
      |  CAST((10000 * sum(ntall)) // sum(nt1) AS BIGINT) AS inflation_bp
      |FROM g GROUP BY source)""".stripMargin

  val oracles: Map[String, String] = Map(
    // raw FNV 3-gram hashes (the e1_cdc_chunks byte-fold replica, no
    // mix), SIGNED window minima over complete w-windows, then the
    // df-capped fingerprint equi-join (see e1Winnowing)
    "e1_winnowing" -> {
      import OracleSql._
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |wfh0 AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS p,
         |    list_reduce(
         |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
         |        list_transform(range(1, length(g) + 1),
         |          i2 -> CAST(unicode(substring(g, CAST(i2 AS INT), 1)) AS HUGEINT))),
         |      (h, b) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |                 * 1099511628211) % $M) AS h0
         |  FROM (SELECT doc_id, i,
         |      array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS g
         |    FROM wt, unnest(range(1, len(toks) - 1)) u(i))),
         |wfh AS (SELECT doc_id, p, ${toSigned("h0")} AS h FROM wfh0),
         |wfp AS (SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, p,
         |      min(h) OVER (PARTITION BY doc_id ORDER BY p
         |        ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
         |        AS fp,
         |      count(*) OVER (PARTITION BY doc_id) AS nh
         |    FROM wfh)
         |  WHERE p <= nh - $WinnowW),
         |whot AS (SELECT fp FROM wfp GROUP BY fp
         |  HAVING count(*) > $WinnowDfCap),
         |wff AS (SELECT wfp.doc_id, wfp.fp FROM wfp
         |  LEFT JOIN whot ON wfp.fp = whot.fp WHERE whot.fp IS NULL),
         |wsz AS (SELECT doc_id, count(*) AS n FROM wff GROUP BY 1),
         |wpr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM wff a JOIN wff b
         |    ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT da, db, CAST(i AS BIGINT) AS common_fps,
         |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
         |FROM wpr JOIN wsz x ON wpr.da = x.doc_id
         |JOIN wsz y ON wpr.db = y.doc_id
         |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= $WinnowTau
         |ORDER BY da, db""".stripMargin
    },
    // both detectors' chains verbatim in one WITH (names are disjoint);
    // drop sets as DISTINCT id CTEs left-joined onto the corpus scan
    "e1_hybrid_dedup" ->
      s"""WITH $minhashCtes,
         |mhp2 AS MATERIALIZED (SELECT da, db FROM mhp),
         |${Similarity.ivfCtesForHybrid},
         |hsem AS MATERIALIZED (SELECT DISTINCT a.vec_id AS doc_id
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE list_cosine_similarity(a.e, b.e) >=
         |    ${Similarity.SemDedupTau}),
         |hlex AS (SELECT DISTINCT db AS doc_id FROM mhp2),
         |hdoc AS (SELECT d.doc_id, d.source,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
         |    CASE WHEN hlex.doc_id IS NULL THEN 0 ELSE 1 END AS l,
         |    CASE WHEN hsem.doc_id IS NULL THEN 0 ELSE 1 END AS m
         |  FROM documents d
         |  LEFT JOIN hlex ON d.doc_id = hlex.doc_id
         |  LEFT JOIN hsem ON d.doc_id = hsem.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(l) AS BIGINT) AS drop_lex,
         |  CAST(sum(m) AS BIGINT) AS drop_sem,
         |  CAST(sum(l * m) AS BIGINT) AS drop_both,
         |  CAST(sum(greatest(l, m)) AS BIGINT) AS drop_union,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN l + m = 0 THEN nt ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  CAST(sum(CASE WHEN l + m = 0 THEN nt ELSE 0 END) * 10000
         |    // sum(nt) AS BIGINT) AS kept_bp
         |FROM hdoc GROUP BY source ORDER BY source""".stripMargin,
    // per-source novelty over the same rare-shingle chain (the prelude
    // rewrite serves `shing` from its temp table; hot/sh recompute from
    // it, both cheap)
    "e1_source_novelty" ->
      s"""WITH $shingleHashCtes,
         |$hotCte,
         |$shCte,
         |sd AS (SELECT DISTINCT d.source, s.h
         |  FROM sh s JOIN documents d USING (doc_id)),
         |ns AS (SELECT h, count(*) AS n_sources FROM sd GROUP BY h),
         |nd AS (SELECT source, count(*) AS n_docs FROM documents
         |  GROUP BY source)
         |SELECT sd.source, CAST(nd.n_docs AS BIGINT) AS n_docs,
         |  count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN ns.n_sources = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unique,
         |  round(sum(CASE WHEN ns.n_sources = 1 THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS novelty
         |FROM sd JOIN ns USING (h) JOIN nd USING (source)
         |GROUP BY sd.source, nd.n_docs ORDER BY source""".stripMargin,
    "e1_shingle_profile" ->
      s"""WITH $shingleHashCtes,
         |dfs AS (SELECT h, count(*) AS df FROM shing GROUP BY h)
         |SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
         |  count(*) AS n_shingles,
         |  CAST(sum(df) AS BIGINT) AS total_df,
         |  CAST(sum(df * df) AS BIGINT) AS pair_work,
         |  CAST(min(df) AS BIGINT) AS min_df,
         |  CAST(max(df) AS BIGINT) AS max_df,
         |  CAST(sum(CASE WHEN df > $MaxShingleDf THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hot
         |FROM dfs GROUP BY 1 ORDER BY 1""".stripMargin,
    // CDC: the boundary gate replicates wordShingleHashes (FNV-1a of the
    // joined window, HUGEINT mod 2^64) through the splitmix chain; chunk
    // identity is the chunk STRING here vs its fnv64 on the Spark side —
    // occurrence counts agree modulo 2^-64 collisions (the e1_span_dedup
    // string-vs-hash validation convention)
    "e1_cdc_chunks" -> {
      import OracleSql._
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |win_in AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS p,
         |    list_reduce(
         |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
         |        list_transform(range(1, length(g) + 1),
         |          i2 -> CAST(unicode(substring(g, CAST(i2 AS INT), 1)) AS HUGEINT))),
         |      (h, b) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
         |                 * 1099511628211) % $M) AS h0
         |  FROM (SELECT doc_id, i,
         |      array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + ${CdcK - 1}], ' ') AS g
         |    FROM t, unnest(range(1, len(toks) - ${CdcK - 2})) u(i))),
         |${mixCtes("win", "h0", "hm", Seq("doc_id", "p"))},
         |bnd AS (SELECT doc_id, p FROM win
         |  WHERE p >= 1 AND (hm % CAST(power(2, 63) AS HUGEINT)) % $CdcAvg = 0),
         |wpos AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS wp,
         |    toks[CAST(i AS INT)] AS w
         |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
         |wc AS (SELECT w.doc_id, w.wp, w.w,
         |    sum(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY w.doc_id ORDER BY w.wp) AS chunk
         |  FROM wpos w LEFT JOIN bnd b
         |    ON b.doc_id = w.doc_id AND b.p = w.wp),
         |chunks AS (SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS len,
         |    string_agg(w, ' ' ORDER BY wp) AS cs
         |  FROM wc GROUP BY 1, 2),
         |occ AS (SELECT cs, count(*) AS occ FROM chunks GROUP BY 1),
         |per AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(CASE WHEN occ >= $CdcMinOcc THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dup_chunks,
         |    CAST(sum(CASE WHEN occ >= $CdcMinOcc THEN len ELSE 0 END) AS BIGINT)
         |      AS dup_tokens
         |  FROM chunks c JOIN occ USING (cs) GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  p.n_chunks, p.dup_chunks, p.dup_tokens,
         |  round(CAST(p.dup_tokens AS DOUBLE) / len(t.toks), 4) AS dup_ratio
         |FROM t JOIN per p ON t.doc_id = p.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },
    // span dedup on shingle STRINGS (validates the positional FNV hash
    // reduction end-to-end); 1-based positions vs Spark's 0-based posexplode
    // is invisible — only position DIFFERENCES reach the output
    "e1_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |pos AS (SELECT doc_id, CAST(i AS INT) AS pos,
         |    toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' ||
         |    toks[CAST(i AS INT) + 2] || ' ' || toks[CAST(i AS INT) + 3] || ' ' ||
         |    toks[CAST(i AS INT) + 4] AS g
         |  FROM t, unnest(range(1, len(toks) - ${SpanK - 2})) AS u(i)),
         |dup AS (SELECT doc_id, pos FROM pos
         |  WHERE g IN (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN pos > coalesce(max(pos + ${SpanK - 1}) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
         |    THEN 1 ELSE 0 END AS ni FROM dup),
         |isl2 AS (SELECT doc_id, pos,
         |  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
         |spans AS (SELECT doc_id, island, min(pos) AS s0,
         |    max(pos) + ${SpanK - 1} AS e0 FROM isl2 GROUP BY doc_id, island),
         |agg AS (SELECT doc_id, count(*) AS n_spans,
         |    sum(e0 - s0 + 1) AS dup_tokens FROM spans GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  round(coalesce(a.dup_tokens, 0) /
         |    len(string_split(d.text, ' ')), 4) AS trim_ratio
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "e1_minhash_accuracy" ->
      // the estimator is slot-agreement over the SAME signatures the pair
      // candidates came from (sig CTE), so the estimates hash-match
      s"""WITH $minhashCtesBlock,
         |agree AS (SELECT p.da, p.db,
         |    sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS eq
         |  FROM mhp p JOIN sig a ON a.doc_id = p.da
         |  JOIN sig b ON b.doc_id = p.db AND b.k = a.k
         |  GROUP BY p.da, p.db)
         |SELECT p.da, p.db, p.jaccard,
         |  round(eq / 64.0, 4) AS est_jaccard,
         |  round(abs(round(eq / 64.0, 4) - p.jaccard), 4) AS abs_err
         |FROM mhp p JOIN agree USING (da, db) ORDER BY da, db""".stripMargin,
    // low-bit parity agreement over the SAME sig CTE; both estimators
    // divide by 64 (power of two — exact), max(0, .) keeps est_b1 >= 0
    "e1_minhash_bbit" ->
      s"""WITH $minhashCtesBlock,
         |agree AS (SELECT p.da, p.db,
         |    sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS eq,
         |    sum(CASE WHEN (a.s & 1) = (b.s & 1) THEN 1 ELSE 0 END) AS mb
         |  FROM mhp p JOIN sig a ON a.doc_id = p.da
         |  JOIN sig b ON b.doc_id = p.db AND b.k = a.k
         |  GROUP BY p.da, p.db)
         |SELECT p.da, p.db, p.jaccard,
         |  round(eq / 64.0, 4) AS est_full,
         |  CAST(mb AS BIGINT) AS n_bit_matches,
         |  round(greatest(0, 2 * mb - 64) / 64.0, 4) AS est_b1,
         |  round(abs(round(eq / 64.0, 4) - p.jaccard), 4) AS err_full,
         |  round(abs(round(greatest(0, 2 * mb - 64) / 64.0, 4) - p.jaccard), 4)
         |    AS err_b1
         |FROM mhp p JOIN agree USING (da, db) ORDER BY da, db""".stripMargin,
    "e1_containment" ->
      s"""WITH $jaccardCtes
         |SELECT da, db,
         |  round(CAST(i AS DOUBLE) / x.n, 4) AS containment_ab,
         |  round(CAST(i AS DOUBLE) / y.n, 4) AS containment_ba
         |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |WHERE greatest(CAST(i AS DOUBLE) / x.n, CAST(i AS DOUBLE) / y.n)
         |  >= $MinContainment
         |ORDER BY da, db""".stripMargin,
    "e1_minhash_pairs" -> minhashPairsOracle,
    "e1_source_overlap" ->
      s"""WITH $minhashCtesBlock,
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM mhp JOIN src a ON mhp.da = a.doc_id
         |JOIN src b ON mhp.db = b.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "e1_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, sh AS simhash FROM sig ORDER BY doc_id""".stripMargin,
    "e1_simhash_pairs" ->
      s"""WITH $simhashCte,
         |bands0 AS (
         |  SELECT doc_id, sh, unnest([0,1,2,3]) AS band,
         |    unnest([sh & 65535, (sh >> 16) & 65535, (sh >> 32) & 65535, (sh >> 48) & 65535]) AS bh
         |  FROM sig),
         |hotb AS (SELECT band, bh FROM bands0 GROUP BY band, bh
         |  HAVING count(*) > $MaxBandBucket),
         |bands AS (SELECT * FROM bands0 b WHERE NOT EXISTS
         |  (SELECT 1 FROM hotb h WHERE h.band = b.band AND h.bh = b.bh))
         |SELECT da, db, hamming FROM (
         |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
         |WHERE hamming <= 12 ORDER BY da, db""".stripMargin,
    "e1_exact_dedup" ->
      """SELECT md5(lower(trim(text))) AS fp, count(*) AS n,
        |min(doc_id) AS keeper FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,
    // exact-width deciles (doc_id·10 // (max+1)); news = first-decile
    // counts of the same md5 fingerprint; all shares integer bp
    "e1_saturation_curve" ->
      """WITH sat_d AS (SELECT doc_id, md5(lower(trim(text))) AS fp,
        |    doc_id * 10 // ((SELECT max(doc_id) FROM documents) + 1)
        |      AS decile
        |  FROM documents),
        |sat_f AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new FROM (
        |  SELECT fp, min(decile) AS decile FROM sat_d GROUP BY fp)
        |  GROUP BY decile),
        |sat_p AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM sat_d GROUP BY decile),
        |sat_c AS (SELECT p.decile, p.n_docs,
        |    coalesce(f.n_new, 0) AS n_new,
        |    CAST(sum(p.n_docs) OVER (ORDER BY p.decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_docs,
        |    CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_new
        |  FROM sat_p p LEFT JOIN sat_f f ON p.decile = f.decile)
        |SELECT decile, n_docs, n_new, n_new * 10000 // n_docs AS new_bp,
        |  cum_docs, cum_new, cum_new * 10000 // cum_docs AS cum_new_bp
        |FROM sat_c ORDER BY decile""".stripMargin,
    // md5 prefix folds to int64 via the list_reduce hex fold; positions
    // via one mix chain per side over (fp × seeds); all counts integer
    "e1_bloom_audit" -> {
      import OracleSql._
      val seeds = BloomSeeds
        .map(s0 => s"(CAST('${java.lang.Long.toUnsignedString(s0)}' AS HUGEINT))")
        .mkString(", ")
      val m4 = java.math.BigInteger.valueOf(BloomBits).pow(4)
      s"""WITH ${Sampling.slotCtes(BloomSplitSalt)},
         |ph AS (SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef',
         |      substring(md5(lower(trim(text))), CAST(i AS INT), 1)) - 1
         |      AS BIGINT))),
         |    (h, dg) -> h * 16 + dg) AS BIGINT) AS h FROM documents),
         |sfp AS MATERIALIZED (SELECT DISTINCT h FROM ph
         |  JOIN slots USING (doc_id) WHERE slot < 50),
         |pod AS MATERIALIZED (SELECT DISTINCT ph.h FROM ph
         |  JOIN slots USING (doc_id)
         |  LEFT JOIN sfp ON ph.h = sfp.h WHERE slot >= 50 AND sfp.h IS NULL),
         |bsd AS (SELECT * FROM (VALUES $seeds) AS t(sd)),
         |bq_in AS (SELECT h, xor(CAST(h AS HUGEINT), sd) AS q0 FROM sfp, bsd),
         |${mixCtes("bq", "q0", "qm", Seq("h"))},
         |bits AS MATERIALIZED (SELECT DISTINCT CAST(qm % $BloomBits AS BIGINT)
         |  AS bit FROM bq),
         |pq_in AS (SELECT h, xor(CAST(h AS HUGEINT), sd) AS q0 FROM pod, bsd),
         |${mixCtes("pq", "q0", "qp", Seq("h"))},
         |ppos AS (SELECT DISTINCT h, CAST(qp % $BloomBits AS BIGINT) AS bit
         |  FROM pq),
         |pcnt AS (SELECT h, count(*) AS np FROM ppos GROUP BY h),
         |phit AS (SELECT ppos.h, count(*) AS hits FROM ppos
         |  JOIN bits USING (bit) GROUP BY ppos.h),
         |fpc AS (SELECT CAST(count(*) AS BIGINT) AS false_pos
         |  FROM pcnt JOIN phit USING (h) WHERE hits = np),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_stored FROM sfp),
         |bsn AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits),
         |npr AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM pod)
         |SELECT CAST($BloomBits AS BIGINT) AS m_bits,
         |  CAST($BloomK AS BIGINT) AS k, n_stored, bits_set,
         |  bits_set * 10000 // $BloomBits AS fill_bp,
         |  CAST((CAST(bits_set AS HUGEINT) * bits_set * bits_set * bits_set
         |    * 10000) // CAST('$m4' AS HUGEINT) AS BIGINT) AS pred_fp_bp,
         |  n_probe, false_pos,
         |  CASE WHEN n_probe = 0 THEN CAST(0 AS BIGINT)
         |    ELSE false_pos * 10000 // n_probe END AS meas_fp_bp
         |FROM ns CROSS JOIN bsn CROSS JOIN npr CROSS JOIN fpc""".stripMargin
    },
    // greedy pair-drop retention sweep over the verified pair table's
    // 4-dp jaccard (x 10^4 integers both engines hold identically)
    "e1_retention_curve" -> {
      val lits = RetentionThresholds.mkString("[", ", ", "]")
      s"""WITH $minhashCtes,
         |nt AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |  CAST(sum(nt) AS BIGINT) AS ntok FROM nt),
         |thr AS (SELECT unnest($lits) AS thr),
         |dr AS (SELECT DISTINCT thr.thr, mhp.db FROM mhp, thr
         |  WHERE CAST(round(mhp.jaccard * 10000) AS BIGINT) >= thr.thr),
         |ag AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_dropped,
         |  CAST(sum(nt.nt) AS BIGINT) AS tokens_dropped
         |  FROM dr JOIN nt ON dr.db = nt.doc_id GROUP BY thr)
         |SELECT CAST(thr.thr AS BIGINT) AS thr,
         |  coalesce(ag.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
         |  coalesce(ag.tokens_dropped, CAST(0 AS BIGINT))
         |    AS tokens_dropped,
         |  (10000 * (tot.nd - coalesce(ag.n_dropped, CAST(0 AS BIGINT))))
         |    // tot.nd AS kept_docs_bp,
         |  (10000 * (tot.ntok
         |    - coalesce(ag.tokens_dropped, CAST(0 AS BIGINT))))
         |    // tot.ntok AS kept_tokens_bp
         |FROM thr LEFT JOIN ag ON thr.thr = ag.thr CROSS JOIN tot
         |ORDER BY thr""".stripMargin
    },
    // exact dups share the text hence the token count, so the unique
    // token mass is one representative nt per (source, fingerprint).
    // Chain shared verbatim with the e7_release_gate oracle.
    "e1_dup_inflation" ->
      s"""WITH $dupInflationChain
         |SELECT source, n_docs, n_unique, tokens_total, tokens_unique,
         |  inflation_bp
         |FROM dir ORDER BY source""".stripMargin,
    "e1_lsh_recall" ->
      s"""WITH $minhashCtes,
         |ex AS MATERIALIZED (SELECT da, db FROM inter
         |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.2),
         |mh AS MATERIALIZED (SELECT da, db FROM mhp),
         |ne AS (SELECT count(*) AS n_exact FROM ex),
         |nl AS (SELECT count(*) AS n_lsh FROM mh),
         |cm AS (SELECT count(*) AS n_common FROM mh m
         |  JOIN ex e ON m.da = e.da AND m.db = e.db)
         |SELECT n_exact, n_lsh, n_common,
         |  round(CAST(n_common AS DOUBLE) / n_exact, 4) AS recall
         |FROM ne CROSS JOIN nl CROSS JOIN cm""".stripMargin,
    // e1_lsh_recall restricted to the deterministic fixed-size doc
    // sample: exact pairs oriented (qid = sampled doc, other = any),
    // recomputed as sample-side shingles joined against the full capped
    // shingle table (the linear exact pass the Spark side runs); the LSH
    // side symmetrizes mhp and keeps sampled qids. qd/qsel replicates
    // mix64(doc_id ^ salt) ORDER BY (m, doc_id) LIMIT K.
    "e1_lsh_recall_sampled" ->
      s"""WITH $minhashCtes,
         |$docSelCtes,
         |$sampledExCtes,
         |ne AS (SELECT count(*) AS n_exact FROM exs),
         |nl AS (SELECT count(*) AS n_lsh FROM mhs),
         |cm AS (SELECT count(*) AS n_common FROM mhs m
         |  JOIN exs e ON m.qid = e.qid AND m.other = e.other)
         |SELECT n_exact, n_lsh, n_common,
         |  CASE WHEN n_exact = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE round(CAST(n_common AS DOUBLE) / n_exact, 4) END AS recall
         |FROM ne CROSS JOIN nl CROSS JOIN cm""".stripMargin,
    // e1_lsh_curve on the sampled exact pairs (same band literals; hit
    // via LEFT JOIN against the sampled LSH side)
    "e1_lsh_curve_sampled" ->
      s"""WITH $minhashCtes,
         |$docSelCtes,
         |$sampledExCtes,
         |j AS (SELECT CASE WHEN jaccard < 0.3 THEN 'j_020_030'
         |    WHEN jaccard < 0.5 THEN 'j_030_050'
         |    WHEN jaccard < 0.7 THEN 'j_050_070'
         |    ELSE 'j_070_100' END AS band,
         |  CASE WHEN m.qid IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exs e LEFT JOIN mhs m ON e.qid = m.qid AND e.other = m.other)
         |SELECT band, count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  CAST(sum(hit) AS BIGINT) * 10000 // count(*) AS recall_bp
         |FROM j GROUP BY band ORDER BY band""".stripMargin,
    // same ex/mh composition as e1_lsh_recall, with the exact pair's
    // 4-dp jaccard carried into CASE bands (identical doubles compared
    // against identical literals on both engines)
    "e1_lsh_curve" ->
      s"""WITH $minhashCtes,
         |ex AS MATERIALIZED (SELECT da, db,
         |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
         |  FROM inter
         |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.2),
         |mh AS MATERIALIZED (SELECT da, db FROM mhp),
         |j AS (SELECT CASE WHEN jaccard < 0.3 THEN 'j_020_030'
         |    WHEN jaccard < 0.5 THEN 'j_030_050'
         |    WHEN jaccard < 0.7 THEN 'j_050_070'
         |    ELSE 'j_070_100' END AS band,
         |  CASE WHEN m.da IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM ex e LEFT JOIN mh m ON e.da = m.da AND e.db = m.db)
         |SELECT band, count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  CAST(sum(hit) AS BIGINT) * 10000 // count(*) AS recall_bp
         |FROM j GROUP BY band ORDER BY band""".stripMargin,
    "e1_fuzzy_pairs" ->
      s"""WITH d0 AS (SELECT doc_id, lang, n_chars // $FuzzyLenBucket AS lb,
         |  substring(text, 1, 2) AS pfx2,
         |  substring(text, 1, $FuzzyPrefix) AS pfx FROM documents),
         |hot AS (SELECT lang, lb, pfx2 FROM d0 GROUP BY lang, lb, pfx2
         |  HAVING count(*) > $MaxFuzzyBlock),
         |d AS (SELECT * FROM d0 x WHERE NOT EXISTS
         |  (SELECT 1 FROM hot h WHERE h.lang = x.lang AND h.lb = x.lb
         |     AND h.pfx2 = x.pfx2))
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
         |FROM d a JOIN d b ON a.lang = b.lang AND a.lb = b.lb
         |  AND a.pfx2 = b.pfx2 AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.pfx, b.pfx) <= $FuzzyMaxDist
         |ORDER BY da, db""".stripMargin,
    "e1_incremental" ->
      s"""WITH ${Sampling.slotCtes(IncrSalt)},
         |f AS (SELECT s.doc_id, s.slot, md5(lower(trim(d.text))) AS fp
         |  FROM slots s JOIN documents d USING (doc_id)),
         |keep AS (SELECT fp, min(doc_id) AS doc_id FROM f
         |  WHERE slot >= 90 GROUP BY fp)
         |SELECT k.doc_id, k.fp FROM keep k
         |WHERE k.fp NOT IN (SELECT fp FROM f WHERE slot < 90)
         |ORDER BY doc_id""".stripMargin,
    "e1_ngram_jaccard" ->
      s"""WITH $jaccardCtes
         |SELECT da, db, jaccard FROM jp ORDER BY da, db""".stripMargin,
    // KMV union contract: the chain's h is already unsigned HUGEINT, so
    // rank order and the double conversion are direct; est compared to
    // THIS engine's exact union (the q42 portable-contract pattern) —
    // booleans agree cross-engine because both hash sets are identical
    "e1_kmv_union" ->
      s"""WITH $shingleHashCtes,
         |hot AS (SELECT h FROM shing GROUP BY h HAVING count(*) > $MaxShingleDf),
         |sh AS (SELECT doc_id, h FROM shing WHERE h NOT IN (SELECT h FROM hot)),
         |ssrc AS (SELECT DISTINCT d.source, s.h
         |  FROM sh s JOIN documents d USING (doc_id)),
         |sz AS (SELECT source, count(*) AS n FROM ssrc GROUP BY source),
         |ix AS (SELECT a.source AS sa, b.source AS sb, count(*) AS i
         |  FROM ssrc a JOIN ssrc b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |px AS (SELECT x.source AS sa, y.source AS sb,
         |    x.n + y.n - coalesce(ix.i, 0) AS n_exact
         |  FROM sz x JOIN sz y ON x.source < y.source
         |  LEFT JOIN ix ON ix.sa = x.source AND ix.sb = y.source),
         |sk AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (
         |    PARTITION BY source ORDER BY h) AS rn FROM ssrc)
         |  WHERE rn <= $KmvK),
         |mrg AS (SELECT DISTINCT p.sa, p.sb, p.n_exact, k.h
         |  FROM px p JOIN sk k ON k.source = p.sa OR k.source = p.sb),
         |est AS (SELECT sa, sb, n_exact, count(*) AS m,
         |    max(CASE WHEN rn = $KmvK THEN CAST(h AS DOUBLE) END) AS udk
         |  FROM (SELECT sa, sb, n_exact, h, row_number() OVER (
         |      PARTITION BY sa, sb ORDER BY h) AS rn FROM mrg)
         |  WHERE rn <= $KmvK GROUP BY 1, 2, 3)
         |SELECT sa AS source_a, sb AS source_b, n_exact,
         |  CASE WHEN m < $KmvK THEN m = n_exact
         |    ELSE abs(CAST(${KmvK - 1} AS DOUBLE) * power(2, 64) / udk
         |      / n_exact - 1.0) <= 0.15 END AS err_ok
         |FROM est ORDER BY source_a, source_b""".stripMargin,
    "e1_kmv_global" ->
      s"""WITH $shingleHashCtes,
         |hot AS (SELECT h FROM shing GROUP BY h HAVING count(*) > $MaxShingleDf),
         |sh AS (SELECT doc_id, h FROM shing WHERE h NOT IN (SELECT h FROM hot)),
         |ssrc AS (SELECT DISTINCT d.source, s.h
         |  FROM sh s JOIN documents d USING (doc_id)),
         |tot AS (SELECT count(*) AS n_sources,
         |    CAST(sum(n) AS BIGINT) AS sum_per_source
         |  FROM (SELECT source, count(*) AS n FROM ssrc GROUP BY source)),
         |ex AS (SELECT count(DISTINCT h) AS n_exact FROM ssrc),
         |sk AS (SELECT source, h FROM (
         |  SELECT source, h, row_number() OVER (
         |    PARTITION BY source ORDER BY h) AS rn FROM ssrc)
         |  WHERE rn <= $KmvK),
         |gsk AS (SELECT count(*) AS m,
         |    max(CASE WHEN grn = $KmvK THEN CAST(h AS DOUBLE) END) AS udk
         |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS grn
         |    FROM (SELECT DISTINCT h FROM sk))
         |  WHERE grn <= $KmvK)
         |SELECT n_sources, sum_per_source, n_exact,
         |  (sum_per_source - n_exact) * 10000 // sum_per_source AS savings_bp,
         |  CASE WHEN m < $KmvK THEN m = n_exact
         |    ELSE abs(CAST(${KmvK - 1} AS DOUBLE) * power(2, 64) / udk
         |      / n_exact - 1.0) <= 0.15 END AS err_ok
         |FROM tot CROSS JOIN ex CROSS JOIN gsk""".stripMargin,
    // the gate IS the incremental≡recompute proof: the oracle re-clusters
    // the FULL graph recursively and keeps batch rows; the Spark side
    // only runs CC over the contracted (batch pairs + touched labels)
    // graph — equal output or the hash fails
    "e1_incremental_clusters" -> {
      import OracleSql._
      s"""WITH RECURSIVE $minhashCtesBlock,
         |is0 AS (SELECT doc_id,
         |  (xor(CAST(doc_id AS HUGEINT), CAST('$IncrSalt' AS HUGEINT)) + $A)
         |    % $M AS z0 FROM documents),
         |is1 AS (SELECT doc_id, ${mulmod("xor(z0, z0 >> 30)", C1)} AS z1 FROM is0),
         |is2 AS (SELECT doc_id, ${mulmod("xor(z1, z1 >> 27)", C2)} AS z2 FROM is1),
         |isl AS (SELECT doc_id,
         |  (xor(z2, z2 >> 31) % CAST(power(2, 63) AS HUGEINT)) % 100 AS slot
         |  FROM is2),
         |edges AS (SELECT da AS a, db AS b FROM mhp
         |  UNION SELECT db, da FROM mhp),
         |reach(v, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b),
         |cl AS (SELECT v AS doc_id, min(lab) AS cluster FROM reach GROUP BY v)
         |SELECT cl.doc_id, cl.cluster FROM cl JOIN isl USING (doc_id)
         |WHERE isl.slot >= 90 ORDER BY doc_id""".stripMargin
    },
    "e1_incremental_neardup" -> {
      import OracleSql._
      // slotCtes can't be reused verbatim: its `slots` CTE name collides
      // with the band-slot CTE inside minhashCtes, so the IncrSalt slot
      // chain gets its own `is*` names here.
      s"""WITH $minhashCtes,
         |is0 AS (SELECT doc_id,
         |  (xor(CAST(doc_id AS HUGEINT), CAST('$IncrSalt' AS HUGEINT)) + $A)
         |    % $M AS z0 FROM documents),
         |is1 AS (SELECT doc_id, ${mulmod("xor(z0, z0 >> 30)", C1)} AS z1 FROM is0),
         |is2 AS (SELECT doc_id, ${mulmod("xor(z1, z1 >> 27)", C2)} AS z2 FROM is1),
         |isl AS (SELECT doc_id,
         |  (xor(z2, z2 >> 31) % CAST(power(2, 63) AS HUGEINT)) % 100 AS slot
         |  FROM is2),
         |x AS (
         |  SELECT CASE WHEN sa.slot >= 90 THEN mhp.da ELSE mhp.db END AS doc_id,
         |    CASE WHEN sa.slot >= 90 THEN mhp.db ELSE mhp.da END AS match_id,
         |    CAST(round(jaccard * 10000) AS BIGINT) AS jbp
         |  FROM mhp JOIN isl sa ON mhp.da = sa.doc_id
         |  JOIN isl sb ON mhp.db = sb.doc_id
         |  WHERE (sa.slot >= 90) <> (sb.slot >= 90)),
         |r AS (SELECT doc_id, match_id, jbp,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY jbp DESC, match_id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS n_matches FROM x)
         |SELECT doc_id, n_matches, match_id, round(jbp / 10000.0, 4) AS jaccard
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // prefix filtering is EXACT, so the expected answer is simply the full
    // Jaccard-≥-4/5 pair set over the same df-capped shingle sets; the
    // integer gate 5i ≥ 4(na+nb−i) mirrors the Spark side bit for bit
    "e1_prefix_join" ->
      s"""WITH $jaccardCtes
         |SELECT da, db, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
         |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
         |WHERE i * $PrefixT_Den >= (x.n + y.n - i) * $PrefixT_Num
         |ORDER BY da, db""".stripMargin,
    "e1_dedup_clusters" -> dedupClustersOracle,
    // the star alternation must produce the SAME cluster table — one
    // oracle string for both, so the equivalence claim is enforced by
    // the gate itself, not by keeping two SQL texts in sync
    "e1_dedup_clusters_star" -> dedupClustersOracle,
    "e1_cluster_stats" ->
      s"""WITH RECURSIVE $minhashCtesBlock,
         |edges AS (SELECT da AS a, db AS b FROM mhp
         |  UNION SELECT db, da FROM mhp),
         |reach(v, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b),
         |cl AS (SELECT v AS doc_id, min(lab) AS cluster FROM reach GROUP BY v),
         |cs AS (SELECT cluster, count(*) AS cluster_size FROM cl
         |  GROUP BY cluster)
         |SELECT cluster_size, count(*) AS n_clusters FROM cs
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "e1_keeper_quality" -> {
      val sw = TextOps.Stopwords.map(w => s"'$w'").mkString(",")
      s"""WITH RECURSIVE $minhashCtesBlock,
         |edges AS (SELECT da AS a, db AS b FROM mhp
         |  UNION SELECT db, da FROM mhp),
         |reach(v, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.v = e.b),
         |cl AS (SELECT v AS doc_id, min(lab) AS cluster FROM reach GROUP BY v),
         |q0 AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
         |  len(list_filter(string_split(text, ' '), t -> t IN ($sw))) AS nsw
         |  FROM documents),
         |sc AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
         |  CAST(round(round(least(1.0, CAST(nt AS DOUBLE) / 100.0) *
         |    (1.0 - CAST(nsw AS DOUBLE) / nt), 4) * 10000) AS BIGINT) AS sm
         |  FROM q0),
         |j AS (SELECT cluster, sc.doc_id, nt, sm FROM cl JOIN sc USING (doc_id)),
         |r AS (SELECT cluster, doc_id, nt, sm,
         |  row_number() OVER (PARTITION BY cluster ORDER BY sm DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY cluster) AS csz,
         |  sum(nt) OVER (PARTITION BY cluster) AS tot
         |  FROM j)
         |SELECT cluster, CAST(csz AS BIGINT) AS cluster_size,
         |  doc_id AS keeper_doc_id, round(sm / 10000.0, 4) AS keeper_score,
         |  CAST(csz - 1 AS BIGINT) AS dropped_docs,
         |  CAST(tot - nt AS BIGINT) AS dropped_tokens
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin
    },
    "e1_contamination" ->
      s"""WITH $jaccardCtes,
         |${Sampling.slotCtes(Sampling.SplitSalt)},
         |tr AS (SELECT sh.doc_id, s FROM sh JOIN slots USING (doc_id)
         |  WHERE slot < 90),
         |te AS (SELECT sh.doc_id, s FROM sh JOIN slots USING (doc_id)
         |  WHERE slot >= 95)
         |SELECT te.doc_id AS doc_id,
         |  count(DISTINCT tr.doc_id) AS n_train_docs,
         |  count(DISTINCT te.s) AS n_shared_shingles
         |FROM te JOIN tr ON te.s = tr.s
         |GROUP BY te.doc_id ORDER BY doc_id""".stripMargin,
    // 13-gram concat unrolled mechanically; 13-grams per doc =
    // len - 12 -> range(1, len(tk) - 11); same df cap and split gates
    // as the 3-shingle screen, same string-vs-hash distinct-count
    // equivalence (FNV-64 collision-free at fixture scale)
    "e1_contamination13" -> {
      val concat = (0 until ContamN).map(j =>
        if (j == 0) "tk[CAST(i AS INT)]" else s"tk[CAST(i AS INT) + $j]")
        .mkString(" || ' ' || ")
      s"""WITH t13 AS (SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= $ContamN),
         |s13 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, len(tk) - ${ContamN - 2}), i -> $concat))) AS s FROM t13),
         |hot13 AS (SELECT s FROM s13 GROUP BY s
         |  HAVING count(*) > $MaxShingleDf),
         |sh13 AS (SELECT doc_id, s FROM s13
         |  WHERE s NOT IN (SELECT s FROM hot13)),
         |${Sampling.slotCtes(Sampling.SplitSalt)},
         |tr AS (SELECT sh13.doc_id, s FROM sh13 JOIN slots USING (doc_id)
         |  WHERE slot < 90),
         |te AS (SELECT sh13.doc_id, s FROM sh13 JOIN slots USING (doc_id)
         |  WHERE slot >= 95)
         |SELECT te.doc_id AS doc_id,
         |  count(DISTINCT tr.doc_id) AS n_train_docs,
         |  count(DISTINCT te.s) AS n_shared_13grams
         |FROM te JOIN tr ON te.s = tr.s
         |GROUP BY te.doc_id ORDER BY doc_id""".stripMargin
    },
    "e1_segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |segs AS (SELECT doc_id, unnest(list_distinct($segListSql)) AS seg FROM t),
         |dfc AS (SELECT seg, count(*) AS df FROM segs GROUP BY seg)
         |SELECT doc_id, count(*) AS n_segments,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
         |  round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_ratio
         |FROM segs JOIN dfc USING (seg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e1_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents),
         |segs AS (SELECT doc_id, source, unnest($segListSql) AS seg FROM t),
         |sg AS (SELECT doc_id, source, seg,
         |  CAST(len(string_split(seg, ' ')) AS BIGINT) AS ntok FROM segs),
         |dfc AS (SELECT source, seg, count(DISTINCT doc_id) AS df
         |  FROM sg GROUP BY source, seg)
         |SELECT doc_id, source, count(*) AS n_segments,
         |  CAST(sum(CASE WHEN df >= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler,
         |  round(sum(CASE WHEN df >= $BoilerplateDf THEN 1 ELSE 0 END) / count(*), 4)
         |    AS boiler_ratio,
         |  CAST(sum(CASE WHEN df < $BoilerplateDf THEN ntok ELSE 0 END) AS BIGINT)
         |    AS clean_tokens
         |FROM sg JOIN dfc USING (source, seg)
         |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,
    "e2_embedding_neardup" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY va, vb""".stripMargin,
  )
}
