package graft.ops

import graft.Tables._
import graft.sources.Versioned
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** [EXT] Similarity search over `embeddings` (SURVEY.md §2 E2): brute-force
  * cosine top-k as the exactness baseline, and a random-hyperplane LSH
  * variant as the scale path (bucketing turns the O(n²) pairwise search into
  * an equi-join on the signature). Dot products accumulate in doubles in
  * index order so results are bit-comparable with the DuckDB oracle. */
object Similarity {

  /** Adds the L2 norm (double) of the embedding as column `nrm`.
    * Native codegen'd expression — one fused loop, no boxing. */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", graft.functions.Vectors.l2Norm(col("embedding")))

  /** Cosine similarity between a.embedding and b.embedding given aliased
    * sides with precomputed norms (withNorm). Double accumulation in index
    * order — bit-identical to the DuckDB DOUBLE[] oracle. */
  def cosine: Column =
    graft.functions.Vectors.dot(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))

  /** E2 — brute-force cosine top-3 neighbors per vector within its label
    * block. The label blocking bounds the pairwise work (this mirrors a
    * sharded ANN index: at 100 TB the "label" is the IVF cell / LSH bucket). */
  def e2CosineTopk(s: SparkSession, d: String): DataFrame =
    labelExactTop3(s, d).orderBy("vec_id", "rn")

  /** The FULL label-blocked exact cosine top-3 (vec_id, rn, other_id,
    * sim 4-dp), memoized per (session, corpus) — round 14: this is the
    * exact ground-truth table four declared queries consume (the top-k
    * query itself, e2_ann_recall, e2_ann_pareto, e2_recall_at_k), the
    * unsampled twin of the exactSampleTruth memo with the same
    * can't-drift rationale — every audit scores against the ONE truth
    * table a verification run materializes. The quadratic pairwise pass
    * (the reason this family carries the ≥100× ScaleProbe exclusion)
    * runs once per session, not once per consumer execution. */
  private def labelExactTop3(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("label_exact_top3", s, d) {
      val e = withNorm(embeddings(s, d))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("other_id"))
      e.as("a")
        .join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("sim", cosine)
        // narrow before the rank exchange (the pre-window projection rule)
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
          col("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("vec_id"), asLong(col("rn")).as("rn"),
          col("other_id"), round(col("sim"), 4).as("sim"))
        .localCheckpoint(false)
    }

  /** The 12-bit hyperplane LSH signature table (vec_id, label, embedding,
    * nrm, bucket), memoized per (session, corpus) — round 15 (r14-verdict
    * task 4): the two LSH legs (e2_ann_lsh, e2_ann_multiprobe) each
    * re-ran the signature pass per execution — TWICE per execution, once
    * per join side — while the IVF legs of the e2_ann_pareto scoreboard
    * read the assignment memo; this is the i2-analogue for the LSH index
    * (the signature table IS the index content a deployment persists). */
  private def lshSigTable(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("lsh_sig_table", s, d) {
      withNorm(embeddings(s, d))
        .withColumn("bucket",
          org.apache.spark.sql.graftext.hyperplaneExpression
            .hyperplaneSig(col("embedding"), 12))
        .localCheckpoint(false)
    }

  /** E2 — ANN via random-hyperplane LSH: 12-bit signatures bucket the
    * vectors; the top-1 neighbor is searched within the bucket only. The
    * signature is a native fused-loop expression with hash-derived ±1
    * planes (deterministic everywhere, nothing to broadcast). Oracle-checked
    * (annLshOracle replicates the plane derivation and signed accumulation
    * exactly); structure + true-cosine property also asserted in ScalaTest. */
  def e2AnnLsh(s: SparkSession, d: String): DataFrame = {
    val sig = lshSigTable(s, d)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — MULTI-PROBE LSH ANN: same 12-bit hyperplane index as
    * e2_ann_lsh, but each query vector probes its own bucket PLUS the 12
    * buckets at Hamming distance 1 (one sign flipped) — the multi-probe
    * trick (Lv et al., VLDB'07) that buys the recall of many hash tables
    * from ONE table by also looking where a near-miss hyperplane vote
    * would have landed. The candidate set is a strict superset of
    * e2_ann_lsh's (the d=0 probe is the base bucket), so per-vector best
    * sim can only improve — asserted as a monotone property in ScalaTest.
    * At 100 TB this is the memory-bound regime's dial: nProbes scales
    * candidate work linearly while extra tables would scale INDEX STORAGE
    * linearly; production systems probe, not replicate. Plan: the probe
    * fan-out is a scan-side explode (13 rows per query vector, no extra
    * shuffle); the join stays an equi-join on the probed bucket; a pair
    * can't repeat (probe buckets are distinct, build side is indexed
    * once) so no dedup step. Oracle: annLshOracle's plane replica plus a
    * range(-1,12) bit-flip cross join. */
  def e2AnnMultiprobe(s: SparkSession, d: String): DataFrame = {
    val sig = lshSigTable(s, d)
    val probes = sig.withColumn("pbucket",
      explode(array((-1 until 12).map {
        case -1 => col("bucket")
        case f  => col("bucket").bitwiseXOR(lit(1L << f))
      }: _*)))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    probes.as("a")
      .join(sig.as("b"),
        col("a.pbucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** IVF cell count for a corpus of n vectors: ceil(√n), the textbook
    * sizing — per-cell population ~√n keeps BOTH the broadcast
    * (k seeds ~ √n; ~80 MB at 10^11 vectors) and the within-cell search
    * (n·√n total pairwise work instead of n²/k with fixed k) bounded. */
  def ivfCells(n: Long): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** Corpus row count, memoized per (session, path). Sizing the cell grid
    * needs ONE count — index-build metadata, like a real IVF train phase —
    * but query CONSTRUCTION must not re-run a Spark job every time the
    * query map is traversed (Plans dump, SparkEntry.queries iteration).
    * The memo bounds it to once per corpus per session; everything else
    * about the query stays lazy. */
  private def countOnce(s: SparkSession, d: String, df: DataFrame): Long =
    graft.Memo.value("corpus_count", s, d)(df.count())

  /** E2 — ANN via IVF (inverted file index): ceil(√n) coarse cells chosen
    * as the vectors with the smallest splitmix64(vec_id) — deterministic,
    * uniformly sampled, and computed with one distributed top-k
    * (TakeOrderedAndProject: per-partition heaps, no full sort, no extra
    * shuffle). The one driver-side action is a COUNT to size the cell
    * grid — an aggregate (index-build metadata), not a row collect,
    * memoized per corpus (countOnce) so repeated query construction
    * stays job-free; real IVF systems likewise size/train their
    * centroid set in a separate build phase. Every vector is assigned to its nearest cell
    * (one broadcast join against the √n-sized seed set), then the top-1
    * neighbor is searched within the cell only. At 100 TB the seeds
    * become trained centroids and `nProbe > 1` cells are searched; the
    * plan shape — broadcast-assign, then an equi-join on cell id — is
    * the same. Oracle-checked (annIvfOracle replicates the √n sizing via
    * a subquery LIMIT, seed sampling, assignment, and in-cell search);
    * √n seed growth under corpus replication is asserted in ScalaTest. */
  def e2AnnIvf(s: SparkSession, d: String): DataFrame = ivfSearch(s, d, 1)

  /** E2 — IVF with nProbe=2: the recall/cost dial every production IVF
    * index exposes. The BUILD side stays indexed under its single nearest
    * cell; the PROBE side fans each query vector out to its top-2 cells,
    * so the candidate set doubles (and so does join work — linearly in
    * nProbe, never quadratically) while recall can only improve: the
    * nProbe=1 candidates are a subset, asserted as a monotone-sim property
    * in ScalaTest. Oracle-checked like the base path. */
  def e2AnnIvf2(s: SparkSession, d: String): DataFrame = ivfSearch(s, d, 2)

  /** Metadata predicate for the filtered-ANN query (a fixed label slice —
    * production filters are arbitrary attribute predicates with the same
    * plan shape). */
  val FilterLabel = 3

  /** E2 — FILTERED vector search ("nearest neighbor WHERE label = 3"):
    * the metadata-constrained ANN every retrieval deployment actually
    * serves (RAG over one tenant/language/date-range, dedup within a
    * source). Semantics are PRE-filter: the predicate restricts the
    * candidate set itself, so results are the true nearest among matches
    * — post-filtering an unfiltered top-k would return fewer than k (or
    * zero) under a selective predicate. Plan: the build side applies the
    * predicate at the SCAN (pushed to parquet), then assigns survivors to
    * their IVF cell via the same broadcast √n seed set; the probe side
    * fans out to top-2 cells — the standard filtered-search dial, because
    * a selective filter empties cells and extra probes buy back coverage
    * (queries whose probed cells hold no match drop from the output; the
    * production fallback is escalating nProbe for them). Join work is
    * |matches|-bounded, not corpus-bounded — a 1% filter makes filtered
    * search CHEAPER, never slower, under pre-filtering. */
  def e2AnnFiltered(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val probe = ivfAssigned(e, seeds, 2)
    val build = ivfAssigned(e.filter(col("label") === FilterLabel), seeds, 1)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    probe.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — HARD-NEGATIVE mining: for every vector, the most similar vector
    * with a DIFFERENT label — the contrastive-training data op (triplet /
    * InfoNCE batches want negatives that are hard, i.e. near the anchor,
    * not random; retrieval fine-tuning mines them exactly like this). The
    * per-query predicate is RELATIVE (`b.label ≠ a.label`), which no
    * static pre-filter can express — the complement of e2_ann_filtered's
    * fixed-slice case, and together they cover the two filtered-search
    * shapes. Plan: the same broadcast-seed IVF cell join as e2_ann_ivf
    * (probe top-2 cells for coverage), with the label inequality fused
    * into the join condition so mismatched pairs never materialize;
    * work stays n·√n cell-local. Labels ride the assignment projection —
    * no extra join. */
  def e2HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    def assigned(nProbe: Int): DataFrame =
      e.join(broadcast(seeds))
        .withColumn("c_sim",
          graft.functions.Vectors.dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")))
        // narrow before the assign exchange (the pre-window projection
        // rule: drop the broadcast seed arrays from the scored rows)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
          col("cell"), col("c_sim"))
        .withColumn("c_rn", row_number().over(assignW))
        .filter(col("c_rn") <= nProbe)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
          col("cell"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("negative_id"))
    assigned(2).as("a")
      .join(assigned(1).as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.label") =!= col("b.label"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("negative_id"),
        col("b.label").as("negative_label"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("negative_id"),
        col("negative_label"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** Vectors with their top-`nProbe` cells by cosine (ties to the lower
    * cell id), via one broadcast of the √n seed set. The candidate rows
    * are narrowed BEFORE the per-vector argmax window: Catalyst does not
    * prune columns carried through a Window, so without the projection
    * the assign exchange hauls the √n-seed embedding alongside every
    * scored pair (the family-wide pre-window narrowing rule, measured
    * 2× on the maintenance queries at 100×). */
  private def ivfAssigned(e: DataFrame, seeds: DataFrame, nProbe: Int): DataFrame = {
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    e.join(broadcast(seeds))
      .withColumn("c_sim",
        graft.functions.Vectors.dot(col("embedding"), col("c_emb")) /
          (col("nrm") * col("c_nrm")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
        col("c_sim"))
      .withColumn("c_rn", row_number().over(assignW))
      .filter(col("c_rn") <= nProbe)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }

  /** Top-1 assignment as a map-side min(struct) PARTIAL FOLD (round 13):
    * the n·√n scored candidates collapse to one row per vec_id per
    * partition BEFORE any exchange, where the window form exchanges +
    * sorts the entire candidate set with the vector arrays riding along.
    * Tie semantics match the window ordering exactly — min(struct(
    * -c_sim, cell)) ≡ rank 1 of (c_sim DESC, cell), including signed
    * zeros — and first(embedding/nrm) is deterministic in VALUE
    * (constant per key). OPT-IN, not the default: consumers that
    * SELF-JOIN the assignment wide (build×build on cell — the search/
    * mining family) measured SLOWER on the fold because the window
    * subtree's exchange is reused across the self-join while the
    * aggregate re-runs per side; consumers that fold or broadcast-join
    * the assignment NARROW — only (vec_id, cell) downstream — measured
    * up to 10× faster (e2_ivf_stats 4.53→0.41–0.58 s across probe
    * sessions at 100×) because ColumnPruning drops the unused
    * first(embedding/nrm) aggregates, so no array crosses the exchange;
    * e2_ivf_ingest's per-cell counts are the same shape. Consumers that
    * MATERIALIZE or re-join the wide assignment measured the fold at
    * parity-to-worse (the standing-index build: 596 s window vs 700 s
    * fold at 1000× — nothing prunes, and the object-hash fold costs
    * more than the sort) — they keep the window form. */
  private def ivfAssignedFold(e: DataFrame, seeds: DataFrame): DataFrame =
    e.join(broadcast(seeds))
      .withColumn("c_sim",
        graft.functions.Vectors.dot(col("embedding"), col("c_emb")) /
          (col("nrm") * col("c_nrm")))
      .select(col("vec_id"), (-col("c_sim")).as("ns"), col("cell"),
        col("embedding"), col("nrm"))
      .groupBy("vec_id")
      .agg(min(struct(col("ns"), col("cell"))).as("m"),
        first(col("embedding")).as("embedding"),
        first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("m.cell").as("cell"))

  /** E2 — embedding-space OUTLIER detection for data cleaning: flag, per
    * IVF cell, the 5% of vectors LEAST similar to their own cell seed —
    * the curation gate that catches corrupt embeddings, mojibake text
    * embedded as noise, and off-distribution documents before training
    * (SemDeDup's complement: e2_semdedup removes the over-represented
    * center, this removes the pathological fringe). The threshold is a
    * per-cell RANK, not a global sim cutoff, so dense and sparse regions
    * are audited at the same rate and the rule needs no tuned constant.
    * Plan at scale: the same broadcast seed join as every IVF query (no
    * pairwise work), one vec_id exchange for the assignment argmax, and
    * ONE |cells|-keyed exchange SHARED by both cell windows (rank and
    * count must not each add their own — plan-asserted as exactly two
    * hash exchanges total); ceil is exact integer arithmetic
    * ((n*5+99) div 100) so the flag set is bit-stable cross-engine. */
  def e2EmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    val scored = e.join(broadcast(seeds))
      .withColumn("c_sim",
        graft.functions.Vectors.dot(col("embedding"), col("c_emb")) /
          (col("nrm") * col("c_nrm")))
      // narrow before the assign exchange: downstream needs only the
      // scored triple, so neither the vector nor the seed array rides
      // the window (the pre-window projection rule)
      .select(col("vec_id"), col("cell"), col("c_sim"))
      .withColumn("c_rn", row_number().over(assignW))
      .filter(col("c_rn") === 1)
      .select(col("vec_id"), col("cell"), col("c_sim"))
    val w = Window.partitionBy("cell").orderBy(col("c_sim"), col("vec_id"))
    scored
      .withColumn("r", row_number().over(w))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy("cell")))
      .filter(col("r") <= expr("(cell_n * 5 + 99) div 100"))
      .select(col("cell"), col("vec_id"), round(col("c_sim"), 4).as("sim_c"),
        col("cell_n"))
      .orderBy("cell", "vec_id")
  }

  /** The ceil(√n) IVF seed set (deterministic splitmix64 sample) shared by
    * the search, stats, and semantic-dedup queries. */
  private def ivfSeeds(s: SparkSession, d: String, e: DataFrame): DataFrame =
    e.orderBy(org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id")), col("vec_id"))
      .limit(ivfCells(countOnce(s, d, e)))
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** The STANDARD full-corpus top-1 IVF assignment (vec_id, embedding,
    * nrm, cell), memoized per (session, corpus) as a lazy checkpoint
    * (round 14): ~12 declared queries — the IVF search/recall family,
    * triplet mining, centroid purity, merge/rebalance maintenance, and
    * the semantic-dedup family — each re-ran the n·√n broadcast-seed
    * assignment window per execution. The assignment IS the index
    * content (it is exactly what the i2 standing release persists per
    * corpus); audits of a built index read the built index — the
    * pqCodeRows precedent. Release builders (standingIvfIndex /
    * knnEdgesPlan) keep their own in-plan derivation so the released
    * artifacts stay self-contained. */
  private def ivfTop1Assignment(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("ivf_top1_assignment", s, d) {
      val e = withNorm(embeddings(s, d))
      ivfAssigned(e, ivfSeeds(s, d, e), 1).localCheckpoint(false)
    }

  private def ivfSearch(s: SparkSession, d: String, nProbe: Int): DataFrame =
    ivfSearchFor(s, d, nProbe, None)

  /** ivfSearch with the PROBE side optionally restricted to a query-id
    * set: the index (build side) is always the full corpus, but only the
    * given queries are answered — the deployment shape for evaluation
    * (an audit never computes full-corpus answers to score a 64-query
    * sample). Per-query independence (the top-1 window partitions by
    * a.vec_id) makes restrict-before-search ≡ restrict-after-search;
    * the oracle gate enforces it. */
  private def ivfSearchFor(s: SparkSession, d: String, nProbe: Int,
      queries: Option[DataFrame]): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val build = ivfAssigned(e, seeds, 1)
    val qe = queries.fold(e)(q => e.join(q, Seq("vec_id"), "left_semi"))
    val probe =
      if (nProbe == 1 && queries.isEmpty) build
      else ivfAssigned(qe, seeds, nProbe)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    probe.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — per-label centroids (the k-means M-step / vector-quantization
    * codebook): per (label, dim) mean of the embedding coordinate, flat
    * (label, dim, c, n) output. Plan: posexplode → ONE aggregate on
    * (label, dim) — 640 keys regardless of corpus size, so the shuffle
    * partial-reduces map-side to nothing; this is how codebooks and class
    * prototypes are computed over billions of vectors. Means are rounded
    * (4dp) for cross-engine float-sum determinism, like every double
    * aggregate in the declared set. */
  def e2Centroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(microMean.as("c"),
        count(lit(1)).as("n"))
      .orderBy("label", "dim")

  /** Order-independent centroid mean: each coordinate is quantized to
    * integer micro-units scan-side (floor(x·1e6 + 0.5) — floor on
    * identical IEEE doubles is bit-deterministic in every engine, unlike
    * round-via-shortest-decimal), the micro-units sum as exact longs (an
    * order-independent, map-side-combinable aggregate), and ONE double
    * division + 4-dp round closes it out. A plain `round(avg(double), 4)`
    * is accumulation-order-dependent: Spark's partitioned partials and
    * DuckDB's scan sum in different orders, and a mean within ~1e-13 of a
    * 4-dp boundary splits the engines — the e2_kmeans_iter r6 hash miss.
    *
    * The rounding itself is INTEGER arithmetic, not round(double, 4):
    * Spark's Round goes through BigDecimal.valueOf (the SHORTEST-DECIMAL
    * rendering of the double) while DuckDB rounds the binary value, so a
    * quotient whose decimal expansion sits exactly on a 4-dp midpoint
    * (e.g. Σmicro/(100·n) an exact integer + 1/2, binary ~1e-16 below
    * it) splits the engines — e2_kmeans3 hit exactly one such cell at
    * sf0.001 (0.0082 vs 0.0081, identical memberships). Half-up in
    * exact integer space: c4 = floor(s/(100n) + 1/2) computed as
    * (2s + n·100·(2·OFF + 1)) div (200n) − OFF with OFF = 10^5 keeping
    * the numerator positive (truncating div == floor; Spark `div` ≡
    * DuckDB `//` there). The final c4/10000.0 divides two EXACTLY
    * represented values — bit-identical in every IEEE engine, and
    * c4 = 0 gives +0.0 (integers carry no signed zero, closing the r7
    * -0.0 class by construction). Bounds: safe for |mean| ≤ 10 and
    * n ≤ 4×10^11 rows per group (numerator < 2^63).
    * Same treatment as e7_temperature_mix / e3_quality_model / q44. */
  private def microMean: Column = expr(
    """CAST((2 * CAST(sum(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)) AS BIGINT)
      |  + count(1) * 20000100) div (200 * count(1)) - 100000 AS DOUBLE)
      |  / 10000.0""".stripMargin)

  /** Per-label centroid vectors as array<double> with their L2 norm —
    * the broadcast-ready codebook built from e2Centroids' aggregate. */
  private def centroidArrays(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(microMean.as("c"))
      .groupBy(col("label").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x("c")).as("cen"))
      .withColumn("cnrm", graft.functions.Vectors.l2NormD(col("cen")))

  /** E2 — nearest-centroid assignment (the k-means E-step, and the
    * prototype classifier a labeling pipeline runs over unlabeled vectors):
    * each vector goes to the label whose centroid it is most cosine-similar
    * to (ties → lower label). The codebook is k rows — broadcast — so the
    * scan side never shuffles: at 100 TB this is one narrow pass over the
    * vectors. Cosine here is double HOF math (not vec_dot) because the
    * centroid is array<double>; the candidate set is n·k rows, so the
    * lambda overhead is bounded by k, not by corpus width. */
  def e2VqAssign(s: SparkSession, d: String): DataFrame = {
    val cen = centroidArrays(s, d)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("ed"))
      .withColumn("enrm", graft.functions.Vectors.l2NormD(col("ed")))
    // argmax as a regular aggregate — max(struct(sim, -label)) picks the
    // highest sim with ties to the LOWER label — so the n·k candidate rows
    // partial-combine map-side to one row per vector BEFORE the shuffle;
    // a row_number window here would instead shuffle and sort all n·k rows
    // on vec_id.
    e.join(broadcast(cen))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("ed"), col("cen")) /
          (col("enrm") * col("cnrm")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("sim"), (-col("clabel")).as("nl"))).as("m"))
      .select(col("vec_id"), col("label"),
        (-col("m.nl")).as("pred_label"), round(col("m.sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — k-NN classification over the IVF index: each vector's label is
    * predicted by majority vote of its 5 nearest neighbors WITHIN its IVF
    * cell (ties → smaller label), searched across all labels — the
    * label-propagation / auto-labeling application of the ANN index, and
    * unlike e2_vq_assign it is non-parametric (no centroid model). Plan:
    * the same broadcast-assign + cell equi-join as e2_ann_ivf, then two
    * small aggregates (vote count, argmax) that partial-combine map-side.
    * Integer votes keep the oracle exact. */
  def e2KnnClassify(s: SparkSession, d: String): DataFrame = {
    val build = ivfTop1Assignment(s, d)
    val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nb"))
    val top5 = build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("vec_id"), col("nb"))
    top5
      .join(lbl.select(col("vec_id").as("nb"), col("label").as("nb_label")), "nb")
      .groupBy("vec_id", "nb_label").agg(count(lit(1)).as("votes"))
      .groupBy("vec_id")
      .agg(max(struct(col("votes"), (-col("nb_label")).as("nl"))).as("m"))
      .select(col("vec_id"), (-col("m.nl")).as("pred_label"),
        col("m.votes").as("votes"))
      .join(lbl, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"), col("votes"))
      .orderBy("vec_id")
  }

  /** E2 — ANN recall audit: per label, how often the IVF index's top-1
    * agrees with the exact within-block top-1 — the accuracy/cost
    * scoreboard every ANN deployment tracks next to its nProbe dial (the
    * similarity analogue of e1_minhash_accuracy). `top1_hits` counts
    * exact neighbor agreement; `sim_parity` counts IVF finding an
    * equal-or-better ROUNDED similarity (possible when the true neighbor
    * sits outside the label block — the two columns disagreeing is
    * exactly the blocking-vs-cell difference made visible). The exact
    * side is the quadratic verifier, so like e1_ngram_jaccard this audit
    * runs at fixture/sample scale BY DESIGN; the operational path it
    * audits (IVF) is the scale path. Comparisons are on 4-decimal-rounded
    * sims, so both engines judge identical values. On the synthetic
    * fixture the verdict is itself informative: sampled-seed cells agree
    * with the label-blocked top-1 only ~2-12% of the time while finding
    * an equal-or-better GLOBAL similarity in ~2/3 of cases — i.e. cells
    * cut across the label blocking, which is precisely the gap a trained
    * centroid build or a larger nProbe is deployed to close. */
  def e2AnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = e2CosineTopk(s, d).filter(col("rn") === 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"),
        col("sim").as("exact_sim"))
    val ivf = e2AnnIvf(s, d)
      .select(col("vec_id"), col("neighbor_id").as("ivf_nb"),
        col("sim").as("ivf_sim"))
    exact.join(ivf, Seq("vec_id"), "left")
      .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ivf_nb") === col("exact_nb"), 1L).otherwise(0L))
          .as("top1_hits"),
        sum(when(col("ivf_sim") >= col("exact_sim"), 1L).otherwise(0L))
          .as("sim_parity"))
      .select(col("label"), col("n"), col("top1_hits"),
        round(col("top1_hits") / col("n"), 4).as("top1_recall"),
        col("sim_parity"))
      .orderBy("label")
  }

  /** Salt + size for the SAMPLED recall audit's deterministic query set —
    * interpolated into both engines. Fixed SIZE (not a fixed fraction) is
    * what makes the sampled audit deployable: the exact ground-truth pass
    * costs |sample| × block, linear in the corpus, where a percentage
    * sample would keep it quadratic (pct·n × block). */
  val AnnQuerySalt = 0x6b8f24a1d3c7095eL
  val AnnQueryK = 64

  /** The AnnQueryK vec_ids that sort first by (mix64(vec_id ^ salt),
    * vec_id) — a deterministic, oracle-replicable fixed-size query set
    * (the e6 sampler discipline applied to evaluation). Plan: a global
    * TakeOrdered over (id, hash) pairs only — no corpus columns move. */
  private[ops] def sampledQueryIds(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id").bitwiseXOR(lit(AnnQuerySalt))).as("m"))
      .orderBy("m", "vec_id").limit(AnnQueryK).select("vec_id")

  /** Per-(session, corpus) memo of the SHARED exact ground truth the
    * *_sampled audit family pays (round 12 — previously six audits each
    * re-ran their own sample × corpus exact pass on every execution:
    * e2_ann_recall_sampled, e2_recall_at_k_sampled, e2_ann_pareto_sampled,
    * e2_mips, e2_triplet_mining_sampled, e2_hamming_ann, e2_graph_search,
    * e2_abtt's raw leg). For the deterministic AnnQueryK query set it holds
    * the top-3 candidates by (a) global cosine (`cos_g`), (b) cosine within
    * each label half — same-label and other-label ranked separately
    * (`cos_l`, kept to the deepest consumer depth — MmrPool/HybridK = 8),
    * and (c) global raw inner product (`ip_g`): ≤ 64 × 22 rows,
    * built ONCE per (session, corpus) from TWO sample × corpus scans (the
    * global cosine top-3 is contained in the union of the two label-half
    * top-3s, so it re-ranks those ≤6 rows instead of re-scanning; the IP
    * ordering needs its own scan) and localCheckpoint'd like the dedup
    * shingle/pair memos. Consumers COMPOSE THIS BUILDER VERBATIM (the
    * can't-drift rule): filter on `leg` + `rn` + label half, round at their
    * own precision. sim/ip are UNROUNDED house doubles (index-order
    * accumulation — bit-identical to what each consumer previously computed
    * in place: double multiply/divide are commutative bit-exactly, so
    * operand-order differences between the old in-place legs are
    * immaterial). Plan: each scan's rank filter pushes down as a partial
    * WindowGroupLimit, so the exchanges carry per-partition top-3 rows,
    * never the 64·n candidate set; the query sample is a broadcast
    * TakeOrdered. */
  private[ops] def exactSampleTruth(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("exact_sample_truth", s, d) {
      exactSampleTruthPlan(s, d).localCheckpoint(false)
    }

  /** The un-memoized builder behind [[exactSampleTruth]] — separate so the
    * plan specs can assert the PRODUCING stage's shape (broadcast sample,
    * WindowGroupLimit pre-exchange pruning) without racing the memo's
    * checkpoint materialization. */
  private[ops] def exactSampleTruthPlan(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val qs = broadcast(sampledQueryIds(s, d))
    val pairs = broadcast(e.join(qs, Seq("vec_id"), "left_semi")).as("a")
      .join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      .withColumn("ip", graft.functions.Vectors.dot(
        col("a.embedding"), col("b.embedding")))
      // narrow before the rank exchanges (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("other_id"), col("b.label").as("other_label"),
        col("sim"), col("ip"))
    val wl = Window
      .partitionBy(col("vec_id"), col("label") === col("other_label"))
      .orderBy(col("sim").desc, col("other_id"))
    val wg = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    val wip = Window.partitionBy("vec_id")
      .orderBy(col("ip").desc, col("other_id"))
    // the label-half legs keep the DEEPEST depth any consumer reads:
    // MMR's candidate pool and the RRF dense list both take top-MmrPool/
    // HybridK (= 8), the top-k audits take 3 (computed at call time —
    // object-val initialization order makes a file-level max val unsafe)
    val keepK = Seq(3, MmrPool, HybridK).max
    val cosL = pairs.withColumn("rn", row_number().over(wl))
      .filter(col("rn") <= keepK)
    val cosG = cosL.drop("rn").withColumn("rn", row_number().over(wg))
      .filter(col("rn") <= 3)
    val ipG = pairs.withColumn("rn", row_number().over(wip))
      .filter(col("rn") <= 3)
    cosG.withColumn("leg", lit("cos_g"))
      .unionByName(cosL.withColumn("leg", lit("cos_l")))
      .unionByName(ipG.withColumn("leg", lit("ip_g")))
  }

  /** Exact label-blocked top-k ground truth for the sampled query set —
    * the shared exact side of the label-blocked *_sampled audits, now a
    * filter over [[exactSampleTruth]] (`cos_l` leg restricted to the
    * same-label half ranks exactly the a.label === b.label pairs the old
    * in-place join ranked). Columns: (vec_id, rn, other_id, sim) with sim
    * rounded 4-dp like e2_cosine_topk. */
  private def sampledExactTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    require(k <= Seq(3, MmrPool, HybridK).max,
      s"memo keeps the label-half top-${Seq(3, MmrPool, HybridK).max}; " +
        s"deepen exactSampleTruth's keepK before asking for top-$k")
    exactSampleTruth(s, d)
      .filter(col("leg") === "cos_l" && col("label") === col("other_label")
        && col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("other_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** E2 — the SAMPLED ANN recall audit: e2_ann_recall's scoreboard with
    * the exact ground truth computed only for a deterministic fixed-size
    * query sample — the form a production ANN deployment actually runs,
    * and the one that removes the audit family's ≥100× ScaleProbe
    * exclusion. e2_ann_recall's exact side is the full quadratic
    * verifier (every vector vs its whole label block); here the exact
    * pass is sample × block — the broadcast-able 64-query set joins the
    * corpus once, so exact work grows LINEARLY with the corpus and the
    * audit ships at any scale (SCALE.md carries its 100× row where the
    * unsampled audits say "excluded"). Semantics per query are identical
    * to e2_ann_recall (same windows, same 4-dp rounded sims, same LEFT
    * join tolerance for a vector with no in-cell peer); the IVF side is
    * the declared e2_ann_ivf chain restricted to the sampled queries, so
    * the audit scores exactly what the index serves. */
  def e2AnnRecallSampled(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val exact = sampledExactTopK(s, d, 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"),
        col("sim").as("exact_sim"))
    // PROBE-side restriction: the index is built over the full corpus,
    // but only the 64 sampled queries are answered (ivfSearchFor) — the
    // deployment shape, and the difference between the audit costing
    // sample×cell and costing a full-corpus search at 100×.
    val ivf = ivfSearchFor(s, d, 1, Some(qs))
      .select(col("vec_id"), col("neighbor_id").as("ivf_nb"),
        col("sim").as("ivf_sim"))
    exact.join(ivf, Seq("vec_id"), "left")
      .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ivf_nb") === col("exact_nb"), 1L).otherwise(0L))
          .as("top1_hits"),
        sum(when(col("ivf_sim") >= col("exact_sim"), 1L).otherwise(0L))
          .as("sim_parity"))
      .select(col("label"), col("n"), col("top1_hits"),
        round(col("top1_hits") / col("n"), 4).as("top1_recall"),
        col("sim_parity"))
      .orderBy("label")
  }

  /** E2 — recall@3 on the sampled query set: e2_recall_at_k re-based on
    * the fixed-size sample (the remaining member of the recall family
    * lifted off the ≥100× exclusion). Exact side = sampledExactTopK(3)
    * (sample × block, linear); IVF side = the same in-cell top-3 the
    * unsampled audit scores, PROBE-restricted to the sampled queries
    * before the window (per-query partitions make restrict-before ≡
    * restrict-after; the gate enforces it). Per-label recall@3 over
    * whatever exact pairs the sampled queries own. */
  def e2RecallAtKSampled(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val exact = sampledExactTopK(s, d, 3).select(col("vec_id"), col("other_id"))
    val build = ivfTop1Assignment(s, d)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    val ivf3 = build.join(qs, Seq("vec_id"), "left_semi").as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("other_id"))
    val hits = exact.join(ivf3, Seq("vec_id", "other_id"), "left_semi")
      .groupBy("vec_id").agg(count(lit(1)).as("h"))
    exact.groupBy("vec_id").agg(count(lit(1)).as("np"))
      .join(hits, Seq("vec_id"), "left")
      .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("int").as("label"))
      .agg(sum(col("np")).as("n_pairs"),
        coalesce(sum(col("h")), lit(0L)).as("hits"))
      .withColumn("recall3", round(col("hits") / col("n_pairs"), 4))
      .orderBy("label")
  }

  /** E2 — the ANN recall/cost frontier on the sampled query set:
    * e2_ann_pareto with the exact baseline swapped for the sampled one —
    * the restriction rides the INNER join against the exact side, so the
    * four method chains are still composed VERBATIM (the scoreboard
    * cannot drift from what it scores) while the quadratic baseline is
    * gone. This lifts the frontier audit itself off the ≥100×
    * exclusion; the method chains were always the scale paths. */
  def e2AnnParetoSampled(s: SparkSession, d: String): DataFrame = {
    val exact = sampledExactTopK(s, d, 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"))
    def blk(name: String, probes: Long, df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("neighbor_id"))
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("neighbor_id") === col("exact_nb"), 1L).otherwise(0L))
            .as("top1_hits"))
        .select(lit(name).as("method"), lit(probes).as("probes"),
          col("n"), col("top1_hits"),
          when(col("n") === 0L, 0L)
            .otherwise(expr("top1_hits * 10000 div n")).as("hit_bp"))
    blk("ivf_p1", 1, e2AnnIvf(s, d))
      .unionByName(blk("ivf_p2", 2, e2AnnIvf2(s, d)))
      .unionByName(blk("lsh_p1", 1, e2AnnLsh(s, d)))
      .unionByName(blk("lsh_p13", 13, e2AnnMultiprobe(s, d)))
      .orderBy("method")
  }

  /** E2 — sampled exact MIPS (maximum-inner-product search) top-3: the
    * retrieval mode recommendation / two-tower models serve, where the
    * score is the RAW dot product and a long vector can beat a nearby
    * short one (cosine's normalization is exactly what MIPS must NOT
    * do). Answered for the deterministic AnnQueryK query sample against
    * the WHOLE corpus — no label blocking, because a catalog retrieval
    * scores everything — so the work is sample × corpus, linear. Plan:
    * the 64 sampled queries broadcast into a nested-loop join against
    * the corpus scan; the corpus never shuffles and no pairwise corpus²
    * stage exists anywhere (plan-asserted in Round9bOpsSpec). At 100 TB
    * the serving path is the classic norm-augmentation reduction
    * (Bachrach et al., RecSys'14): append sqrt(M² − ‖x‖²) to each corpus
    * vector and 0 to queries — inner-product order becomes cosine order
    * of the augmented vectors (the query's augmented norm is constant),
    * so MIPS rides the existing IVF/LSH cosine index machinery verbatim;
    * the rank-equivalence lemma is pinned numerically on the fixture in
    * Round9bOpsSpec. Oracle: DuckDB list_inner_product over DOUBLE[] —
    * the same index-ordered double accumulation as the native
    * dotProduct expression (the e2_cosine_topk bitwise precedent). */
  def e2Mips(s: SparkSession, d: String): DataFrame =
    // the `ip_g` leg of the shared exact-truth memo IS this query's whole
    // computation (round 12): the sample × corpus IP scan runs once per
    // session instead of once per execution; the plan-shape pins
    // (broadcast nested-loop, WindowGroupLimit pre-exchange pruning) moved
    // to the BUILDER's plan in Round9bOpsSpec
    exactSampleTruth(s, d).filter(col("leg") === "ip_g" && col("rn") <= 3)
      .select(col("vec_id"), asLong(col("rn")).as("rn"),
        col("other_id"), round(col("ip"), 4).as("ip"))
      .orderBy("vec_id", "rn")

  /** E2 — ROCCHIO pseudo-relevance feedback (Rocchio 1971; the PRF
    * recipe of Salton's SMART system, run dense): treat each sampled
    * query's exact top-3 as pseudo-relevant, expand the query toward
    * their centroid (q' = ½q + ½·centroid — α = β = ½, no negative
    * term), re-run the exact search with q', and report whether the
    * expansion MOVED the top-1 and how much of the original top-3 list
    * survives — the table that says whether one feedback round helps or
    * hurts this corpus before a retrieval deployment turns PRF on.
    * Feedback sets come from the shared exactSampleTruth memo (cos_g
    * top-3 — the can't-drift rule); queries lacking three neighbors
    * drop (INNER joins — PRF needs its pseudo-relevant set).
    * Determinism: the expansion arithmetic is pinned-order IEEE
    * (((e1+e2)+e3)/3, then ½q + ½c — identical sequence both engines);
    * the re-ranked lists tie-break on neighbor id, the audit columns are
    * integers, and no raw double is output. Plan at 100 TB: the memo
    * runs once per session; the ≤64 expanded queries BROADCAST against
    * ONE column-pruned corpus scan (the *_sampled exact-leg shape —
    * linear), with the rank filter pruning to per-partition top-3
    * before the exchange. */
  def e2Rocchio(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id").as("oid"),
      col("embedding").cast("array<double>").as("oe"))
    val m = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_g" && col("rn") <= 3)
      .select(col("vec_id"), col("rn"), col("other_id"))
    def at(k: Int) = m.filter(col("rn") === k)
      .join(emb, col("other_id") === col("oid"))
      .select(col("vec_id"), col("oe").as(s"e$k"),
        col("other_id").as(s"nb$k"))
    // qnrm once per EXPANDED QUERY (≤64 rows) and onrm once per CORPUS row
    // — the PRF pass previously re-folded both self-dots inside the
    // sample × corpus pair expression (3 interpreted HOF folds per pair);
    // the pair now pays one fused-loop vec_dot_d. sqrt of the same
    // index-ordered fold, divided in the same order — bit-identical sims.
    val qx = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .join(at(1), "vec_id").join(at(2), "vec_id").join(at(3), "vec_id")
      .select(col("vec_id"), col("nb1"), col("nb2"), col("nb3"),
        expr("""zip_with(ed,
                  zip_with(zip_with(e1, e2, (x, y) -> x + y), e3,
                    (x, y) -> x + y),
                  (x, y) -> 0.5 * x + 0.5 * (y / 3.0))""").as("qp"))
      .withColumn("qnrm", graft.functions.Vectors.l2NormD(col("qp")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("oid"))
    val prf = broadcast(qx)
      .join(emb.withColumn("onrm", graft.functions.Vectors.l2NormD(col("oe"))),
        col("oid") =!= col("vec_id"))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("qp"), col("oe")) /
          (col("qnrm") * col("onrm")))
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("vec_id"), col("nb1"), col("nb2"), col("nb3"),
        col("oid"), col("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    prf.groupBy("vec_id", "nb1", "nb2", "nb3")
      .agg(min(when(col("rn") === 1, col("oid"))).as("prf_top1"),
        sum(when(col("oid") === col("nb1") or col("oid") === col("nb2")
          or col("oid") === col("nb3"), 1L).otherwise(0L)).as("overlap3"))
      .select(col("vec_id"), col("nb1").as("orig_top1"), col("prf_top1"),
        when(col("prf_top1") === col("nb1"), 0L).otherwise(1L)
          .as("moved"),
        col("overlap3"))
      .orderBy("vec_id")
  }

  /** Neighborhood size for the label-noise audit — interpolated into
    * both engines. */
  val NoiseK = 5

  /** E2 — LABEL-NOISE audit by k-NN disagreement (the cleanlab /
    * Confident-Learning signal; Deep k-NN, Bahri et al. ICML'20): for
    * each vector in the deterministic query sample, its NoiseK globally
    * nearest neighbors by cosine — NO label blocking, because the
    * disagreement IS the signal — and the count of neighbors whose label
    * differs, plus the neighborhood's majority label (ties → smaller,
    * the e2_knn_classify discipline) and a `suspect` flag when the
    * majority disagrees with the vector's own label. In a training-data
    * pipeline this is the labeling-QA queue: suspects are sent to
    * re-annotation before they poison a classifier head (and the
    * embedding-space twin of e3_langid_scoreboard's confusion audit).
    * Plan: identical to e2_mips — the fixed-size sample broadcasts into
    * a nested-loop against the corpus scan (sample × corpus, LINEAR; the
    * corpus never shuffles), the top-K window prunes per-partition
    * before its exchange, and everything downstream operates on
    * |sample|·NoiseK rows. At 100 TB the neighbor gather rides the IVF
    * probe-side restriction (ivfSearchFor) exactly like the sampled
    * recall audits. Disagreement counts are integers over the 4-dp-
    * rounded-free rank order (ranks use the raw index-ordered cosine
    * fold both engines share bitwise). */
  def e2LabelNoise(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val e = withNorm(embeddings(s, d))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    val top = broadcast(e.join(qs, Seq("vec_id"), "left_semi")).as("a")
      .join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("b.label").cast("int").as("nb_label"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NoiseK)
      .select("vec_id", "other_id", "nb_label")
    val major = top.groupBy("vec_id", "nb_label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("vec_id")
      .agg(max(struct(col("votes"), (-col("nb_label")).as("nl"))).as("m"))
      .select(col("vec_id"), (-col("m.nl")).cast("int").as("nb_major"))
    val lbl = embeddings(s, d)
      .select(col("vec_id"), col("label").cast("int").as("label"))
    top.join(lbl, "vec_id")
      .groupBy("vec_id", "label")
      .agg(asLong(count(lit(1))).as("n_nb"),
        asLong(sum(when(col("nb_label") =!= col("label"), 1L)
          .otherwise(0L))).as("n_diff"))
      .join(major, "vec_id")
      .select(col("vec_id"), col("label"), col("n_nb"), col("n_diff"),
        col("nb_major"),
        when(col("n_diff") * 2 > col("n_nb"), 1L).otherwise(0L)
          .as("suspect"))
      .orderBy("vec_id")
  }

  /** MMR candidate-pool size and selection count — interpolated into
    * both engines. λ is written as CAST(0.7 AS DOUBLE) on the oracle
    * side so both engines score from the identical binary double. */
  val MmrPool = 8
  val MmrK = 3

  /** E2 — MMR-DIVERSIFIED retrieval (maximal marginal relevance,
    * Carbonell & Goldstein '98): for each sampled query, greedily pick
    * MmrK of its top-MmrPool exact candidates maximizing
    * λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s) — the re-ranking that
    * turns "3 nearest neighbors" (often 3 near-copies of each other)
    * into "3 nearest DISTINCT exemplars". In a training-data pipeline
    * this is the few-shot/retrieval-augmentation selector: e2_semdedup
    * removes redundancy from the CORPUS, MMR removes it from each
    * RESULT LIST. Plan: the candidate stage is the shared sampled exact
    * top-k (sample × label block, linear); everything after operates on
    * |sample|·pool rows (512 here) — the greedy recursion is unrolled
    * into MmrK dataframe stages (pick → anti-join → penalty join), each
    * a join/window over the tiny candidate table, so no driver loop and
    * no corpus work after the candidate scan. Candidate-to-candidate
    * sims reuse the same index-ordered dot/norm fold as every cosine
    * (bit-equal to list_cosine_similarity). EXACTNESS: λ·rel − (1−λ)·ps
    * over 4-dp-rounded inputs lands EXACTLY on the 5th-decimal halfway
    * grid, where the engines' double rounding diverges (caught by the
    * bitwise gate at sf0.01) — so scoring runs in integer 1e-5 units
    * (7·rel_i − 3·ps_i over exact ten-thousandth BIGINTs, the microMean
    * discipline): comparisons, ties, and the emitted `mmr_e5` are all
    * integer-exact in both engines. Pick 1's objective has no penalty
    * term; its score is rel in the same units (10·rel_i). */
  def e2Mmr(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    // The candidate table and the candidate-pair sim table are BOUNDED
    // (|sample|·pool and |sample|·pool² rows — 512 / ≤3.6k here, corpus-
    // size-independent) but were consumed 4-5× by the unrolled greedy
    // stages below, re-reading the truth memo and re-running the corpus
    // embedding fetch + pairwise dots per reference. Round 15: eager
    // localCheckpoint both (the per-round state discipline of the walk/
    // peel loops) — one memo read + ONE corpus scan + one tiny pairwise
    // stage per execution, identical rows flowing into identical
    // integer-exact scoring.
    val cand = sampledExactTopK(s, d, MmrPool)
      .select(col("vec_id").as("q"), col("other_id").as("c"),
        round(col("sim") * 10000).cast("long").as("rel_i"))
      .localCheckpoint(true)
    val withE = cand.select("q", "c")
      .join(e.select(col("vec_id").as("c"), col("embedding"), col("nrm")), "c")
    val ps = withE.select(col("q"), col("c").as("ca"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(withE.select(col("q"), col("c").as("cb"),
        col("embedding").as("eb"), col("nrm").as("nb")), "q")
      .filter(col("ca") =!= col("cb"))
      .select(col("q"), col("ca"), col("cb"),
        round(round(graft.functions.Vectors.dot(col("ea"), col("eb"))
          / (col("na") * col("nb")), 4) * 10000).cast("long").as("ps_i"))
      .localCheckpoint(true)
    def pick(scored: DataFrame, m: String): DataFrame = {
      val ww = Window.partitionBy("q").orderBy(col(m).desc, col("c"))
      scored.withColumn("rn", row_number().over(ww)).filter(col("rn") === 1)
        .select(col("q"), col("c"), col(m).as("mmr_e5"))
    }
    val s1 = pick(cand.withColumn("m1", lit(10L) * col("rel_i")), "m1")
    val rem1 = cand.join(s1.select("q", "c"), Seq("q", "c"), "left_anti")
    val m2 = rem1.join(s1.select(col("q"), col("c").as("sx")), "q")
      .join(ps.select(col("q"), col("ca").as("c"), col("cb").as("sx"),
        col("ps_i")), Seq("q", "c", "sx"))
      .withColumn("m2", lit(7L) * col("rel_i") - lit(3L) * col("ps_i"))
    val s2 = pick(m2, "m2")
    val rem2 = rem1.join(s2.select("q", "c"), Seq("q", "c"), "left_anti")
    val sel = s1.select(col("q"), col("c").as("sx"))
      .unionByName(s2.select(col("q"), col("c").as("sx")))
    val m3 = rem2.join(sel, "q")
      .join(ps.select(col("q"), col("ca").as("c"), col("cb").as("sx"),
        col("ps_i")), Seq("q", "c", "sx"))
      .groupBy("q", "c", "rel_i").agg(max(col("ps_i")).as("pen"))
      .withColumn("m3", lit(7L) * col("rel_i") - lit(3L) * col("pen"))
    val s3 = pick(m3, "m3")
    s1.withColumn("pick", lit(1L))
      .unionByName(s2.withColumn("pick", lit(2L)))
      .unionByName(s3.withColumn("pick", lit(3L)))
      .select(col("q").as("vec_id"), col("pick"), col("c").as("other_id"),
        col("mmr_e5"))
      .orderBy("vec_id", "pick")
  }

  /** Per-retriever list depth and the RRF rank constant (Cormack et al.
    * 2009's k=60) — interpolated into both engines. */
  val HybridK = 8
  val RrfK0 = 60L

  /** E2 — HYBRID retrieval via Reciprocal Rank Fusion (Cormack, Clarke
    * & Buettcher, SIGIR'09): fuse a DENSE list (the sampled exact cosine
    * top-K, the same label-blocked ground truth every *_sampled audit
    * shares) with a LEXICAL list (candidates ranked by shared df-capped
    * shingle count off the corpus shingle table — the dedup family's own
    * lexical index) — the production RAG serving pattern, where BM25-ish
    * keyword recall and embedding recall fail on DIFFERENT queries and
    * the fusion beats both. RRF needs only the RANKS: score =
    * Σ_lists 10⁶ div (k0 + rank) in EXACT integers (the e2_mmr
    * ten-thousandth-integer discipline — no float fusion to diverge
    * cross-engine), ties by lower candidate id. The fixture's vec_id ≡
    * doc_id alignment is the id bridge a real system keeps between its
    * vector store and its document store. Output: top-3 fused per
    * sampled query. Plan: the dense side is the shared sample × label
    * block pass; the lexical side joins the 64 sampled docs' shingles
    * against the memoized shingle table (sample × corpus on 16-byte
    * hashes, linear) with its overlap rank narrowed pre-window; the
    * fusion aggregate is list-depth-bounded (≤ 2·K rows per query). */
  def e2HybridRrf(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val dense = sampledExactTopK(s, d, HybridK)
      .select(col("vec_id").as("qid"), col("other_id").as("cand"),
        col("rn").cast("long").as("r"))
    val sh = Dedup.rareShingleHashes(s, d)
    val qsh = sh.join(broadcast(qs.select(col("vec_id").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("qid"), col("h"))
    val wl = Window.partitionBy("qid").orderBy(col("ov").desc, col("cand"))
    val lex = qsh
      .join(sh.select(col("doc_id").as("cand"), col("h")), "h")
      .filter(col("cand") =!= col("qid"))
      .groupBy("qid", "cand").agg(count(lit(1)).as("ov"))
      .withColumn("r", row_number().over(wl))
      .filter(col("r") <= HybridK)
      .select(col("qid"), col("cand"), col("r").cast("long").as("r"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf_e6").desc, col("cand"))
    dense.unionByName(lex)
      .groupBy("qid", "cand")
      .agg(sum(expr(s"1000000 div ($RrfK0 + r)")).as("rrf_e6"))
      .withColumn("p", row_number().over(wf))
      .filter(col("p") <= 3)
      .select(col("qid").as("vec_id"), col("p").cast("long").as("pick"),
        col("cand").as("cand_id"), col("rrf_e6"))
      .orderBy("vec_id", "pick")
  }

  /** Prefix lengths for the dimension-ablation audit — interpolated into
    * BOTH engines. 64 is the full width (sanity row: agreement 100%). */
  val AblationDims = Seq(8, 16, 32, 64)

  /** E2 — DIMENSION-TRUNCATION ablation (the Matryoshka-embedding
    * decision table): per prefix width d, how often the top-1 neighbor
    * computed from only the first d coordinates agrees with the full-
    * width top-1 — the number that decides how hard embeddings can be
    * truncated for index size/speed before retrieval quality moves
    * (truncation is the zero-cost companion to PQ/SQ8 compression: no
    * codebook, just shorter vectors). Within label blocks like
    * e2_cosine_topk; prefix cosine is the same index-ordered fold over
    * `slice(embedding, 1, d)` both engines share bit-for-bit. Runs the
    * exact pairwise baseline per width BY DEFINITION → shares the ≥100×
    * ScaleProbe exclusion; the d=64 row is the built-in sanity check
    * (agreement ≡ 100%). ALL-INTEGER output. */
  def e2DimAblation(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
    def top1(dims: Int): DataFrame = {
      val pe = e.withColumn("pe", slice(col("embedding"), 1, dims))
        .withColumn("pn", graft.functions.Vectors.l2Norm(col("pe")))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("nb"))
      pe.as("a").join(pe.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("sim",
          graft.functions.Vectors.dot(col("a.pe"), col("b.pe")) /
            (col("a.pn") * col("b.pn")))
        // narrow before the rank exchange (the pre-window projection rule)
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
          col("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("nb"))
    }
    val full = top1(64).withColumnRenamed("nb", "full_nb")
    AblationDims.map { dims =>
      top1(dims).join(full, "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("nb") === col("full_nb"), 1L).otherwise(0L))
            .as("top1_agree"))
        .select(lit(dims.toLong).as("dims"), col("n"), col("top1_agree"),
          when(col("n") === 0L, 0L)
            .otherwise(expr("top1_agree * 10000 div n")).as("agree_bp"))
    }.reduce(_.unionByName(_)).orderBy("dims")
  }

  /** E2 — the Matryoshka truncation table on the sampled query set:
    * e2_dim_ablation re-based on the fixed-size sample, lifting its
    * ≥100× exclusion — per prefix width, the sampled queries' truncated
    * top-1 is compared against their full-width top-1, each computed as
    * sample × label-block (the broadcast sampled side joins the corpus
    * once per width; 4 widths = 4 linear passes, never a quadratic one).
    * Same integer output shape as the unsampled table; the d=64 sanity
    * row still pins agreement ≡ 100%. */
  def e2DimAblationSampled(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
    def top1(dims: Int): DataFrame = {
      val pe = e.withColumn("pe", slice(col("embedding"), 1, dims))
        .withColumn("pn", graft.functions.Vectors.l2Norm(col("pe")))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("nb"))
      broadcast(pe.join(qs, Seq("vec_id"), "left_semi")).as("a")
        .join(pe.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("sim",
          graft.functions.Vectors.dot(col("a.pe"), col("b.pe")) /
            (col("a.pn") * col("b.pn")))
        // narrow before the rank exchange (the pre-window projection rule)
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
          col("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("nb"))
    }
    val full = top1(64).withColumnRenamed("nb", "full_nb")
    AblationDims.map { dims =>
      top1(dims).join(full, "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("nb") === col("full_nb"), 1L).otherwise(0L))
            .as("top1_agree"))
        .select(lit(dims.toLong).as("dims"), col("n"), col("top1_agree"),
          when(col("n") === 0L, 0L)
            .otherwise(expr("top1_agree * 10000 div n")).as("agree_bp"))
    }.reduce(_.unionByName(_)).orderBy("dims")
  }

  /** Similarity floor for the range search, applied to the 4-dp ROUNDED
    * cosine (boundary comparisons happen on the canonical rounded grid,
    * never on raw doubles) — interpolated into both engines. */
  val RangeTau = 0.25

  /** E2 — RANGE (radius) search for the sampled query set: every
    * label-block neighbor whose rounded cosine clears RangeTau — the
    * OTHER retrieval contract next to top-k (FAISS `range_search`):
    * top-k answers "the best k whatever they look like", range answers
    * "everything above the quality bar, however many" — the contract
    * dedup thresholds, recall-oriented RAG, and near-dup candidate
    * generation actually specify. Output cardinality is data-dependent
    * BY DESIGN; the emitted rows per query are the calibration table
    * for choosing τ (read next to e1_lsh_curve, which prices the same
    * dial on the MinHash side). Threshold compares on the ROUNDED sim
    * so the boundary set is bit-identical cross-engine. Plan at 100 TB:
    * the fixed-size query sample broadcasts against the corpus once
    * (sample × block, LINEAR — the e2_ann_recall_sampled discipline);
    * no window at all — range search has no rank, so the scan-side
    * filter is the whole operator and NOTHING shuffles but the hits. */
  def e2RangeSearch(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val e = withNorm(embeddings(s, d))
    broadcast(e.join(qs, Seq("vec_id"), "left_semi")).as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", round(cosine, 4))
      .filter(col("sim") >= RangeTau)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("sim"))
      .orderBy("vec_id", "other_id")
  }

  /** Neighbors per vector in the kNN graph — interpolated into both
    * engines. */
  val KnnGraphK = 3

  /** E2 — kNN-GRAPH construction + MUTUALITY audit: the per-vector
    * top-K in-cell neighbor lists (the seed structure every graph-ANN
    * method — NN-descent, HNSW layer 0, diffusion re-ranking — starts
    * from), scored per label by the MUTUAL-kNN rate: the fraction of
    * directed edges (a→b) whose reverse (b→a) is also a top-K edge.
    * Low mutuality is the standard HUBNESS symptom (a few vectors
    * appear in everyone's list without reciprocating — exactly the
    * regime where ANN recall degrades and where mutual-kNN clustering
    * outperforms raw kNN), so this is the one-number health check run
    * before trusting the graph downstream. Exactness: edge sets are
    * exact (house cosine + vec_id tie-break), mutuality is a self-join
    * membership test, rate in integer BASIS POINTS (one integer div) —
    * no float aggregation at all. Plan at 100 TB: the build is the IVF
    * in-cell join (n·√n bound, broadcast seeds, vectors never shuffle),
    * ranks narrow-project before the window exchange (the pre-window
    * projection rule), the mutuality test is a LEFT SEMI of the edge
    * list against its own swap — EDGE-LIST-sized (n·K rows), and the
    * output is one row per label. */
  def e2KnnGraph(s: SparkSession, d: String): DataFrame = {
    val (knn, mut) = knnEdges(s, d)
    val lab = embeddings(s, d).select(col("vec_id"), col("label"))
    val edges = knn.join(lab, "vec_id")
      .groupBy("label").agg(count(lit(1)).as("n_edges"))
    val muts = mut.join(lab, "vec_id")
      .groupBy("label").agg(count(lit(1)).as("n_mutual"))
    edges.join(muts, Seq("label"), "left")
      .select(col("label").cast("int").as("label"), col("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        expr("coalesce(n_mutual, 0L) * 10000 div n_edges").as("mutual_bp"))
      .orderBy("label")
  }

  /** The directed-kNN BUILD plan (the n·√n IVF in-cell join + per-vector
    * top-K rank) — the producing side of [[standingKnnGraph]], separate
    * so plan specs can assert its shape without touching the release. */
  private def knnEdgesPlan(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val build = ivfAssigned(e, ivfSeeds(s, d, e), 1)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnGraphK)
      .select("vec_id", "other_id")
  }

  /** Release root for the STANDING kNN edge graph of a corpus dir. `g1`
    * names the build recipe (the i-recipe IVF assignment + in-cell
    * cosine top-[[KnnGraphK]], ties to the lower neighbor id) — bump on
    * recipe change, like the IVF index's i-tag. */
  private[graft] def knnGraphRoot(d: String): String =
    standingRoot("knn_graph", "g1", d)

  /** The standing directed kNN edge table (vec_id, other_id): built once
    * and RELEASED via the Versioned atomic pointer (the i2 standing-index
    * discipline applied to the graph — round-14 verdict task 3: the edge
    * build was this family's last per-job n·√n term, and e2_graph_search
    * paid it on every execution as the bench's slowest query). Consumers
    * (the walk, the mutuality audit, both link predictors) serve the
    * snapshot; edges are exact long pairs, so parquet round-trips the
    * graph bit-identically and the oracles keep replaying the build
    * recipe. At 100 TB the release is n·K 16-byte rows — write it sorted
    * by vec_id so the per-round candidate fetch of a serving walk is an
    * id-pushdown range read, not a full scan. */
  private[graft] def standingKnnGraph(s: SparkSession, d: String): DataFrame = {
    val cur = publishStanding(s, knnGraphRoot(d), "standing_knn_graph_build", d) {
      dir => knnEdgesPlan(s, d).sortWithinPartitions("vec_id")
        .write.parquet(dir + "/edges")
    }
    s.read.parquet(cur + "/edges")
  }

  /** Directed KnnGraphK-NN edges (vec_id, other_id) and their MUTUAL
    * (symmetric) subset — the shared graph stage of e2_knn_graph,
    * e2_graph_search and the e9 link predictors, extracted so the
    * audited graph and the prediction graph cannot drift (the
    * e3_pack_stats rule, applied to a DataFrame stage instead of oracle
    * SQL). Since round 14 the directed edges come from the
    * [[standingKnnGraph]] release — one snapshot read; only the
    * edge-list-sized mutuality semi-join runs per job. */
  /** The mutual (symmetric-closure) edge list, memoized per (session,
    * corpus) — round 14: three declared queries (knn_graph,
    * link_pred_knn, adamic_adar) derive it from the g1 release with the
    * same semi-join, and two of them eagerly checkpointed it per
    * EXECUTION; like the release it derives from, it is a build-once
    * artifact (≤ n·K 16-byte rows). */
  private[ops] def knnEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val knn = standingKnnGraph(s, d)
    val mut = graft.Memo.df("mutual_knn_edges", s, d) {
      knn.join(
        knn.select(col("other_id").as("vec_id"), col("vec_id").as("other_id")),
        Seq("vec_id", "other_id"), "left_semi")
        .localCheckpoint(false)
    }
    (knn, mut)
  }

  /** Fixed output size for the kNN-graph link-prediction list. */
  val KnnLinkPredK = 50

  /** E9 — LINK PREDICTION over the MUTUAL kNN embedding graph by
    * common-neighbor Jaccard: the semantic twin of e9_link_pred, which
    * runs the same score over the dedup pair graph — where near-dup
    * clusters are cliques and the candidate list is empty BY DESIGN (its
    * spec pins that, and a constructed wedge corpus proves the scorer).
    * The mutual-kNN graph is the non-degenerate habitat: kNN graphs are
    * never cliques (out-degree is capped at K), so two vectors that share
    * retrieval neighbors without being each other's neighbors — exactly
    * the pairs an ANN index loses at its K cutoff, the retrieval
    * recall-repair list — always exist. Jaccard = cn/(deg_a+deg_b−cn) is
    * one exact integer ratio (adjacent pairs anti-joined out). Plan at
    * 100 TB: the mutual edge list is ≤ n·K rows with BOTH endpoint
    * degrees ≤ K by construction, so the wedge self-join is ≤ n·K² rows
    * — LINEAR in the corpus with no skew exposure at all (contrast the
    * dedup graph, where a hub's df² needs the upstream caps); degrees
    * arrive by two narrow id-keyed equi-joins (AQE broadcasts them at
    * small scale, shuffles on 8-byte keys at large), and the fixed-K
    * output is TakeOrderedAndProject. */
  def e9LinkPredKnn(s: SparkSession, d: String): DataFrame = {
    // the shared mutual-edge memo (knnEdges) is already a lazy
    // checkpoint: the 4 references below (degrees, both wedge legs, the
    // adjacency anti-join) read it without re-running the mutuality
    // semi-join, and it persists across executions and consumers
    val mut = knnEdges(s, d)._2
    val deg = mut.groupBy(col("vec_id").as("id")).agg(count(lit(1)).as("deg"))
    val cn = mut.as("e1")
      .join(mut.as("e2"),
        col("e1.other_id") === col("e2.vec_id") &&
          col("e1.vec_id") < col("e2.other_id"))
      .groupBy(col("e1.vec_id").as("vec_a"), col("e2.other_id").as("vec_b"))
      .agg(count(lit(1)).as("common"))
    val cand = cn.join(mut,
      col("vec_a") === col("vec_id") && col("vec_b") === col("other_id"),
      "left_anti")
    cand
      .join(deg.as("d1"), col("vec_a") === col("d1.id"))
      .join(deg.as("d2"), col("vec_b") === col("d2.id"))
      .select(col("vec_a"), col("vec_b"), col("common"),
        col("d1.deg").as("deg_a"), col("d2.deg").as("deg_b"),
        round(col("common") /
          (col("d1.deg") + col("d2.deg") - col("common")).cast("double"), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("common").desc, col("vec_a"),
        col("vec_b"))
      .limit(KnnLinkPredK)
  }

  /** Exact micro-unit Adamic–Adar weights for every degree a common
    * neighbor can have in the mutual-kNN graph: mutuality gives z an edge
    * to BOTH wedge endpoints (deg ≥ 2) and the out-degree cap bounds it
    * at KnnGraphK, so the whole weight domain is this tiny table.
    * Computed ONCE here and interpolated as integer LITERALS into both
    * engines — no ln() ever crosses an engine boundary (libm vs
    * java.lang.Math last-ulp drift is the risk class the house
    * integerization discipline exists for). */
  private[ops] val AdamicAdarMicro: Seq[(Int, Long)] =
    (2 to KnnGraphK).map(k =>
      k -> math.floor(1e6 / math.log(k.toDouble) + 0.5).toLong)

  private def aaWeightCase: String =
    AdamicAdarMicro.map { case (k, w) => s"WHEN $k THEN $w" }
      .mkString("CASE zdeg ", " ", " ELSE 0 END")

  /** E9 — ADAMIC–ADAR link prediction over the mutual-kNN embedding
    * graph: e9_link_pred_knn's candidate generator (non-adjacent two-hop
    * pairs) with the AA scorer Σ_z 1/ln(deg z) instead of common-neighbor
    * Jaccard — the standard refinement (Adamic & Adar, "Friends and
    * neighbors on the Web", Soc. Networks 25, 2003) that discounts
    * common neighbors by how promiscuous they are: a hub shared with
    * everyone says little, a low-degree shared neighbor is strong
    * evidence. Ranked side by side with the Jaccard list this is the
    * link-prediction scoreboard a retrieval-recall-repair pipeline
    * actually tunes on. Exactness: weights are the [[AdamicAdarMicro]]
    * integer micro-units summed as longs (order-independent; no float
    * sum and no engine-side ln). Plan at 100 TB: identical to
    * e9_link_pred_knn — the wedge join is ≤ n·K² rows over the
    * checkpointed ≤ n·K mutual edge list, the weight attaches by one
    * narrow id-keyed join against the ≤ n-row degree table before the
    * (a,b) fold, and the fixed-K output is TakeOrderedAndProject. */
  def e9AdamicAdar(s: SparkSession, d: String): DataFrame = {
    // the shared mutual-edge memo, as in e9_link_pred_knn
    val mut = knnEdges(s, d)._2
    val deg = mut.groupBy(col("vec_id").as("id")).agg(count(lit(1)).as("deg"))
    val wedges = mut.as("e1")
      .join(mut.as("e2"),
        col("e1.other_id") === col("e2.vec_id") &&
          col("e1.vec_id") < col("e2.other_id"))
      .select(col("e1.vec_id").as("vec_a"), col("e2.other_id").as("vec_b"),
        col("e1.other_id").as("z"))
      .join(deg.select(col("id").as("z"), col("deg").as("zdeg")), "z")
    val cn = wedges
      .groupBy("vec_a", "vec_b")
      .agg(count(lit(1)).as("common"),
        sum(expr(aaWeightCase)).as("aa_micro"))
    val cand = cn.join(mut,
      col("vec_a") === col("vec_id") && col("vec_b") === col("other_id"),
      "left_anti")
    cand
      .join(deg.as("d1"), col("vec_a") === col("d1.id"))
      .join(deg.as("d2"), col("vec_b") === col("d2.id"))
      .select(col("vec_a"), col("vec_b"), col("common"), col("aa_micro"),
        col("d1.deg").as("deg_a"), col("d2.deg").as("deg_b"))
      .orderBy(col("aa_micro").desc, col("common").desc, col("vec_a"),
        col("vec_b"))
      .limit(KnnLinkPredK)
  }

  /** E2 — the PER-QUERY drill-down of e2_ann_recall_sampled: one row per
    * sampled query with the IVF answer, the exact label-blocked answer,
    * the hit bit, and the similarity GAP in integer basis points — the
    * table you read when the aggregate recall moves and you need to know
    * WHICH queries the index lost and by how much (recall is a
    * distribution, not a mean; the tail queries are where an ANN
    * deployment gets paged). Exactness: both sims are 4-dp rounded
    * before the exact 1e4 integerization, so the gap never subtracts raw
    * doubles across engines; a query whose IVF cell has no peer keeps
    * NULL ivf columns (the audit family's LEFT-join tolerance) and
    * scores hit = 0 with NULL gap. Plan at 100 TB: both sides are the
    * family's shared machinery — the exact side filters the
    * once-per-session exactSampleTruth memo, the IVF side answers only
    * the 64 broadcast queries — so the join is 64 × 64 rows; nothing
    * here adds a corpus-sized stage to what the aggregate audit already
    * pays. */
  def e2RecallPerQuery(s: SparkSession, d: String): DataFrame = {
    val qs = broadcast(sampledQueryIds(s, d))
    val exact = sampledExactTopK(s, d, 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"),
        col("sim").as("exact_sim"))
    val ivf = ivfSearchFor(s, d, 1, Some(qs))
      .select(col("vec_id"), col("neighbor_id").as("ivf_nb"),
        col("sim").as("ivf_sim"))
    exact.join(ivf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("exact_nb"), col("exact_sim"),
        col("ivf_nb"), col("ivf_sim"),
        when(col("ivf_nb") === col("exact_nb"), 1L).otherwise(0L).as("hit"),
        (expr("CAST(round(exact_sim * 10000) AS BIGINT)") -
          expr("CAST(round(ivf_sim * 10000) AS BIGINT)")).as("gap_bp"))
      .orderBy("vec_id")
  }

  /** E2 — TRIPLET MINING for contrastive / metric learning (the FaceNet
    * recipe, Schroff et al., CVPR'15, as run over a corpus-scale
    * embedding table): for every anchor, its hardest in-cell POSITIVE
    * (most-similar same-label vector — the pair the loss pulls together)
    * and its hardest in-cell NEGATIVE (most-similar other-label vector —
    * the e2_hard_negatives pick, the pair the loss pushes apart), with
    * the MARGIN pos−neg in integer basis points. The margin column is
    * the mining signal itself: margin ≤ 0 rows are the "hard" triplets
    * (negative currently closer than positive), small positive margins
    * are FaceNet's semi-hard band — the batch composition a contrastive
    * trainer actually samples, produced here as a table instead of
    * inside the training loop. Anchors lacking an in-cell same-label or
    * other-label peer drop out (INNER join — a triplet needs all three
    * legs). Exactness: both sims are the house 4-dp rounded cosine;
    * the margin subtracts their exact 1e4 integerizations, so no float
    * subtraction crosses engines. Plan at 100 TB: ONE IVF build and ONE
    * in-cell pair scan (n·√n bound) feed both legs; each leg narrows to
    * (ids, label, sim) before its rank exchange (the pre-window
    * projection rule); the legs meet in a vec_id equi-join of two
    * n-row tables. */
  def e2TripletMining(s: SparkSession, d: String): DataFrame = {
    val lab = embeddings(s, d).select(col("vec_id"), col("label"))
    val build = ivfTop1Assignment(s, d)
      .join(lab, "vec_id")
    val pairs = build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchanges (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        col("b.vec_id").as("other_id"), col("b.label").as("other_label"),
        col("sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    def top1(df: DataFrame, idName: String, simName: String): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("other_id").as(idName),
          round(col("sim"), 4).as(simName))
    val pos = top1(pairs.filter(col("label") === col("other_label")),
      "positive_id", "pos_sim")
    val neg = top1(pairs.filter(col("label") =!= col("other_label")),
      "negative_id", "neg_sim")
    pos.join(neg, "vec_id")
      .select(col("vec_id"), col("positive_id"), col("pos_sim"),
        col("negative_id"), col("neg_sim"),
        (expr("CAST(round(pos_sim * 10000) AS BIGINT)") -
          expr("CAST(round(neg_sim * 10000) AS BIGINT)")).as("margin_bp"))
      .orderBy("vec_id")
  }

  /** E2 — SAMPLED triplet mining, the scale path of e2_triplet_mining
    * (the e2_ann_recall_sampled discipline): production contrastive
    * training mines triplets for the anchors in the current batch, not
    * for every corpus vector at once — so the deployable form restricts
    * ANCHORS to the deterministic AnnQueryK mix64 sample and mines both
    * legs EXACTLY against the whole corpus (hardest positive corpus-wide
    * within the label, hardest negative corpus-wide outside it — a
    * strictly STRONGER mine per anchor than the full variant's in-cell
    * legs, at |sample|·n cost instead of n·√n). Plan at 100 TB: the ≤64
    * anchor rows BROADCAST against a column-pruned corpus scan per leg
    * (Catalyst pushes the label equality into the positive leg's hash
    * join; the negative leg is the broadcast nested loop — corpus
    * vectors never shuffle in either); each leg narrows to (ids, labels,
    * sim) before its rank exchange (the pre-window projection rule), so
    * the only exchange is |sample|·n narrow rows — LINEAR in the corpus,
    * which is why this variant carries the ≥100× ScaleProbe rows the
    * full mine is excluded from. Same schema + margin arithmetic as the
    * full variant (exact 1e4 integerizations of the 4-dp rounded sims). */
  def e2TripletMiningSampled(s: SparkSession, d: String): DataFrame = {
    // both legs are rank-1 rows of the shared exact-truth memo's `cos_l`
    // leg (round 12): rank within (query, label-half) over sim desc /
    // other_id is exactly the per-filtered-set window the in-place legs
    // computed — the sample × corpus scan runs once per session
    val m = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_l" && col("rn") === 1)
    def top1(df: DataFrame, idName: String, simName: String): DataFrame =
      df.select(col("vec_id"), col("other_id").as(idName),
        round(col("sim"), 4).as(simName))
    val pos = top1(m.filter(col("label") === col("other_label")),
      "positive_id", "pos_sim")
    val neg = top1(m.filter(col("label") =!= col("other_label")),
      "negative_id", "neg_sim")
    pos.join(neg, "vec_id")
      .select(col("vec_id"), col("positive_id"), col("pos_sim"),
        col("negative_id"), col("neg_sim"),
        (expr("CAST(round(pos_sim * 10000) AS BIGINT)") -
          expr("CAST(round(neg_sim * 10000) AS BIGINT)")).as("margin_bp"))
      .orderBy("vec_id")
  }

  /** Selection size + seed salt for the greedy k-center coreset —
    * interpolated into both engines. */
  val KcenterK = 8
  val KcenterSalt = 0x7c4e19d2b86f3a55L

  /** E2 — greedy K-CENTER coreset selection (Gonzalez 1985, the
    * farthest-point traversal): seed with the mix64-first vector, then
    * K−1 rounds of "pick the corpus vector FARTHEST from everything
    * selected so far" (in cosine space: the vector whose max similarity
    * to the selected set is smallest, ties by vec_id). This is the
    * data-SELECTION primitive the embedding stack was missing next to
    * its dedup/sampling ops: greedy k-center is the classic 2-approx
    * coverage coreset — the K picks are maximally spread representatives
    * (diverse eval seeds, annotation batches, cluster-init that beats
    * random), and the emitted cover_sim column is the coverage curve
    * itself (pick k's similarity to its nearest predecessor — monotone
    * non-decreasing, and where it plateaus is the corpus's intrinsic
    * diversity budget). Exactness: every cosine is the house index-order
    * double, max/min are order-independent, ties break on vec_id — both
    * engines walk the identical greedy trajectory (oracle = unrolled
    * K-round CTE chain; the kmeans treatment). Cost: K·n dot products,
    * LINEAR in the corpus. A corpus that fits the driver budget
    * (graft.ops.Loop; the fixture's 500 64-dim vectors are ~150 KB) IS
    * collected, in one action, and the traversal runs on the driver. At
    * 100 TB each round is ONE pass over the cached state against the
    * broadcast last pick (vectors never shuffle) ending in a
    * TakeOrdered(1), and the driver reads one (vec_id, ms, embedding)
    * row per round. */
  /** The greedy farthest-point traversal shared by [[e2Kcenter]] and
    * [[kcenterTrained]] — INCREMENTAL coverage maintenance (round 14): the
    * state is one row per unselected vector where ms = max similarity to
    * the selected set so far; each round takes the farthest point (ms
    * ascending, nulls first, ties by vec_id), then folds ONLY the new pick
    * in (ms' = greatest(ms, sim-to-pick) — the max over the identical
    * pair multiset a rescan-everything round reduces, so the trajectory is
    * bit-identical, ties and all). n·K dot products in all. `stop` (on the
    * 4-dp ROUNDED ms, the RangeTau grid discipline) ends the traversal
    * WITHOUT taking the offending pick — kcenterTrained's coverage gate;
    * e2Kcenter passes `_ => false`. Exhaustion (fewer than maxK distinct
    * vectors) degrades to fewer picks.
    *
    * Where it runs (graft.ops.Loop): when the corpus fits the driver
    * budget (a 64-dim row is 304 B as a Spark row) it is collected in
    * ONE Spark job with the seed key alongside, and the traversal runs
    * on the driver (kcenterDriver). Otherwise every round is one
    * corpus-sized pass over the cached state (kcenterDistributed). The
    * state only shrinks by one row a round, so a corpus over the budget
    * stays distributed. */
  private def kcenterPicks(s: SparkSession, d: String, maxK: Int,
      stop: Double => Boolean): Vector[(Long, Long, Option[Double])] =
    kcenterPicks(embeddings(s, d), maxK, stop, Loop.DriverBytes)

  /** kcenterPicks with the driver budget given (Loop.ForceDistributed
    * forces the distributed rounds). */
  private[graft] def kcenterPicks(emb: DataFrame, maxK: Int,
      stop: Double => Boolean, budget: Long): Vector[(Long, Long, Option[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id").bitwiseXOR(lit(KcenterSalt))).as("m"))
    Loop.collectUnder(e.as[(Long, Array[Float], Long)], budget)
      .fold(kcenterDistributed(withNorm(e), maxK, stop))(kcenterDriver(_, maxK, stop))
  }

  /** Spark's round(x, 4) on the driver (BigDecimal half-up; NaN and the
    * infinities pass through). */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The state's pick order under Spark's rules: ms ascending with nulls
    * first and doubles compared by SQLOrderingUtil.compareDoubles (NaN
    * largest, -0.0 = 0.0), then vec_id. */
  private[ops] val kcenterOrder: Ordering[(Option[Double], Long)] = (x, y) => {
    val c = (x._1, y._1) match {
      case (Some(a), Some(b)) =>
        org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)
      case (a, b) => java.lang.Boolean.compare(a.isDefined, b.isDefined)
    }
    if (c != 0) c else java.lang.Long.compare(x._2, y._2)
  }

  /** Spark's greatest(ms, sim): nulls skipped, and of two equal values
    * (compareDoubles) the first is kept. */
  private[ops] def kcenterFold(ms: Option[Double], sim: Option[Double]): Option[Double] =
    (ms, sim) match {
      case (Some(a), Some(b)) =>
        if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(b, a) > 0) sim
        else ms
      case _ => ms.orElse(sim)
    }

  /** The greedy walk both paths share: `next()` folds the last pick into
    * the state and returns the next pick's (vec_id, ms), None once the
    * state is empty. A pick whose 4-dp rounded ms meets `stop` ends the
    * walk untaken. */
  private def kcenterWalk(seed: Long, maxK: Int, stop: Double => Boolean)(
      next: () => Option[(Long, Option[Double])]): Vector[(Long, Long, Option[Double])] = {
    var picks = Vector[(Long, Long, Option[Double])]((1L, seed, None))
    var done = false
    for (k <- 2 to maxK if !done) next() match {
      case Some((id, ms)) if !ms.exists(v => stop(round4(v))) => picks :+= ((k.toLong, id, ms))
      case _ => done = true
    }
    picks
  }

  /** The driver finish of kcenterPicks over (vec_id, embedding, seed key)
    * rows: the distributed rounds' arithmetic through the same native
    * folds (vectorExpressions.dotImpl/normImpl over UnsafeArrayData) and
    * the same null, NaN, ragged-length and division-by-zero behavior as
    * Spark's dot / (nrm · snrm): vectors of different lengths have a null
    * dot, so a null similarity, before the division is looked at. */
  private def kcenterDriver(rows: Array[(Long, Array[Float], Long)], maxK: Int,
      stop: Double => Boolean): Vector[(Long, Long, Option[Double])] = {
    import org.apache.spark.sql.graftext.vectorExpressions.{dotImpl, normImpl}
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    val id = rows.map(_._1)
    val vec = rows.map(r => if (r._2 == null) null
      else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(r._2))
    val nrm = vec.map(v => if (v == null) 0.0 else normImpl(v))
    def sim(i: Int, p: Int): Option[Double] =
      if (vec(i) == null || vec(p) == null ||
          vec(i).numElements() != vec(p).numElements()) None
      else {
        val den = nrm(i) * nrm(p)
        if (den != 0.0) Some(dotImpl(vec(i), vec(p)) / den)
        else if (ansi) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
        else None
      }
    var last = rows.indices.minBy(i => (rows(i)._3, id(i)))
    val ms = new Array[Option[Double]](rows.length)
    var alive = rows.indices.toArray
    var first = true
    kcenterWalk(id(last), maxK, stop) { () =>
      alive = alive.filter(i => id(i) != id(last))
      alive.foreach(i => ms(i) = if (first) sim(i, last) else kcenterFold(ms(i), sim(i, last)))
      first = false
      alive.minByOption(i => (ms(i), id(i)))(kcenterOrder).map { p =>
        last = p
        (id(p), ms(p))
      }
    }
  }

  /** The distributed rounds of kcenterPicks over (vec_id, embedding, m,
    * nrm): a seed TakeOrdered(1), then one graft.ops.Loop round per pick —
    * fold the last pick into the state (its embedding rides the
    * TakeOrdered row as a broadcast 1-row local relation, so the corpus
    * is never rescanned for it; doubles round-trip the driver exactly),
    * lazily checkpoint it, and take the next pick with ONE TakeOrdered(1)
    * that also materializes the checkpoint; the replaced state is
    * released. */
  private def kcenterDistributed(e: DataFrame, maxK: Int,
      stop: Double => Boolean): Vector[(Long, Long, Option[Double])] = {
    val spark = e.sparkSession
    import spark.implicits._
    var last = e.orderBy("m", "vec_id").limit(1)
      .select("vec_id", "embedding", "nrm").head()
    var at = 1 // position of the pick's embedding and norm in `last`
    var st = e
    val loop = new Loop[Option[org.apache.spark.sql.Row]]
    val picks = kcenterWalk(last.getLong(0), maxK, stop) { () =>
      val pick = broadcast(Seq((Option(last.getSeq[Float](at)),
          if (last.isNullAt(at + 1)) None else Some(last.getDouble(at + 1))))
        .toDF("semb", "snrm")
        .select(col("semb").cast("array<float>").as("semb"), col("snrm")))
      val sim = graft.functions.Vectors.dot(col("embedding"), col("semb")) /
        (col("nrm") * col("snrm"))
      val next = st.filter(col("vec_id") =!= last.getLong(0)).crossJoin(pick)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          (if (at == 1) sim else greatest(col("ms"), sim)).as("ms"))
      val (gen, row) = loop.round(next)(_.orderBy(col("ms"), col("vec_id")).limit(1)
        .select("vec_id", "ms", "embedding", "nrm").collect().headOption)
      st = gen
      row.map { p =>
        last = p
        at = 2
        (p.getLong(0), if (p.isNullAt(1)) None else Some(p.getDouble(1)))
      }
    }
    loop.close()
    picks
  }

  def e2Kcenter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kcenterPicks(s, d, KcenterK, _ => false).toDF("k", "vec_id", "ms")
      .select(col("k"), col("vec_id"), round(col("ms"), 4).as("cover_sim"))
      .orderBy("k")
  }

  /** Greedy k-center to a COVERAGE TARGET — the deployment form of
    * e2_kcenter (the kmeansTrained / kcoreConverged discipline): keep
    * picking farthest points until the next pick's similarity to the
    * selected set reaches `tauSim` (the corpus is covered at that
    * similarity radius) or `maxK` picks, whichever first. The declared
    * fixed-K query documents the trajectory; this is the loop a coreset
    * builder actually runs — K is an OUTPUT (the corpus's intrinsic
    * diversity at radius τ), not an input. Same traversal as
    * e2_kcenter (kcenterPicks: the driver finish for a corpus under the
    * budget, else one pass over the cached state per round). Returns
    * (picks DataFrame like e2_kcenter, rounds run). */
  def kcenterTrained(s: SparkSession, d: String, tauSim: Double,
      maxK: Int = 64): (DataFrame, Int) = {
    // Stop on the 4-dp ROUNDED similarity (BigDecimal half-up — same
    // shortest-decimal rounding as Spark's round(col, 4), so the
    // boundary lives on the canonical grid the emitted cover_sim
    // column uses; the RangeTau rounded-grid discipline). Comparing
    // the raw double instead let a pick whose raw sim was just under
    // tau display cover_sim == tau, breaking "all emitted < tau".
    // Traversal/state maintenance shared with e2Kcenter (kcenterPicks).
    val picks = kcenterPicks(s, d, maxK, rounded => rounded >= tauSim)
    import s.implicits._
    val df = picks.toDF("k", "vec_id", "ms")
      .select(col("k"), col("vec_id"), round(col("ms"), 4).as("cover_sim"))
      .orderBy("k")
    (df, picks.length)
  }

  /** E2 — the ANN recall/cost PARETO frontier: one row per indexing
    * method — IVF at nProbe 1 and 2, single-bucket LSH, and 13-probe
    * multi-probe LSH — scoring each against the exact label-blocked
    * top-1 (answered queries, exact-agreement hits, hit rate in integer
    * basis points). This is the table an ANN deployment reads to pick
    * its operating point: probes is the marginal COST axis (candidate
    * work scales linearly with it), hit_bp the accuracy axis, and the
    * frontier shows what each extra probe buys. Composes the four
    * declared method chains and the exact baseline VERBATIM (oracle
    * wraps each method's own oracle SQL — the dataset-card discipline),
    * so the scoreboard can never drift from the methods it scores. Runs
    * the quadratic exact verifier BY DEFINITION → shares the ≥100×
    * ScaleProbe exclusion with e2_ann_recall; the methods it audits are
    * the scale paths. ALL-INTEGER output. */
  def e2AnnPareto(s: SparkSession, d: String): DataFrame = {
    val exact = e2CosineTopk(s, d).filter(col("rn") === 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"))
    def blk(name: String, probes: Long, df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("neighbor_id"))
        .join(exact, "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("neighbor_id") === col("exact_nb"), 1L).otherwise(0L))
            .as("top1_hits"))
        .select(lit(name).as("method"), lit(probes).as("probes"),
          col("n"), col("top1_hits"),
          when(col("n") === 0L, 0L)
            .otherwise(expr("top1_hits * 10000 div n")).as("hit_bp"))
    blk("ivf_p1", 1, e2AnnIvf(s, d))
      .unionByName(blk("ivf_p2", 2, e2AnnIvf2(s, d)))
      .unionByName(blk("lsh_p1", 1, e2AnnLsh(s, d)))
      .unionByName(blk("lsh_p13", 13, e2AnnMultiprobe(s, d)))
      .orderBy("method")
  }

  /** E2 — recall@3: the set-overlap generalization of e2_ann_recall's
    * top-1 agreement. Per label, what fraction of the exact top-3
    * neighbor PAIRS (label-blocked ground truth, e2_cosine_topk) the IVF
    * index also returns in ITS top-3 — the recall curve point ANN papers
    * report, strictly more informative than top-1 (an index can miss the
    * single best neighbor yet surface it at rank 2-3, which top-1 scores
    * as failure and recall@k credits). Denominator is the per-label
    * exact-pair count (vectors with fewer than 3 in-block peers
    * contribute what they have). Like the other scoreboards this runs
    * the exact verifier BY DEFINITION, so it shares the documented ≥100×
    * ScaleProbe exclusion; the IVF side stays the n·√n cell model.
    * Integer hits + one rounded division keep it hash-exact. */
  def e2RecallAtK(s: SparkSession, d: String): DataFrame = {
    val exact = e2CosineTopk(s, d)
      .select(col("vec_id"), col("other_id"))
    val build = ivfTop1Assignment(s, d)
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    val ivf3 = build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim", cosine)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("other_id"))
    val hits = exact.join(ivf3, Seq("vec_id", "other_id"), "left_semi")
      .groupBy("vec_id").agg(count(lit(1)).as("h"))
    exact.groupBy("vec_id").agg(count(lit(1)).as("np"))
      .join(hits, Seq("vec_id"), "left")
      .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("int").as("label"))
      .agg(sum(col("np")).as("n_pairs"),
        coalesce(sum(col("h")), lit(0L)).as("hits"))
      .withColumn("recall3", round(col("hits") / col("n_pairs"), 4))
      .orderBy("label")
  }

  /** Product-quantization parameters — interpolated into BOTH engines.
    * The fixture's 64-dim vectors quantize as PqM=8 subspaces × PqDsub=8
    * dims with PqKsub=16 codewords per subspace: 8 one-byte codes per
    * vector vs 256 raw bytes — the 32× compression that makes a
    * trillion-vector index RAM-resident (IVF-PQ is the standard 100 TB
    * ANN architecture; the IVF half is e2_ann_ivf). */
  val PqM = 8
  val PqDsub = 8
  val PqKsub = 16
  val PqTopK = 3
  val PqNQueries = 8
  /** Shortlist size for the re-rank stage: ADC keeps the cheapest
    * PqRerankC candidates per query, the exact pass re-orders them. */
  val PqRerankC = 10
  val PqSeedSalt = 0x2e8c5b17d9f4a603L
  val PqQuerySalt = 0x6b91d73e24c8fa15L

  /** Residual-quantizer knobs: RvqK1 coarse codewords, RvqK2 SAMPLED
    * residual codewords (codeword 0 is the implicit ZERO residual, so
    * the stage-2 codebook has RvqK2+1 entries and the second stage can
    * never do worse than stopping after the first — the per-vector
    * dominance law Round12bOpsSpec pins). */
  val RvqK1 = 32
  val RvqK2 = 15
  val RvqSalt1 = 0x51c6a7e39b04d8f2L
  val RvqSalt2 = 0x7d092c4f6e8b13a5L

  // Full-vector squared L2 between double arrays: subtraction and
  // accumulation in index order so the DuckDB list_reduce replica
  // (0.0-prepended left fold) is bit-identical — since round 14 the
  // native fused loop Vectors.sqDistD (same IEEE sequence as the old
  // `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0.0D, +)` HOF).

  /** E2 — RESIDUAL VECTOR QUANTIZATION (RVQ) distortion: the two-stage
    * additive quantizer (Chen, Guan & Wang, "Approximate nearest
    * neighbor search by residual vector quantization", Sensors 2010 —
    * the scheme underneath DiskANN-style hybrid indexes and neural
    * codecs like SoundStream): stage 1 snaps each vector to its nearest
    * of RvqK1 coarse codewords (full-vector L2, the deterministic
    * sampled codebook discipline of pqSeeds), stage 2 quantizes the
    * RESIDUAL against a second codebook of RvqK2 sampled residuals plus
    * the zero codeword. The output is the per-stage-2-codeword distortion
    * ledger — n, coarse-only vs RVQ SSE in exact micro units, and the
    * residual stage's gain in basis points — the table that says whether
    * a second quantization stage pays for its byte (contrast
    * e2_pq_distortion, which splits DIMENSIONS; RVQ splits MAGNITUDE,
    * and the two compose in production as IVF→RVQ→PQ). Exactness: both
    * codebooks are splitmix64-sampled (no float k-means crosses
    * engines), every distance is the index-ordered fullL2 lambda on
    * identical doubles, argmins tie-break on the lower codeword, and the
    * SSE sums integerize per vector (floor(d·1e6 + 0.5)) before the
    * exact long fold — the e2_pq_distortion discipline, which also sets
    * the declared long-range bound (≈1e18 micro units; a >1e10-vector
    * deployment widens the two sums to DECIMAL(38,0), the e8_gini
    * precedent). Plan at 100 TB: both codebooks BROADCAST (≤ 48 rows of
    * 64 doubles); each stage is one scan-side n·K candidate pass whose
    * (vec_id) argmin partial-combines map-side; vectors cross the wire
    * only once — the residual join is id-keyed against the n-row
    * assignment table — and the final fold is ≤ RvqK2+1 keys. */
  def e2Rvq(s: SparkSession, d: String): DataFrame = {
    val mixE = org.apache.spark.sql.graftext.minhashExpression
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    def sampleRank(salt: Long): DataFrame = emb
      .select(col("vec_id"), col("ed"),
        mixE.mix64(col("vec_id").bitwiseXOR(lit(salt))).as("m"))
      .orderBy(col("m"), col("vec_id"))
    // single-partition rank, but BOUNDED input: the window runs above the
    // TakeOrdered limit, so it renumbers ≤ RvqK1 rows at any corpus size
    // (the corpus-side top-K is the distributed per-partition-heap pass)
    val seeds1 = broadcast(sampleRank(RvqSalt1).limit(RvqK1)
      .withColumn("c1",
        row_number().over(Window.orderBy(col("m"), col("vec_id"))) - 1)
      .select(col("c1"), col("ed").as("cv1")))
    val a1 = emb.join(seeds1)
      .select(col("vec_id"), col("c1"),
        graft.functions.Vectors.sqDistD(col("ed"), col("cv1")).as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("c1"))).as("s"))
      .select(col("vec_id"), col("s.dist").as("d1"), col("s.c1").as("c1"))
    val resid = emb.join(a1, "vec_id").join(seeds1, "c1")
      .select(col("vec_id"), col("d1"),
        graft.functions.Vectors.subD(col("ed"), col("cv1")).as("rv"))
    // bounded like seeds1: ≤ RvqK2 post-limit rows through the rank
    val s2ids = broadcast(sampleRank(RvqSalt2).limit(RvqK2)
      .withColumn("c2",
        row_number().over(Window.orderBy(col("m"), col("vec_id"))))
      .select(col("vec_id"), col("c2")))
    val zeroRow = emb.sparkSession.range(1)
      .select(lit(0).as("c2"),
        expr("transform(sequence(1, 64), x -> 0.0D)").as("cv2"))
    val seeds2 = broadcast(resid.join(s2ids, "vec_id")
      .select(col("c2"), col("rv").as("cv2"))
      .unionByName(zeroRow))
    resid.join(seeds2)
      .select(col("vec_id"), col("d1"), col("c2"),
        graft.functions.Vectors.sqDistD(col("rv"), col("cv2")).as("dist2"))
      .groupBy("vec_id")
      .agg(min(col("d1")).as("d1"),
        min(struct(col("dist2"), col("c2"))).as("s"))
      .select(col("vec_id"),
        expr("CAST(floor(d1 * 1000000.0 + 0.5) AS BIGINT)").as("d1i"),
        col("s.c2").as("c2"),
        expr("CAST(floor(s.dist2 * 1000000.0 + 0.5) AS BIGINT)").as("d2i"))
      .groupBy("c2")
      .agg(count(lit(1)).as("n"), sum(col("d1i")).as("coarse_sse_micro"),
        sum(col("d2i")).as("rvq_sse_micro"))
      .select(asLong(col("c2")).as("codeword"), col("n"),
        col("coarse_sse_micro"), col("rvq_sse_micro"),
        round(col("coarse_sse_micro") / (col("n") * lit(1000000.0)), 4)
          .as("coarse_mse"),
        round(col("rvq_sse_micro") / (col("n") * lit(1000000.0)), 4)
          .as("rvq_mse"),
        expr("""CASE WHEN coarse_sse_micro = 0 THEN CAST(0 AS BIGINT)
                ELSE (coarse_sse_micro - rvq_sse_micro) * 10000
                  div coarse_sse_micro END""").as("gain_bp"))
      .orderBy("codeword")
  }

  /** The PqKsub sampled codeword vectors with index 0..PqKsub-1 in
    * (splitmix64, vec_id) order — deterministic like the IVF seeds; a
    * production build swaps sampling for a per-subspace k-means train
    * phase, broadcast shape unchanged. */
  private def pqSeeds(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("cd"),
        org.apache.spark.sql.graftext.minhashExpression
          .mix64(col("vec_id").bitwiseXOR(lit(PqSeedSalt))).as("m"))
      .orderBy(col("m"), col("vec_id"))
      .limit(PqKsub)
      // single-partition rank over the ≤ PqKsub post-limit rows only —
      // the corpus-side selection above is the distributed TakeOrdered
      .withColumn("seed_idx",
        row_number().over(Window.orderBy(col("m"), col("vec_id"))) - 1)
      .select(col("seed_idx"), col("cd"))

  // Array of the PqM per-subspace squared L2 distances between double
  // arrays: subtraction and accumulation in index order so the DuckDB
  // lambda replica is bit-identical — since round 14 the native fused
  // loop Vectors.subSqDistsD (same IEEE sequence as the old
  // `transform(sequence(0, PqM-1), j -> aggregate(zip_with(slice(a),
  // slice(b), (x, y) -> (x-y)*(x-y)), 0.0D, +))` HOF, without
  // materializing 2·PqM slice arrays per pair).

  /** Per-(session, corpus) memo of e2_abtt's residual table
    * (vec_id, rd, rn): the top-PC direction (3 power scans) and the
    * scan-side residual projection run ONCE and checkpoint at corpus
    * width; both audit legs then read the memo. Un-memoized, every leg
    * of every execution re-ran the power scans + residual compute —
    * 79 s PER EXECUTION at 1000× (5M vectors) in the r13 probe; with the
    * memo the build is a 95 s once-per-session term and every execution
    * after reads it in 0.60 s. */
  private[ops] def abttResiduals(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("abtt_residuals", s, d) {
      val dir = topPcDirection(s, d) // 1-row (varr, lam)
      embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
        .crossJoin(broadcast(dir.select(col("varr"))))
        .withColumn("pv",
          graft.functions.Vectors.dotD(col("ed"), col("varr")))
        // vec_submul_d binds pv as an expression child (evaluated once
        // per row, fused codegen loop) — the zip_with spelling ran
        // interpreted per element and left pv as an outer alias inside
        // the lambda, the CollapseProject-inlining hazard class
        .withColumn("rd",
          graft.functions.Vectors.subMulD(col("ed"), col("varr"), col("pv")))
        .select(col("vec_id"), col("rd"),
          graft.functions.Vectors.l2NormD(col("rd")).as("rn"))
        .localCheckpoint(false)
    }

  /** (vec_id, sub, code): each vector's nearest codeword per subspace
    * (ties → lower codeword index). Candidates are scan-side rows against
    * the broadcast codebook; the (vec_id, sub) argmin partial-combines
    * map-side (the e2_vq_assign aggregate-argmin pattern), so the one
    * exchange carries PqM compact rows per vector. Memoized per (session,
    * corpus): codes, ADC search, and re-rank all consume this — and in a
    * deployment the codes table is written ONCE as the index payload and
    * scanned by every search after; recomputing the encode per query was
    * 3× the encode cost across the PQ family in the bench. */
  private def pqCodeRows(s: SparkSession, d: String): DataFrame =
    graft.Memo.df("pq_codes", s, d) {
      embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
        .join(broadcast(pqSeeds(s, d)))
        .select(col("vec_id"), col("seed_idx"),
          posexplode(graft.functions.Vectors.subSqDistsD(
            col("ed"), col("cd"), PqM, PqDsub)).as(Seq("sub", "dist")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("seed_idx"))).as("m"))
        .select(col("vec_id"), asLong(col("sub")).as("sub"),
          asLong(col("m.seed_idx")).as("code"))
        .localCheckpoint(false)
    }

  /** E2 — PQ DISTORTION audit: per subspace, the mean squared
    * quantization error (each vector's distance to its NEAREST codeword
    * — the quantity PQ training minimizes and the one that bounds ADC
    * ranking error). This is the quantizer-health table an index
    * operator reads before trusting e2_pq_search at a new corpus
    * release: a subspace whose MSE is an outlier has a codebook that no
    * longer covers the data (rotate/retrain it — the maintenance
    * decision, like e2_ivf_rebalance's on the cell side), and MSE drift
    * between releases is the quantization twin of e8_embed_drift.
    * Exactness: per-(vector, subspace) min-distance is an
    * order-independent MIN over identically-computed doubles; each min
    * micro-quantizes scan-side (floor(d²·1e6 + 0.5) — the microMean
    * discipline) so the cross-vector sum is an exact LONG, with ONE
    * final division. Plan at 100 TB: the same broadcast-codebook scan
    * as the encode pass (no pairwise work, vectors never shuffle); the
    * (vector, subspace) argmin partial-combines map-side; the final
    * exchange carries PqM counter rows. */
  def e2PqDistortion(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .join(broadcast(pqSeeds(s, d)))
      .select(col("vec_id"),
        posexplode(graft.functions.Vectors.subSqDistsD(
            col("ed"), col("cd"), PqM, PqDsub)).as(Seq("sub", "dist")))
      .groupBy("vec_id", "sub").agg(min(col("dist")).as("md"))
      .withColumn("md_i", expr("CAST(floor(md * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy("sub")
      .agg(count(lit(1)).as("n"), sum(col("md_i")).as("sse_micro"))
      .select(asLong(col("sub")).as("sub"), col("n"), col("sse_micro"),
        round(col("sse_micro") / (col("n") * lit(1000000.0)), 4).as("mse"))
      .orderBy("sub")

  /** E2 — product-quantization codes: the vector-compression half of
    * IVF-PQ. Each vector is stored as PqM codeword indices (one byte
    * each); at 100 TB the codes table IS the index payload — 32× smaller
    * than the raw vectors, scanned in place of them by e2_pq_search.
    * Deterministic sampled codebook (pqSeeds), oracle-exact distances. */
  def e2PqCodes(s: SparkSession, d: String): DataFrame =
    pqCodeRows(s, d).orderBy("vec_id", "sub")

  /** E2 — PQ search via asymmetric distance computation (ADC): for each
    * of the PqNQueries deterministic query vectors, distances to ALL
    * database vectors are evaluated against their CODES only — one
    * 128-entry lookup table per query (query slice vs codeword, the
    * full-precision side of the asymmetry) and PqM table lookups per
    * candidate, summed in index order inside ONE expression (no cross-row
    * float accumulation). Plan at 100 TB: the codes scan never touches
    * raw vectors; the per-query tables broadcast (PqNQueries × 128
    * doubles); the rank filter pushes into WindowGroupLimit so each input
    * partition ships at most PqTopK rows per query into the exchange.
    * Work is queries × n table lookups — linear in the corpus for a
    * fixed query batch. */
  def e2PqSearch(s: SparkSession, d: String): DataFrame =
    adcRanked(s, d, PqTopK)
      .select(col("qid"), asLong(col("rn")).as("rn"), col("vec_id"),
        round(col("adist"), 4).as("adist"))
      .orderBy("qid", "rn")

  /** The ADC scan shared by e2_pq_search and e2_pq_rerank: every database
    * vector's approximate distance to each query, ranked per query and cut
    * to `topC` (rank filter pushes into WindowGroupLimit — each input
    * partition ships ≤ topC rows per query into the exchange). Returns
    * (qid, vec_id, adist DOUBLE unrounded, rn). */
  /** The PqNQueries deterministic query vectors as (qid, qd DOUBLE[]). */
  private def pqQueries(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qd"),
        org.apache.spark.sql.graftext.minhashExpression
          .mix64(col("vec_id").bitwiseXOR(lit(PqQuerySalt))).as("m"))
      .orderBy(col("m"), col("qid"))
      .limit(PqNQueries)
      .select(col("qid"), col("qd"))

  /** Per-query ADC lookup table (qid, dt): dt[sub * PqKsub + code] =
    * squared L2 between the query's subspace slice and that codeword's —
    * assembled in index order via sorted struct collect, the
    * centroidArrays pattern. */
  private def adcTables(s: SparkSession, d: String): DataFrame =
    adcTablesFrom(s, d, pqSeeds(s, d))

  /** adcTables against an explicit codebook (seed_idx, cd) — the shared
    * table builder of the build-per-job ADC queries (codebook = the
    * in-plan pqSeeds derivation) and the released-index serve (codebook
    * = the p1 snapshot's persisted table), so the two cannot drift. */
  private def adcTablesFrom(
      s: SparkSession, d: String, codebook: DataFrame): DataFrame =
    pqQueries(s, d).join(broadcast(codebook))
      .select(col("qid"), col("seed_idx"),
        posexplode(graft.functions.Vectors.subSqDistsD(
            col("qd"), col("cd"), PqM, PqDsub)).as(Seq("sub", "pd")))
      .groupBy("qid")
      .agg(transform(array_sort(collect_list(struct(
        (col("sub") * PqKsub + col("seed_idx")).as("ix"), col("pd")))),
        x => x("pd")).as("dt"))

  /** (vec_id, codes) — each vector's PqM codeword indices in sub order. */
  private def codesArr(s: SparkSession, d: String): DataFrame =
    pqCodeRows(s, d)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x("code")).as("codes"))

  /** The ADC distance of a (codes, dt) row pair — PqM table lookups summed
    * in index order inside ONE expression (no cross-row float accumulation). */
  private def adcDistExpr: org.apache.spark.sql.Column =
    graft.functions.Vectors.adcDistD(col("codes"), col("dt"), PqM, PqKsub)

  private def adcRanked(s: SparkSession, d: String, topC: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    codesArr(s, d).join(broadcast(adcTables(s, d)))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adcDistExpr)
      // narrow before the rank exchange: the scored rows otherwise carry
      // the PQ code array AND the broadcast ADC lookup tables (the
      // pre-window projection rule)
      .select(col("qid"), col("vec_id"), col("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topC)
      .select(col("qid"), col("vec_id"), col("adist"), col("rn"))
  }

  /** Release root for the STANDING PQ index (codes + codebook). `p1`
    * names the build recipe (splitmix codebook sample, per-subspace
    * argmin codes, ties to the lower codeword). */
  private[graft] def pqIndexRoot(d: String): String =
    standingRoot("pq_index", "p1", d)

  /** The standing PQ index — (codes, codebook): the codes table IS the
    * index payload (PqM one-byte codewords per vector, 32× smaller than
    * the raw vectors) and the codebook is the ≤PqKsub-row decode side;
    * both released once under the Versioned pointer. Integer codes and
    * double codewords round-trip parquet exactly, so serving ranks the
    * identical ADC distances the build-per-job scan computes. */
  private[graft] def standingPqIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cur = publishStanding(s, pqIndexRoot(d), "standing_pq_index_build", d) {
      dir =>
        pqSeeds(s, d).write.parquet(dir + "/codebook")
        codesArr(s, d).write.parquet(dir + "/codes")
    }
    (s.read.parquet(cur + "/codes"), s.read.parquet(cur + "/codebook"))
  }

  /** E2 — SERVE PQ search from the standing index (round-14: the IVF
    * serving pattern applied to the compression half — verdict task 8):
    * the ADC query e2_pq_search prices with the encode in the plan, now
    * answered from the RELEASED codes + codebook with zero encode work
    * at serve time. The per-query lookup tables are computed against the
    * snapshot's codebook (the asymmetric full-precision side — always
    * query-time work, PqNQueries × PqKsub·PqM lambda evaluations), then
    * ONE scan of the released codes ranks every candidate by PqM table
    * lookups; the rank filter pushes into WindowGroupLimit so each input
    * partition ships ≤ PqTopK rows per query. Result ≡ e2_pq_search
    * (codes and codebook are pure functions of the corpus; parquet
    * round-trips them exactly), so the oracle IS the e2_pq_search
    * replay, and the row-for-row identity is pinned in Round14OpsSpec.
    * At 100 TB this is the deployed read: the 32×-compressed codes scan
    * replaces the vector scan entirely, and a cell-partitioned IVF-PQ
    * release composes this with the i2 bucket pruning. */
  def e2PqServe(s: SparkSession, d: String): DataFrame = {
    val (codes, codebook) = standingPqIndex(s, d)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(adcTablesFrom(s, d, codebook)))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adcDistExpr)
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("qid"), col("vec_id"), col("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PqTopK)
      .select(col("qid"), asLong(col("rn")).as("rn"), col("vec_id"),
        round(col("adist"), 4).as("adist"))
      .orderBy("qid", "rn")
  }

  /** Purpose salt for the ingest corpus/batch split. */
  val IvfIngestSalt = 0x1d7e4c92a6b35f08L

  /** E2 — incremental INDEX INGEST: a new vector batch assigned to the
    * FROZEN coarse quantizer (seeds from the existing corpus only — no
    * rebuild), emitting per-cell corpus population, ingested count, and
    * growth. The e1_incremental discipline applied to the vector index:
    * at 100 TB you assign the nightly batch against the standing seed set
    * and watch growth_pct for the cells that drift toward retraining
    * (e2_ivf_stats audits the standing index; this audits the DELTA).
    * Deterministic splitmix corpus/batch split; seeds broadcast to both
    * assignment passes; vectors never shuffle — per-cell counts
    * partial-aggregate map-side. */
  def e2IvfIngest(s: SparkSession, d: String): DataFrame = {
    val (corpus, batch, seeds) = ivfIngestSplit(s, d)
    val cp = ivfAssignedFold(corpus, seeds)
      .groupBy("cell").agg(count(lit(1)).as("corpus_pop"))
    val bp = ivfAssignedFold(batch, seeds)
      .groupBy("cell").agg(count(lit(1)).as("ingested"))
    cp.join(bp, Seq("cell"), "left")
      .select(col("cell"), col("corpus_pop"),
        coalesce(col("ingested"), lit(0L)).as("ingested"),
        round(lit(100.0) * coalesce(col("ingested"), lit(0L)) /
          col("corpus_pop"), 2).as("growth_pct"))
      .orderBy("cell")
  }

  /** The shared (corpus, batch, seeds) stage of the maintenance family —
    * the deterministic 90/10 splitmix split with the frozen quantizer
    * trained on the corpus side only — extracted so the ingest AUDIT
    * (e2_ivf_ingest) and the publish LOOP (e2_ivf_publish) cannot drift
    * (the e3_pack_stats rule, DataFrame side). */
  private def ivfIngestSplit(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val e = withNorm(embeddings(s, d))
      .withColumn("slot", Sampling.slot(col("vec_id"), IvfIngestSalt))
    val corpus = e.filter(col("slot") < 90).drop("slot")
    val batch = e.filter(col("slot") >= 90).drop("slot")
    val seeds = corpus
      .orderBy(org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id")), col("vec_id"))
      .limit(ivfCells(countOnce(s, d + "#ivf_ingest", corpus)))
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    (corpus, batch, seeds)
  }

  /** Maintenance release root (`m1` recipe tag: v1 = the 90%-split corpus
    * assigned to its own frozen ceil(√n₉₀) quantizer; v+1 = previous
    * version ∪ the delta batch assigned to the SAME seeds). Separate
    * root family from the serving index (i2), whose recipe covers the
    * full corpus. */
  private[graft] def ivfMaintRoot(d: String): String =
    standingRoot("ivf_maint", "m1", d)

  /** E2 — PUBLISH the maintained index as v+1: the step the round-13
    * maintenance family audited but never performed. e2_ivf_ingest
    * measures the delta, rebalance/merge compute new cell maps — this
    * query CLOSES the loop: v1 (the standing corpus assignment + its
    * frozen seed table) is released once, then the ingest batch is
    * assigned against the seeds READ FROM THE RELEASE and the union is
    * published as v2 via the same atomic _CURRENT swap every sink here
    * uses — serving reads v2 the instant the pointer lands, v1 stays
    * pinned for audit/rollback. Idempotent by pointer state (publishAfter
    * fires only while the pointer reads v1), so re-execution — bench
    * reps, verify passes, concurrent processes — converges on the same
    * two-version history instead of growing one. The output is read
    * back FROM THE RELEASES (pop_v1 from pinned v1, pop_v2 from
    * _CURRENT), keyed by the v1 population table; the oracle replays
    * the pure-function recipe (split → seeds → both assignments) that
    * produced them. Plan at 100 TB: the v2 write shuffles nothing — v1
    * rows stream from its snapshot, the delta's fold is batch-sized —
    * and the audit output is two narrow per-cell counts. */
  def e2IvfPublish(s: SparkSession, d: String): DataFrame = {
    val root = ivfMaintRoot(d)
    val (corpus, batch, _) = ivfIngestSplit(s, d)
    publishStanding(s, root, "ivf_maint_v1_build", d) { dir =>
      val seeds = ivfIngestSplit(s, d)._3
      seeds.write.parquet(dir + "/seeds")
      ivfAssignedFold(corpus, seeds).select(col("vec_id"), col("cell"))
        .write.parquet(dir + "/assign")
    }
    val cur = publishStanding(s, root, "ivf_maint_v2_publish", d, after = 1) {
      dir =>
        // the frozen quantizer travels WITH the release: the batch is
        // assigned against v1's persisted seeds (bit-identical to the
        // build's — parquet round-trips exactly), and v2 carries them
        // forward for the next delta
        val seedsV1 = s.read.parquet(Versioned.path(root, 1) + "/seeds")
        seedsV1.write.parquet(dir + "/seeds")
        s.read.parquet(Versioned.path(root, 1) + "/assign")
          .unionByName(ivfAssignedFold(batch, seedsV1)
            .select(col("vec_id"), col("cell")))
          .write.parquet(dir + "/assign")
    }
    val v1 = s.read.parquet(Versioned.path(root, 1) + "/assign")
      .groupBy("cell").agg(count(lit(1)).as("pop_v1"))
    val v2 = s.read.parquet(cur + "/assign")
      .groupBy("cell").agg(count(lit(1)).as("pop_v2"))
    v1.join(v2, Seq("cell"), "left")
      .select(col("cell"), col("pop_v1"),
        (col("pop_v2") - col("pop_v1")).as("ingested"), col("pop_v2"))
      .orderBy("cell")
  }

  /** Fixed bucket count for the standing index's cell partitioning:
    * pmod(cell, 64) is the release's PARTITION column, so a serving
    * batch prunes its scan to the buckets holding its probed cells
    * (dynamic partition pruning off the broadcast probe set) while the
    * directory count stays bounded at any corpus size. 64 is sized to
    * the local fixtures (≈1 cell/bucket at sf0.01); at 100 TB the dial
    * rises ∝ √n so a single-query serve touches ~nProbe/buckets of the
    * index — the posting-list read every disk-resident IVF does. */
  val IvfIndexBuckets = 64

  /** Content stamp of a corpus' embeddings table from FILE METADATA
    * (names, lengths, mtimes — no data read, no Spark job): folded into
    * the release root so a regenerated corpus at the same path gets a
    * FRESH index instead of silently serving stale neighbors while the
    * oracle replays the live data (the round-13 advisor's staleness
    * hole: /tmp releases outlive fixture regeneration and ScaleProbe
    * corpus rebuilds). The stamp is the cheap deployed discipline —
    * table formats validate snapshot ids the same way — and it also
    * means iterating on fixtures needs no manual rm -rf. */
  private def corpusStamp(d: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    var h = 0x9e3779b97f4a7c15L
    walk(new java.io.File(d, "embeddings.parquet")).foreach { f =>
      h = org.apache.spark.sql.graftext.minhashExpression.mix(
        h ^ f.getName.hashCode.toLong ^ (f.length * 31L) ^ f.lastModified)
    }
    java.lang.Long.toHexString(h)
  }

  /** The root of a standing release: a per-user family dir (a fixed
    * world-writable path is pre-plantable by another local user), then the
    * recipe `tag`, the [[corpusStamp]] and the mangled corpus dir. The tag
    * names the build recipe and layout; bump it when either changes. */
  private def standingRoot(family: String, tag: String, d: String): String =
    s"/tmp/graft_${family}_${sys.props.getOrElse("user.name", "u")}/${tag}_" +
      corpusStamp(d) + "_" + d.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Publishes the next version of `root` through `write` when its pointer
    * reads `after` (0: nothing released yet), once across threads and
    * processes (Versioned.publishAfter), filing the build in the ledger as
    * `build`. Returns the live version's directory. */
  private def publishStanding(s: SparkSession, root: String, build: String,
      d: String, after: Int = 0)(write: String => Unit): String = {
    if (Versioned.current(s, root).getOrElse(0) == after)
      graft.MemoLedger.timed(build, d)(Versioned.publishAfter(s, root, after)(write))
    Versioned.currentPath(s, root)
  }

  /** Release root for the STANDING IVF index of a corpus dir (the
    * Versioned layout — immutable vNNNNN snapshots + an atomic _CURRENT
    * pointer). `i2` is the index FORMAT tag: it names the exact build
    * recipe AND layout (splitmix seed order, ceil(√n) cells, top-1
    * cosine assign, ties to the lower cell; assignment partitioned by
    * pmod(cell, [[IvfIndexBuckets]]) with the seed table persisted
    * alongside — the round-14 layout change that bumped i1 → i2) so a
    * future recipe change bumps the tag instead of silently serving a
    * stale-format index. Test-visible (private[graft]) so specs pin
    * the production path instead of duplicating the mangling. */
  private[graft] def ivfIndexRoot(d: String): String =
    standingRoot("ivf_index", "i2", d)

  /** The standing IVF index for a corpus dir — (assignment, seeds):
    * build-and-RELEASE once under the [[Versioned.publishOnce]] lock
    * (exactly one writer even across processes), then every later call
    * serves the committed snapshot. The build is the one n·√n
    * assignment pass every per-job IVF query pays; publishing it turns
    * that from a per-query term into a once-per-corpus-release term
    * (e2_ivf_ingest assigns the nightly delta against these frozen
    * seeds; e2_ivf_rebalance/merge maintain the cells; e2_ivf_publish
    * demonstrates the v+1 pointer swap). The snapshot holds TWO tables:
    * `assign/` (vec_id, cell, embedding, nrm) partitioned by
    * pcell = pmod(cell, [[IvfIndexBuckets]]) so serving prunes to its
    * probed cells' buckets, and `seeds/` — the COMPLETE ceil(√n) seed
    * set, persisted so multi-probe serving ranks against every seed
    * (including empty-cell seeds, which the round-13 reconstruct-from-
    * assignment shortcut dropped) without rescanning anything. Parquet
    * round-trips float arrays and doubles bit-exactly, so serving reads
    * the identical values the build computed. */
  private[graft] def standingIvfIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cur = publishStanding(s, ivfIndexRoot(d), "standing_ivf_index_build", d) {
      dir =>
        val e = withNorm(embeddings(s, d))
        val seeds = ivfSeeds(s, d, e)
        seeds.write.parquet(dir + "/seeds")
        ivfAssigned(e, seeds, 1)
          .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"),
            pmod(col("cell"), lit(IvfIndexBuckets.toLong)).cast("int")
              .as("pcell"))
          .write.partitionBy("pcell").parquet(dir + "/assign")
    }
    (s.read.parquet(cur + "/assign"), s.read.parquet(cur + "/seeds"))
  }

  /** E2 — SERVE from the standing IVF index: the 64-query sample
    * answered top-1 from the RELEASED index snapshot, zero build work in
    * the serving plan. This is the deployment shape the build-per-job
    * audits (e2_ann_recall_sampled, e2_recall_per_query — whose 1000×
    * cell is ~95% IVF build) price but don't demonstrate: build once,
    * release via the Versioned pointer, serve many. The result is
    * definitionally identical to ivfSearchFor(nProbe=1) restricted to
    * the sample — the index is a pure function of the corpus — so the
    * oracle replays the build recipe while the Spark plan never does.
    * Serving plan (the i2 layout): ONE scan of the released assignment
    * — PRUNED to the probed cells' pcell buckets — joined to the 64
    * broadcast probe rows on (pcell, cell) (~64·n/√n candidates),
    * top-1 as a map-side min(struct) partial fold; query assignment is
    * a 64 × √n broadcast rank against the release's persisted seed
    * table (itself a min-struct fold here, so the plan stays
    * window-free); no corpus-sized shuffle anywhere. */
  def e2IvfServe(s: SparkSession, d: String): DataFrame =
    ivfServeFrom(s, d, 1)

  /** The shared serving path behind e2_ivf_serve / e2_ivf_serve2: the
    * query batch is fetched from the corpus by id (the only id-keyed
    * read — at scale an id-pushdown fetch, and the shape real serving
    * has anyway: query vectors arrive from OUTSIDE the index), assigned
    * to its top-`nProbe` cells against the release's PERSISTED seed
    * table (√n broadcast rows — never a corpus or index scan; nProbe=1
    * assigns via the map-side min-struct fold, keeping the single-probe
    * plan window-free), then answered by ONE scan of the released
    * assignment, joined on (pcell, cell) so dynamic partition pruning
    * restricts the scan to the probed cells' buckets — the pruned
    * posting-list read the i2 layout exists for. Top-1 is the map-side
    * min(struct) partial fold; nothing corpus-sized shuffles. */
  private def ivfServeFrom(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val (idx, seedsT) = standingIvfIndex(s, d)
    val qs = broadcast(sampledQueryIds(s, d))
    val seeds = broadcast(seedsT.select(col("cell").as("scell"),
      col("c_emb"), col("c_nrm")))
    val qvec = withNorm(embeddings(s, d))
      .join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val scored = qvec.join(seeds)
      .withColumn("c_sim",
        graft.functions.Vectors.dot(col("qe"), col("c_emb")) /
          (col("qn") * col("c_nrm")))
    // top-nProbe cells per query; min(struct(-sim, cell)) ≡ rank 1 of
    // (sim DESC, cell) — the ivfAssignedFold tie identity
    val assigned =
      if (nProbe == 1)
        scored
          .select(col("qid"), col("qe"), col("qn"),
            (-col("c_sim")).as("ns"), col("scell"))
          .groupBy("qid")
          .agg(min(struct(col("ns"), col("scell"))).as("m"),
            first(col("qe")).as("qe"), first(col("qn")).as("qn"))
          .select(col("qid"), col("qe"), col("qn"),
            col("m.scell").as("scell"))
      else {
        val assignW = Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("scell"))
        scored
          .select(col("qid"), col("qe"), col("qn"), col("scell"),
            col("c_sim"))
          .withColumn("c_rn", row_number().over(assignW))
          .filter(col("c_rn") <= nProbe)
          .select(col("qid"), col("qe"), col("qn"), col("scell"))
      }
    // the spcell >= 0 predicate is a tautology (pmod is nonnegative) kept
    // for the OPTIMIZER: Catalyst's PartitionPruning rule only plants a
    // dynamic-pruning subquery on the partitioned scan when the filtering
    // side carries a likely-selective predicate, and the probe subtree
    // ends in an aggregate — without this marker the serve scan reads
    // every pcell bucket (verified on the executed plan both ways)
    val probe = broadcast(assigned.withColumn("spcell",
        pmod(col("scell"), lit(IvfIndexBuckets.toLong)).cast("int"))
      .filter(col("spcell") >= 0))
    idx.join(probe,
        col("pcell") === col("spcell") && col("cell") === col("scell") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"),
        (-(graft.functions.Vectors.dot(col("embedding"), col("qe")) /
          (col("nrm") * col("qn")))).as("ns"),
        col("vec_id").as("nb"))
      .groupBy("qid")
      .agg(min(struct(col("ns"), col("nb"))).as("m"))
      .select(col("qid").as("vec_id"), col("m.nb").as("neighbor_id"),
        round(-col("m.ns"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — MULTI-PROBE serving from the standing IVF index: the
    * serve-time RECALL DIAL (FAISS nprobe). Same released snapshot as
    * [[e2IvfServe]], but each query fans to its top-2 cells before the
    * candidate join — recall rises with zero rebuild and zero index
    * bytes written, which is exactly why production ANN tunes nprobe at
    * the serving tier, not the build tier. Queries rank against the
    * release's PERSISTED seed table — the complete ceil(√n) set, so a
    * seed whose own cell is empty still competes exactly as the oracle's
    * full probe ranking does (the round-13 reconstruct-from-assignment
    * shortcut silently dropped empty-cell seeds AND rescanned the whole
    * index to find √n rows; both fixed by shipping seeds in the i2
    * release). Result ≡ e2_ann_ivf2 restricted to the sample (per-query
    * independence — the ivfSearchFor lemma), which the oracle replays. */
  def e2IvfServe2(s: SparkSession, d: String): DataFrame =
    ivfServeFrom(s, d, 2)

  /** Probe width for the combined IVF-PQ index. */
  val IvfPqProbe = 2

  /** E2 — the COMBINED IVF-PQ index: coarse quantizer first (each database
    * vector indexed under its top-1 cell, queries fanned to their top-2),
    * then ADC over codes WITHIN the probed cells only. This is the
    * production ANN architecture (FAISS IVFADC): the IVF stage cuts
    * candidates from n to ~nProbe·n/√n, and the PQ stage makes each
    * surviving comparison 8 table lookups over 32×-compressed codes — the
    * raw-vector scan disappears from BOTH stages. Same deterministic seed
    * set as e2_ann_ivf and the same codes/tables as e2_pq_search, so the
    * whole index is oracle-replicable; candidates are cell-restricted
    * (structurally asserted in spec), distances are bit-identical to the
    * full ADC scan's. At 100 TB the cell assignment shuffles compact
    * (vec_id, cell, codes) rows once at build time; a query batch touches
    * |probed cells| / |cells| of the codes table. */
  def e2AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val build = ivfTop1Assignment(s, d).select(col("vec_id"), col("cell"))
    // the query batch's float vectors, fanned to their top-IvfPqProbe cells
    val qIds = pqQueries(s, d).select(col("qid"))
    val probe = ivfAssigned(
      e.join(broadcast(qIds), col("vec_id") === col("qid")).drop("qid"),
      seeds, IvfPqProbe)
      .select(col("vec_id").as("qid"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    codesArr(s, d).join(build, "vec_id")
      .join(broadcast(probe.join(adcTables(s, d), "qid")), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adcDistExpr)
      // narrow before the rank exchange (the pre-window projection rule:
      // drop code arrays + broadcast ADC tables from the scored rows)
      .select(col("qid"), col("vec_id"), col("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PqTopK)
      .select(col("qid"), asLong(col("rn")).as("rn"), col("vec_id"),
        round(col("adist"), 4).as("adist"))
      .orderBy("qid", "rn")
  }

  /** E2 — PQ search with exact re-rank: the production IVF-PQ serving
    * pattern. Stage 1 scans CODES only (adcRanked — linear in the corpus,
    * raw vectors untouched) and keeps the PqRerankC cheapest candidates
    * per query; stage 2 fetches full-precision vectors for that shortlist
    * alone — queries × PqRerankC ids broadcast against the vector store
    * scan, the "fetch the shortlist from the store" lookup every ANN
    * system ends with — and re-orders by exact cosine. At 100 TB the
    * expensive scan touches 32×-compressed codes; the exact math runs on
    * tens of rows per query. Recovery property (re-rank can only improve
    * the top-1, candidates are a subset of ADC's) is asserted in
    * ScalaTest; the full result is oracle-checked. */
  def e2PqRerank(s: SparkSession, d: String): DataFrame = {
    val cand = adcRanked(s, d, PqRerankC).select(col("qid"), col("vec_id"))
    val e = withNorm(embeddings(s, d))
    // shortlist fetch: corpus scan × broadcast candidate list
    val cv = e.join(broadcast(cand), "vec_id")
      .select(col("qid"), col("vec_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.select(col("vec_id").as("qid"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      .join(broadcast(cv), "qid")
      .withColumn("sim",
        graft.functions.Vectors.dot(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm")))
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("qid"), col("vec_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PqTopK)
      .select(col("qid"), asLong(col("rn")).as("rn"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  /** E2 — one full k-means iteration (E-step + M-step): every vector is
    * assigned to its nearest label-centroid (the e2_vq_assign E-step),
    * then centroids are recomputed as the per-(cluster, dim) mean, with
    * the per-coordinate |shift| against the previous codebook — the
    * convergence signal a training loop watches. This is the iterative-
    * refinement shape of distributed k-means on Spark: the codebook is k
    * rows riding BROADCAST both ways (old centroids into the argmax, old
    * coordinates into the shift join); the only corpus-sized movement is
    * ONE vec_id-combined argmax exchange, and the M-step explode
    * partial-aggregates to k·dims keys map-side. The embedding rides
    * THROUGH the argmax aggregate (first(ed) next to max(struct(...)))
    * so the E-step result never joins back against a second corpus
    * scan. A deployment loops this stage to convergence; each loop is
    * the same plan. */
  def e2KmeansIter(s: SparkSession, d: String): DataFrame = {
    val assigned = assignToCodebook(s, d, centroidArrays(s, d))
    val oldLong = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(microMean.as("c_old"))
      .select(col("label").as("olabel"), col("dim").as("odim"), col("c_old"))
    assigned
      .select(col("cluster"), posexplode(col("ed")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(microMean.as("c_new"), count(lit(1)).as("n"))
      .join(broadcast(oldLong),
        col("cluster") === col("olabel") && col("dim") === col("odim"))
      .select(col("cluster"), col("dim"), col("c_new"), col("n"),
        round(abs(col("c_new") - col("c_old")), 4).as("shift"))
      .orderBy("cluster", "dim")
  }

  /** The k-means E-step against an arbitrary codebook frame
    * (clabel, cen: array<double>, cnrm) — extracted from e2KmeansIter so
    * the declared one-iteration query and the kmeansTrained loop run the
    * IDENTICAL plan: codebook rides BROADCAST into a scan-side cosine
    * argmax; the only corpus-sized movement is one vec_id exchange, and
    * the embedding rides through the argmax (first(ed)) so the E-step
    * never joins back against a second corpus scan. */
  private def assignToCodebook(s: SparkSession, d: String,
      cen: DataFrame): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("enrm", graft.functions.Vectors.l2NormD(col("ed")))
    e.join(broadcast(cen))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("ed"), col("cen")) /
          (col("enrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("clabel")).as("nl"))).as("m"),
        first(col("ed")).as("ed"))
      .select((-col("m.nl")).as("cluster"), col("ed"))
  }

  /** One k-means step from a driver-held codebook: E-step assign
    * (broadcast), M-step micro-unit means (k·dims keys, map-side
    * combined), then ONLY the k·dims-double codebook returns to the
    * driver — the MLlib-style training shape where per-round driver
    * traffic is the model, never the data. Returns the new codebook and
    * the max per-coordinate |shift| (the convergence signal the declared
    * e2_kmeans_iter emits per cell). Clusters that lose all members keep
    * their old centroid (the standard empty-cluster rule). */
  def kmeansStep(s: SparkSession, d: String,
      cb: Seq[(Long, Seq[Double])]): (Seq[(Long, Seq[Double])], Double) = {
    import s.implicits._
    val cen = cb.toDF("clabel", "cen")
      .withColumn("cnrm", graft.functions.Vectors.l2NormD(col("cen")))
    val rows = assignToCodebook(s, d, cen)
      .select(col("cluster"), posexplode(col("ed")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(microMean.as("c_new"))
      .collect()
    val fresh = rows.groupBy(_.getLong(0)).map { case (cl, rs) =>
      cl -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
    }
    val next = cb.map { case (cl, old) => cl -> fresh.getOrElse(cl, old) }
    val maxShift = next.zip(cb).iterator.flatMap { case ((_, nw), (_, od)) =>
      nw.zip(od).map { case (a, b) => math.abs(a - b) }
    }.foldLeft(0.0)(math.max)
    (next, maxShift)
  }

  /** The M-step as a broadcast-ready codebook: per-(cluster, dim)
    * micro-unit means folded back into (clabel, cen, cnrm) arrays —
    * the same shape centroidArrays builds from labels, derived from an
    * assignment instead. Feeds the next assignToCodebook round. */
  private def centroidArraysOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("ed")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(microMean.as("c"))
      .groupBy(col("cluster").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x("c")).as("cen"))
      .withColumn("cnrm", graft.functions.Vectors.l2NormD(col("cen")))

  /** E2 — THREE unrolled k-means iterations ending in the refined
    * codebook: the declared, oracle-checked form of the kmeansTrained
    * loop (the e9_pagerank unrolled-iteration treatment). Each round is
    * the same plan as e2_kmeans_iter — codebook rides BROADCAST into a
    * scan-side cosine argmax, M-step partial-aggregates to k·dims keys
    * map-side — so the corpus crosses one vec_id exchange per round and
    * the 4-dp micro-unit centroid means make every intermediate codebook
    * BIT-IDENTICAL across engines (each iteration's input is the
    * previous round's rounded output, so rounding can't compound into
    * divergence). Four corpus scans total (seed means + three E-steps);
    * a 100 TB deployment runs the kmeansTrained driver loop instead,
    * where each round is one scan and only the k×dims codebook moves. */
  def e2Kmeans3(s: SparkSession, d: String): DataFrame = {
    val a1 = assignToCodebook(s, d, centroidArrays(s, d))
    val a2 = assignToCodebook(s, d, centroidArraysOf(a1))
    val a3 = assignToCodebook(s, d, centroidArraysOf(a2))
    a3.select(col("cluster"), posexplode(col("ed")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(microMean.as("c3"), count(lit(1)).as("n"))
      .orderBy("cluster", "dim")
  }

  /** E2 — the spherical k-means OBJECTIVE under the seed codebook: per
    * cluster, member count and the total cosine dissimilarity
    * Σ(1 − cos(x, c)) in integer micro-units — the quantity the
    * kmeansTrained loop descends (the shift signal says the codebook is
    * still MOVING; the objective says whether it is IMPROVING, and a
    * plateaued objective with nonzero shift is the 4-dp limit cycle the
    * loop's tol ends). Exactness: per-vector (1 − sim) is a function of
    * the same index-ordered fold both engines share bit-for-bit,
    * quantized scan-side to micro-units, summed as exact longs; the
    * output is ALL-INTEGER. Plan: same broadcast-codebook argmax as
    * e2_kmeans_iter (one vec_id exchange), then a k-key aggregate. */
  def e2KmeansObjective(s: SparkSession, d: String): DataFrame =
    objectiveOf(s, d, centroidArrays(s, d))

  private def objectiveOf(s: SparkSession, d: String,
      cen: DataFrame): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("enrm", graft.functions.Vectors.l2NormD(col("ed")))
    e.join(broadcast(cen))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("ed"), col("cen")) /
          (col("enrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("clabel")).as("nl"))).as("m"))
      .select((-col("m.nl")).as("cluster"),
        expr("CAST(floor((1.0D - m.sim) * 1000000.0D + 0.5D) AS BIGINT)")
          .as("q6"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum(col("q6")).as("obj_e6"))
      .withColumn("mean_obj_e6", expr("obj_e6 div n"))
      .orderBy("cluster")
  }

  /** Total objective for a driver-held codebook — the scalar the
    * kmeansTrained loop should be (and, per spec, is) descending. */
  def kmeansObjective(s: SparkSession, d: String,
      cb: Seq[(Long, Seq[Double])]): Long = {
    import s.implicits._
    val cen = cb.toDF("clabel", "cen")
      .withColumn("cnrm", graft.functions.Vectors.l2NormD(col("cen")))
    objectiveOf(s, d, cen).agg(sum(col("obj_e6"))).head().getLong(0)
  }

  /** K-means training loop — the deployment form of the declared
    * e2_kmeans_iter stage (the perceptronTrained / pageRankConverged
    * discipline): seed from the per-label centroids, iterate kmeansStep,
    * stop when the max per-coordinate centroid shift falls to `tol` or
    * at maxIters. Each round is the same broadcast-assign plan; the
    * driver holds and ships only the k×dims codebook. Returns the final
    * codebook, the last max-shift, and rounds run. */
  def kmeansTrained(s: SparkSession, d: String, tol: Double = 1e-4,
      maxIters: Int = 20): (Seq[(Long, Seq[Double])], Double, Int) = {
    var cb = centroidArrays(s, d).select(col("clabel"), col("cen")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Double](1).toSeq)
      .toSeq.sortBy(_._1)
    var shift = Double.MaxValue
    var it = 0
    while (it < maxIters && shift > tol) {
      val (next, sh) = kmeansStep(s, d, cb)
      cb = next; shift = sh; it += 1
    }
    (cb, shift, it)
  }

  /** E2 — IVF index balance audit: the cell-population distribution of
    * the √n-cell index behind e2_ann_ivf. Balance is the number that
    * justifies an nProbe setting — a skewed index (hot cells ≫ √n) means
    * probe work concentrates and recall per probe drops, and it is the
    * signal to retrain seeds (e2_kmeans_iter) or re-salt. Emits one row:
    * cell count, min/avg/max population, and the max/avg skew ratio.
    * Plan: the same broadcast-assign as the index build (argmin over √n
    * seeds riding broadcast), one |cells|-key count, one 1-row stats
    * fold — the vectors never shuffle. */
  def e2IvfStats(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    ivfAssignedFold(e, seeds)
      .groupBy("cell").agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("pop")).as("min_pop"),
        round(avg(col("pop")), 4).as("avg_pop"),
        max(col("pop")).as("max_pop"),
        round(max(col("pop")).cast("double") / avg(col("pop")), 4).as("skew"))
  }

  /** E2 — per-cell LABEL PURITY of the IVF index: for every cell, its
    * population, majority label, and the majority's share in basis
    * points — the cluster-quality audit read BEFORE trusting any
    * cell-local decision (e2_semdedup keeps one doc per near-dup pair
    * found INSIDE a cell, e2_knn_classify votes INSIDE a cell: a
    * low-purity cell means those operations cut across labels, exactly
    * the damage a purity scoreboard catches first). Votes are integers
    * and the share is one DIV (exact cross-engine); majority ties break
    * to the smaller label (the e2_knn_classify discipline). Plan: the
    * standard broadcast-seed assign (vectors never shuffle), then a
    * (cell, label) aggregate that partial-combines map-side — the
    * exchange carries ≤ |cells|·|labels| count rows at any corpus size —
    * and a |cells|-key argmax fold. */
  def e2CentroidPurity(s: SparkSession, d: String): DataFrame = {
    val bl = ivfTop1Assignment(s, d)
      .select(col("cell"), col("vec_id"))
      .join(embeddings(s, d)
        .select(col("vec_id"), col("label").cast("int").as("label")),
        "vec_id")
    bl.groupBy("cell", "label").agg(count(lit(1)).as("v"))
      .groupBy("cell")
      .agg(asLong(sum(col("v"))).as("n"),
        max(struct(col("v"), (-col("label")).as("nl"))).as("m"))
      .select(col("cell"), col("n"),
        (-col("m.nl")).cast("int").as("top_label"),
        asLong(col("m.v")).as("top_votes"))
      .withColumn("purity_bp", expr("10000 * top_votes div n"))
      .orderBy("cell")
  }

  /** E2 — IVF index REBALANCE: the maintenance pass an IVF deployment
    * runs when ingest skews the cell population (e2_ivf_ingest holds
    * seeds frozen — exactly the regime where hot cells emerge, and
    * e2_ivf_stats is the monitor that detects them). A cell is HOT iff
    * its population exceeds 2× the mean (compared in exact integer
    * cross-multiplied form: n·|cells| > 2·total); each hot cell is SPLIT
    * between two deterministic sub-seeds — its two members ranked first
    * by (splitmix64(vec_id), vec_id), the same ordering discipline that
    * chose the original ivfSeeds — and only the hot cells' members are
    * re-assigned (argmax cosine to the two sub-seeds). Emits the
    * rebalance report: one row per FINAL cell (sub_cell = cell for
    * untouched cells) with before/after populations — what an index
    * operator reviews before swapping the index generation in. Plan: the
    * same broadcast-seed assign as every IVF pass; sizes are a
    * |cells|-key aggregate; sub-seed election is one window over hot
    * members only; re-assignment joins hot members to the broadcast
    * (≤2·|hot|)-row sub-seed table — nothing pairwise, vectors never
    * shuffle, report bounded by |cells|. */
  def e2IvfRebalance(s: SparkSession, d: String): DataFrame = {
    val build = ivfTop1Assignment(s, d)
    val sizes = build.groupBy("cell").agg(count(lit(1)).as("n_before"))
    val tot = sizes.agg(count(lit(1)).as("n_cells"),
      sum(col("n_before")).as("n_total"))
    val flagged = sizes.crossJoin(broadcast(tot))
      .withColumn("hot",
        col("n_before") * col("n_cells") > lit(2L) * col("n_total"))
      .select("cell", "n_before", "hot")
    val hotMembers = build
      .join(flagged.filter(col("hot")).select("cell"), "cell")
    val wSub = Window.partitionBy("cell")
      .orderBy(org.apache.spark.sql.graftext.minhashExpression
        .mix64(col("vec_id")), col("vec_id"))
    val subSeeds = hotMembers
      .withColumn("srn", row_number().over(wSub)).filter(col("srn") <= 2)
      .select(col("cell"), col("vec_id").as("sub_cell"),
        col("embedding").as("s_emb"), col("nrm").as("s_nrm"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("s_sim").desc, col("sub_cell"))
    val reassigned = hotMembers.join(broadcast(subSeeds), "cell")
      .withColumn("s_sim",
        graft.functions.Vectors.dot(col("embedding"), col("s_emb")) /
          (col("nrm") * col("s_nrm")))
      // narrow BEFORE the per-vector argmax exchange: the rank window
      // repartitions by vec_id, and without this projection every
      // exchanged row still carries the member embedding plus the
      // sub-seed array (~30× the bytes of the 4 scored columns)
      .select(col("cell"), col("vec_id"), col("sub_cell"), col("s_sim"))
      .withColumn("arn", row_number().over(wAssign)).filter(col("arn") === 1)
      .groupBy(col("cell"), col("sub_cell"))
      .agg(count(lit(1)).as("n_after"))
    val untouched = flagged.filter(!col("hot"))
      .select(col("cell"), col("cell").as("sub_cell"),
        col("n_before").as("n_after"))
    flagged.select("cell", "n_before")
      .join(untouched.select("cell", "sub_cell", "n_after")
        .unionByName(reassigned), "cell")
      .select(col("cell"), col("n_before"), col("sub_cell"), col("n_after"))
      .orderBy("cell", "sub_cell")
  }

  /** E2 — IVF index MERGE: the other half of index maintenance
    * (e2_ivf_rebalance splits hot cells; this folds COLD ones away). A
    * cell whose population has drained below HALF the mean — deletes,
    * re-assignment after a split, or a seed that landed in a sparse
    * region — wastes a probe: every query that lands there scans almost
    * nothing, so its members belong with their nearest healthy cell.
    * Rule: a cell is COLD iff 2·pop·|cells| < total (exact
    * cross-multiplied integers, the rebalance discipline); each cold
    * cell is merged into the nearest NON-cold cell by seed-seed cosine
    * (ties → lower cell id; a non-cold cell always exists because some
    * cell sits at ≥ the mean). Emits one row per ORIGINAL cell:
    * population before, cold flag, destination (itself when kept), and
    * the destination's post-merge population — the review table before
    * swapping index generations, like the rebalance report. Plan: the
    * same broadcast-seed assign as every IVF pass for sizes; cold
    * detection is a |cells|-key aggregate; the nearest-seed search is
    * cold-seeds × warm-seeds — BOTH bounded by √n, so the pairwise step
    * is ≤ n work on √n-sized inputs with the warm side broadcast; the
    * post-merge populations are a second |cells|-key fold. The corpus
    * vectors never move: only seed rows (√n) are compared pairwise. */
  def e2IvfMerge(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val seeds = ivfSeeds(s, d, e)
    val sizes = ivfTop1Assignment(s, d)
      .groupBy("cell").agg(count(lit(1)).as("n_before"))
    val tot = sizes.agg(count(lit(1)).as("n_cells"),
      sum(col("n_before")).as("n_total"))
    val flagged = sizes.crossJoin(broadcast(tot))
      .withColumn("cold",
        lit(2L) * col("n_before") * col("n_cells") < col("n_total"))
      .select("cell", "n_before", "cold")
    val sf = seeds.join(broadcast(flagged.select("cell", "cold")), "cell")
    val coldSeeds = sf.filter(col("cold"))
      .select(col("cell"), col("c_emb"), col("c_nrm"))
    val warmSeeds = sf.filter(!col("cold"))
      .select(col("cell").as("t_cell"), col("c_emb").as("t_emb"),
        col("c_nrm").as("t_nrm"))
    val wNear = Window.partitionBy("cell")
      .orderBy(col("s_sim").desc, col("t_cell"))
    val mapped = coldSeeds.crossJoin(broadcast(warmSeeds))
      .withColumn("s_sim",
        graft.functions.Vectors.dot(col("c_emb"), col("t_emb")) /
          (col("c_nrm") * col("t_nrm")))
      // narrow before the per-cold-cell argmax exchange (the scored
      // pairs otherwise carry both seed embeddings through the shuffle)
      .select(col("cell"), col("t_cell"), col("s_sim"))
      .withColumn("rn", row_number().over(wNear)).filter(col("rn") === 1)
      .select(col("cell"), col("t_cell").as("target"))
    val routed = flagged.join(mapped, Seq("cell"), "left")
      .withColumn("target", coalesce(col("target"), col("cell")))
    val after = routed.groupBy("target").agg(sum(col("n_before")).as("n_after"))
    routed.join(broadcast(after), "target")
      .select(col("cell"), col("n_before"),
        when(col("cold"), 1L).otherwise(0L).as("cold"),
        col("target").as("merged_into"), col("n_after"))
      .orderBy("cell")
  }

  /** Cosine threshold above which two vectors in the same cell are
    * semantic duplicates — interpolated into BOTH engines. Matches the
    * e2_embedding_neardup threshold so the two passes are comparable. */
  val SemDedupTau = 0.35

  /** E2 — SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): the embedding-space analogue of the e1 lexical
    * dedup family. Paraphrases, translations-of-boilerplate, and
    * templated rewrites embed near each other while sharing few shingles,
    * so MinHash never pairs them — clustering the embedding space and
    * dropping all-but-one per near-duplicate group is how production
    * pipelines remove them. Decision rule here: within an IVF cell
    * (the cluster structure e2_ann_ivf already maintains — broadcast
    * ceil(√n) seed set, one assign pass, vectors never shuffle), a vector
    * is DROPPED iff some lower-id vector in its cell has cosine ≥ τ; its
    * KEEPER is the lowest-id such vector ("keep first seen", the
    * deterministic stand-in for the paper's keep-farthest-from-centroid,
    * matching the min-doc_id keeper rule of e1_dedup_clusters). Output:
    * the dropped rows (vec_id, cell, keeper_id, sim-to-keeper).
    *
    * Scale: pairwise work is in-cell only (n·√n bound, the e5_image_neardup
    * treatment); the keeper choice is a per-vector min over in-cell
    * qualifying pairs — WindowGroupLimit prunes each input partition to
    * its per-vector top-1 before the exchange. A near-dup pair straddling
    * a cell boundary is missed by construction — the nProbe dial
    * (assigning the probe side to its top-2 cells, e2_ann_ivf2) is the
    * recall knob, and the lexical LSH passes catch verbatim copies
    * regardless of cell. */
  def e2Semdedup(s: SparkSession, d: String): DataFrame = {
    val build = ivfTop1Assignment(s, d)
    val w = Window.partitionBy("vec_id").orderBy("keeper_id")
    build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .withColumn("sim", cosine)
      .filter(col("sim") >= SemDedupTau)
      // narrow before the keeper-rank exchange (the pre-window
      // projection rule)
      .select(col("a.vec_id").as("vec_id"), col("a.cell").as("cell"),
        col("b.vec_id").as("keeper_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("keeper_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("vec_id")
  }

  /** E2 — SEMANTIC-duplicate cluster resolution: connected components
    * over the cell-bucketed cosine-near-dup pairs (the SemDedup paper's
    * cluster-then-keep-one step, the embedding-side analogue of
    * e1_dedup_clusters). Pairs come from the SAME IVF-cell bucketing
    * e2_semdedup prunes with — per-cell pairwise only, never corpus² —
    * and the component pass is the large-star/small-star alternation
    * (Dedup.connectedComponentsStar: O(log n) rounds, pair-table-sized
    * shuffles), so both stages are the declared 100 TB shapes. Labels
    * are min-vec_id per component; singletons keep their own id. */
  def e2SemdedupClusters(s: SparkSession, d: String): DataFrame = {
    val build = ivfTop1Assignment(s, d)
    val pairs = build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", cosine)
      .filter(col("sim") >= SemDedupTau)
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"))
    Dedup.connectedComponentsStar(
      embeddings(s, d).select(col("vec_id").as("doc_id")), pairs)._1
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  /** E6/E2 — SEMANTIC split leakage: near-duplicate EMBEDDING pairs
    * (the e2_semdedup cell-bucketed cosine ≥ τ predicate) classified by
    * the train/val/test splits their endpoints land in — the
    * embedding-space twin of e6_split_leakage (which audits the same
    * contamination over MinHash text pairs): a val↔train or test↔train
    * row is an eval example whose semantic near-copy is in training,
    * the contamination a paraphrase slips past every lexical audit
    * (why semantic decontamination exists as a separate pass). Same
    * SplitSalt slot gate as e6_train_val_test applied to vec_id, so the
    * audit composes the exact split definition it audits. Plan: the
    * semdedup pair stage is the declared n·√n cell-bucketed shape
    * (vectors never shuffle; pre-window projections already applied);
    * split gates are scan-side; the classification is two 8-byte-key
    * joins against the pair table and a ≤6-key aggregate. */
  def e6SemanticLeakage(s: SparkSession, d: String): DataFrame = {
    val build = ivfTop1Assignment(s, d)
    val pairs = build.as("a")
      .join(build.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", cosine)
      .filter(col("sim") >= SemDedupTau)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    val sp = embeddings(s, d).select(col("vec_id"),
      when(Sampling.slot(col("vec_id"), Sampling.SplitSalt) < 90, "train")
        .when(Sampling.slot(col("vec_id"), Sampling.SplitSalt) < 95, "val")
        .otherwise("test").as("split"))
    pairs
      .join(sp.select(col("vec_id").as("va"), col("split").as("sa")), "va")
      .join(sp.select(col("vec_id").as("vb"), col("split").as("sb")), "vb")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** E2 — int8 SCALAR quantization (SQ8) audit: the other standard vector
    * compression next to PQ (FAISS's SQ8 / Milvus IVF_SQ8): each
    * coordinate maps to one byte via a per-dimension affine
    * code = round(255·(x−min)/(max−min)) — 4× smaller than float32 with
    * near-lossless recall, and unlike PQ the decode is a two-FLOP affine
    * (no codebook lookup), which is why serving stacks often prefer it.
    * Emits the per-dimension quantizer itself (min/max), code-space
    * utilization (distinct codes of 256 — a skewed dim that uses 30 codes
    * wastes its byte), and the reconstruction MSE — the three numbers
    * that decide SQ8-vs-PQ for a corpus. Plan at scale: the stats pass is
    * a 64-key min/max aggregate (map-side combined, order-independent —
    * no float-sum hazard); the quantize pass joins the 64-row stats table
    * back BROADCAST, and the audit aggregate is again 64-key. Two narrow
    * scans, no corpus shuffle; a production build samples the stats scan.
    * Squared errors ride as integer e-10 units so the MSE is an exact
    * long sum (microMean discipline). Guarded for degenerate constant
    * dimensions (mx = mn → code 0, zero error) on BOTH engines. */
  def e2Sq8(s: SparkSession, d: String): DataFrame = {
    val coords = embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
    val stats = coords.groupBy("dim")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    coords.join(broadcast(stats), Seq("dim"))
      .withColumn("code", expr(
        """CASE WHEN mx > mn THEN CAST(least(greatest(
          |  floor((x - mn) * 255.0 / (mx - mn) + 0.5), 0.0), 255.0) AS BIGINT)
          |ELSE 0 END""".stripMargin))
      .withColumn("recon",
        expr("CASE WHEN mx > mn THEN mn + code * (mx - mn) / 255.0 ELSE mn END"))
      .withColumn("e10", expr(
        "CAST(floor((x - recon) * (x - recon) * 10000000000.0 + 0.5) AS BIGINT)"))
      .groupBy("dim")
      .agg(round(min(col("mn")), 6).as("mn"), round(min(col("mx")), 6).as("mx"),
        countDistinct(col("code")).as("n_codes"),
        expr("sum(e10) div count(1)").as("mse_e10"))
      .orderBy("dim")
  }

  /** E2 — SQ8 RETRIEVAL agreement: does int8 scalar quantization change
    * what retrieval RETURNS? e2_sq8 prices the compression in per-dim
    * reconstruction MSE; this is the number that actually decides the
    * ship/no-ship — per label, how often the top-1 neighbor computed
    * over SQ8-RECONSTRUCTED vectors equals the full-precision top-1,
    * on the deterministic query sample (the sampled-audit discipline:
    * exact work = sample × label block, LINEAR, runs at any scale).
    * Reconstruction is the same per-dim affine as e2_sq8 (codes are
    * integers; recon = mn + code·(mx−mn)/255 is the identical IEEE
    * expression both engines evaluate on identical inputs), vectors are
    * re-assembled dim-ordered (the centroidArrays pattern), and both
    * rank orders break ties by neighbor id. Plan: the per-dim stats
    * table (64 rows) broadcasts back over one posexplode pass; the
    * reconstructed corpus joins the broadcast sample exactly like
    * sampledExactTopK; agreement is an integer count per label. */
  def e2Sq8Recall(s: SparkSession, d: String): DataFrame = {
    val coords = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
    val stats = coords.groupBy("dim")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val recon = coords.join(broadcast(stats), Seq("dim"))
      .withColumn("code", expr(
        """CASE WHEN mx > mn THEN CAST(least(greatest(
          |  floor((x - mn) * 255.0 / (mx - mn) + 0.5), 0.0), 255.0) AS BIGINT)
          |ELSE 0 END""".stripMargin))
      .withColumn("r",
        expr("CASE WHEN mx > mn THEN mn + code * (mx - mn) / 255.0 ELSE mn END"))
      .groupBy("vec_id", "label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("r")))),
        x => x("r")).as("re"))
      .withColumn("rn2", graft.functions.Vectors.l2NormD(col("re")))
    val qs = broadcast(sampledQueryIds(s, d))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("other_id"))
    val sqTop = broadcast(recon.join(qs, Seq("vec_id"), "left_semi")).as("a")
      .join(recon.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("a.re"), col("b.re")) /
          (col("a.rn2") * col("b.rn2")))
      // narrow before the rank exchange (the pre-window projection rule)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("other_id"),
        col("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("other_id").as("sq8_nb"))
    val exact = sampledExactTopK(s, d, 1)
      .select(col("vec_id"), col("other_id").as("exact_nb"))
    exact.join(sqTop, Seq("vec_id"), "left")
      .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("sq8_nb") === col("exact_nb"), 1L).otherwise(0L))
          .as("top1_agree"))
      .withColumn("agree_bp", expr("10000 * top1_agree div n"))
      .orderBy("label")
  }

  /** E2 — HAMMING-SIGNATURE ANN (binary quantization): every vector is
    * sign-binarized into ONE 64-bit word (bit i set iff embedding[i] > 0
    * — the 1-bit extreme of the e2_sq8 quantization ladder: float32 →
    * int8 → 1 bit, 256× smaller than the raw vector), candidates ranked
    * by popcount(xor) Hamming distance, scored against the exact GLOBAL
    * cosine top-1 for the sampled query set. This is the cheap-filter
    * stage of a binarized-rerank deployment (Hamming shortlist →
    * full-precision rerank, the e2_pq_rerank pattern at 8 bytes/vector):
    * the emitted per-query hit column is exactly the "can 1 bit/dim find
    * the true neighbor alone" calibration a deployment reads before
    * sizing its rerank depth. ALL-INTEGER ranking (popcount, vec_id
    * tie-break); the exact side orders raw house cosines (bit-identical
    * to DuckDB's DOUBLE[] kernel) with the same tie-break. Plan at
    * 100 TB: signatures are computed SCAN-SIDE in one codegen'd pass
    * (8 bytes/vector retained — a 100 TB float corpus is a 1.6 TB
    * signature table); the fixed query sample broadcasts to both sides;
    * each per-query top-1 is a min(struct) aggregate that PARTIAL-
    * COMBINES map-side, so one candidate row per (query, partition)
    * crosses the wire — no window exchange at all; the exact side is
    * the linear sample × corpus scan every *_sampled audit pays.
    * Bound: one word holds ≤ 64 dims (the fixture width); wider
    * embeddings pack ceil(dims/64) words and sum per-word popcounts
    * (zip_with + aggregate) — same plan shape, k·8 bytes/vector. */
  def e2HammingAnn(s: SparkSession, d: String): DataFrame = {
    val sigs = signSigs(s, d)
    val qs = broadcast(sampledQueryIds(s, d))
    val qsig = broadcast(sigs.join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("sgn").as("qsgn")))
    val ham = sigs.join(qsig, col("qid") =!= col("vec_id"))
      .select(col("qid"),
        bit_count(col("sgn").bitwiseXOR(col("qsgn"))).cast("long").as("h"),
        col("vec_id").as("nb"))
      .groupBy("qid")
      .agg(min(struct(col("h"), col("nb"))).as("m"))
      .select(col("qid"), col("m.nb").as("ham_nb"), col("m.h").as("hamming"))
    // exact global cosine top-1 from the shared exact-truth memo (round
    // 12): the memo's cos_g rank-1 row is the same min-by-(−sim, id) the
    // in-place map-side fold picked — one memo scan instead of the
    // sample × corpus pass per execution
    val exact = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_g" && col("rn") === 1)
      .select(col("vec_id").as("qid"), col("other_id").as("exact_nb"))
    ham.join(exact, "qid")
      .select(col("qid").as("vec_id"), col("ham_nb"), col("hamming"),
        col("exact_nb"),
        when(col("ham_nb") === col("exact_nb"), 1L).otherwise(0L).as("hit"))
      .orderBy("vec_id")
  }

  /** (vec_id, sgn): the 64-bit sign-binarized signature of every vector
    * (bit i set iff embedding[i] > 0) — shared by e2_hamming_ann and
    * e2_hamming_rerank (can't-drift rule: both stages of the binarized
    * deployment rank the SAME signatures). One scan-side codegen'd pass;
    * 8 bytes/vector retained. Round 15 (r14-verdict task 5): the
    * signature is the native SignBitsExpr fused loop — the old
    * `aggregate(sequence(...))` HOF spelling evaluated an interpreted
    * per-element lambda (boxed acc, one CASE per element) per VECTOR per
    * side of each hamming join; the native fold is bit-identical
    * (same >0 test, same shiftleft-wrap addition, same null handling —
    * pinned in VectorExprSpec) inside whole-stage codegen. */
  private def signSigs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      graft.functions.Vectors.signBits(col("embedding")).as("sgn"))

  /** Shortlist depth for the Hamming→rerank two-stage retrieval —
    * interpolated into BOTH engines. */
  val HamRerankC = 8

  /** E2 — HAMMING-SHORTLIST → EXACT RERANK: the two-stage deployment
    * e2_hamming_ann's Scaladoc promises (binarized filter → full-precision
    * rerank, the e2_pq_rerank pattern at 8 bytes/vector): for each sampled
    * query, the HamRerankC nearest signatures by popcount(xor) (ties →
    * lower vec_id) are re-scored by exact raw cosine, and the reranked
    * top-1 is scored against the exact global top-1 (the shared
    * exactSampleTruth memo). Read next to e2_hamming_ann: that table says
    * whether 1 bit/dim finds the true neighbor ALONE (top-1), this one
    * says whether it lands the true neighbor anywhere in an 8-deep
    * shortlist a cheap rerank can recover — the number that actually
    * sizes a binarized index's rerank depth. Per query, hit here is ≥
    * e2_hamming_ann's hit BY CONSTRUCTION (if the rank-1 signature is the
    * true neighbor, it is in the shortlist and wins the cosine rerank) —
    * the reconciliation law Round12OpsSpec pins. Exactness: all-integer
    * Hamming ranking; rerank cosines are the house index-order doubles,
    * 4-dp rounded at the edge; both tie-breaks on vec_id. Plan at 100 TB:
    * one signature scan against the broadcast query signatures with the
    * rank filter pushed as a partial WindowGroupLimit (per-partition top-C
    * rows cross the wire, never sample × corpus); the ≤ sample·C shortlist
    * then BROADCASTS into an id-keyed fetch of raw vectors (corpus never
    * shuffles); the exact baseline is one memo scan. */
  def e2HammingRerank(s: SparkSession, d: String): DataFrame = {
    val sigs = signSigs(s, d)
    val qs = broadcast(sampledQueryIds(s, d))
    val qsig = broadcast(sigs.join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("sgn").as("qsgn")))
    val wh = Window.partitionBy("qid").orderBy(col("h"), col("nb"))
    val shortlist = sigs.join(qsig, col("qid") =!= col("vec_id"))
      .select(col("qid"),
        bit_count(col("sgn").bitwiseXOR(col("qsgn"))).cast("long").as("h"),
        col("vec_id").as("nb"))
      .withColumn("rn", row_number().over(wh))
      .filter(col("rn") <= HamRerankC)
      .select(col("qid"), col("nb"))
    val e = withNorm(embeddings(s, d))
    val qe = broadcast(e.join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm")))
    val wr = Window.partitionBy("qid").orderBy(col("sim").desc, col("nb"))
    val rr = e.select(col("vec_id").as("nb"), col("embedding"), col("nrm"))
      .join(broadcast(shortlist), "nb")
      .join(qe, "qid")
      .select(col("qid"), col("nb"),
        (graft.functions.Vectors.dot(col("embedding"), col("qemb")) /
          (col("nrm") * col("qnrm"))).as("sim"))
      .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("qid"), col("nb").as("rr_nb"),
        round(col("sim"), 4).as("rr_sim"))
    val exact = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_g" && col("rn") === 1)
      .select(col("vec_id").as("qid"), col("other_id").as("exact_nb"))
    rr.join(exact, "qid")
      .select(col("qid").as("vec_id"), col("rr_nb"), col("rr_sim"),
        col("exact_nb"),
        when(col("rr_nb") === col("exact_nb"), 1L).otherwise(0L).as("hit"))
      .orderBy("vec_id")
  }

  /** Greedy-routing step budget — interpolated into BOTH engines. */
  val GraphSearchSteps = 4

  /** E2 — GREEDY GRAPH-ANN SEARCH over the kNN graph: for each sampled
    * query, start at the global entry vector (min splitmix64 rank — the
    * IVF seed discipline; the runner-up when that vector IS the query,
    * since the walk's whole candidate universe excludes the query's own
    * stored copy) and repeatedly hop to the best of
    * {current} ∪ out-neighbors(current) by query cosine, for
    * GraphSearchSteps rounds — the navigable-graph search primitive
    * (HNSW layer 0 / NSG routing) built on the SAME directed kNN edges
    * e2_knn_graph audits: that query says whether the graph is navigable
    * (mutuality/hubness), this one MEASURES routing on it — final
    * neighbor, hop count, and agreement with the exact global top-1.
    * The update is monotone (the argmax includes the current node), so a
    * converged walk is a fixed point and the unrolled rounds need no
    * early-exit plumbing; hops counts actual moves. Exactness: cosines
    * are the house index-order doubles (bit-identical to the DOUBLE[]
    * oracle), every argmax tie-breaks on vec_id, the walk is one
    * deterministic trajectory per query. Plan at 100 TB: the walk state
    * is |sample| rows re-broadcast each round against the edge table
    * (n·K rows) and the vector table — per-round work is
    * candidate-lookup-sized, never corpus-sized; the entry fetch is one
    * TakeOrdered row (the kmeansTrained model-fetch discipline); only
    * the exact-baseline leg pays the sample × corpus scan every
    * *_sampled audit pays. */
  def e2GraphSearch(s: SparkSession, d: String): DataFrame = {
    // the walk references the edge table once per unrolled round — since
    // round 14 that table is the standingKnnGraph RELEASE, so every
    // round re-reads a committed n·K-row parquet snapshot and the n·√n
    // build + rank window run in NO serving plan at all (they ran once,
    // at release time — verdict task 3; the localCheckpoint memo this
    // replaces still rebuilt per JVM)
    val knn = standingKnnGraph(s, d)
    val e = withNorm(embeddings(s, d))
    val qs = broadcast(sampledQueryIds(s, d))
    val qe = broadcast(e.join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm")))
    // top-2 entry candidates (one TakeOrdered fetch): each query starts
    // at the global min-splitmix vector, falling back to the runner-up
    // when that vector IS the query — the search never returns the
    // query's own stored copy (the vec_id =!= discipline of every e2
    // audit, applied to the walk's whole candidate universe)
    val entryIds = embeddings(s, d).select(col("vec_id"),
        org.apache.spark.sql.graftext.minhashExpression
          .mix64(col("vec_id")).as("m"))
      .orderBy("m", "vec_id").limit(2).collect().map(_.getLong(0))
    val cvec = e.select(col("vec_id").as("cid"),
      col("embedding").as("cemb"), col("nrm").as("cnrm"))
    def qsim(emb: org.apache.spark.sql.Column,
        nrm: org.apache.spark.sql.Column) =
      graft.functions.Vectors.dot(col("qemb"), emb) / (col("qnrm") * nrm)
    val ew = Window.partitionBy("qid").orderBy("pref")
    var st = qe
      .crossJoin(broadcast(cvec.filter(col("cid").isin(entryIds: _*))))
      .filter(col("cid") =!= col("qid"))
      .withColumn("pref",
        when(col("cid") === entryIds.head, 0L).otherwise(1L))
      .withColumn("prn", row_number().over(ew)).filter(col("prn") === 1)
      .select(col("qid"), col("qemb"), col("qnrm"),
        col("cid").as("cur"), qsim(col("cemb"), col("cnrm")).as("sim"),
        lit(0L).as("hops"))
    // Each round references `st` THREE times (candidate probe, the
    // {current} leg of the argmax union, and the state join) — left lazy,
    // the unrolled plan re-evaluates the previous round's subtree per
    // reference, ~3^rounds copies of the knn-release and vector scans
    // (the measured plan dump was 741 KB of duplicated subtrees and the
    // query read 4.1 s). The walk state is |sample| rows, so an eager
    // localCheckpoint BETWEEN rounds (the kcoreConverged / CC-star loop
    // discipline) makes every round's work run exactly once — except the
    // LAST round, left lazy so the emitted serving plan still shows the
    // walk's real leaves (the g1 release scan and the broadcast vector
    // side — Round14OpsSpec pins `graft_knn_graph` in the executed plan);
    // its ≤3 reference re-evaluations cost three snapshot scans, not a
    // 3^rounds tower.
    st = st.localCheckpoint(true)
    for (round <- 1 to GraphSearchSteps) {
      val cand = st
        .join(knn.select(col("vec_id").as("cur"),
          col("other_id").as("cid")), Seq("cur"))
        .filter(col("cid") =!= col("qid"))
        .join(cvec, "cid")
        .select(col("qid"), col("cid"),
          qsim(col("cemb"), col("cnrm")).as("csim"))
      val best = cand
        .unionByName(st.select(col("qid"), col("cur").as("cid"),
          col("sim").as("csim")))
        .groupBy("qid")
        .agg(min(struct((-col("csim")).as("ns"), col("cid").as("nb")))
          .as("m"))
        .select(col("qid"), col("m.nb").as("ncur"), (-col("m.ns")).as("nsim"))
      val next = st.join(best, "qid")
        .select(col("qid"), col("qemb"), col("qnrm"),
          col("ncur").as("ncur2"), col("nsim").as("nsim2"),
          (col("hops") +
            when(col("ncur") =!= col("cur"), 1L).otherwise(0L)).as("hops"))
        .withColumnRenamed("ncur2", "cur").withColumnRenamed("nsim2", "sim")
      st = if (round < GraphSearchSteps) next.localCheckpoint(true) else next
    }
    // exact global cosine top-1 from the shared exact-truth memo (round
    // 12) — the walk's own state/edge plumbing is untouched; only the
    // baseline leg stops re-paying the sample × corpus scan
    val exact = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_g" && col("rn") === 1)
      .select(col("vec_id").as("qid"), col("other_id").as("exact_nb"))
    st.join(exact, "qid")
      .select(col("qid").as("vec_id"), col("cur").as("final_nb"),
        round(col("sim"), 4).as("sim"), col("hops"), col("exact_nb"),
        when(col("cur") === col("exact_nb"), 1L).otherwise(0L).as("hit"))
      .orderBy("vec_id")
  }

  /** E2 — SIMPLIFIED SILHOUETTE of the nearest-centroid clustering: per
    * vector, a = cosine distance to its ASSIGNED centroid (the
    * e2_vq_assign argmax, ties → lower label) and b = distance to the
    * nearest OTHER centroid; s = (b − a)/max(a, b) ∈ [−1, 1], folded to
    * a per-cluster mean — the clustering-quality audit read next to
    * e2_kmeans_objective: the objective says how TIGHT clusters are,
    * silhouette says how SEPARATED they are (s → 0: the vector sits on
    * a boundary; s < 0: assigned to the wrong centroid — the classic
    * "k is wrong / clusters overlap" signal). The simplified
    * (centroid-based) variant IS the scale path: full silhouette is
    * O(n²) pairwise, this is one n·k candidate pass. Exactness: the
    * candidate rows are one per (vector, centroid), so the top-2 sims
    * ARE (a, b) — taken from one sorted collect_list of k structs per
    * vector (k is tiny and bounded); per-row s micro-quantizes and the
    * cluster mean uses the exact integer half-up microMean identity
    * (order-independent; |s| ≤ 1 is far inside its bound). A vector
    * equidistant-at-0 from both tops (a = b = 1-sim = 0) emits s = 0.
    * Plan at 100 TB: the k-row codebook broadcasts into one scan-side
    * candidate pass; the per-vector fold and the k-key cluster fold
    * both partial-combine map-side — the corpus never shuffles. */
  def e2Silhouette(s: SparkSession, d: String): DataFrame = {
    val cen = centroidArrays(s, d)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("enrm", graft.functions.Vectors.l2NormD(col("ed")))
    e.join(broadcast(cen))
      .withColumn("sim",
        graft.functions.Vectors.dotD(col("ed"), col("cen")) /
          (col("enrm") * col("cnrm")))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("sim"),
        (-col("clabel")).as("nl"))), asc = false).as("t"))
      .select(col("vec_id"), (-col("t")(0)("nl")).cast("long").as("cluster"),
        col("t")(0)("sim").as("a_sim"), col("t")(1)("sim").as("b_sim"))
      .withColumn("x",
        when(greatest(lit(1.0) - col("a_sim"), lit(1.0) - col("b_sim")) > 0.0,
          (col("a_sim") - col("b_sim")) /
            greatest(lit(1.0) - col("a_sim"), lit(1.0) - col("b_sim")))
          .otherwise(lit(0.0)))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), microMean.as("mean_sil"))
      .orderBy("cluster")
  }

  /** Power-iteration round count — interpolated into BOTH engines. */
  val TopPcIters = 3

  /** E2 — TOP PRINCIPAL COMPONENT by matrix-free POWER ITERATION: three
    * unrolled rounds of v ← normalize(Σᵢ (xᵢ·v)·xᵢ) from the exact unit
    * start v₀ = (1/8,…,1/8) (64·(1/8)² = 1, exactly representable),
    * emitting the final direction and the Rayleigh eigenvalue estimate
    * λ = ‖Σ(xᵢ·v)xᵢ‖ — the dominant-direction extraction behind
    * "All-but-the-top" embedding post-processing (Mu & Viswanath 2018:
    * frequency-direction removal that measurably improves similarity
    * search over raw embeddings) and the isotropy check run before
    * trusting cosine retrieval at all. Never materializes the d×d
    * covariance: each round is ONE corpus scan (xᵢ·v scan-side against
    * the broadcast 1-row direction, the kmeans codebook discipline).
    * Exactness: the ONLY cross-row reduction is the per-dim
    * contribution sum, made order-independent by micro-quantizing
    * s·xᵢⱼ scan-side and summing exact integers in DECIMAL(38,0)
    * (longs overflow at Σ|s·x|·10⁶ ≈ 10¹⁹ on a 10¹² corpus — the
    * e8_gini rule); everything after is scalar double arithmetic in
    * identical operation order on identical inputs, so inter-round
    * directions are bit-identical UNROUNDED doubles and only the
    * output rounds (6-dp, the e9_pagerank float contract). Plan at
    * 100 TB: three narrow scans, 64 decimal keys per exchange, the
    * direction rides as a 1-row localCheckpoint — nothing else moves. */
  def e2TopPc(s: SparkSession, d: String): DataFrame = {
    topPcDirection(s, d)
      .select(posexplode(col("varr")).as(Seq("dim0", "vc")), col("lam"))
      .select((col("dim0") + 1).cast("long").as("dim"),
        round(col("vc"), 6).as("pc"), round(col("lam"), 4).as("lambda"))
      .orderBy("dim")
  }

  /** E2 — ALL-BUT-THE-TOP retrieval audit: does removing the top
    * principal component CHANGE what retrieval returns? For the sampled
    * query set, the exact global cosine top-1 over RAW embeddings vs
    * over residuals rᵢ = xᵢ − (xᵢ·v)v (v = the e2_top_pc direction,
    * shared builder — the can't-drift rule), with the per-query agree
    * flag. This is the ship/no-ship number for the Mu & Viswanath
    * post-processing the e2_top_pc Scaladoc cites: λ quantifies HOW
    * dominant the common direction is, this measures whether its
    * removal actually re-ranks neighbors (the e2_sq8_recall reading,
    * applied to isotropization instead of quantization). Exactness:
    * v arrives as the bit-identical unrounded direction both engines
    * derive from exact integer sums; residuals are scalar double
    * arithmetic in identical order; both top-1s are the map-side
    * min(struct) fold with vec_id tie-break. Plan at 100 TB: the three
    * power-iteration scans run ONCE into the per-(session, corpus)
    * residual memo (corpus-width — vec_id + the 64-double residual +
    * its norm, NOT a 2×-width raw+residual copy: the raw leg reads the
    * shared exact-truth memo), and the audit's steady-state cost is one
    * memo scan × the broadcast sample. Un-memoized, the residual was
    * recomputed (with the power-scan subtree under it) once per LEG per
    * EXECUTION — 79 s per execution at 1000× in the r13 probe; the
    * memoized steady state measures 0.60 s there (one-time build 95 s,
    * paid once per session next to the exact-truth memo). */
  def e2Abtt(s: SparkSession, d: String): DataFrame = {
    val e = abttResiduals(s, d)
    val qs = broadcast(sampledQueryIds(s, d))
    val qe = broadcast(e.join(qs, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"),
        col("rd").as("qrd"), col("rn").as("qrn")))
    def top1(vec: String, qvec: String, nrm: String, qnrm: String) =
      e.join(qe, col("qid") =!= col("vec_id"))
        .select(col("qid"),
          (-(graft.functions.Vectors.dotD(col(vec), col(qvec)) /
            (col(nrm) * col(qnrm)))).as("ns"),
          col("vec_id").as("nb"))
        .groupBy("qid")
        .agg(min(struct(col("ns"), col("nb"))).as("m"))
        .select(col("qid"), col("m.nb"))
    // RAW leg (round 12): the raw-embedding global top-1 IS the shared
    // exact-truth memo's cos_g row (the double-cast zip_with dot here and
    // the native float dot there widen per-element and accumulate in the
    // same index order — bit-identical doubles), so only the RESIDUAL leg
    // still pays a sample × corpus scan; this roughly halves the audit
    val raw = exactSampleTruth(s, d)
      .filter(col("leg") === "cos_g" && col("rn") === 1)
      .select(col("vec_id").as("qid"), col("other_id").as("raw_nb"))
    val res = top1("rd", "qrd", "rn", "qrn")
      .withColumnRenamed("nb", "abtt_nb")
    raw.join(res, "qid")
      .select(col("qid").as("vec_id"), col("raw_nb"), col("abtt_nb"),
        when(col("raw_nb") === col("abtt_nb"), 1L).otherwise(0L)
          .as("agree"))
      .orderBy("vec_id")
  }

  /** The e2_top_pc power-iteration loop, shared so e2_abtt's direction
    * cannot drift from the audited one; returns the 1-row (varr, lam). */
  private def topPcDirection(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
    var v = s.range(1).select(
      expr("transform(sequence(1, 64), i -> 0.125D)").as("varr"),
      lit(0.0).as("lam")).localCheckpoint(true)
    for (_ <- 1 to TopPcIters) {
      val sums = e.crossJoin(broadcast(v))
        .withColumn("sv",
          graft.functions.Vectors.dotD(col("ed"), col("varr")))
        .select(posexplode(col("ed")).as(Seq("dim", "x")), col("sv"))
        .withColumn("mic",
          floor(col("sv") * col("x") * lit(1000000.0) + lit(0.5)).cast(d38))
        .groupBy("dim").agg(sum(col("mic")).as("sd"))
      // the norm comes from the EXACT integer sum of squares (decimal —
      // order-independent, unlike a 64-term double fold whose 1-ulp
      // accumulation drift would flip micro-quantization floors next
      // round); both engines then round the same integer to double once.
      // Bound: Σ S² < 10³⁸ ⇒ |S_j| ≲ 1.25×10¹⁸ — holds to ~10¹¹ rows at
      // |s·x| ≤ 10; past that, quantize at 10⁴ instead (same identity).
      v = sums
        .groupBy()
        .agg(collect_list(struct(col("dim"), col("sd"))).as("t"),
          sum(col("sd") * col("sd")).as("ssq"))
        .select(expr(
          "transform(array_sort(t), p -> CAST(p.sd AS DOUBLE))").as("u"),
          sqrt(col("ssq").cast("double")).as("nrm"))
        .select(expr("transform(u, x -> x / nrm)").as("varr"),
          (col("nrm") / lit(1000000.0)).as("lam"))
        .localCheckpoint(true)
    }
    v
  }

  /** Embedding-cosine floor below which a lexical near-dup pair is
    * flagged as an embedding-model miss — interpolated into BOTH
    * engines; compared on the 4-dp ROUNDED cosine (the RangeTau
    * rounded-grid discipline). */
  val LexAgreeTau = 0.5

  /** E2 — LEXICAL ↔ EMBEDDING AGREEMENT: every LSH-verified near-dup
    * pair (the e1 pair table, Jaccard ≥ 0.2) scored by its EMBEDDING
    * cosine, with a low_cos flag where the model disagrees with the
    * lexical ground truth — the cross-modal sanity audit run before
    * trusting semantic dedup (e2_semdedup) or ANN retrieval on a new
    * embedding model: lexical near-duplicates are the one label-free
    * ground truth a corpus carries, and a pair that shares 20%+ of its
    * shingles but embeds below LexAgreeTau is either a model failure or
    * a boilerplate artifact — exactly the rows a model-rollout review
    * reads. Composes the SAME verified pair table as the e9 graph
    * family (can't-drift) and the house cosine kernel; ALL outputs are
    * 4-dp-grid values and exact ids. Plan at 100 TB: pair-table-sized —
    * two id-keyed joins fetch the pair's vectors (the e9 degree-join
    * shape), cosines are scan-side, nothing corpus-sized shuffles. */
  def e2LexicalAgreement(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(embeddings(s, d))
    val pairs = graft.ops.Dedup.e1MinhashPairs(s, d)
    pairs
      .join(e.select(col("vec_id").as("da"), col("embedding").as("ea"),
        col("nrm").as("na")), "da")
      .join(e.select(col("vec_id").as("db"), col("embedding").as("eb"),
        col("nrm").as("nb")), "db")
      .withColumn("cos_sim",
        round(graft.functions.Vectors.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 4))
      .select(col("da"), col("db"), col("jaccard"), col("cos_sim"),
        (col("cos_sim") < LexAgreeTau).as("low_cos"))
      .orderBy("da", "db")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e2_lexical_agreement" -> (e2LexicalAgreement _),
    "e2_abtt" -> (e2Abtt _),
    "e2_top_pc" -> (e2TopPc _),
    "e2_silhouette" -> (e2Silhouette _),
    "e2_graph_search" -> (e2GraphSearch _),
    "e2_hamming_ann" -> (e2HammingAnn _),
    "e2_hamming_rerank" -> (e2HammingRerank _),
    "e2_sq8_recall" -> (e2Sq8Recall _),
    "e2_sq8" -> (e2Sq8 _),
    "e2_ann_filtered" -> (e2AnnFiltered _),
    "e2_hard_negatives" -> (e2HardNegatives _),
    "e2_semdedup" -> (e2Semdedup _),
    "e2_semdedup_clusters" -> (e2SemdedupClusters _),
    "e2_ivf_stats" -> (e2IvfStats _),
    "e2_centroid_purity" -> (e2CentroidPurity _),
    "e6_semantic_leakage" -> (e6SemanticLeakage _),
    "e2_kmeans_iter" -> (e2KmeansIter _),
    "e2_kmeans3" -> (e2Kmeans3 _),
    "e2_kmeans_objective" -> (e2KmeansObjective _),
    "e2_cosine_topk" -> (e2CosineTopk _),
    "e2_knn_classify" -> (e2KnnClassify _),
    "e2_ann_lsh" -> (e2AnnLsh _),
    "e2_ann_multiprobe" -> (e2AnnMultiprobe _),
    "e2_embed_outliers" -> (e2EmbedOutliers _),
    "e2_recall_at_k" -> (e2RecallAtK _),
    "e2_ann_ivf" -> (e2AnnIvf _),
    "e2_ann_ivf2" -> (e2AnnIvf2 _),
    "e2_centroids" -> (e2Centroids _),
    "e2_vq_assign" -> (e2VqAssign _),
    "e2_pq_codes" -> (e2PqCodes _),
    "e2_pq_search" -> (e2PqSearch _),
    "e2_pq_serve" -> (e2PqServe _),
    "e2_ann_ivfpq" -> (e2AnnIvfPq _),
    "e2_ivf_ingest" -> (e2IvfIngest _),
    "e2_ivf_publish" -> (e2IvfPublish _),
    "e2_ivf_serve" -> (e2IvfServe _),
    "e2_ivf_serve2" -> (e2IvfServe2 _),
    "e2_pq_rerank" -> (e2PqRerank _),
    "e2_ann_recall" -> (e2AnnRecall _),
    "e2_ann_recall_sampled" -> (e2AnnRecallSampled _),
    "e2_recall_at_k_sampled" -> (e2RecallAtKSampled _),
    "e2_ann_pareto_sampled" -> (e2AnnParetoSampled _),
    "e2_dim_ablation_sampled" -> (e2DimAblationSampled _),
    "e2_ann_pareto" -> (e2AnnPareto _),
    "e2_dim_ablation" -> (e2DimAblation _),
    "e2_mips" -> (e2Mips _),
    "e2_label_noise" -> (e2LabelNoise _),
    "e2_mmr" -> (e2Mmr _),
    "e2_ivf_rebalance" -> (e2IvfRebalance _),
    "e2_ivf_merge" -> (e2IvfMerge _),
    "e2_hybrid_rrf" -> (e2HybridRrf _),
    "e2_kcenter" -> (e2Kcenter _),
    "e2_knn_graph" -> (e2KnnGraph _),
    "e9_link_pred_knn" -> (e9LinkPredKnn _),
    "e9_adamic_adar" -> (e9AdamicAdar _),
    "e2_recall_per_query" -> (e2RecallPerQuery _),
    "e2_rocchio" -> (e2Rocchio _),
    "e2_range_search" -> (e2RangeSearch _),
    "e2_pq_distortion" -> (e2PqDistortion _),
    "e2_rvq" -> (e2Rvq _),
    "e2_triplet_mining" -> (e2TripletMining _),
    "e2_triplet_mining_sampled" -> (e2TripletMiningSampled _),
  )

  /** DuckDB replica of hyperplaneExpression.sigImpl + the bucketed top-1
    * search: plane signs from the same splitmix-style mix of (plane, dim),
    * signed accumulation in index order (±1.0 * x is IEEE-exact, so the
    * reduce matches the Scala loop bit for bit), then bucket join and
    * deterministic top-1. Dim is pinned to the fixture's 64; nPlanes 12. */
  /** Shared CTE prefix ending in `emb` (vec_id, e) and `sig`
    * (vec_id, bucket) — the plane derivation both LSH oracles use. */
  private val lshSigCtes: String = {
    import OracleSql._
    s"""pl0 AS (
       |  SELECT p.range AS p, i.range AS i,
       |    (CAST(p.range AS HUGEINT) * $A + CAST(i.range AS HUGEINT) * $C1) % $M AS z0
       |  FROM range(0, 12) p, range(0, 64) i),
       |pl1 AS (SELECT p, i, ${mulmod("xor(z0, z0 >> 30)", C1)} AS z1 FROM pl0),
       |pl2 AS (SELECT p, i, ${mulmod("xor(z1, z1 >> 27)", C2)} AS z2 FROM pl1),
       |planes AS (
       |  SELECT p, list(CASE WHEN xor(z2, z2 >> 31) % 2 = 1 THEN 1.0 ELSE -1.0 END ORDER BY i) AS sgn
       |  FROM pl2 GROUP BY p),
       |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |accs AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, 65), i -> sgn[CAST(i AS INT)] * e[CAST(i AS INT)])),
       |      (a, b) -> a + b) AS acc
       |  FROM emb, planes),
       |sig AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN acc >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM accs GROUP BY vec_id)""".stripMargin
  }

  private val annLshOracle: String =
    s"""WITH $lshSigCtes,
       |j AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    list_cosine_similarity(x.e, y.e) AS sim
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  JOIN emb x ON x.vec_id = a.vec_id JOIN emb y ON y.vec_id = b.vec_id)
       |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
       |  SELECT vec_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rn FROM j)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Multi-probe replica: base bucket plus the 12 one-bit-flip probes
    * (range(-1,12): f = -1 is the unflipped base probe). */
  private val annMultiprobeOracle: String =
    s"""WITH $lshSigCtes,
       |probes AS (
       |  SELECT vec_id, xor(bucket, CASE WHEN f.range < 0 THEN 0
       |    ELSE CAST(power(2, f.range) AS BIGINT) END) AS pbucket
       |  FROM sig, range(-1, 12) f),
       |j AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    list_cosine_similarity(x.e, y.e) AS sim
       |  FROM probes a JOIN sig b ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id
       |  JOIN emb x ON x.vec_id = a.vec_id JOIN emb y ON y.vec_id = b.vec_id)
       |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
       |  SELECT vec_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rn FROM j)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** DuckDB replica of the IVF path: seeds are the ceil(√n) vec_ids with
    * the smallest signed splitmix64(vec_id) (= minhashExpression.mix64,
    * the √n via a subquery LIMIT), assignment is argmax cosine over seeds
    * with the same tie-break, then top-1 within the probed cell(s) —
    * build side indexed under its top-1 cell, probe side fanned out to
    * its top-`nProbe` cells. */
  /** The nProbe=1 IVF chain exposed for the cross-family e1_hybrid_dedup
    * oracle (Dedup.scala) — same text as every e2 consumer uses. */
  private[ops] lazy val ivfCtesForHybrid: String = ivfCtes(1)

  /** Shared maintenance-split oracle chain (the twin of
    * [[ivfIngestSplit]]): the 90/10 splitmix split, the frozen
    * ceil(√n₉₀) quantizer, and BOTH ranked assignments — ending in `ca`
    * (corpus, crn) and `ba` (batch, crn). Composed verbatim by the
    * ingest audit and the publish loop so they cannot drift. */
  private lazy val ivfIngestSplitCtes: String = {
    import OracleSql._
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |sl_in AS (SELECT vec_id,
       |  xor(CAST(vec_id AS HUGEINT), CAST('$IvfIngestSalt' AS HUGEINT)) AS h0
       |  FROM embeddings),
       |${mixCtes("sl", "h0", "hs", Seq("vec_id"))},
       |sided AS (SELECT vec_id,
       |  CAST((hs % CAST(power(2, 63) AS HUGEINT)) % 100 AS BIGINT) AS slot
       |  FROM sl),
       |corp AS (SELECT e.vec_id, e.e FROM emb e
       |  JOIN sided ON e.vec_id = sided.vec_id WHERE slot < 90),
       |btch AS (SELECT e.vec_id, e.e FROM emb e
       |  JOIN sided ON e.vec_id = sided.vec_id WHERE slot >= 90),
       |ivm_in AS (SELECT vec_id, CAST(vec_id AS HUGEINT) AS h0 FROM corp),
       |${mixCtes("ivm", "h0", "hm", Seq("vec_id"))},
       |ivs AS (SELECT vec_id, ${toSigned("hm")} AS m FROM ivm),
       |seeds AS (SELECT c.vec_id AS cell, c.e AS ce
       |  FROM corp c JOIN ivs ON c.vec_id = ivs.vec_id
       |  ORDER BY ivs.m, c.vec_id
       |  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM corp)),
       |ca AS (SELECT c.vec_id, s.cell, row_number() OVER (
       |    PARTITION BY c.vec_id
       |    ORDER BY list_cosine_similarity(c.e, s.ce) DESC, s.cell) AS crn
       |  FROM corp c, seeds s),
       |ba AS (SELECT b.vec_id, s.cell, row_number() OVER (
       |    PARTITION BY b.vec_id
       |    ORDER BY list_cosine_similarity(b.e, s.ce) DESC, s.cell) AS crn
       |  FROM btch b, seeds s)""".stripMargin
  }

  /** IVF oracle CTE prefix ending in `build` (vec_id, e, cell — every
    * vector under its top-1 cell) and `probe` (top-`nProbe` cells). */
  private def ivfCtes(nProbe: Int): String = {
    import OracleSql._
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |mx0 AS (SELECT vec_id, (CAST(vec_id AS HUGEINT) + $A) % $M AS z0 FROM emb),
       |mx1 AS (SELECT vec_id, ${mulmod("xor(z0, z0 >> 30)", C1)} AS z1 FROM mx0),
       |mx2 AS (SELECT vec_id, ${mulmod("xor(z1, z1 >> 27)", C2)} AS z2 FROM mx1),
       |mx AS (SELECT vec_id, ${toSigned("xor(z2, z2 >> 31)")} AS m FROM mx2),
       |seeds AS (
       |  SELECT e.vec_id AS cell, e.e AS ce
       |  FROM emb e JOIN mx ON e.vec_id = mx.vec_id
       |  ORDER BY mx.m, e.vec_id
       |  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |ranked AS (
       |  SELECT emb.vec_id, emb.e, s.cell,
       |    row_number() OVER (PARTITION BY emb.vec_id
       |      ORDER BY list_cosine_similarity(emb.e, s.ce) DESC, s.cell) AS crn
       |  FROM emb, seeds s),
       |build AS (SELECT vec_id, e, cell FROM ranked WHERE crn = 1),
       |probe AS (SELECT vec_id, e, cell FROM ranked WHERE crn <= $nProbe)""".stripMargin
  }

  private def annIvfOracle(nProbe: Int): String =
    s"""WITH ${ivfCtes(nProbe)}
       |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    list_cosine_similarity(a.e, b.e) AS sim,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
       |  FROM probe a JOIN build b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Shared centroid CTE (per-label per-dim means; dim pinned to the
    * fixture's 64) for the centroid and assignment oracles. The mean is
    * the same order-independent micro-unit form as the Spark `microMean`:
    * floor(x·1e6 + 0.5) per coordinate (bit-deterministic on identical
    * doubles), exact integer sum, INTEGER half-up rounding, one exact
    * /10000.0 — a plain round(avg(DOUBLE), 4) diverges from Spark both
    * on accumulation order and on decimal-midpoint quotients (Spark
    * rounds the shortest-decimal rendering, DuckDB the binary value).
    * Formula and bounds documented at Spark's `microMean`. */
  private val centroidCte: String =
    """cend AS (
      |  SELECT label, i.range AS dim,
      |    CAST((2 * CAST(sum(CAST(floor(CAST(embedding[CAST(i.range + 1 AS INT)] AS DOUBLE)
      |          * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
      |        + count(*) * 20000100) // (200 * count(*)) - 100000 AS DOUBLE)
      |      / 10000.0 AS c,
      |    count(*) AS n
      |  FROM embeddings, range(0, 64) i
      |  GROUP BY label, i.range)""".stripMargin

  /** Shared PQ CTE chain: deterministic codebook (splitmix64 seed order),
    * per-(vector, subspace, codeword) squared distances via the same
    * index-ordered lambda arithmetic as the Spark `subDists`, and the
    * argmin codes. The repeated subtraction inside the lambda evaluates
    * to the identical IEEE double both times. */
  private def pqCtes: String = {
    import OracleSql._
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
       |sm_in AS (SELECT vec_id,
       |  xor(CAST(vec_id AS HUGEINT), CAST('$PqSeedSalt' AS HUGEINT)) AS h0
       |  FROM embeddings),
       |${mixCtes("sm", "h0", "h1", Seq("vec_id"))},
       |smm AS (SELECT vec_id, ${toSigned("h1")} AS m FROM sm),
       |sd AS (SELECT row_number() OVER (ORDER BY smm.m, e.vec_id) - 1 AS seed_idx,
       |    e.ed AS cd
       |  FROM emb e JOIN smm ON e.vec_id = smm.vec_id
       |  ORDER BY smm.m, e.vec_id LIMIT $PqKsub),
       |dists AS (SELECT e.vec_id, s.seed_idx, j.range AS sub,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, ${PqDsub + 1}), i ->
       |      (e.ed[CAST(j.range * $PqDsub + i AS INT)] -
       |        s.cd[CAST(j.range * $PqDsub + i AS INT)]) *
       |      (e.ed[CAST(j.range * $PqDsub + i AS INT)] -
       |        s.cd[CAST(j.range * $PqDsub + i AS INT)]))),
       |    (a, b) -> a + b) AS dist
       |  FROM emb e, sd s, range(0, $PqM) j),
       |codes AS (SELECT vec_id, CAST(sub AS BIGINT) AS sub,
       |    CAST(seed_idx AS BIGINT) AS code FROM (
       |  SELECT vec_id, sub, seed_idx, row_number() OVER (
       |    PARTITION BY vec_id, sub ORDER BY dist, seed_idx) AS rn FROM dists)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Full CTE chain through `ad` (qid, vec_id, adist) — the ADC distance
    * table shared by the search and re-rank oracles. */
  private def adCtes: String = {
    import OracleSql._
    s"""$pqCtes,
       |qm_in AS (SELECT vec_id,
       |  xor(CAST(vec_id AS HUGEINT), CAST('$PqQuerySalt' AS HUGEINT)) AS h0
       |  FROM embeddings),
       |${mixCtes("qm", "h0", "h1", Seq("vec_id"))},
       |qmm AS (SELECT vec_id, ${toSigned("h1")} AS m FROM qm),
       |qs AS (SELECT e.vec_id AS qid, e.ed AS qd
       |  FROM emb e JOIN qmm ON e.vec_id = qmm.vec_id
       |  ORDER BY qmm.m, e.vec_id LIMIT $PqNQueries),
       |pd AS (SELECT q.qid, s.seed_idx, j.range AS sub,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(1, ${PqDsub + 1}), i ->
       |      (q.qd[CAST(j.range * $PqDsub + i AS INT)] -
       |        s.cd[CAST(j.range * $PqDsub + i AS INT)]) *
       |      (q.qd[CAST(j.range * $PqDsub + i AS INT)] -
       |        s.cd[CAST(j.range * $PqDsub + i AS INT)]))),
       |    (a, b) -> a + b) AS pd
       |  FROM qs q, sd s, range(0, $PqM) j),
       |dta AS (SELECT qid, list(pd ORDER BY sub * $PqKsub + seed_idx) AS dt
       |  FROM pd GROUP BY qid),
       |carr AS (SELECT vec_id, list(code ORDER BY sub) AS codes
       |  FROM codes GROUP BY vec_id),
       |ad AS (SELECT d.qid, c.vec_id,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(0, $PqM), j ->
       |      d.dt[CAST(j * $PqKsub + c.codes[CAST(j + 1 AS INT)] + 1 AS INT)])),
       |    (a, b) -> a + b) AS adist
       |  FROM carr c, dta d WHERE c.vec_id <> d.qid)""".stripMargin
  }

  /** Per-(query, other) Hamming distances over unrolled sign bits —
    * shared by the e2_hamming_ann and e2_hamming_rerank oracles (the two
    * stages of the binarized deployment rank the SAME signatures).
    * Requires qselCtes. Produces `hm` (qid, oid, ham). */
  private def hamCtes: String =
    """hbits AS (SELECT vec_id, i,
      |    CASE WHEN x > 0 THEN 1 ELSE 0 END AS b
      |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |      unnest(range(len(embedding))) AS i FROM embeddings)),
      |hq AS (SELECT hbits.* FROM hbits JOIN qsel USING (vec_id)),
      |hm AS (SELECT hq.vec_id AS qid, o.vec_id AS oid,
      |    sum(CASE WHEN hq.b <> o.b THEN 1 ELSE 0 END) AS ham
      |  FROM hq JOIN hbits o ON hq.i = o.i AND hq.vec_id <> o.vec_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact global DOUBLE[] cosine top-1 for the sampled query set with
    * the house tie-break — the oracle twin of the exactSampleTruth memo's
    * cos_g leg. Requires qselCtes. Produces `he` (qid, exact_nb). */
  private def exactTop1Ctes: String =
    """hx AS (SELECT a.vec_id AS qid, b.vec_id AS oid,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings a JOIN qsel ON a.vec_id = qsel.vec_id
      |  JOIN embeddings b ON b.vec_id <> a.vec_id),
      |he AS (SELECT qid, oid AS exact_nb
      |  FROM (SELECT qid, oid, row_number() OVER (
      |      PARTITION BY qid ORDER BY sim DESC, oid) AS rn FROM hx)
      |  WHERE rn = 1)""".stripMargin

  private def pqSearchOracle: String =
    s"""WITH $adCtes
       |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, round(adist, 4) AS adist
       |FROM (SELECT qid, vec_id, adist, row_number() OVER (
       |  PARTITION BY qid ORDER BY adist, vec_id) AS rn FROM ad)
       |WHERE rn <= $PqTopK ORDER BY qid, rn""".stripMargin

  /** ADC shortlist (top PqRerankC by approximate distance) re-ordered by
    * exact cosine over the raw vectors — same two-stage shape as the
    * Spark plan. */
  private def pqRerankOracle: String =
    s"""WITH $adCtes,
       |cand AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (
       |    PARTITION BY qid ORDER BY adist, vec_id) AS crn FROM ad)
       |  WHERE crn <= $PqRerankC)
       |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, round(sim, 4) AS sim
       |FROM (SELECT c.qid, c.vec_id,
       |    list_cosine_similarity(q.ed, v.ed) AS sim,
       |    row_number() OVER (PARTITION BY c.qid
       |      ORDER BY list_cosine_similarity(q.ed, v.ed) DESC, c.vec_id) AS rn
       |  FROM cand c JOIN emb q ON q.vec_id = c.qid
       |  JOIN emb v ON v.vec_id = c.vec_id)
       |WHERE rn <= $PqTopK ORDER BY qid, rn""".stripMargin

  val oracles: Map[String, String] = Map(
    // unrolled greedy walk over the shared knn CTEs (the can't-drift
    // rule); entry = min splitmix64 rank off the IVF mix chain; argmax
    // includes the current node so a converged walk is a fixed point
    "e2_graph_search" -> {
      val steps = (1 to GraphSearchSteps).map { k =>
        s"""gc$k AS (SELECT s.qid, s.qe, knn.other_id AS cid,
           |    list_cosine_similarity(s.qe, e.e) AS csim
           |  FROM gs${k - 1} s JOIN knn ON s.cur = knn.vec_id
           |    AND knn.other_id <> s.qid
           |  JOIN emb e ON knn.other_id = e.vec_id),
           |ga$k AS (SELECT qid, cid, csim FROM gc$k
           |  UNION ALL SELECT qid, cur, sim FROM gs${k - 1}),
           |gb$k AS (SELECT qid, cid AS ncur, csim AS nsim FROM (
           |    SELECT qid, cid, csim, row_number() OVER (PARTITION BY qid
           |      ORDER BY csim DESC, cid) AS rn FROM ga$k) WHERE rn = 1),
           |gs$k AS (SELECT s.qid, s.qe, b.ncur AS cur, b.nsim AS sim,
           |    s.hops + CASE WHEN b.ncur <> s.cur THEN 1 ELSE 0 END AS hops
           |  FROM gs${k - 1} s JOIN gb$k b USING (qid))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ivfCtes(1)},
         |$knnMutCtes,
         |$qselCtes,
         |gse AS (SELECT eid, ern FROM (SELECT vec_id AS eid,
         |    row_number() OVER (ORDER BY m, vec_id) AS ern FROM mx)
         |  WHERE ern <= 2),
         |gs0 AS (SELECT qid, qe, cur, sim, 0 AS hops FROM (
         |  SELECT q.vec_id AS qid, qe.e AS qe, g.eid AS cur,
         |    list_cosine_similarity(qe.e, ee.e) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY g.ern)
         |      AS prn
         |  FROM qsel q JOIN emb qe ON q.vec_id = qe.vec_id
         |  CROSS JOIN gse g JOIN emb ee ON g.eid = ee.vec_id
         |  WHERE g.eid <> q.vec_id) WHERE prn = 1),
         |$steps,
         |gx AS (SELECT q.vec_id AS qid, b.vec_id AS oid,
         |    list_cosine_similarity(a.e, b.e) AS sim
         |  FROM qsel q JOIN emb a ON q.vec_id = a.vec_id
         |  JOIN emb b ON b.vec_id <> a.vec_id),
         |ge AS (SELECT qid, oid AS exact_nb
         |  FROM (SELECT qid, oid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, oid) AS rn FROM gx) WHERE rn = 1)
         |SELECT f.qid AS vec_id, f.cur AS final_nb,
         |  round(f.sim, 4) AS sim, CAST(f.hops AS BIGINT) AS hops,
         |  ge.exact_nb,
         |  CAST(CASE WHEN f.cur = ge.exact_nb THEN 1 ELSE 0 END AS BIGINT)
         |    AS hit
         |FROM gs$GraphSearchSteps f JOIN ge USING (qid)
         |ORDER BY vec_id""".stripMargin
    },
    // sign bits unrolled per dimension (no bit packing needed oracle-
    // side: Hamming = count of sign mismatches); exact side is the
    // global DOUBLE[] cosine top-1 with the house tie-break
    "e2_hamming_ann" ->
      s"""WITH $qselCtes,
         |$hamCtes,
         |hb AS (SELECT qid, oid AS ham_nb, CAST(ham AS BIGINT) AS hamming
         |  FROM (SELECT qid, oid, ham, row_number() OVER (
         |      PARTITION BY qid ORDER BY ham, oid) AS rn FROM hm)
         |  WHERE rn = 1),
         |$exactTop1Ctes
         |SELECT hb.qid AS vec_id, ham_nb, hamming, exact_nb,
         |  CAST(CASE WHEN ham_nb = exact_nb THEN 1 ELSE 0 END AS BIGINT)
         |    AS hit
         |FROM hb JOIN he USING (qid) ORDER BY vec_id""".stripMargin,
    // top-HamRerankC Hamming shortlist re-scored by exact DOUBLE[]
    // cosine; same shared ham / exact-top-1 CTE text as e2_hamming_ann
    // (can't-drift)
    "e2_hamming_rerank" ->
      s"""WITH $qselCtes,
         |$hamCtes,
         |hsl AS (SELECT qid, oid FROM (SELECT qid, oid, row_number() OVER (
         |      PARTITION BY qid ORDER BY ham, oid) AS rn FROM hm)
         |  WHERE rn <= $HamRerankC),
         |rr0 AS (SELECT hsl.qid, hsl.oid,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])) AS sim
         |  FROM hsl JOIN embeddings a ON hsl.qid = a.vec_id
         |  JOIN embeddings b ON hsl.oid = b.vec_id),
         |rr AS (SELECT qid, oid AS rr_nb, round(sim, 4) AS rr_sim
         |  FROM (SELECT qid, oid, sim, row_number() OVER (
         |      PARTITION BY qid ORDER BY sim DESC, oid) AS rn FROM rr0)
         |  WHERE rn = 1),
         |$exactTop1Ctes
         |SELECT rr.qid AS vec_id, rr_nb, rr_sim, exact_nb,
         |  CAST(CASE WHEN rr_nb = exact_nb THEN 1 ELSE 0 END AS BIGINT)
         |    AS hit
         |FROM rr JOIN he USING (qid) ORDER BY vec_id""".stripMargin,
    "e2_sq8" ->
      """WITH c AS (SELECT CAST(i.range AS INT) AS dim,
        |    CAST(embedding[CAST(i.range + 1 AS INT)] AS DOUBLE) AS x
        |  FROM embeddings, range(0, 64) i),
        |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM c GROUP BY dim),
        |q AS (SELECT c.dim, x, mn, mx,
        |    CASE WHEN mx > mn THEN CAST(least(greatest(
        |      floor((x - mn) * 255.0 / (mx - mn) + 0.5), 0.0), 255.0) AS BIGINT)
        |    ELSE 0 END AS code
        |  FROM c JOIN st USING (dim)),
        |r AS (SELECT dim, mn, mx, code, x,
        |    CASE WHEN mx > mn THEN mn + code * (mx - mn) / 255.0 ELSE mn END
        |      AS recon
        |  FROM q)
        |SELECT dim, round(min(mn), 6) AS mn, round(min(mx), 6) AS mx,
        |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
        |  CAST(sum(CAST(floor((x - recon) * (x - recon) * 10000000000.0 + 0.5)
        |    AS BIGINT)) // count(*) AS BIGINT) AS mse_e10
        |FROM r GROUP BY dim ORDER BY dim""".stripMargin,
    "e2_semdedup" ->
      s"""WITH ${ivfCtes(1)},
         |cand AS (
         |  SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS keeper_id,
         |    list_cosine_similarity(a.e, b.e) AS sim
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE list_cosine_similarity(a.e, b.e) >= $SemDedupTau)
         |SELECT vec_id, cell, keeper_id, round(sim, 4) AS sim FROM (
         |  SELECT vec_id, cell, keeper_id, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY keeper_id) AS rn
         |  FROM cand) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // per-dim affine reconstruction replicated exactly (identical IEEE
    // expression on identical mn/mx/integer codes), vectors re-assembled
    // dim-ordered, both rank orders tie-broken by neighbor id
    "e2_sq8_recall" ->
      s"""WITH $qselCtes,
         |$sampledExactCte,
         |px AS (SELECT vec_id, CAST(label AS INT) AS label,
         |  i.range AS dim,
         |  CAST(embedding AS DOUBLE[])[CAST(i.range + 1 AS INT)] AS x
         |  FROM embeddings, range(0, 64) i),
         |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx
         |  FROM px GROUP BY dim),
         |rc AS (SELECT px.vec_id, px.label, px.dim,
         |  CASE WHEN mx > mn THEN mn + CAST(least(greatest(
         |      floor((x - mn) * 255.0 / (mx - mn) + 0.5), 0.0), 255.0)
         |    AS BIGINT) * (mx - mn) / 255.0 ELSE mn END AS r
         |  FROM px JOIN stats USING (dim)),
         |rv AS MATERIALIZED (SELECT vec_id, label,
         |  list(r ORDER BY dim) AS re FROM rc GROUP BY vec_id, label),
         |sq AS (SELECT vec_id, other_id AS sq8_nb FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(a.re, b.re) DESC, b.vec_id) AS rn
         |  FROM rv a JOIN rv b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel)) WHERE rn = 1),
         |ex AS (SELECT vec_id, other_id AS exact_nb FROM exs
         |  WHERE rn = 1)
         |SELECT CAST(e.label AS INT) AS label, count(*) AS n,
         |  CAST(sum(CASE WHEN sq.sq8_nb = ex.exact_nb THEN 1 ELSE 0 END)
         |    AS BIGINT) AS top1_agree,
         |  CAST((10000 * sum(CASE WHEN sq.sq8_nb = ex.exact_nb
         |    THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS agree_bp
         |FROM ex JOIN embeddings e USING (vec_id)
         |LEFT JOIN sq USING (vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the e2_semdedup pair predicate + the e6_train_val_test slot gate
    // replicated on vec_id (same SplitSalt; the e8_centroid_shift qm-
    // chain form), so the audit composes the split definition it audits
    "e6_semantic_leakage" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(Sampling.SplitSalt)
      s"""WITH ${ivfCtes(1)},
         |prs AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.e, b.e) >= $SemDedupTau),
         |sp_in AS (SELECT vec_id,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
         |  FROM embeddings),
         |${mixCtes("sp", "q0", "qm", Seq("vec_id"))},
         |spl AS MATERIALIZED (SELECT vec_id,
         |  CASE WHEN (qm % CAST(power(2, 63) AS HUGEINT)) % 100 < 90
         |       THEN 'train'
         |       WHEN (qm % CAST(power(2, 63) AS HUGEINT)) % 100 < 95
         |       THEN 'val' ELSE 'test' END AS split FROM sp)
         |SELECT least(sa.split, sb.split) AS split_a,
         |  greatest(sa.split, sb.split) AS split_b,
         |  count(*) AS n_pairs
         |FROM prs JOIN spl sa ON prs.va = sa.vec_id
         |JOIN spl sb ON prs.vb = sb.vec_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // integer votes over the ivfCtes assignment; majority ties to the
    // smaller label (the e2_knn_classify discipline), one DIV per cell
    "e2_centroid_purity" ->
      s"""WITH ${ivfCtes(1)},
         |bl AS (SELECT b.cell, CAST(e.label AS INT) AS label
         |  FROM build b JOIN embeddings e ON b.vec_id = e.vec_id),
         |vc AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS v
         |  FROM bl GROUP BY 1, 2),
         |tp AS (SELECT cell, label AS top_label, v AS top_votes FROM (
         |  SELECT cell, label, v, row_number() OVER (PARTITION BY cell
         |    ORDER BY v DESC, label) AS r FROM vc) WHERE r = 1),
         |sz AS (SELECT cell, CAST(sum(v) AS BIGINT) AS n FROM vc
         |  GROUP BY cell)
         |SELECT sz.cell, sz.n, tp.top_label, tp.top_votes,
         |  CAST((10000 * tp.top_votes) // sz.n AS BIGINT) AS purity_bp
         |FROM sz JOIN tp USING (cell) ORDER BY cell""".stripMargin,
    // components over the SAME cell-bucketed pair predicate e2_semdedup
    // prunes with; min-label via recursive reachability (the
    // e1_dedup_clusters oracle form — the star pass must agree with it)
    "e2_semdedup_clusters" ->
      s"""WITH RECURSIVE ${ivfCtes(1)},
         |prs AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.e, b.e) >= $SemDedupTau),
         |edges AS (SELECT va AS x, vb AS y FROM prs
         |  UNION SELECT vb, va FROM prs),
         |reach(v, lab) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.x, r.lab FROM edges e JOIN reach r ON r.v = e.y)
         |SELECT v AS vec_id, min(lab) AS cluster FROM reach
         |GROUP BY v ORDER BY vec_id""".stripMargin,
    "e2_ivf_stats" ->
      s"""WITH ${ivfCtes(1)},
         |pops AS (SELECT cell, count(*) AS pop FROM build GROUP BY cell)
         |SELECT count(*) AS n_cells, min(pop) AS min_pop,
         |  round(avg(pop), 4) AS avg_pop, max(pop) AS max_pop,
         |  round(max(pop) / avg(pop), 4) AS skew
         |FROM pops""".stripMargin,
    // E-step sim replicates the Spark fold bit for bit: index-ordered
    // dot (the zip_with/aggregate chain), enrm/cnrm as sqrt of the same
    // left fold of x*x, one dot/(enrm*cnrm) division — so the argmax
    // tie-break sees IDENTICAL doubles in both engines. DuckDB's
    // list_cosine_similarity orders its internal ops differently and two
    // near-equal cosines could rank differently across engines.
    "e2_kmeans_iter" ->
      s"""WITH $centroidCte,
         |cen AS (SELECT label AS clabel, list(c ORDER BY dim) AS cen
         |  FROM cend GROUP BY label),
         |cenn AS (SELECT clabel, cen,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(cen, x -> x * x)), (a, b) -> a + b)) AS cnrm
         |  FROM cen),
         |embn AS (SELECT vec_id, ed,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(ed, x -> x * x)), (a, b) -> a + b)) AS enrm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |    FROM embeddings)),
         |sims AS (SELECT e.vec_id, c.clabel,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, 65), i ->
         |      e.ed[CAST(i AS INT)] * c.cen[CAST(i AS INT)])),
         |    (a, b) -> a + b) / (e.enrm * c.cnrm) AS sim
         |  FROM embn e, cenn c),
         |asg AS (SELECT vec_id, clabel AS cluster FROM (
         |  SELECT vec_id, clabel,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, clabel) AS rn
         |  FROM sims) WHERE rn = 1),
         |nc AS (
         |  SELECT a.cluster, i.range AS dim,
         |    CAST((2 * CAST(sum(CAST(floor(CAST(e.embedding[CAST(i.range + 1 AS INT)]
         |          AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         |        + count(*) * 20000100) // (200 * count(*)) - 100000 AS DOUBLE)
         |      / 10000.0 AS c_new,
         |    count(*) AS n
         |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id, range(0, 64) i
         |  GROUP BY a.cluster, i.range)
         |SELECT nc.cluster, CAST(nc.dim AS INT) AS dim, nc.c_new, nc.n,
         |  round(abs(nc.c_new - cd.c), 4) AS shift
         |FROM nc JOIN cend cd ON cd.label = nc.cluster AND cd.dim = nc.dim
         |ORDER BY cluster, dim""".stripMargin,
    // Same assign chain as e2_kmeans_iter but keeping the winning sim:
    // (1 - sim) quantized to micro-units scan-side, exact integer sums,
    // integer mean (// ≡ Spark div on the nonnegative operands).
    "e2_kmeans_objective" ->
      s"""WITH $centroidCte,
         |cen AS (SELECT label AS clabel, list(c ORDER BY dim) AS cen
         |  FROM cend GROUP BY label),
         |cenn AS (SELECT clabel, cen,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(cen, x -> x * x)), (a, b) -> a + b)) AS cnrm
         |  FROM cen),
         |embn AS (SELECT vec_id, ed,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(ed, x -> x * x)), (a, b) -> a + b)) AS enrm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |    FROM embeddings)),
         |sims AS (SELECT e.vec_id, c.clabel,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, 65), i ->
         |      e.ed[CAST(i AS INT)] * c.cen[CAST(i AS INT)])),
         |    (a, b) -> a + b) / (e.enrm * c.cnrm) AS sim
         |  FROM embn e, cenn c),
         |asg AS (SELECT vec_id, clabel AS cluster, sim FROM (
         |  SELECT vec_id, clabel, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, clabel) AS rn
         |  FROM sims) WHERE rn = 1),
         |q AS (SELECT cluster,
         |  CAST(floor((1.0 - sim) * 1000000.0 + 0.5) AS BIGINT) AS q6
         |  FROM asg)
         |SELECT cluster, count(*) AS n, CAST(sum(q6) AS BIGINT) AS obj_e6,
         |  CAST(sum(q6) AS BIGINT) // count(*) AS mean_obj_e6
         |FROM q GROUP BY cluster ORDER BY cluster""".stripMargin,
    // Three unrolled iterations of the same assign/mean blocks (the
    // e9_pagerank unrolled-loop treatment). embn is the only
    // multiply-referenced expensive CTE (one sims per iteration) →
    // MATERIALIZED; every other CTE is referenced once, so DuckDB's
    // inlining can't recompute anything. Each iteration's centroid
    // input is the PREVIOUS iteration's 4-dp-rounded, signed-zero-
    // normalized means — identical doubles in both engines, so rounding
    // cannot compound into cross-engine drift.
    "e2_kmeans3" -> {
      def kmIter(i: Int, cenn: String): String =
        s"""sims$i AS (SELECT e.vec_id, c.clabel,
           |  list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(range(1, 65), ii ->
           |      e.ed[CAST(ii AS INT)] * c.cen[CAST(ii AS INT)])),
           |    (a, b) -> a + b) / (e.enrm * c.cnrm) AS sim
           |  FROM embn e, $cenn c),
           |asg$i AS (SELECT vec_id, clabel AS cluster FROM (
           |  SELECT vec_id, clabel,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY sim DESC, clabel) AS rn
           |  FROM sims$i) WHERE rn = 1),
           |nc$i AS (
           |  SELECT a.cluster, ir.range AS dim,
           |    CAST((2 * CAST(sum(CAST(floor(CAST(e.embedding[CAST(ir.range + 1 AS INT)]
           |          AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           |        + count(*) * 20000100) // (200 * count(*)) - 100000 AS DOUBLE)
           |      / 10000.0 AS c,
           |    count(*) AS n
           |  FROM embeddings e JOIN asg$i a ON e.vec_id = a.vec_id, range(0, 64) ir
           |  GROUP BY a.cluster, ir.range)""".stripMargin
      def kmCen(i: Int, src: String): String =
        s"""cen$i AS (SELECT $src AS clabel, list(c ORDER BY dim) AS cen
           |  FROM nc${i - 1} GROUP BY 1),
           |cenn$i AS (SELECT clabel, cen,
           |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(cen, x -> x * x)), (a, b) -> a + b)) AS cnrm
           |  FROM cen$i)""".stripMargin
      s"""WITH $centroidCte,
         |nc0 AS (SELECT label AS cluster, dim, c FROM cend),
         |${kmCen(1, "cluster")},
         |embn AS MATERIALIZED (SELECT vec_id, ed,
         |  sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(ed, x -> x * x)), (a, b) -> a + b)) AS enrm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |    FROM embeddings)),
         |${kmIter(1, "cenn1")},
         |${kmCen(2, "cluster")},
         |${kmIter(2, "cenn2")},
         |${kmCen(3, "cluster")},
         |${kmIter(3, "cenn3")}
         |SELECT cluster, CAST(dim AS INT) AS dim, c AS c3, n
         |FROM nc3 ORDER BY cluster, dim""".stripMargin
    },
    "e2_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, sub, code FROM codes ORDER BY vec_id, sub""".stripMargin,
    "e2_pq_search" -> pqSearchOracle,
    // the released codes/codebook are pure functions of the corpus, so
    // serving from the snapshot answers EXACTLY what the build-per-job
    // ADC answers — the oracle is the same replay, verbatim
    "e2_pq_serve" -> pqSearchOracle,
    "e2_ivf_ingest" ->
      s"""WITH $ivfIngestSplitCtes,
         |cp AS (SELECT cell, count(*) AS corpus_pop FROM ca WHERE crn = 1
         |  GROUP BY cell),
         |bp AS (SELECT cell, count(*) AS ingested FROM ba WHERE crn = 1
         |  GROUP BY cell)
         |SELECT cp.cell, cp.corpus_pop,
         |  CAST(coalesce(bp.ingested, 0) AS BIGINT) AS ingested,
         |  round(100.0 * coalesce(bp.ingested, 0) / cp.corpus_pop, 2)
         |    AS growth_pct
         |FROM cp LEFT JOIN bp ON cp.cell = bp.cell
         |ORDER BY cp.cell""".stripMargin,
    // the publish loop's RELEASED tables (v1 = corpus assignment, v2 =
    // v1 ∪ batch assignment against the frozen v1 seeds) are pure
    // functions of the corpus, so the oracle replays the shared split
    // chain VERBATIM (can't-drift with e2_ivf_ingest) and reconstructs
    // both versions' per-cell populations; the Spark side reads them
    // back from the committed snapshots
    "e2_ivf_publish" ->
      s"""WITH $ivfIngestSplitCtes,
         |pv1 AS (SELECT cell, count(*) AS pop_v1 FROM ca WHERE crn = 1
         |  GROUP BY cell),
         |pin AS (SELECT cell, count(*) AS ingested FROM ba WHERE crn = 1
         |  GROUP BY cell)
         |SELECT pv1.cell, pv1.pop_v1,
         |  CAST(coalesce(pin.ingested, 0) AS BIGINT) AS ingested,
         |  pv1.pop_v1 + CAST(coalesce(pin.ingested, 0) AS BIGINT) AS pop_v2
         |FROM pv1 LEFT JOIN pin ON pv1.cell = pin.cell
         |ORDER BY pv1.cell""".stripMargin,
    // adCtes supplies the codebook/codes/query-table chain; the IVF stage
    // is rebuilt against its `emb` (no-salt splitmix seed order, same
    // tie-breaks as the e2_ann_ivf oracle), then ADC runs only where the
    // candidate's build cell meets the query's probed cells
    "e2_ann_ivfpq" -> {
      import OracleSql._
      s"""WITH $adCtes,
         |ivm_in AS (SELECT vec_id, CAST(vec_id AS HUGEINT) AS h0 FROM embeddings),
         |${mixCtes("ivm", "h0", "h1iv", Seq("vec_id"))},
         |ivs AS (SELECT vec_id, ${toSigned("h1iv")} AS m FROM ivm),
         |seeds2 AS (SELECT e.vec_id AS cell, e.ed AS ce
         |  FROM emb e JOIN ivs ON e.vec_id = ivs.vec_id
         |  ORDER BY ivs.m, e.vec_id
         |  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
         |ranked2 AS (SELECT emb.vec_id, s.cell, row_number() OVER (
         |    PARTITION BY emb.vec_id
         |    ORDER BY list_cosine_similarity(emb.ed, s.ce) DESC, s.cell) AS crn
         |  FROM emb, seeds2 s),
         |bld AS (SELECT vec_id, cell FROM ranked2 WHERE crn = 1),
         |prb AS (SELECT vec_id AS qid, cell FROM ranked2
         |  WHERE crn <= $IvfPqProbe AND vec_id IN (SELECT qid FROM qs)),
         |adp AS (SELECT d.qid, c.vec_id,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(0, $PqM), j ->
         |      d.dt[CAST(j * $PqKsub + c.codes[CAST(j + 1 AS INT)] + 1 AS INT)])),
         |    (a, b) -> a + b) AS adist
         |  FROM dta d JOIN prb p ON p.qid = d.qid
         |  JOIN bld b ON b.cell = p.cell AND b.vec_id <> d.qid
         |  JOIN carr c ON c.vec_id = b.vec_id)
         |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, round(adist, 4) AS adist
         |FROM (SELECT qid, vec_id, adist, row_number() OVER (
         |  PARTITION BY qid ORDER BY adist, vec_id) AS rn FROM adp)
         |WHERE rn <= $PqTopK ORDER BY qid, rn""".stripMargin
    },
    "e2_pq_rerank" -> pqRerankOracle,
    "e2_ann_recall" ->
      // both sides on 4-decimal-rounded sims so the engines judge the
      // same values; LEFT join tolerates a vector with no in-cell peer
      s"""WITH ${ivfCtes(1)},
         |ivf AS (SELECT vec_id, neighbor_id AS ivf_nb,
         |    round(sim, 4) AS ivf_sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |  WHERE rn = 1),
         |ex AS (SELECT vec_id, other_id AS exact_nb,
         |    round(sim, 4) AS exact_sim FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM emb a JOIN embeddings la ON a.vec_id = la.vec_id
         |  JOIN embeddings lb ON la.label = lb.label AND lb.vec_id <> a.vec_id
         |  JOIN emb b ON b.vec_id = lb.vec_id)
         |  WHERE rn = 1)
         |SELECT CAST(l.label AS INT) AS label, count(*) AS n,
         |  CAST(sum(CASE WHEN i.ivf_nb = e.exact_nb THEN 1 ELSE 0 END)
         |    AS BIGINT) AS top1_hits,
         |  round(sum(CASE WHEN i.ivf_nb = e.exact_nb THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS top1_recall,
         |  CAST(sum(CASE WHEN i.ivf_sim >= e.exact_sim THEN 1 ELSE 0 END)
         |    AS BIGINT) AS sim_parity
         |FROM ex e LEFT JOIN ivf i USING (vec_id)
         |JOIN embeddings l ON l.vec_id = e.vec_id
         |GROUP BY l.label ORDER BY label""".stripMargin,
    // e2_ann_recall restricted to the deterministic fixed-size query
    // sample: same windows/rounding/LEFT-join semantics, with both the
    // exact and IVF sides filtered to qsel (filtering a row_number
    // partition before or after the window is equivalent — partitions
    // are per-query). The qd/qsel chain replicates mix64(vec_id ^ salt)
    // ORDER BY (m, vec_id) LIMIT K.
    "e2_ann_recall_sampled" -> {
      s"""WITH ${ivfCtes(1)},
         |$qselCtes,
         |ivf AS (SELECT vec_id, neighbor_id AS ivf_nb,
         |    round(sim, 4) AS ivf_sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn = 1),
         |ex AS (SELECT vec_id, other_id AS exact_nb,
         |    round(sim, 4) AS exact_sim FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM emb a JOIN embeddings la ON a.vec_id = la.vec_id
         |  JOIN embeddings lb ON la.label = lb.label AND lb.vec_id <> a.vec_id
         |  JOIN emb b ON b.vec_id = lb.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn = 1)
         |SELECT CAST(l.label AS INT) AS label, count(*) AS n,
         |  CAST(sum(CASE WHEN i.ivf_nb = e.exact_nb THEN 1 ELSE 0 END)
         |    AS BIGINT) AS top1_hits,
         |  round(sum(CASE WHEN i.ivf_nb = e.exact_nb THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS top1_recall,
         |  CAST(sum(CASE WHEN i.ivf_sim >= e.exact_sim THEN 1 ELSE 0 END)
         |    AS BIGINT) AS sim_parity
         |FROM ex e LEFT JOIN ivf i USING (vec_id)
         |JOIN embeddings l ON l.vec_id = e.vec_id
         |GROUP BY l.label ORDER BY label""".stripMargin
    },
    // sampled exact MIPS: raw inner products (no normalization) of the
    // qsel queries against the whole corpus; list_inner_product is the
    // same index-ordered double fold as the native dotProduct
    "e2_mips" ->
      s"""WITH $qselCtes
         |SELECT vec_id, CAST(rn AS BIGINT) AS rn, other_id,
         |  round(ip, 4) AS ip
         |FROM (SELECT a.vec_id, b.vec_id AS other_id,
         |  list_inner_product(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])) AS ip,
         |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |    list_inner_product(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin,
    // global (unblocked) top-NoiseK per sampled query, then integer
    // disagreement counts and a vote-majority with ties to the smaller
    // label — ranks use the same raw cosine both engines fold in index
    // order, everything after is integer
    "e2_label_noise" ->
      s"""WITH $qselCtes,
         |gx AS MATERIALIZED (SELECT vec_id, other_id, nb_label FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    CAST(b.label AS INT) AS nb_label,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn <= $NoiseK),
         |mj AS (SELECT vec_id, nb_label AS nb_major FROM (
         |  SELECT vec_id, nb_label, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY count(*) DESC, nb_label) AS r
         |  FROM gx GROUP BY vec_id, nb_label) WHERE r = 1),
         |ag AS (SELECT g.vec_id, CAST(e.label AS INT) AS label,
         |    CAST(count(*) AS BIGINT) AS n_nb,
         |    CAST(sum(CASE WHEN g.nb_label <> CAST(e.label AS INT)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
         |  FROM gx g JOIN embeddings e ON g.vec_id = e.vec_id
         |  GROUP BY 1, 2)
         |SELECT ag.vec_id, ag.label, ag.n_nb, ag.n_diff, mj.nb_major,
         |  CAST(CASE WHEN 2 * ag.n_diff > ag.n_nb THEN 1 ELSE 0 END
         |    AS BIGINT) AS suspect
         |FROM ag JOIN mj USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    // MMR greedy selection unrolled into MmrK CTE stages over the
    // sampled exact candidate pool; all scoring in integer 1e-5 units
    // (7·rel_i − 3·ps_i) — λ·rel − (1−λ)·ps over 4-dp inputs lands on
    // the halfway grid where double rounding diverges cross-engine
    "e2_mmr" ->
      s"""WITH $qselCtes,
         |$sampledExactCte,
         |cand AS (SELECT vec_id AS q, other_id AS c,
         |  CAST(round(sim4 * 10000) AS BIGINT) AS rel_i
         |  FROM exs WHERE rn <= $MmrPool),
         |ce AS (SELECT cand.q, cand.c, e.embedding
         |  FROM cand JOIN embeddings e ON cand.c = e.vec_id),
         |ps AS MATERIALIZED (SELECT a.q, a.c AS ca, b.c AS cb,
         |  CAST(round(round(list_cosine_similarity(
         |    CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 4) * 10000) AS BIGINT) AS ps_i
         |  FROM ce a JOIN ce b ON a.q = b.q AND a.c <> b.c),
         |s1 AS (SELECT q, c, 10 * rel_i AS mmr_e5 FROM (
         |  SELECT q, c, rel_i, row_number() OVER (PARTITION BY q
         |    ORDER BY rel_i DESC, c) AS rn FROM cand) WHERE rn = 1),
         |r1 AS (SELECT cand.q, cand.c, cand.rel_i FROM cand
         |  LEFT JOIN s1 ON cand.q = s1.q AND cand.c = s1.c
         |  WHERE s1.c IS NULL),
         |m2 AS (SELECT r1.q, r1.c,
         |  7 * r1.rel_i - 3 * ps.ps_i AS m
         |  FROM r1 JOIN s1 ON r1.q = s1.q
         |  JOIN ps ON ps.q = r1.q AND ps.ca = r1.c AND ps.cb = s1.c),
         |s2 AS (SELECT q, c, m AS mmr_e5 FROM (
         |  SELECT q, c, m, row_number() OVER (PARTITION BY q
         |    ORDER BY m DESC, c) AS rn FROM m2) WHERE rn = 1),
         |r2 AS (SELECT r1.q, r1.c, r1.rel_i FROM r1
         |  LEFT JOIN s2 ON r1.q = s2.q AND r1.c = s2.c
         |  WHERE s2.c IS NULL),
         |sel AS (SELECT q, c FROM s1 UNION ALL SELECT q, c FROM s2),
         |m3 AS (SELECT r2.q, r2.c,
         |  7 * r2.rel_i - 3 * max(ps.ps_i) AS m
         |  FROM r2 JOIN sel ON sel.q = r2.q
         |  JOIN ps ON ps.q = r2.q AND ps.ca = r2.c AND ps.cb = sel.c
         |  GROUP BY r2.q, r2.c, r2.rel_i),
         |s3 AS (SELECT q, c, m AS mmr_e5 FROM (
         |  SELECT q, c, m, row_number() OVER (PARTITION BY q
         |    ORDER BY m DESC, c) AS rn FROM m3) WHERE rn = 1)
         |SELECT vec_id, pick, other_id, CAST(mmr_e5 AS BIGINT) AS mmr_e5
         |FROM (
         |  SELECT q AS vec_id, CAST(1 AS BIGINT) AS pick, c AS other_id,
         |    mmr_e5 FROM s1
         |  UNION ALL SELECT q, CAST(2 AS BIGINT), c, mmr_e5 FROM s2
         |  UNION ALL SELECT q, CAST(3 AS BIGINT), c, mmr_e5 FROM s3)
         |ORDER BY vec_id, pick""".stripMargin,
    // ivf rebalance: hot-cell detection in cross-multiplied integer
    // form, sub-seed election by the same (mix64, vec_id) order as the
    // original seeds (mx comes from ivfCtes), in-cell re-assignment
    "e2_ivf_rebalance" ->
      s"""WITH ${ivfCtes(1)},
         |sizes AS (SELECT cell, count(*) AS n_before FROM build GROUP BY cell),
         |tot AS (SELECT count(*) AS n_cells, sum(n_before) AS n_total
         |  FROM sizes),
         |flagged AS (SELECT cell, n_before,
         |  (n_before * n_cells > 2 * n_total) AS hot FROM sizes, tot),
         |hm AS (SELECT b.vec_id, b.e, b.cell FROM build b
         |  JOIN flagged f ON b.cell = f.cell AND f.hot),
         |sub AS (SELECT cell, vec_id AS sub_cell, e AS se FROM (
         |  SELECT hm.cell, hm.vec_id, hm.e, row_number() OVER (
         |    PARTITION BY hm.cell ORDER BY mx.m, hm.vec_id) AS srn
         |  FROM hm JOIN mx ON hm.vec_id = mx.vec_id) WHERE srn <= 2),
         |re AS (SELECT cell, sub_cell, count(*) AS n_after FROM (
         |  SELECT hm.cell, s.sub_cell, row_number() OVER (
         |    PARTITION BY hm.vec_id
         |    ORDER BY list_cosine_similarity(hm.e, s.se) DESC, s.sub_cell)
         |    AS arn
         |  FROM hm JOIN sub s ON hm.cell = s.cell) WHERE arn = 1
         |  GROUP BY cell, sub_cell),
         |fin AS (SELECT cell, cell AS sub_cell, n_before AS n_after
         |  FROM flagged WHERE NOT hot
         |  UNION ALL SELECT cell, sub_cell, n_after FROM re)
         |SELECT f.cell, CAST(f.n_before AS BIGINT) AS n_before,
         |  fin.sub_cell, CAST(fin.n_after AS BIGINT) AS n_after
         |FROM flagged f JOIN fin ON f.cell = fin.cell
         |ORDER BY f.cell, fin.sub_cell""".stripMargin,
    // hybrid RRF: dense list = the shared sampled exact top-K (exs),
    // lexical list = shared-shingle overlap rank off the chain's sh
    // table; fusion in exact integers (1e6 // (k0 + rank))
    "e2_hybrid_rrf" ->
      s"""WITH ${Dedup.minhashCtes},
         |$qselCtes,
         |$sampledExactCte,
         |dn AS (SELECT vec_id AS qid, other_id AS cand,
         |  CAST(rn AS BIGINT) AS r FROM exs WHERE rn <= $HybridK),
         |qsh AS (SELECT q.vec_id AS qid, s.h FROM qsel q
         |  JOIN sh s ON s.doc_id = q.vec_id),
         |ov AS (SELECT qsh.qid, s2.doc_id AS cand, count(*) AS ov
         |  FROM qsh JOIN sh s2 ON qsh.h = s2.h AND s2.doc_id <> qsh.qid
         |  GROUP BY 1, 2),
         |lx AS (SELECT qid, cand, CAST(r AS BIGINT) AS r FROM (
         |  SELECT qid, cand, row_number() OVER (PARTITION BY qid
         |    ORDER BY ov DESC, cand) AS r FROM ov) WHERE r <= $HybridK),
         |un AS (SELECT * FROM dn UNION ALL SELECT * FROM lx),
         |sc AS (SELECT qid, cand,
         |  CAST(sum(1000000 // ($RrfK0 + r)) AS BIGINT) AS rrf_e6
         |  FROM un GROUP BY 1, 2)
         |SELECT qid AS vec_id, CAST(p AS BIGINT) AS pick, cand AS cand_id,
         |  rrf_e6
         |FROM (SELECT qid, cand, rrf_e6, row_number() OVER (
         |  PARTITION BY qid ORDER BY rrf_e6 DESC, cand) AS p FROM sc)
         |WHERE p <= 3
         |ORDER BY vec_id, pick""".stripMargin,
    // ivf merge: cold-cell detection in cross-multiplied integer form,
    // nearest warm seed by seed-seed cosine (seeds come from ivfCtes),
    // post-merge populations as a second |cells|-key fold
    "e2_ivf_merge" ->
      s"""WITH ${ivfCtes(1)},
         |sizes AS (SELECT cell, count(*) AS n_before FROM build GROUP BY cell),
         |tot AS (SELECT count(*) AS n_cells, sum(n_before) AS n_total
         |  FROM sizes),
         |flagged AS (SELECT cell, n_before,
         |  (2 * n_before * n_cells < n_total) AS cold FROM sizes, tot),
         |cs AS (SELECT s.cell, s.ce FROM seeds s
         |  JOIN flagged f ON s.cell = f.cell AND f.cold),
         |ws AS (SELECT s.cell AS t_cell, s.ce AS te FROM seeds s
         |  JOIN flagged f ON s.cell = f.cell AND NOT f.cold),
         |mapped AS (SELECT cell, t_cell AS target FROM (
         |  SELECT cs.cell, ws.t_cell, row_number() OVER (PARTITION BY cs.cell
         |    ORDER BY list_cosine_similarity(cs.ce, ws.te) DESC, ws.t_cell)
         |    AS rn
         |  FROM cs, ws) WHERE rn = 1),
         |routed AS (SELECT f.cell, f.n_before, f.cold,
         |  coalesce(m.target, f.cell) AS target
         |  FROM flagged f LEFT JOIN mapped m ON f.cell = m.cell),
         |aft AS (SELECT target, sum(n_before) AS n_after
         |  FROM routed GROUP BY target)
         |SELECT r.cell, CAST(r.n_before AS BIGINT) AS n_before,
         |  CAST(CASE WHEN r.cold THEN 1 ELSE 0 END AS BIGINT) AS cold,
         |  r.target AS merged_into, CAST(a.n_after AS BIGINT) AS n_after
         |FROM routed r JOIN aft a ON r.target = a.target
         |ORDER BY r.cell""".stripMargin,
    // e2_recall_at_k with both sides restricted to qsel before their
    // windows (per-query partitions: restrict-before ≡ restrict-after)
    "e2_recall_at_k_sampled" ->
      s"""WITH ${ivfCtes(1)},
         |$qselCtes,
         |$sampledExactCte,
         |ex AS (SELECT vec_id, other_id FROM exs WHERE rn <= 3),
         |ivf3 AS (SELECT vec_id, other_id FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn <= 3),
         |h AS (SELECT ex.vec_id, count(*) AS hh FROM ex
         |  JOIN ivf3 ON ex.vec_id = ivf3.vec_id
         |    AND ex.other_id = ivf3.other_id
         |  GROUP BY ex.vec_id),
         |np AS (SELECT vec_id, count(*) AS np FROM ex GROUP BY vec_id)
         |SELECT CAST(l.label AS INT) AS label,
         |  CAST(sum(np.np) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(h.hh), 0) AS BIGINT) AS hits,
         |  round(coalesce(sum(h.hh), 0) / CAST(sum(np.np) AS DOUBLE), 4)
         |    AS recall3
         |FROM np LEFT JOIN h USING (vec_id)
         |JOIN embeddings l ON l.vec_id = np.vec_id
         |GROUP BY l.label ORDER BY label""".stripMargin,
    // e2_dim_ablation with the query side restricted to qsel: each
    // width's top-1 block filters a.vec_id before its window; the
    // MATERIALIZED full-width baseline is shared by all branches
    "e2_dim_ablation_sampled" -> {
      def top1(d: Int) =
        s"""SELECT vec_id, nb FROM (
           |  SELECT a.vec_id, b.vec_id AS nb, row_number() OVER (
           |    PARTITION BY a.vec_id ORDER BY
           |    list_cosine_similarity(
           |      CAST(list_slice(a.embedding, 1, $d) AS DOUBLE[]),
           |      CAST(list_slice(b.embedding, 1, $d) AS DOUBLE[])) DESC,
           |    b.vec_id) AS rn
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id <> b.vec_id
           |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
           |WHERE rn = 1""".stripMargin
      AblationDims.map { d =>
        val p = if (d == 64) "fullnb" else s"(${top1(d)})"
        s"""SELECT CAST($d AS BIGINT) AS dims, count(*) AS n,
           |  CAST(sum(CASE WHEN p.nb = f.nb THEN 1 ELSE 0 END) AS BIGINT)
           |    AS top1_agree,
           |  CASE WHEN count(*) = 0 THEN 0 ELSE
           |    CAST(sum(CASE WHEN p.nb = f.nb THEN 1 ELSE 0 END) AS BIGINT)
           |      * 10000 // count(*) END AS agree_bp
           |FROM $p p JOIN fullnb f USING (vec_id)"""
          .stripMargin
      }.mkString(
        s"WITH $qselCtes,\nfullnb AS MATERIALIZED (${top1(64)})\n",
        "\nUNION ALL\n", "\nORDER BY dims")
    },
    "e2_recall_at_k" ->
      s"""WITH ${ivfCtes(1)},
         |ex AS (SELECT vec_id, other_id FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |ivf3 AS (SELECT vec_id, other_id FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |  WHERE rn <= 3),
         |h AS (SELECT ex.vec_id, count(*) AS hh FROM ex
         |  JOIN ivf3 ON ex.vec_id = ivf3.vec_id
         |    AND ex.other_id = ivf3.other_id
         |  GROUP BY ex.vec_id),
         |np AS (SELECT vec_id, count(*) AS np FROM ex GROUP BY vec_id)
         |SELECT CAST(l.label AS INT) AS label,
         |  CAST(sum(np.np) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(h.hh), 0) AS BIGINT) AS hits,
         |  round(coalesce(sum(h.hh), 0) / CAST(sum(np.np) AS DOUBLE), 4)
         |    AS recall3
         |FROM np LEFT JOIN h USING (vec_id)
         |JOIN embeddings l ON l.vec_id = np.vec_id
         |GROUP BY l.label ORDER BY label""".stripMargin,
    "e2_ann_lsh" -> annLshOracle,
    "e2_ann_multiprobe" -> annMultiprobeOracle,
    "e2_embed_outliers" ->
      s"""WITH ${ivfCtes(1)},
         |scored AS (
         |  SELECT b.vec_id, b.cell, list_cosine_similarity(b.e, s.ce) AS c_sim
         |  FROM build b JOIN seeds s ON s.cell = b.cell),
         |rk AS (
         |  SELECT vec_id, cell, c_sim,
         |    row_number() OVER (PARTITION BY cell ORDER BY c_sim, vec_id) AS r,
         |    count(*) OVER (PARTITION BY cell) AS cell_n
         |  FROM scored)
         |SELECT cell, vec_id, round(c_sim, 4) AS sim_c,
         |  CAST(cell_n AS BIGINT) AS cell_n
         |FROM rk WHERE r <= (cell_n * 5 + 99) // 100
         |ORDER BY cell, vec_id""".stripMargin,
    "e2_ann_ivf" -> annIvfOracle(1),
    "e2_ann_ivf2" -> annIvfOracle(2),
    // the standing index is a pure function of the corpus, so the oracle
    // replays the build recipe (ivfCtes) and restricts the probe side to
    // the qsel sample; the Spark plan serves the released parquet snapshot
    "e2_ivf_serve" ->
      s"""WITH ${ivfCtes(1)},
         |$qselCtes
         |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // multi-probe serving: same recipe replay with the top-2 probe CTE
    "e2_ivf_serve2" ->
      s"""WITH ${ivfCtes(2)},
         |$qselCtes
         |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM probe a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "e2_hard_negatives" ->
      s"""WITH ${ivfCtes(2)},
         |pl AS (SELECT p.vec_id, p.e, p.cell, em.label
         |  FROM probe p JOIN embeddings em ON p.vec_id = em.vec_id),
         |bl AS (SELECT b.vec_id, b.e, b.cell, em.label
         |  FROM build b JOIN embeddings em ON b.vec_id = em.vec_id)
         |SELECT vec_id, label, negative_id, negative_label,
         |  round(sim, 4) AS sim FROM (
         |  SELECT a.vec_id AS vec_id, a.label AS label,
         |    b.vec_id AS negative_id, b.label AS negative_label,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM pl a JOIN bl b ON a.cell = b.cell AND a.label <> b.label)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "e2_ann_filtered" ->
      s"""WITH ${ivfCtes(2)},
         |fb AS (SELECT b.vec_id, b.e, b.cell FROM build b
         |  JOIN embeddings em ON b.vec_id = em.vec_id
         |  WHERE em.label = $FilterLabel)
         |SELECT vec_id, neighbor_id, round(sim, 4) AS sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM probe a JOIN fb b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "e2_knn_classify" ->
      s"""WITH ${ivfCtes(1)},
         |knn AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |vt AS (SELECT k.vec_id, l.label AS nb_label, count(*) AS votes
         |  FROM knn k JOIN embeddings l ON k.nb = l.vec_id
         |  WHERE k.rn <= 5 GROUP BY k.vec_id, l.label),
         |best AS (SELECT vec_id, nb_label AS pred_label, votes,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY votes DESC, nb_label) AS brn
         |  FROM vt)
         |SELECT b.vec_id AS vec_id, l.label, b.pred_label, b.votes
         |FROM best b JOIN embeddings l ON b.vec_id = l.vec_id
         |WHERE b.brn = 1 ORDER BY vec_id""".stripMargin,
    "e2_centroids" ->
      s"""WITH $centroidCte
         |SELECT label, CAST(dim AS INT) AS dim, c, n FROM cend
         |ORDER BY label, dim""".stripMargin,
    // the verified pair table's jaccard joined to the pair's DOUBLE[]
    // cosine; floor compares on the rounded grid (see e2LexicalAgreement)
    "e2_lexical_agreement" ->
      s"""WITH ${graft.ops.Dedup.minhashCtes},
         |mhp2 AS MATERIALIZED (SELECT da, db, jaccard FROM mhp)
         |SELECT m.da, m.db, m.jaccard,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 4) < $LexAgreeTau AS low_cos
         |FROM mhp2 m JOIN embeddings a ON m.da = a.vec_id
         |JOIN embeddings b ON m.db = b.vec_id
         |ORDER BY da, db""".stripMargin,
    // residual legs off the SAME pc_v chain (shared topPcDirection on
    // the Spark side — the can't-drift rule); both top-1s via the house
    // cosine kernel with vec_id tie-break (see e2Abtt)
    "e2_abtt" -> {
      val rounds = (1 to TopPcIters).map { k =>
        s"""pc_s$k AS MATERIALIZED (SELECT e.vec_id,
           |    list_inner_product(e.ed, v.varr) AS sv
           |  FROM pemb e CROSS JOIN pc_v${k - 1} v),
           |pc_d$k AS MATERIALIZED (SELECT dim, sum(mic) AS sd FROM (
           |    SELECT i.range AS dim,
           |      CAST(floor(s.sv * e.ed[CAST(i.range + 1 AS INT)]
           |        * 1000000.0 + 0.5) AS HUGEINT) AS mic
           |    FROM pemb e JOIN pc_s$k s USING (vec_id), range(0, 64) i)
           |  GROUP BY dim),
           |pc_n$k AS (SELECT sqrt(CAST(sum(sd * sd) AS DOUBLE)) AS nrm
           |  FROM pc_d$k),
           |pc_v$k AS MATERIALIZED (SELECT
           |    list(CAST(sd AS DOUBLE) / nrm ORDER BY dim) AS varr,
           |    max(nrm) / 1000000.0 AS lam
           |  FROM pc_d$k CROSS JOIN pc_n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH pemb AS MATERIALIZED (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
         |pc_v0 AS (SELECT [0.125 FOR i IN range(0, 64)]::DOUBLE[] AS varr,
         |    0.0 AS lam),
         |$rounds,
         |$qselCtes,
         |abp AS MATERIALIZED (SELECT e.vec_id, e.ed,
         |    list_inner_product(e.ed, v.varr) AS pv, v.varr
         |  FROM pemb e CROSS JOIN pc_v$TopPcIters v),
         |abr AS MATERIALIZED (SELECT vec_id, ed,
         |    [ed[CAST(i + 1 AS INT)] - pv * varr[CAST(i + 1 AS INT)]
         |      FOR i IN range(0, 64)]::DOUBLE[] AS rd
         |  FROM abp),
         |abx AS (SELECT q.vec_id AS qid, b.vec_id AS oid,
         |    list_cosine_similarity(a.ed, b.ed) AS sim_raw,
         |    list_cosine_similarity(a.rd, b.rd) AS sim_res
         |  FROM qsel q JOIN abr a ON q.vec_id = a.vec_id
         |  JOIN abr b ON b.vec_id <> a.vec_id),
         |abraw AS (SELECT qid, oid AS raw_nb FROM (
         |    SELECT qid, oid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_raw DESC, oid) AS rn FROM abx) WHERE rn = 1),
         |abres AS (SELECT qid, oid AS abtt_nb FROM (
         |    SELECT qid, oid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim_res DESC, oid) AS rn FROM abx) WHERE rn = 1)
         |SELECT abraw.qid AS vec_id, raw_nb, abtt_nb,
         |  CAST(CASE WHEN raw_nb = abtt_nb THEN 1 ELSE 0 END AS BIGINT)
         |    AS agree
         |FROM abraw JOIN abres USING (qid) ORDER BY vec_id""".stripMargin
    },
    // unrolled power-iteration rounds: scan-side inner products against
    // the 1-row direction, micro-quantized per-dim contribution sums in
    // HUGEINT, the norm off the EXACT integer sum of squares (see
    // e2TopPc)
    "e2_top_pc" -> {
      val rounds = (1 to TopPcIters).map { k =>
        s"""pc_s$k AS MATERIALIZED (SELECT e.vec_id,
           |    list_inner_product(e.ed, v.varr) AS sv
           |  FROM pemb e CROSS JOIN pc_v${k - 1} v),
           |pc_d$k AS MATERIALIZED (SELECT dim, sum(mic) AS sd FROM (
           |    SELECT i.range AS dim,
           |      CAST(floor(s.sv * e.ed[CAST(i.range + 1 AS INT)]
           |        * 1000000.0 + 0.5) AS HUGEINT) AS mic
           |    FROM pemb e JOIN pc_s$k s USING (vec_id), range(0, 64) i)
           |  GROUP BY dim),
           |pc_n$k AS (SELECT sqrt(CAST(sum(sd * sd) AS DOUBLE)) AS nrm
           |  FROM pc_d$k),
           |pc_v$k AS MATERIALIZED (SELECT
           |    list(CAST(sd AS DOUBLE) / nrm ORDER BY dim) AS varr,
           |    max(nrm) / 1000000.0 AS lam
           |  FROM pc_d$k CROSS JOIN pc_n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH pemb AS MATERIALIZED (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
         |pc_v0 AS (SELECT [0.125 FOR i IN range(0, 64)]::DOUBLE[] AS varr,
         |    0.0 AS lam),
         |$rounds
         |SELECT CAST(i.range + 1 AS BIGINT) AS dim,
         |  round(varr[CAST(i.range + 1 AS INT)], 6) AS pc,
         |  round(lam, 4) AS lambda
         |FROM pc_v$TopPcIters, range(0, 64) i
         |ORDER BY dim""".stripMargin
    },
    // top-2 centroid sims per vector (one row per (vec, centroid), so
    // rn<=2 IS (a, b)); per-row s micro-quantized into the exact integer
    // half-up mean (see e2Silhouette)
    "e2_silhouette" ->
      s"""WITH $centroidCte,
         |cen AS (SELECT label AS clabel, list(c ORDER BY dim) AS cen
         |  FROM cend GROUP BY label),
         |sims AS (
         |  SELECT e.vec_id, c.clabel,
         |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cen) AS sim
         |  FROM embeddings e, cen c),
         |tops AS (SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN clabel END) AS cluster,
         |    max(CASE WHEN rn = 1 THEN sim END) AS a_sim,
         |    max(CASE WHEN rn = 2 THEN sim END) AS b_sim
         |  FROM (SELECT vec_id, clabel, sim, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY sim DESC, clabel) AS rn
         |    FROM sims) WHERE rn <= 2 GROUP BY vec_id),
         |sx AS (SELECT cluster,
         |    CASE WHEN greatest(1.0 - a_sim, 1.0 - b_sim) > 0
         |      THEN (a_sim - b_sim) / greatest(1.0 - a_sim, 1.0 - b_sim)
         |      ELSE 0.0 END AS x
         |  FROM tops)
         |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n,
         |  CAST((2 * CAST(sum(CAST(floor(CAST(x AS DOUBLE)
         |        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         |      + count(*) * 20000100) // (200 * count(*)) - 100000 AS DOUBLE)
         |    / 10000.0 AS mean_sil
         |FROM sx GROUP BY cluster ORDER BY cluster""".stripMargin,
    "e2_vq_assign" ->
      s"""WITH $centroidCte,
         |cen AS (SELECT label AS clabel, list(c ORDER BY dim) AS cen
         |  FROM cend GROUP BY label),
         |sims AS (
         |  SELECT e.vec_id, e.label, c.clabel,
         |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cen) AS sim
         |  FROM embeddings e, cen c)
         |SELECT vec_id, label, clabel AS pred_label, round(sim, 4) AS sim FROM (
         |  SELECT vec_id, label, clabel, sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel) AS rn
         |  FROM sims) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "e2_cosine_topk" -> cosineTopkOracle,
    // prefix cosine via list_slice — same index-ordered accumulation
    // as the full-width chain, just over fewer terms
    "e2_dim_ablation" -> {
      def top1(d: Int) =
        s"""SELECT vec_id, nb FROM (
           |  SELECT a.vec_id, b.vec_id AS nb, row_number() OVER (
           |    PARTITION BY a.vec_id ORDER BY
           |    list_cosine_similarity(
           |      CAST(list_slice(a.embedding, 1, $d) AS DOUBLE[]),
           |      CAST(list_slice(b.embedding, 1, $d) AS DOUBLE[])) DESC,
           |    b.vec_id) AS rn
           |  FROM embeddings a JOIN embeddings b
           |    ON a.label = b.label AND a.vec_id <> b.vec_id)
           |WHERE rn = 1""".stripMargin
      // The full-width baseline is hoisted into ONE MATERIALIZED CTE
      // shared by all four branches (the repo's multiply-referenced-CTE
      // rule): inlined per branch, DuckDB would re-run the quadratic
      // top1(64) join five times — once as f in each UNION ALL branch
      // and once as p for the d=64 sanity row.
      AblationDims.map { d =>
        val p = if (d == 64) "fullnb" else s"(${top1(d)})"
        s"""SELECT CAST($d AS BIGINT) AS dims, count(*) AS n,
           |  CAST(sum(CASE WHEN p.nb = f.nb THEN 1 ELSE 0 END) AS BIGINT)
           |    AS top1_agree,
           |  CASE WHEN count(*) = 0 THEN 0 ELSE
           |    CAST(sum(CASE WHEN p.nb = f.nb THEN 1 ELSE 0 END) AS BIGINT)
           |      * 10000 // count(*) END AS agree_bp
           |FROM $p p JOIN fullnb f USING (vec_id)"""
          .stripMargin
      }.mkString(s"WITH fullnb AS MATERIALIZED (${top1(64)})\n",
        "\nUNION ALL\n", "\nORDER BY dims")
    },
    // Each method's oracle SQL is reused VERBATIM as a subquery (the
    // e3_pack_stats / dataset-card discipline), joined to the exact
    // top-1 ground truth — the frontier can't drift from the methods
    // it scores. hit_bp guarded for a method answering zero queries
    // (DuckDB // 0 errors where Spark div yields null).
    "e2_ann_pareto" -> {
      def blk(name: String, probes: Int, sql: String) =
        s"""SELECT '$name' AS method, CAST($probes AS BIGINT) AS probes,
           |  count(*) AS n,
           |  CAST(sum(CASE WHEN a.neighbor_id = x.other_id
           |    THEN 1 ELSE 0 END) AS BIGINT) AS top1_hits,
           |  CASE WHEN count(*) = 0 THEN 0 ELSE
           |    CAST(sum(CASE WHEN a.neighbor_id = x.other_id
           |      THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) END
           |    AS hit_bp
           |FROM ($sql) a JOIN (SELECT vec_id, other_id
           |  FROM ($cosineTopkOracle) WHERE rn = 1) x USING (vec_id)"""
          .stripMargin
      Seq(blk("ivf_p1", 1, annIvfOracle(1)),
        blk("ivf_p2", 2, annIvfOracle(2)),
        blk("lsh_p1", 1, annLshOracle),
        blk("lsh_p13", 13, annMultiprobeOracle))
        .mkString("", "\nUNION ALL\n", "\nORDER BY method")
    },
    // e2_ann_pareto with the exact baseline swapped for the sampled one:
    // the method SQL is still composed verbatim; the INNER join against
    // the sampled exact side is what restricts the scoreboard
    "e2_ann_pareto_sampled" -> {
      def blk(name: String, probes: Int, sql: String) =
        s"""SELECT '$name' AS method, CAST($probes AS BIGINT) AS probes,
           |  count(*) AS n,
           |  CAST(sum(CASE WHEN a.neighbor_id = x.other_id
           |    THEN 1 ELSE 0 END) AS BIGINT) AS top1_hits,
           |  CASE WHEN count(*) = 0 THEN 0 ELSE
           |    CAST(sum(CASE WHEN a.neighbor_id = x.other_id
           |      THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) END
           |    AS hit_bp
           |FROM ($sql) a JOIN (SELECT vec_id, other_id FROM exs
           |  WHERE rn = 1) x USING (vec_id)"""
          .stripMargin
      Seq(blk("ivf_p1", 1, annIvfOracle(1)),
        blk("ivf_p2", 2, annIvfOracle(2)),
        blk("lsh_p1", 1, annLshOracle),
        blk("lsh_p13", 13, annMultiprobeOracle))
        .mkString(s"WITH $qselCtes,\n$sampledExactCte\n",
          "\nUNION ALL\n", "\nORDER BY method")
    },
    // greedy farthest-point traversal unrolled into KcenterK CTE rounds:
    // seed = mix64 argmin, then each round argmin-of-max-cosine against
    // the accumulated selection (ties by vec_id); every cosine is the
    // same index-order double the Spark side computes
    "e2_kcenter" -> {
      import OracleSql._
      val saltU = java.lang.Long.toUnsignedString(KcenterSalt)
      val rounds = (2 to KcenterK).map { k =>
        val prev = (1 until k).map(i => s"SELECT vec_id FROM s$i")
          .mkString(" UNION ALL ")
        // sel$k pre-joins the ≤K selected vectors so the candidate scan
        // is emb × (tiny materialized list) — the IN-subquery form made
        // DuckDB materialize emb × emb first and OOM at sf0.1
        s"""p$k AS MATERIALIZED ($prev),
           |sel$k AS MATERIALIZED (SELECT emb.vec_id, emb.v
           |  FROM emb JOIN p$k USING (vec_id)),
           |s$k AS (SELECT b.vec_id AS vec_id,
           |    max(list_cosine_similarity(b.v, a.v)) AS ms
           |  FROM emb b CROSS JOIN sel$k a
           |  WHERE b.vec_id NOT IN (SELECT vec_id FROM p$k)
           |  GROUP BY b.vec_id ORDER BY ms, b.vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val out = (2 to KcenterK).map(k =>
        s"UNION ALL SELECT CAST($k AS BIGINT), vec_id, round(ms, 4) FROM s$k")
        .mkString("\n")
      s"""WITH emb AS MATERIALIZED (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sd_in AS (SELECT vec_id,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
         |  FROM embeddings),
         |${mixCtes("sd", "q0", "sm", Seq("vec_id"))},
         |s1 AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
         |    ORDER BY ${toSigned("sm")}, vec_id) AS rn FROM sd)
         |  WHERE rn = 1),
         |$rounds
         |SELECT CAST(1 AS BIGINT) AS k, vec_id,
         |  CAST(NULL AS DOUBLE) AS cover_sim FROM s1
         |$out
         |ORDER BY k""".stripMargin
    },
    // per-vector in-cell top-K edge list off the shared IVF chain, then
    // a swap self-join for mutuality; rate in integer basis points
    "e2_knn_graph" ->
      s"""WITH ${ivfCtes(1)},
         |$knnMutCtes,
         |edg AS (SELECT label, count(*) AS n_edges
         |  FROM knn JOIN embeddings USING (vec_id) GROUP BY label),
         |mtl AS (SELECT label, count(*) AS n_mutual
         |  FROM mut JOIN embeddings USING (vec_id) GROUP BY label)
         |SELECT CAST(edg.label AS INT) AS label, n_edges,
         |  CAST(coalesce(n_mutual, 0) AS BIGINT) AS n_mutual,
         |  coalesce(n_mutual, 0) * 10000 // n_edges AS mutual_bp
         |FROM edg LEFT JOIN mtl USING (label)
         |ORDER BY label""".stripMargin,
    // common-neighbor Jaccard over the SAME mutual-kNN CTEs as
    // e2_knn_graph (shared knnMutCtes — the can't-drift rule); adjacency
    // anti-joined out so the union identity is exact
    "e9_link_pred_knn" ->
      s"""WITH ${ivfCtes(1)},
         |$knnMutCtes,
         |kdeg AS (SELECT vec_id AS id, count(*) AS deg FROM mut GROUP BY 1),
         |kcn AS (SELECT e1.vec_id AS vec_a, e2.other_id AS vec_b,
         |    count(*) AS common
         |  FROM mut e1 JOIN mut e2 ON e1.other_id = e2.vec_id
         |    AND e1.vec_id < e2.other_id
         |  GROUP BY 1, 2),
         |kcand AS (SELECT kcn.* FROM kcn
         |  LEFT JOIN mut m ON kcn.vec_a = m.vec_id AND kcn.vec_b = m.other_id
         |  WHERE m.vec_id IS NULL)
         |SELECT vec_a, vec_b, common, d1.deg AS deg_a, d2.deg AS deg_b,
         |  round(common / CAST(d1.deg + d2.deg - common AS DOUBLE), 4)
         |    AS jaccard
         |FROM kcand JOIN kdeg d1 ON vec_a = d1.id JOIN kdeg d2 ON vec_b = d2.id
         |ORDER BY jaccard DESC, common DESC, vec_a, vec_b
         |LIMIT $KnnLinkPredK""".stripMargin,
    // same wedge generator as e9_link_pred_knn; the AA weight is the
    // Scala-side integer literal table (no engine-side ln)
    "e9_adamic_adar" ->
      s"""WITH ${ivfCtes(1)},
         |$knnMutCtes,
         |adeg AS (SELECT vec_id AS id, count(*) AS deg FROM mut GROUP BY 1),
         |awdg AS (SELECT e1.vec_id AS vec_a, e2.other_id AS vec_b,
         |    adeg.deg AS zdeg
         |  FROM mut e1 JOIN mut e2 ON e1.other_id = e2.vec_id
         |    AND e1.vec_id < e2.other_id
         |  JOIN adeg ON e1.other_id = adeg.id),
         |aacn AS (SELECT vec_a, vec_b, count(*) AS common,
         |    CAST(sum($aaWeightCase) AS BIGINT) AS aa_micro
         |  FROM awdg GROUP BY 1, 2),
         |aacand AS (SELECT aacn.* FROM aacn
         |  LEFT JOIN mut m ON aacn.vec_a = m.vec_id AND aacn.vec_b = m.other_id
         |  WHERE m.vec_id IS NULL)
         |SELECT vec_a, vec_b, common, aa_micro,
         |  d1.deg AS deg_a, d2.deg AS deg_b
         |FROM aacand JOIN adeg d1 ON vec_a = d1.id JOIN adeg d2 ON vec_b = d2.id
         |ORDER BY aa_micro DESC, common DESC, vec_a, vec_b
         |LIMIT $KnnLinkPredK""".stripMargin,
    // pass 1 = the memo's cos_g top-3 (list_cosine ranking, house
    // tie-break); the expansion arithmetic is pinned-order IEEE; pass 2
    // re-ranks the broadcast expanded queries; outputs are integers
    "e2_rocchio" ->
      s"""WITH $qselCtes,
         |rc_e AS (SELECT vec_id AS oid, CAST(embedding AS DOUBLE[]) AS oe
         |  FROM embeddings),
         |rc_x AS (SELECT a.vec_id, b.oid,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), b.oe)
         |      AS sim
         |  FROM embeddings a JOIN rc_e b ON b.oid <> a.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel)),
         |rc_t AS (SELECT vec_id, oid, rn FROM (
         |  SELECT vec_id, oid, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, oid) AS rn FROM rc_x) WHERE rn <= 3),
         |rc_p AS (SELECT t1.vec_id, t1.oid AS nb1, t2.oid AS nb2,
         |    t3.oid AS nb3
         |  FROM (SELECT vec_id, oid FROM rc_t WHERE rn = 1) t1
         |  JOIN (SELECT vec_id, oid FROM rc_t WHERE rn = 2) t2 USING (vec_id)
         |  JOIN (SELECT vec_id, oid FROM rc_t WHERE rn = 3) t3 USING (vec_id)),
         |rc_q AS (SELECT p.vec_id, p.nb1, p.nb2, p.nb3,
         |    list_transform(range(1, 65), i ->
         |      0.5 * q.ed[CAST(i AS INT)] + 0.5 *
         |        (((a.oe[CAST(i AS INT)] + b.oe[CAST(i AS INT)])
         |          + c.oe[CAST(i AS INT)]) / 3.0)) AS qp
         |  FROM rc_p p
         |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |    FROM embeddings) q ON p.vec_id = q.vec_id
         |  JOIN rc_e a ON p.nb1 = a.oid
         |  JOIN rc_e b ON p.nb2 = b.oid
         |  JOIN rc_e c ON p.nb3 = c.oid),
         |rc_s AS (SELECT x.vec_id, x.nb1, x.nb2, x.nb3, e.oid,
         |    list_cosine_similarity(x.qp, e.oe) AS sim
         |  FROM rc_q x JOIN rc_e e ON e.oid <> x.vec_id),
         |rc_r AS (SELECT vec_id, nb1, nb2, nb3, oid, rn FROM (
         |  SELECT vec_id, nb1, nb2, nb3, oid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, oid) AS rn FROM rc_s)
         |  WHERE rn <= 3)
         |SELECT vec_id, nb1 AS orig_top1,
         |  min(CASE WHEN rn = 1 THEN oid END) AS prf_top1,
         |  CAST(CASE WHEN min(CASE WHEN rn = 1 THEN oid END) = nb1
         |    THEN 0 ELSE 1 END AS BIGINT) AS moved,
         |  CAST(sum(CASE WHEN oid IN (nb1, nb2, nb3) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS overlap3
         |FROM rc_r GROUP BY vec_id, nb1, nb2, nb3 ORDER BY vec_id""".stripMargin,
    // per-query drill-down of e2_ann_recall_sampled: same ivf + exact
    // CTE text, the final fold removed; gaps subtract exact 1e4
    // integerizations of the 4-dp rounded sims
    "e2_recall_per_query" ->
      s"""WITH ${ivfCtes(1)},
         |$qselCtes,
         |rpq_ivf AS (SELECT vec_id, neighbor_id AS ivf_nb,
         |    round(sim, 4) AS ivf_sim FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn = 1),
         |rpq_ex AS (SELECT vec_id, other_id AS exact_nb,
         |    round(sim, 4) AS exact_sim FROM (
         |  SELECT a.vec_id, b.vec_id AS other_id,
         |    list_cosine_similarity(a.e, b.e) AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
         |  FROM emb a JOIN embeddings la ON a.vec_id = la.vec_id
         |  JOIN embeddings lb ON la.label = lb.label AND lb.vec_id <> a.vec_id
         |  JOIN emb b ON b.vec_id = lb.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel))
         |  WHERE rn = 1)
         |SELECT e.vec_id, e.exact_nb, e.exact_sim, i.ivf_nb, i.ivf_sim,
         |  CAST(CASE WHEN i.ivf_nb = e.exact_nb THEN 1 ELSE 0 END AS BIGINT)
         |    AS hit,
         |  CAST(round(e.exact_sim * 10000) AS BIGINT)
         |    - CAST(round(i.ivf_sim * 10000) AS BIGINT) AS gap_bp
         |FROM rpq_ex e LEFT JOIN rpq_ivf i USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,
    // sampled radius search: threshold on the ROUNDED cosine so the
    // boundary set is bit-identical cross-engine
    "e2_range_search" ->
      s"""WITH $qselCtes
         |SELECT a.vec_id, b.vec_id AS other_id,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 4) AS sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id <> b.vec_id
         |WHERE a.vec_id IN (SELECT vec_id FROM qsel)
         |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])), 4) >= $RangeTau
         |ORDER BY a.vec_id, other_id""".stripMargin,
    // two splitmix-sampled codebooks; residuals via the same x−y lambda;
    // both argmins tie-break on the lower codeword; SSE integerizes per
    // vector before the exact long fold (the e2_pq_distortion rule)
    "e2_rvq" -> {
      import OracleSql._
      val s1 = java.lang.Long.toUnsignedString(RvqSalt1)
      val s2 = java.lang.Long.toUnsignedString(RvqSalt2)
      s"""WITH remb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
         |  FROM embeddings),
         |rq1_in AS (SELECT vec_id,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$s1' AS HUGEINT)) AS h0
         |  FROM embeddings),
         |${mixCtes("rq1", "h0", "h1", Seq("vec_id"))},
         |rq1m AS (SELECT vec_id, ${toSigned("h1")} AS m FROM rq1),
         |rs1 AS (SELECT row_number() OVER (ORDER BY rq1m.m, e.vec_id) - 1
         |    AS c1, e.ed AS cv1
         |  FROM remb e JOIN rq1m ON e.vec_id = rq1m.vec_id
         |  ORDER BY rq1m.m, e.vec_id LIMIT $RvqK1),
         |rd1 AS (SELECT e.vec_id, s.c1,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, 65), i ->
         |      (e.ed[CAST(i AS INT)] - s.cv1[CAST(i AS INT)]) *
         |      (e.ed[CAST(i AS INT)] - s.cv1[CAST(i AS INT)]))),
         |    (a, b) -> a + b) AS dist
         |  FROM remb e, rs1 s),
         |ra1 AS (SELECT vec_id, c1, dist AS d1 FROM (
         |  SELECT vec_id, c1, dist, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, c1) AS rn FROM rd1)
         |  WHERE rn = 1),
         |rres AS (SELECT a.vec_id, a.d1,
         |    list_transform(range(1, 65), i ->
         |      e.ed[CAST(i AS INT)] - s.cv1[CAST(i AS INT)]) AS rv
         |  FROM ra1 a JOIN remb e ON a.vec_id = e.vec_id
         |  JOIN rs1 s ON a.c1 = s.c1),
         |rq2_in AS (SELECT vec_id,
         |  xor(CAST(vec_id AS HUGEINT), CAST('$s2' AS HUGEINT)) AS h0
         |  FROM embeddings),
         |${mixCtes("rq2", "h0", "h1", Seq("vec_id"))},
         |rq2m AS (SELECT vec_id, ${toSigned("h1")} AS m FROM rq2),
         |rs2id AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY m, vec_id) AS c2
         |  FROM rq2m ORDER BY m, vec_id LIMIT $RvqK2),
         |rs2 AS (SELECT i.c2, r.rv AS cv2
         |  FROM rs2id i JOIN rres r ON i.vec_id = r.vec_id
         |  UNION ALL SELECT 0 AS c2,
         |    list_transform(range(1, 65), i -> 0.0::DOUBLE) AS cv2),
         |rd2 AS (SELECT r.vec_id, r.d1, s.c2,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, 65), i ->
         |      (r.rv[CAST(i AS INT)] - s.cv2[CAST(i AS INT)]) *
         |      (r.rv[CAST(i AS INT)] - s.cv2[CAST(i AS INT)]))),
         |    (a, b) -> a + b) AS dist2
         |  FROM rres r, rs2 s),
         |ra2 AS (SELECT vec_id, d1, c2, dist2 AS d2 FROM (
         |  SELECT vec_id, d1, c2, dist2, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist2, c2) AS rn FROM rd2)
         |  WHERE rn = 1),
         |rint AS (SELECT vec_id, c2,
         |    CAST(floor(d1 * 1000000.0 + 0.5) AS BIGINT) AS d1i,
         |    CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT) AS d2i
         |  FROM ra2)
         |SELECT CAST(c2 AS BIGINT) AS codeword, count(*) AS n,
         |  CAST(sum(d1i) AS BIGINT) AS coarse_sse_micro,
         |  CAST(sum(d2i) AS BIGINT) AS rvq_sse_micro,
         |  round(CAST(sum(d1i) AS BIGINT) / (count(*) * 1000000.0), 4)
         |    AS coarse_mse,
         |  round(CAST(sum(d2i) AS BIGINT) / (count(*) * 1000000.0), 4)
         |    AS rvq_mse,
         |  CASE WHEN sum(d1i) = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((CAST(sum(d1i) AS BIGINT) - CAST(sum(d2i) AS BIGINT))
         |      * 10000 // CAST(sum(d1i) AS BIGINT) AS BIGINT) END AS gain_bp
         |FROM rint GROUP BY c2 ORDER BY codeword""".stripMargin
    },
    // nearest-codeword min per (vector, subspace) off the shared dists
    // CTE, micro-quantized scan-side so the cross-vector sum is exact
    "e2_pq_distortion" ->
      s"""WITH $pqCtes,
         |md AS (SELECT vec_id, sub,
         |    CAST(floor(min(dist) * 1000000.0 + 0.5) AS BIGINT) AS md_i
         |  FROM dists GROUP BY vec_id, sub)
         |SELECT CAST(sub AS BIGINT) AS sub, count(*) AS n,
         |  CAST(sum(md_i) AS BIGINT) AS sse_micro,
         |  round(CAST(sum(md_i) AS BIGINT) / (count(*) * 1000000.0), 4)
         |    AS mse
         |FROM md GROUP BY sub ORDER BY sub""".stripMargin,
    // one in-cell pair scan feeds both triplet legs; margin subtracts
    // the exact 1e4 integerizations of the two rounded sims
    "e2_triplet_mining" ->
      s"""WITH ${ivfCtes(1)},
         |prs AS MATERIALIZED (SELECT a.vec_id AS vec_id,
         |    la.label AS label, b.vec_id AS other_id,
         |    lb.label AS other_label,
         |    list_cosine_similarity(a.e, b.e) AS sim
         |  FROM build a JOIN build b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  JOIN embeddings la ON a.vec_id = la.vec_id
         |  JOIN embeddings lb ON b.vec_id = lb.vec_id),
         |pos AS (SELECT vec_id, other_id AS positive_id,
         |    round(sim, 4) AS pos_sim FROM (
         |  SELECT vec_id, other_id, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, other_id) AS rn
         |  FROM prs WHERE label = other_label) WHERE rn = 1),
         |neg AS (SELECT vec_id, other_id AS negative_id,
         |    round(sim, 4) AS neg_sim FROM (
         |  SELECT vec_id, other_id, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, other_id) AS rn
         |  FROM prs WHERE label <> other_label) WHERE rn = 1)
         |SELECT vec_id, positive_id, pos_sim, negative_id, neg_sim,
         |  CAST(round(pos_sim * 10000) AS BIGINT)
         |    - CAST(round(neg_sim * 10000) AS BIGINT) AS margin_bp
         |FROM pos JOIN neg USING (vec_id) ORDER BY vec_id""".stripMargin,
    // sampled anchors (qsel), both legs exact against the whole corpus;
    // one anchor×corpus pair scan feeds both legs
    "e2_triplet_mining_sampled" ->
      s"""WITH $qselCtes,
         |sprs AS MATERIALIZED (SELECT a.vec_id AS vec_id,
         |    a.label AS label, b.vec_id AS other_id,
         |    b.label AS other_label,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])) AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qsel)),
         |pos AS (SELECT vec_id, other_id AS positive_id,
         |    round(sim, 4) AS pos_sim FROM (
         |  SELECT vec_id, other_id, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, other_id) AS rn
         |  FROM sprs WHERE label = other_label) WHERE rn = 1),
         |neg AS (SELECT vec_id, other_id AS negative_id,
         |    round(sim, 4) AS neg_sim FROM (
         |  SELECT vec_id, other_id, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, other_id) AS rn
         |  FROM sprs WHERE label <> other_label) WHERE rn = 1)
         |SELECT vec_id, positive_id, pos_sim, negative_id, neg_sim,
         |  CAST(round(pos_sim * 10000) AS BIGINT)
         |    - CAST(round(neg_sim * 10000) AS BIGINT) AS margin_bp
         |FROM pos JOIN neg USING (vec_id) ORDER BY vec_id""".stripMargin,
  )

  /** The directed-kNN + mutual-subset CTE block (`knn`, `mut`; requires
    * ivfCtes in the same WITH) — shared by e2_knn_graph and
    * e9_link_pred_knn so the audited graph and the prediction graph are
    * the same text. MATERIALIZED: link prediction references mut 4×. */
  private lazy val knnMutCtes: String =
    s"""knn AS MATERIALIZED (SELECT vec_id, other_id FROM (
       |  SELECT a.vec_id, b.vec_id AS other_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_cosine_similarity(a.e, b.e) DESC, b.vec_id) AS rn
       |  FROM build a JOIN build b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rn <= $KnnGraphK),
       |mut AS MATERIALIZED (SELECT k1.vec_id, k1.other_id FROM knn k1
       |  JOIN knn k2 ON k1.vec_id = k2.other_id
       |    AND k1.other_id = k2.vec_id)""".stripMargin

  /** DuckDB replica of sampledQueryIds: mix64(vec_id ^ AnnQuerySalt)
    * ORDER BY (m, vec_id) LIMIT AnnQueryK, as CTEs ending in `qsel`
    * (vec_id) — the shared query-sample chain of every *_sampled
    * audit oracle. lazy: referenced by the map literal above. */
  private lazy val qselCtes: String = {
    import OracleSql._
    val saltU = java.lang.Long.toUnsignedString(AnnQuerySalt)
    s"""qd_in AS (SELECT vec_id,
       |  xor(CAST(vec_id AS HUGEINT), CAST('$saltU' AS HUGEINT)) AS q0
       |  FROM embeddings),
       |${mixCtes("qd", "q0", "qm", Seq("vec_id"))},
       |qsel AS (SELECT vec_id FROM (
       |  SELECT vec_id, row_number() OVER (
       |    ORDER BY ${toSigned("qm")}, vec_id) AS qrn FROM qd)
       |  WHERE qrn <= $AnnQueryK)""".stripMargin
  }

  /** The sampled exact top-k ground-truth block (ends in CTE `exs`:
    * vec_id, other_id, rn, sim4) — the oracle twin of
    * sampledExactTopK. Requires $qselCtes in the same WITH. */
  private lazy val sampledExactCte: String =
    """exs AS MATERIALIZED (SELECT vec_id, other_id, rn,
      |    round(sim, 4) AS sim4 FROM (
      |  SELECT a.vec_id, b.vec_id AS other_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])) AS sim,
      |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id IN (SELECT vec_id FROM qsel)))""".stripMargin

  // lazy: referenced by the `oracles` map literal above its declaration
  private lazy val cosineTopkOracle: String =
    """SELECT vec_id, CAST(rn AS BIGINT) AS rn, other_id, round(sim, 4) AS sim
      |FROM (SELECT a.vec_id, b.vec_id AS other_id,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |    CAST(b.embedding AS DOUBLE[])) AS sim,
      |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id)
      |WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin
}
