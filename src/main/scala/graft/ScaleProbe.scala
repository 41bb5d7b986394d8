package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: synthesizes a corpus N× the size of sf0.1 (ids offset per
  * replica so key structure — and therefore per-key work — is preserved)
  * into /tmp and times the scale-sensitive operators on it. The point is
  * the wall-clock GROWTH vs N: a plan whose time grows ~linearly with N
  * survives a 100× scale-up; one that grows quadratically does not.
  * Covers the dedup/text paths plus every plan flagged "weak" in round 1:
  * the q19a star join, the bucketed q27 range join, both ANN paths, and
  * the session-window aggregation. Results are recorded in SCALE.md.
  * Run: sbt "runMain graft.ScaleProbe [N]". */
object ScaleProbe {

  /** Union N copies of `df` with `idCols` offset per replica — same table
    * profile, N× the rows, unchanged per-key density. */
  private def replicate(df: DataFrame, n: Int, idCols: Map[String, Long]): DataFrame =
    (0 until n).map { i =>
      idCols.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(i.toLong * stride))
      }
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val src = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_${n}x"

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // "reuse" as any arg: skip synthesis when the replicated corpus is
    // already on disk (iterating on one query's plan at a fixed N).
    val reuse = args.contains("reuse") &&
      new java.io.File(s"$out/documents.parquet").isDirectory
    if (!reuse && n >= 1000) {
      // two-level synthesis for the 1000× flagship run: 10 offset copies
      // of the on-disk 100× corpus (strides ×100 so id ranges stay
      // disjoint) — a single 1000-branch union would blow up plan
      // analysis, and re-reading the materialized 100× parquet is the
      // same rows the one-level path would produce
      val base = s"/tmp/graft_scale_${n / 10}x"
      require(new java.io.File(s"$base/documents.parquet").isDirectory,
        s"1000x synthesis needs the ${n / 10}x corpus at $base first")
      def rep10(t: String, idCols: Map[String, Long]): Unit =
        write(t, replicate(spark.read.parquet(s"$base/$t.parquet"), 10,
          idCols.view.mapValues(_ * (n / 10)).toMap))
      rep10("documents", Map("doc_id" -> 10000000L))
      rep10("embeddings", Map("vec_id" -> 10000000L))
      rep10("events", Map("event_id" -> 1000000000L, "user_id" -> 10000000L))
      rep10("customer", Map("c_custkey" -> 10000000L))
      rep10("orders", Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L))
      rep10("lineitem", Map("l_orderkey" -> 100000000L))
      Seq("region", "nation").foreach { t =>
        write(t, spark.read.parquet(s"$base/$t.parquet"))
      }
    } else if (!reuse) {

    // documents / embeddings / events: offset the entity ids; events keeps
    // user_id AND event_id structure so per-user history length is constant
    write("documents", replicate(Tables.documents(spark, src), n,
      Map("doc_id" -> 10000000L)))
    write("embeddings", replicate(spark.read.parquet(s"$src/embeddings.parquet"), n,
      Map("vec_id" -> 10000000L)))
    write("events", replicate(spark.read.parquet(s"$src/events.parquet"), n,
      Map("event_id" -> 1000000000L, "user_id" -> 10000000L)))
    // star schema for q19a: replicate the fact chain + the linearly-growing
    // customer dimension; fixed-size region/nation are copied once
    write("customer", replicate(Tables.customer(spark, src), n,
      Map("c_custkey" -> 10000000L)))
    write("orders", replicate(Tables.orders(spark, src), n,
      Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L)))
    write("lineitem", replicate(Tables.lineitem(spark, src), n,
      Map("l_orderkey" -> 100000000L)))
    Seq("region", "nation").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
    }
    println(s"corpus: ${spark.read.parquet(s"$out/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$out/events.parquet").count()} events, " +
      s"${spark.read.parquet(s"$out/lineitem.parquet").count()} lineitems  (N=$n)")

    // The exact pairwise verifier (and anything consuming it) is
    // quadratic in duplication density BY DESIGN — measuring it at 10×
    // documents that; at ≥100× it is excluded (arg 2 = "linear") so the
    // probe exercises only the declared scale paths.
    val full = Seq("e1_exact_dedup", "e1_ngram_jaccard", "e1_minhash_pairs",
      "e1_dedup_clusters", "e1_contamination", "e1_segment_dedup",
      "e1_simhash_pairs",
      "e3_langid", "e3_tokens", "e3_tfidf", "e3_repetition",
      "e3_lang_confusion", "e3_lm_score", "e3_chunk", "e3_pack",
      "q42_approx_distinct", "e4f2_funnel4",
      "q19a_region_revenue", "q27_range_join", "q25_percentile",
      "q36_scalar_subquery", "q40_skew_agg", "q41_skew_join",
      "e2_ann_lsh", "e2_ann_ivf", "e2_cosine_topk",
      "e4c_sessions", "e4f_funnel", "e6_sample_ids",
      "e2_centroids", "e2_vq_assign", "e7_source_stats", "e7_curated",
      "e4g_cohort", "e5_image_neardup", "e6_quota_sample", "e3_vocab_growth",
      "e1_source_overlap", "e7_mixture", "q43_approx_quantile",
      "e6_global_shuffle", "e7_temperature_mix", "e1_boilerplate",
      "e2_pq_codes", "e2_pq_search",
      "e2_pq_rerank", "e3_quality_tiers", "e4j_window_sketch",
      "q44_window_dist", "e1_minhash_accuracy",
      "e2_ann_recall", "e7_funnel",
      "e1_fuzzy_pairs", "e1_incremental", "e3_redact",
      "e8_profile", "e8_outliers", "e8_zipf", "e8_collocations",
      "e8_diversity", "e8_decay", "e8_corr", "e8_drift",
      "e8_transitions", "e9_pagerank", "e9_degrees", "e9_triangles",
      "e2_kmeans_iter", "e7_mixture_sample", "e8_cusum", "e1_lsh_recall",
      "e2_ivf_stats", "e8_benford", "e1_cluster_stats",
      "e4f3_funnel_rates", "e1_span_dedup", "e3_quality_model",
      "e1_containment", "e4l_heavy_hitters", "e6_manifest", "e3_bm25",
      "e7_dataset_card", "e8_ks_drift", "e2_ann_ivfpq", "e2_ivf_ingest",
      "e5_scene_cuts",
      // round 7
      "e2_semdedup", "e6_dsir", "q47_scd2", "q48_merge_upsert",
      "q49_dq_checks", "q50_incr_agg", "e8_seasonality",
      "e1_keeper_quality", "e8_concentration", "e3_bpe_pairs",
      "e3_bpe_merge", "q51_lateral", "e2_sq8", "e5_blob_dedup",
      "e2_ann_filtered", "q52_date_spine", "e3_hash_embed",
      "e8_kanon", "e8_bootstrap", "e2_hard_negatives",
      "e6_cluster_split", "e7_source_caps", "e3_entropy", "e6_time_split",
      // round 7 continuation
      "e1_cdc_chunks", "e1_prefix_join", "e3_bpe_vocab", "e3_bpe_apply",
      "e3_postings", "e3_phrase_search", "e3_quality_calibration",
      "e6_interleave", "e7_epoch_plan", "e9_label_prop",
      "q53_sessionize", "e2_ann_multiprobe", "e2_embed_outliers",
      "e1_incremental_neardup", "e7_dedup_weights",
      "e3_langid_scoreboard", "e8_mad_outliers", "e9_modularity",
      "e5_audio_segments", "e3_perceptron_step", "e2_recall_at_k",
      // round 8
      "e2_kmeans3", "e2_kmeans_objective", "e1_shingle_profile",
      "e3_pack_stats", "e8_freshness", "q54_range_frame", "e6_kfold",
      "e9_kcore", "e2_ann_pareto", "e2_dim_ablation",
      "e6_split_leakage", "e1_lsh_curve",
      // round 9: the SAMPLED recall audits run at EVERY scale — their
      // exact pass is sample × corpus (fixed-size query set), which is
      // the whole point: the audit family's ≥100× exclusion is lifted.
      "e2_ann_recall_sampled", "e1_lsh_recall_sampled",
      "q45_first_last", "e1_dedup_clusters_star",
      "e2_recall_at_k_sampled", "e2_ann_pareto_sampled",
      "e2_dim_ablation_sampled", "e1_lsh_curve_sampled",
      "e1_contamination13", "e2_semdedup_clusters",
      "e1_incremental_clusters", "e1_kmv_union", "e5_video_neardup", "e8_embed_drift", "e1_kmv_global",
      // round 9 continuation: e2_mips/e1_source_novelty/e6_curriculum/
      // e7_dataset_diff/e2_mmr are linear by construction (sample ×
      // corpus, vocabulary-bounded, or scan + tiny joins);
      // e2_ivf_rebalance and e8_source_divergence follow the declared
      // superlinear-but-bounded models (n·√n IVF assign; vocab-keyed
      // join) — measured, not assumed
      "e2_mips", "e1_source_novelty", "e6_curriculum", "e7_dataset_diff",
      "e2_mmr", "e2_ivf_rebalance", "e8_source_divergence", "e2_ivf_merge",
      "e8_centroid_shift", "e9_link_pred", "e2_hybrid_rrf",
      "e7_anneal_plan",
      // round 9 continuation 2: the graph passes are pair-table-bounded
      // (the e9 family discipline); fertility is one corpus-linear token
      // explode over the memoized trainer state — all linear-safe
      "e9_hits", "e9_bfs", "e3_fertility",
      // sample × corpus broadcast nested loop (the e2_mips shape) — linear
      "e2_label_noise",
      // one (source, fp)-key aggregate / the standard IVF assign pass
      "e1_dup_inflation", "e2_centroid_purity",
      // the semdedup pair stage + scan-side split gates
      "e6_semantic_leakage",
      // scan-side score+gate, bounded (source, m4) histogram windows
      "e8_quality_drift",
      // pair-table x |thresholds| fan-out, never corpus-sized
      "e1_retention_curve",
      // three |sources|-bounded monitors meeting in |sources|-key joins
      "e7_release_gate",
      // pair-table-sized moment fold (the e9 family discipline)
      "e9_assortativity",
      // signature join over the output-bounded pair table
      "e1_minhash_bbit",
      // sample x label-block over reconstructed vectors (linear)
      "e2_sq8_recall",
      // round 10: the two graph passes are pair-table-bounded (the e9
      // family discipline); kcenter is K broadcast corpus scans
      // (linear); knn_graph is the n·√n IVF in-cell join; gopher_gates
      // is one scan with counter aggregates; range_search is the
      // sample × label-block broadcast join (linear)
      "e9_local_clustering", "e9_conductance", "e2_kcenter",
      "e2_knn_graph", "e3_gopher_gates", "e2_range_search",
      // bounded (source, tk) histogram / the linear PQ encode scan
      "e8_gini", "e2_pq_distortion",
      // one in-cell pair scan feeding both legs (the n·√n IVF model)
      "e2_triplet_mining",
      // round 11: sampled anchors × corpus, one broadcast pair scan
      // feeding both legs — linear, the mine's ≥100× scale path
      "e2_triplet_mining_sampled",
      // n·√n kNN build + n·K² wedge join / one scan + constant-size bit
      // table broadcast / 3-gram explode + vocab-bounded distinct
      "e9_link_pred_knn", "e1_bloom_audit", "e8_heaps",
      // round 11 continuation: chi2/shard_plan/group_kfold are one-scan
      // bounded-domain aggregates; tail_index is a per-source top-(m+1)
      // rank window over narrow triples; rich_club is pair-table-bounded;
      // hamming_ann is sample × corpus over 8-byte signatures (linear);
      // gaps_islands folds events to ≤ users×days rows before its window
      "e8_chi2", "e8_tail_index", "e9_rich_club", "e2_hamming_ann",
      "e6_group_kfold", "e7_shard_plan", "q55_gaps_islands",
      // jsd shares the source_divergence vocab-keyed shape; graph_search
      // is |sample| walk state against the n·K edge table per round
      "e8_jsd", "e2_graph_search",
      // q56 reuses q53's single user_id exchange; storage_plan is the
      // e3_pack two-level window over (id, nbytes) pairs
      "q56_attribution", "e5_storage_plan",
      // q57 is two conditional range-frame windows + one (user, ts)
      // equi-join on the same user_id exchange; ppr is the e9_pagerank
      // edge-sized round with a broadcast seed vector
      "q57_window_funnel", "e9_ppr",
      // one broadcast n·k candidate pass + two map-side-combined folds
      "e2_silhouette",
      // three 1-row-broadcast power scans / + two sample × corpus legs
      "e2_top_pc", "e2_abtt",
      // one posexplode scan folding to 64 keys map-side
      "e8_dim_stats",
      // bounded digests: windows x types rank / per-user min + day fold
      "e4n_window_topk", "q58_running_distinct",
      // pair-table-sized with two id-keyed vector fetch joins
      "e2_lexical_agreement",
      // two id-only drop sets left-joined onto one corpus scan
      "e1_hybrid_dedup",
      // vocab-keyed df/tf aggregates / scan-side gate + 2-key fold
      "e3_stopwords", "e6_ab_srm",
      // per-doc window minima + df-capped fingerprint equi-join
      "e1_winnowing",
      // round 12: rerank = the hamming signature scan + a broadcast
      // id-keyed shortlist fetch (linear, the e2_hamming_ann shape);
      // dup_ngrams = shingle-keyed df count + the MinHash chain's h-keyed
      // equi-join folding to per-doc digests (linear in incidences)
      "e2_hamming_rerank", "e8_dup_ngrams",
      // round 12 continuation: adamic_adar shares link_pred_knn's
      // wedge-join bound; recall_per_query is the sampled audit minus
      // its fold; burstiness/percent_rank fold to bounded digests
      // (types×days / 5×10 keys); aspect_buckets is scan-side metadata
      // arithmetic into a ≤16-key aggregate
      "e9_adamic_adar", "e2_recall_per_query", "e8_burstiness",
      "q59_percent_rank", "e5_aspect_buckets",
      // rvq: two broadcast-codebook scan passes + an id-keyed residual
      // join (linear); moments: two scans folding to |types| keys
      "e2_rvq", "e8_moments",
      // backoff: vocab-bounded model tables broadcast onto one scoring
      // scan; doremi runs on its |sources|-row fold; eff-diameter is
      // seeds× the pair-table BFS rounds
      "e3_stupid_backoff", "e7_doremi_step", "e9_effective_diameter",
      // saturation: one fp-keyed exchange then 10 rows; closeness rides
      // the efd BFS; mutual_info is the chi2 contingency shape
      "e1_saturation_curve", "e9_closeness", "e8_mutual_info",
      // rocchio: memo pass-1 + one broadcast sample x corpus re-rank
      "e2_rocchio",
      // token explode into the vocab-bounded count table + sketch-sized folds
      "e4v_cmsketch",
      // round 13: serve from the standing IVF release — min-of-2 makes the
      // second rep the SERVING cell (the first pays the one-time build)
      "e2_ivf_serve", "e2_ivf_serve2",
      // the KLL UDAF partial-aggregates to one sketch per (partition, type);
      // the exact-percentile contract legs are the audit's documented cost
      "e4w_kll_quantile",
      // round 14: the maintenance publish — first rep pays the v1+v2
      // release builds (two fold assignments + snapshot writes, the
      // `first` term), the second rep is the pointer-state no-op + the
      // released-table read-back (the steady cell)
      "e2_ivf_publish",
      // PQ serving: first rep pays the codes+codebook release, the
      // steady cell is one released-codes scan × broadcast ADC tables
      "e2_pq_serve")
    // Exact verifiers (quadratic under replication BY DESIGN) are excluded
    // from the ≥100× run: ngram_jaccard is pairwise-exact over shingle
    // co-occurrence; cosine_topk is the exact per-label-block baseline
    // whose block-local pairwise work grows with the square of block size.
    val probes0 =
      if (args.lift(1).contains("linear") || n >= 100)
        // e2_ann_recall consumes the exact per-label-block baseline, so it
        // shares e2_cosine_topk's quadratic-verifier profile
        // e1_containment shares the exact pairwise co-occurrence join
        full.filterNot(Set("e1_ngram_jaccard", "e2_cosine_topk",
          "e2_recall_at_k",
          "e2_ann_recall", "e1_lsh_recall", "e1_containment",
          // scores methods against the exact baseline by definition
          "e2_ann_pareto",
          // exact pairwise baseline per prefix width by definition
          "e2_dim_ablation",
          // bands the exact verifier's pairs by definition
          "e1_lsh_curve"))
      else full
    // "only=a,b,c" as any arg: probe just those queries (iterating on one
    // plan at a fixed N without re-paying the whole sweep).
    val probes = args.find(_.startsWith("only=")) match {
      case Some(o) => o.stripPrefix("only=").split(",").toSeq
      case None    => probes0
    }
    // min-of-2: the first execution of a query in a session pays plan
    // compilation + codegen + scan warmup, which at large N can dwarf
    // the steady-state time (a first-query 10× cell once read 5× its
    // true cost). The minimum of two runs is the growth-comparable one.
    def timeQuery(q: String, dir: String, label: String): Unit = {
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(q)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      // first rep alongside the min: for ops with a one-time term (memo
      // build, standing-index release) first−min is that term's price
      println(f"$label%-28s ${times.map(_._1).min}%8.2f s   " +
        f"${times.head._2}%10d rows   (first ${times.head._1}%.2f s)")
    }
    probes.foreach(q => timeQuery(q, out, q))

    // "skew" as any arg: the e3_pack parallelism probe. Replicate the
    // corpus with 90% of documents collapsed onto ONE source — the shape
    // that breaks single-level per-source packing (one source's whole
    // chunk stream through one task's window sort). With the two-level
    // (source, doc_id-hash shard) window, wall-clock is bounded by the
    // PackShards × |sources| task grid, so the skewed cell should read
    // ≈ the uniform cell above, not |sources|/1 × slower.
    if (args.contains("skew")) {
      val skewOut = s"$out-skew"
      spark.read.parquet(s"$out/documents.parquet")
        .withColumn("source",
          when(col("doc_id") % 10 < 9, lit("src_hot")).otherwise(col("source")))
        .write.mode("overwrite").parquet(s"$skewOut/documents.parquet")
      timeQuery("e3_pack", skewOut, "e3_pack[90%-one-source]")
    }

    // "spanskew" as any arg: the e1_span_dedup hot-shingle probe. Prefix
    // 90% of documents with the SAME 5 tokens — one shingle whose
    // occurrence count is 0.9·|corpus|. The pairwise dedup paths need a
    // df cap precisely because such a shingle costs df² there; span dedup
    // claims linear cost per occurrence (one dup-position row each, then
    // a doc_id-bounded window), so the skewed cell should track the
    // uniform cell above, not blow up.
    if (args.contains("spanskew")) {
      val skewOut = s"$out-spanskew"
      spark.read.parquet(s"$out/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 10 < 9,
            concat(lit("alpha beta gamma delta epsilon "), col("text")))
            .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$skewOut/documents.parquet")
      timeQuery("e1_span_dedup", skewOut, "e1_span_dedup[hot-5gram]")
    }

    // "cellskew" as any arg: the HOT-CELL probe for the standing-index
    // serving path. Collapse 90% of vectors onto ONE embedding (then
    // one IVF cell), so a query probing that cell joins against 0.9·n
    // candidates instead of ~n/√n — the imbalance e2_ivf_stats flags and
    // e2_ivf_rebalance exists to split. Serving cost should degrade to
    // ~one sample × hot-cell scan (linear, the exact-leg price), never
    // quadratic; the probe prices exactly what an unrebalanced index
    // costs the serving tier.
    if (args.contains("cellskew")) {
      val skewOut = s"$out-cellskew"
      val e0 = spark.read.parquet(s"$out/embeddings.parquet")
      val hot = e0.orderBy("vec_id").limit(1)
        .select(col("embedding").as("hot_emb"))
      e0.crossJoin(broadcast(hot))
        .withColumn("embedding",
          when(col("vec_id") % 10 < 9, col("hot_emb")).otherwise(col("embedding")))
        .drop("hot_emb")
        .write.mode("overwrite").parquet(s"$skewOut/embeddings.parquet")
      timeQuery("e2_ivf_serve", skewOut, "e2_ivf_serve[90%-one-cell]")
      timeQuery("e2_ivf_stats", skewOut, "e2_ivf_stats[90%-one-cell]")
    }

    // "chain" as any arg: the DEEP-COMPONENT probe for connected
    // components. The LSH pair graphs of the replicated corpora are
    // clone-cliques (diameter 1), which never stretch the round count — so
    // construct the adversarial shape directly: 1000·N chains of depth 64
    // (the DedupStarSpec corpus at probe volume). Times the default pass
    // (driver finish once the edges fit graft.ops.Loop's budget) against
    // the forced-distributed large-star/small-star rounds, O(log diameter)
    // rounds each a full shuffle barrier, and cross-checks the two label
    // tables cell-for-cell (the spec's equivalence law at probe volume).
    if (args.contains("chain")) {
      val depth = 64L
      val chains = 1000L * n
      val pairs = spark.range(0, chains * (depth - 1)).select(
        expr(s"id div ${depth - 1} * 1000000 + id % ${depth - 1}").as("da"),
        expr(s"id div ${depth - 1} * 1000000 + id % ${depth - 1} + 1")
          .as("db"))
      val verts = pairs.select(col("da").as("doc_id"))
        .unionByName(pairs.select(col("db").as("doc_id"))).distinct()
        .localCheckpoint(true)
      def run(budget: Long): (DataFrame, Int, Long, Double) = {
        val t0 = System.nanoTime()
        val (lab, rounds) = ops.Dedup.connectedComponentsStar(verts, pairs, budget)
        val df = lab.localCheckpoint(true)
        val clusters = df.select("cluster").distinct().count()
        (df, rounds, clusters, (System.nanoTime() - t0) / 1e9)
      }
      val (dfA, roundsA, clustersA, secA) = run(ops.Loop.DriverBytes)
      val (dfD, roundsD, clustersD, secD) = run(ops.Loop.ForceDistributed)
      val mismatches = dfA.join(dfD.withColumnRenamed("cluster", "c2"),
        "doc_id").filter(col("cluster") =!= col("c2")).count()
      require(mismatches == 0L, s"label tables diverge: $mismatches")
      require(clustersA == chains && clustersD == chains,
        s"cluster counts $clustersA/$clustersD != $chains")
      println(f"cc_star[${chains}x$depth-chain]             $secA%8.2f s   distributed rounds=$roundsA clusters=$clustersA")
      println(f"cc_star_distributed[${chains}x$depth-chain] $secD%8.2f s   rounds=$roundsD clusters=$clustersD")
    }

    // "kctrain" as any arg: the kcenterTrained coverage-target loop at
    // fixed tau=0.0 (the corpus's positive-similarity coverage radius) —
    // wall + rounds-run per N, the measured growth model the fixed-K
    // e2_kcenter row can't give (K is an OUTPUT here). Replication keeps
    // the distinct vector SET unchanged, so K(tau) is pinned by corpus
    // geometry to within the seed's wobble — the mix64 seed ranges over
    // the replicated id space, so the walk's starting vector (and with
    // it rounds, ±1) may shift across N; wall is the growth signal
    // (measured 7/8/8 rounds at 1/10/100×).
    if (args.contains("kctrain")) {
      val t0 = System.nanoTime()
      val (df, k) = ops.Similarity.kcenterTrained(spark, out, tauSim = 0.0)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"kcenterTrained[tau=0.0]      $sec%8.2f s   rounds=$k rows=$rows")
    }
    spark.stop()
  }
}
