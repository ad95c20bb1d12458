package graft

import org.apache.spark.sql.SparkSession

/** Writes the formatted-physical-plan audit (EXPLAIN_r{N}.md) for the
  * headline pipelines, on a session with the engine's extensions installed —
  * the same optimizer surface Bench/Main/Verify run — so plan regressions
  * (a lost pushdown, a demoted broadcast, a Window sneaking into an argmax
  * path, the sorted_set_agg rewrite not firing) are reviewable in diffs.
  *
  * Usage: `runMain graft.ExplainAudit <outFile> [sfDir]`.
  */
object ExplainAudit {

  /** The audited pipelines: every expensive or shape-critical plan from the
    * bench — the EXPLAIN_r03 base set, extended in round 6 with the
    * corpus-clean / graph / higher-order pipelines and in round 7 with the
    * remaining top-10-by-wall-time queries (degree analytics, fingerprint,
    * repetition, positional delete, simhash, multimodal decode, the events
    * family) plus the round-7 additions (chunking, delta postings, prefix
    * search, per-source cap, classifier scoring, column stats, z-order,
    * triangles, vocab growth). Iterative queries such as q_dedup_groups run jobs during
    * DataFrame construction and have no single static plan — their loop
    * hygiene is asserted in specs instead.
    */
  val pipelines: Seq[String] = Seq(
    "q_inverted_index", "q_ranked_postings", "q_dedup_minhash", "q_simhash_pairs",
    "q_dedup_embedding", "q_embed_cosine_topk", "q_ann_ivf", "q_search_bm25",
    "q_search_and_sharded", "q_pack_sequences", "q_asof_click", "q_range_join",
    "q_index_merge_pos", "q_search_bm25_indexed", "q_ann_ivf_search",
    "q_ann_pq_encode", "q_search_phrase_indexed_sharded", "q_dedup_embedding_probe",
    "q_sample_resample", "q_quality_unigram_lp", "q_pack_contents",
    "q_token_freq_salted", "q_index_upsert", "q_agg_pricing", "q_join_revenue",
    "q_sample_stratified", "q_search_tfidf_indexed",
    "q_boilerplate_flag", "q_quality_buckets", "q_mixture_sample",
    "q_pagerank", "q_higher_order",
    "q_graph_degree", "q_fingerprint", "q_quality_repetition",
    "q_index_remove_pos", "q_simhash", "q_multimodal_decode",
    "q_events_window", "q_events_sliding", "q_event_attribution",
    "q_ann_ivfpq_search", "q_kmeans_update",
    "q_chunk_docs", "q_postings_delta", "q_search_prefix", "q_source_cap",
    "q_classifier_score", "q_column_stats", "q_zorder_layout",
    "q_triangle_count", "q_vocab_growth",
    "q_token_pmi", "q_histogram_equidepth", "q_curate_pipeline",
    "q_setsim_join", "q_setsim_capped", "q_cdc_apply", "q_semdedup", "q_resample_ffill",
    "q_bpe_pairs", "q_weighted_sample", "q_embed_int8",
    "q_bigram_lm", "q_cdc_chunks", "q_event_transitions",
    "q_hash_split", "q_epoch_shuffle", "q_char_entropy", "q_ppr_seeds", "q_multimodal_audio_ds",
    "q_assoc_rules", "q_funnel", "q_mv_update", "q_chi2_lang_source",
    "q_chunk_dedup", "q_retention", "q_winsorized", "q_data_quality",
    "q_hard_negatives", "q_mode_brand", "q_impute",
    // round 8 (the BPE family — q_bpe_merges/q_bpe_encode/q_bpe_tokenize/
    // q_pack_bpe — is iterative: the trainer's argmax collects during
    // construction, loop hygiene spec-pinned in BpeSpec instead)
    "q_term_freq", "q_dedup_spans", "q_length_batches", "q_more_like_this",
    "q_bloom_join", "q_key_skew", "q_percentiles",
    "q_robust_outliers", "q_token_budget", "q_group_ols", "q_compaction_plan",
    "q_cross_dedup", "q_image_dhash",
    "q_top_paths", "q_decayed_counts", "q_search_near", "q_index_diff",
    "q_ks_drift", "q_hybrid_search", "q_random_proj", "q_dau_wau",
    "q_decontam_filter",
    // round 9 (q_dedup_keep_best and q_bpe_fertility are iterative —
    // label propagation / trainer argmax collect during construction)
    "q_html_strip", "q_curate_html", "q_gopher_rules", "q_word_dropout",
    "q_search_facets", "q_postings_pruned", "q_rolling_zscore",
    "q_image_near_dup", "q_spell_suggest", "q_search_snippets",
    "q_corpus_diff", "q_jaro_linkage", "q_autocomplete", "q_audio_fingerprint",
    "q_zipf_fit", "q_containment_dup", "q_doc_keywords", "q_token_gini",
    "q_dataset_card", "q_label_audit", "q_trending", "q_zonemap_prune", "q_retrieval_eval", "q_stats_merge", "q_k_anon", "q_join_cardinality", "q_langid_eval", "q_term_drift", "q_temp_mixture", "q_source_overlap",
    "q_embed_hygiene", "q_next_word", "q_oov_rate", "q_ann_recall", "q_video_near_dup",
    // round 11: the r9-flagged static stragglers, the round-10 additions
    // (q_minhash_indexed / q_minhash_est / q_audio_near_dup + the reshaped
    // q_dedup_end2end), and the new index-served boolean queries (letter
    // pushdown must be visible in the scan line). q_dedup_end2end and
    // q_minhash_* build a checkpointed signature index during construction
    // but the SERVED plan downstream of it is static and auditable.
    "q_pii_redact", "q_json_props", "q_rollup", "q_cube", "q_array_ops",
    "q_multimodal_frames", "q_multimodal_resize", "q_ngram_jaccard",
    "q_minhash_est", "q_minhash_indexed", "q_audio_near_dup",
    "q_dedup_end2end", "q_search_and_indexed", "q_search_or_indexed",
    "q_index_merge_disk", "q_format_roundtrip_json", "q_format_roundtrip_csv",
    "q_format_roundtrip_orc", "q_heavy_keys_sketch",
    "q_ndv_sketch", "q_ndv_per_source", "q_heavy_keys_per_hour",
    // round 11, completing the audit: every remaining NON-iterative query.
    // The 10 driver-loop queries (BPE trainer family, label propagation,
    // converge-until-stable k-means) have no single static plan; round 12
    // audits each via a REPRESENTATIVE-ITERATION plan instead — see
    // `iterativeBodies` below.
    "q_ann_ivfpq_indexed", "q_ann_lsh_buckets", "q_anti_customers",
    "q_boilerplate_spans", "q_date_math", "q_decontaminate", "q_dedup_exact",
    "q_distinct_agg", "q_fuzzy_title", "q_index_merge", "q_index_remove",
    "q_inverted_index_sharded", "q_join_parts", "q_lang_id", "q_letter_stats",
    "q_pivot", "q_quality_score", "q_scan_project", "q_search_and",
    "q_search_or", "q_search_or_sharded", "q_search_phrase",
    "q_search_phrase_indexed", "q_search_tfidf", "q_semi_customers",
    "q_session_window", "q_sessions", "q_setops", "q_token_count",
    "q_tokenize", "q_topk_orders", "q_topk_per_letter", "q_window_funcs",
    "q_window_orders", "q_window_rolling",
    // round 12: SCD2 history, privacy/stats additions, graded nDCG, DSIR
    // importance resampling, Hilbert layout, interval-overlap join,
    // Kaplan–Meier survival
    "q_scd2_history", "q_l_diversity", "q_corr_matrix", "q_ndcg_eval",
    "q_dsir_weights", "q_dsir_select", "q_hilbert_layout", "q_interval_join",
    "q_survival", "q_compaction_exec", "q_ndv_overlap", "q_knn_label_eval",
    "q_mixture_interleave", "q_temporal_join", "q_search_suffix",
    // round 12 second wave: the mergeable-CMS probe, bitext mutual match,
    // calibration/kappa/RBO evals, HITS (checkpoint-built like pagerank —
    // the audited plan is the final score join), drift stats (Welch/JSD/
    // PSI), duplication exposure, percolation, cell medoid
    "q_cms_freq", "q_join_size_est", "q_mutual_match", "q_calibration_ece", "q_rater_kappa",
    "q_hits", "q_welch_ttest", "q_source_jsd", "q_rbo_rankers",
    "q_dup_exposure", "q_percolate", "q_cell_medoid", "q_psi_drift",
    "q_front_coding", "q_cms_per_lang", "q_cluster_terms", "q_code_switch", "q_aqp_revenue",
    "q_readability", "q_source_entropy", "q_burstiness",
    "q_benford", "q_fd_check", "q_fk_discovery", "q_qq_drift", "q_window_range", "q_spearman", "q_dp_counts", "q_dedup_threshold_sweep",
    // round 13: the bottom-k mergeable quantile sample family (flat,
    // QQ-drift, per-hour), PRF query expansion, clustering depth
    "q_sample_quantiles", "q_qq_drift_sketch", "q_search_prf",
    "q_quantiles_per_hour", "q_clustering_depth", "q_t_closeness", "q_brier",
    "q_ucc_discovery", "q_mrl_recall", "q_seasonality", "q_conformal",
    "q_collocations_g2", "q_clustering_coeff", "q_ndv_incremental", "q_salt_plan",
    "q_schema_evolution", "q_top_boilerplate", "q_bootstrap_ci", "q_auc",
    "q_diff_in_diff", "q_cuped", "q_mde",
    // round 14: community/backbone graph ops — LPA's audited plan is the
    // final two lazy rounds downstream of the checkpointed edge/label
    // relations (the q_pagerank convention); q_kcore checkpoints every
    // peel round, so its final static plan is a bare degree agg — the
    // peel-round BODY is audited in iterativeBodies instead
    "q_label_prop",
    // round 14: distribution-free stats (chunked-prefix ranks; calendar-
    // bounded pairwise trend tests)
    "q_kruskal_wallis", "q_mann_kendall", "q_theil_sen",
    // round 14: dense-spine lag statistics
    "q_acf", "q_cusum",
    // round 14: MAP eval, LDP randomized response, Good–Turing mass,
    // session-chain stationary distribution (final two lazy rounds
    // downstream of the checkpointed quantized transition relation)
    "q_avg_precision", "q_rr_freq", "q_good_turing", "q_markov_stationary",
    "q_level_shift", "q_session_ngrams", "q_rfm", "q_gains_table", "q_hill_tail",
    "q_markov_entropy", "q_mcnemar",
    // round 14: signed-rank / ANOVA / degree-mixing stats
    "q_wilcoxon", "q_anova", "q_assortativity",
    // round 14: link prediction, partition modularity, lead-lag xcorr
    "q_adamic_adar", "q_modularity", "q_xcorr",
    // round 14: co-basket neighbors, LOO target encoding, WOE/IV
    "q_item_cf", "q_target_encode", "q_woe_iv",
    // round 14: edit-budget linkage, dyadic SES forecast, Cramér's V
    "q_edit_linkage", "q_ses_forecast", "q_cramers_v",
    // round 14: CART split finder, Friedman blocked rank test, BH-FDR
    "q_best_split", "q_friedman", "q_bh_fdr",
    // round 14: Dirichlet query-likelihood ranker, Wilson score intervals
    "q_search_qld", "q_wilson_ci",
    // round 14: RAKE keyphrases, cohorted uplift, MASE backtest, SRM
    // (q_bfs_dist and q_er_end2end are iterative — frontier/cc rounds
    // audited in iterativeBodies)
    "q_rake", "q_uplift", "q_mase", "q_srm",
    // round 14: exact Shapley attribution, shingle novelty, MI ranking,
    // bloom sizing advisor, Mahalanobis outliers
    "q_shapley_attrib", "q_novelty", "q_feature_mi",
    "q_bloom_plan", "q_mahalanobis",
    // round 14: Kendall τ-b, Theil decomposition
    "q_kendall_tau", "q_theil_index",
    // round 14: Brown–Forsythe variance test, two-arm log-rank,
    // candidate-period periodogram, TextTiling segmentation
    "q_levene_bf", "q_logrank", "q_periodogram", "q_text_tiling",
    "q_hurst", "q_ols_diag", "q_cmh",
    // round 14 session 2 (q_closeness_landmarks is iterative — per-seed
    // BFS rounds checkpoint like q_bfs_dist; body audited below)
    "q_jarque_bera", "q_randomization", "q_edge_embeddedness",
    "q_silhouette", "q_cluster_db", "q_video_scenes", "q_audio_vad",
    "q_sem_decontam", "q_keyness", "q_concurrency", "q_image_stats", "q_yules_k",
    "q_ltr_features", "q_cf_eval", "q_burrows_delta", "q_neyman_alloc",
    // round 15: Holt linear-trend forecast, KWIC concordance, isotonic
    // calibration, post-stratified ATE, S-stemmer merge table (q_ktruss
    // is iterative — its support-peel body is audited below)
    "q_holt_forecast", "q_kwic", "q_isotonic", "q_ate_ps", "q_stem_vocab",
    "q_eb_shrink", "q_sprt", "q_skipgram_pmi",
    // round 16: ICWS weighted-minhash candidates (static plan: idf join +
    // 16 struct-min aggregates on one doc exchange + shared banding tail),
    // BLEU-4 / ROUGE-1/2 generation evals (clipped n-gram count joins)
    "q_dedup_wminhash", "q_wminhash_indexed", "q_wminhash_cross",
    "q_dedup_substr", "q_unigram_lm", "q_unigram_fertility",
    "q_eval_bleu", "q_eval_rouge",
    // round 16: TextRank keywords (skipgram pair stream -> pagerank loop;
    // final-iterate plan is static over the loop's checkpointed relations),
    // HyperLogLog NDV (single partial-merge aggregate, constant state)
    "q_textrank", "q_hll_ndv", "q_hll_per_source",
    // round 16: denoising-objective transforms (FIM map-side cuts; span
    // corruption's coverage explode + doc-partitioned run numbering)
    "q_fim", "q_span_corrupt",
    // round 17: interpolated Kneser–Ney bigram scoring (type-relation
    // aggregates joined back onto the bigram stream — the q_bigram_lm
    // plan plus three type-sized count joins); DoReMi excess-CE domain
    // reweighting (one corpus shuffle to (domain, word) counts, all
    // downstream relations vocabulary- or domain-sized)
    // r17: edit-distance verify over banded candidates (the levenshtein
    // DP must sit ABOVE the capped candidate join, never on all pairs)
    "q_kn_lm", "q_doremi", "q_dedup_edit", "q_lsh_plan",
    // round 18: paragraph-granularity dedup (hash-keyed window min +
    // doc fold-back; the minhash twin must reuse the banded candidate
    // shape over paragraph pseudo-docs), KN-perplexity terciles (the
    // KN scorer's plan + the metadata-windowed distributed ntile — no
    // per-language global sort may appear)
    "q_dedup_paragraph", "q_dedup_paragraph_mh", "q_kn_ppl_buckets",
    // round 18: the substring-dedup strip action (interval island-merge
    // must run BEFORE position expansion — doc-partitioned windows only)
    "q_dedup_substr_strip",
    // round 19: deterministic shard plan + manifest (the global rank must
    // be the two-pass range form — the only single-partition window
    // allowed is the numRange-row offset cumsum; pos rides a
    // per-shard window, the loader-file contract)
    "q_shard_plan", "q_shard_manifest", "q_shard_write", "q_shard_packs",
    "q_shard_incr",
    // round 20: incremental shard WRITE (delta segments; the returned
    // read-back plan is scan + partial agg — the windows live in the
    // construction-time write, like q_shard_write) + metadata-sized
    // manifest FOLD (whose plan keeps the globalRank cumsum + N-row
    // manifest load-order window — whitelisted metadata-bounded)
    "q_shard_incr_write", "q_shard_manifest_incr",
    // round 20: fixed-layout epoch reshuffle (within-shard order-by-hash
    // rank + the metadata-sized per-epoch shard visit permutation) and
    // incremental packing (batch-local two-pass prefix + strata-sized
    // totals broadcast)
    "q_epoch_within", "q_epoch_visit", "q_pack_incr")

  /** Termination contract per iterative loop (r15 verdict task 8): every
    * key in [[iterativeBodies]] must declare HOW its driver loop ends —
    * AuditLintSpec fails the build when a new iterative query ships
    * without one, so the k-truss lesson (a cheap count-fixpoint exit
    * turned a 40 s straggler into 3.4 s) is a standing contract instead
    * of per-round judge archaeology. Two admissible forms:
    *
    *   `early-exit: …`     — the loop detects a fixpoint (count-unchanged,
    *                         observe()-metric, exhaustion) and stops; the
    *                         rounds/iters parameter is only a safety bound.
    *   `bounded-rounds: …` — the loop runs a FIXED budget by design; the
    *                         rationale must say why that's semantically
    *                         right (definitional iteration count, learned
    *                         table length, oscillation-unsafe fixpoint).
    */
  val iterationContracts: Map[String, String] = Map(
    "q_bpe_merges" -> ("early-exit: trainer loop `for (it <- 1 to k if !exhausted)` " +
      "stops when no pair clears minPair (TextAnalysis.bpeTrain); k merge budget is the bound"),
    "q_wordpiece" -> ("early-exit: same `for (it <- 1 to k if !exhausted)` trainer loop as " +
      "q_bpe_merges with the likelihood argmax; exhaustion (no mergeable pair) exits early, " +
      "k merge budget is the bound (TextAnalysis.wordpieceMerges)"),
    "q_logreg_train" -> ("bounded-rounds: full-batch GD runs exactly `rounds` epochs by " +
      "definition — the training budget IS the declared semantics (oracle unrolls the same " +
      "rounds as CTEs; no loss fixpoint exists at integer-quantized weights that would not " +
      "oscillate) (TextAnalysis.logregTrain)"),
    "q_bpe_encode" -> ("bounded-rounds: encode applies the LEARNED merge table " +
      "sequentially — merges.length rounds by definition (BPE apply order is the semantics)"),
    "q_bpe_tokenize" -> ("bounded-rounds: same merge-table application as q_bpe_encode, " +
      "doc-side; rounds = merges.length by definition"),
    "q_bpe_fertility" -> ("bounded-rounds: merge-table application (q_bpe_encode) feeding " +
      "one aggregate; rounds = merges.length by definition"),
    "q_pack_bpe" -> ("bounded-rounds: merge-table application (q_bpe_encode) feeding the " +
      "one-pass offset packer; rounds = merges.length by definition"),
    "q_dedup_groups" -> ("early-exit: hash-to-min cc loop checks an observe() " +
      "changed-count metric per round and stops at 0 (Dedup.duplicateGroups)"),
    "q_dedup_keep_best" -> "early-exit: same observe()-fixpoint cc loop as q_dedup_groups",
    "q_dedup_shrink" -> "early-exit: same observe()-fixpoint cc loop as q_dedup_groups",
    "q_image_dup_groups" -> ("early-exit: same observe()-fixpoint cc loop as " +
      "q_dedup_groups over dHash pairs"),
    "q_kmeans_full" -> ("early-exit: Lloyd loop stops when the observe() " +
      "moved-assignments metric hits 0 or maxIters (Similarity.kmeans)"),
    "q_mmr_select" -> ("early-exit: greedy loop `while (picked.size < k && !exhausted)` — " +
      "k selections is the budget, candidate exhaustion the exit (Similarity.mmrSelect)"),
    "q_pca_power" -> ("bounded-rounds: fixed quantized power rounds, mirrored 1:1 by the " +
      "oracle's unrolled CTEs — the per-round 6-dp quantization makes every round exactly " +
      "replayable and the output carries n_rounds, so the budget IS the declared semantics " +
      "(Similarity.powerIteration)"),
    "q_pca_top2" -> "bounded-rounds: deflation runs exactly `components` passes by definition",
    "q_kcore" -> ("early-exit: count-fixpoint per peel round (unchanged edge count = " +
      "fixpoint, peel idempotent past it — Graph.kCore, the kTruss discipline)"),
    "q_ktruss" -> ("early-exit: count-fixpoint per support-peel round " +
      "(Graph.kTrussCertified surfaces the certificate to callers)"),
    "q_er_end2end" -> "early-exit: same observe()-fixpoint cc loop as q_dedup_groups, name-keyed",
    "q_bfs_dist" -> ("early-exit: count-fixpoint per frontier round (min-label BFS reaches " +
      "each node at true distance on first touch, so an unchanged row count certifies the " +
      "fixpoint — Graph.bfsDistances)"),
    "q_closeness_landmarks" -> ("early-exit: count-fixpoint on (seed, node) rows — " +
      "Graph.landmarkCloseness, same argument as q_bfs_dist"),
    "q_als_rank1" -> ("bounded-rounds: fixed ALS half-step budget — the objective " +
      "decreases monotonically but factor values move every round (no count fixpoint " +
      "exists); iters is the declared training budget (Recommend.alsRank1)"),
    "q_kmeans_scalable" -> ("bounded-rounds: k-means|| runs a CONSTANT oversampling " +
      "round budget by definition (Bahmani et al. — O(log n) rounds suffice, constant " +
      "in practice); each round's candidate draw is capped at capPerRound " +
      "(Similarity.kmeansParallelInit)"))

  /** Representative-iteration plans for the 10 driver-loop queries: their
    * loops run jobs during DataFrame construction, so no single static plan
    * exists — but each loop BODY is a fixed plan, and that body is what must
    * stay scale-shaped (partial aggs below the exchange, broadcast label
    * joins, bounded argmax). Loop-state inputs (checkpointed label/vocab/
    * centroid relations in the real loop) appear here as their lazy
    * derivations; the encode-side plans use a fixed literal merge table
    * (plan shape is independent of the learned pairs).
    */
  val iterativeBodies: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextAnalysis
    import graft.operators.{Dedup, Tokenize}
    val litMerges = Seq("t h", "e r", "th e")
    def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
    def pairs(s: SparkSession, dir: String) = Dedup.minhashCandidates(
      docs(s, dir), shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
    Seq(
      "q_bpe_merges" -> ((s: SparkSession, dir: String) =>
        TextAnalysis.bpeRoundArgmax(TextAnalysis.bpeVocabPlan(
          Tokenize.tokens(docs(s, dir), "text", Seq("doc_id"))))),
      "q_wordpiece" -> ((s: SparkSession, dir: String) =>
        TextAnalysis.wordpieceRoundArgmax(TextAnalysis.wordpieceVocabPlan(
          Tokenize.tokens(docs(s, dir), "text", Seq("doc_id"))))),
      "q_logreg_train" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions.col
        val (feats, labels) = TextAnalysis.logregFeaturePlan(
          docs(s, dir), col("lang") === "en")
        import s.implicits._
        val wDf = Seq((0L, 0L)).toDF("__b", "__wm")
        TextAnalysis.logregGradients(feats,
          TextAnalysis.logregErrors(feats, labels, wDf, 0L))
      }),
      "q_bpe_encode" -> ((s: SparkSession, dir: String) =>
        TextAnalysis.bpeApply(
          Tokenize.tokens(docs(s, dir), "text", Seq("doc_id")).select("word").distinct(),
          litMerges)
          .select(col("word"), array_join(col("pieces"), " ").as("pieces_str"), col("n_pieces"))),
      "q_bpe_tokenize" -> ((s: SparkSession, dir: String) =>
        TextAnalysis.bpeEncodeDocs(docs(s, dir), litMerges)
          .select(col("doc_id"),
            array_join(transform(col("token_ids"), x => x.cast("string")), " ").as("ids_str"),
            col("n_words"), col("n_pieces"))),
      "q_bpe_fertility" -> ((s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        TextAnalysis.bpeEncodeDocs(d, litMerges)
          .join(d.select("doc_id", "lang"), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(sum(col("n_words")).as("tot_words"), sum(col("n_pieces")).as("tot_pieces"))
      }),
      "q_pack_bpe" -> ((s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val counted = d.select(col("doc_id"), col("lang"))
          .join(TextAnalysis.bpeEncodeDocs(d, litMerges).select("doc_id", "n_pieces"),
            Seq("doc_id"))
        graft.operators.Packing.packByOffset(counted, budget = 8192, countCol = Some("n_pieces"))
      }),
      "q_dedup_groups" -> ((s: SparkSession, dir: String) =>
        Dedup.ccRoundPlan(pairs(s, dir))),
      "q_dedup_keep_best" -> ((s: SparkSession, dir: String) =>
        Dedup.keepBest(Dedup.ccRoundPlan(pairs(s, dir)),
          docs(s, dir).select(col("doc_id"), col("n_chars").as("q")))),
      "q_dedup_shrink" -> ((s: SparkSession, dir: String) =>
        Dedup.shrinkFromLabels(docs(s, dir), Dedup.ccRoundPlan(pairs(s, dir)))),
      "q_image_dup_groups" -> ((s: SparkSession, dir: String) =>
        Dedup.ccRoundPlan(
          graft.operators.Multimodal.imageNearDupPairs(
            graft.operators.Multimodal.demoMediaFromDocuments(s, dir)),
          "id1", "id2")),
      "q_kmeans_full" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        graft.operators.Similarity.lloydStep(emb, emb.where(col("vec_id") < 8))
      }),
      // k-means|| round body: min-d2 fold, 1-row phi, exact integer
      // sampling verdict, capped TakeOrdered — candidate relation stands
      // in as the seed row (plan shape is candidate-count independent)
      "q_kmeans_scalable" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val data = emb.select(col("vec_id").cast("long").as("__id"),
          col("embedding").cast("array<double>").as("__v"))
        val cDf = data.orderBy(col("__id")).limit(1)
          .select(col("__id").as("__cid"), col("__v").as("__cv"))
        graft.operators.Similarity.kmeansParallelRound(data, cDf, 1, 8, 32)
      }),
      // round 12: one MMR greedy round body — the argmax scoring plan
      // over the candidate/pair relations (checkpointed in the real loop)
      // with a literal selected set; plan shape independent of the ids
      "q_mmr_select" -> ((s: SparkSession, dir: String) => {
        import graft.operators.Similarity
        import graft.functions.Portable
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
          .withColumn("qn", Similarity.norm("qv"))
        val cand = emb.select(col("vec_id"), col("embedding").as("ev"))
          .withColumn("en", Similarity.norm("ev"))
          .crossJoin(broadcast(q))
          .withColumn("rel_r",
            Portable.pround(Similarity.dot(col("ev"), col("qv")) / (col("en") * col("qn")), 6))
          .select(col("vec_id"), col("ev"), col("en"), col("rel_r"))
          .orderBy(col("rel_r").desc, col("vec_id").asc)
          .limit(20)
        val pairs = cand.select(col("vec_id").as("a"), col("ev").as("va"), col("en").as("na"))
          .crossJoin(cand.select(col("vec_id").as("b"), col("ev").as("vb"), col("en").as("nb")))
          .where(col("a") =!= col("b"))
          .select(col("a"), col("b"),
            Portable.pround(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
              .as("sim_r"))
        pairs
          .where(col("b").isin(0L) && !col("a").isin(0L))
          .groupBy(col("a").as("vec_id"))
          .agg(max(col("sim_r")).as("maxsim_r"))
          .join(cand.select(col("vec_id"), col("rel_r")), Seq("vec_id"))
          .select(col("vec_id"),
            Portable.pround(lit(0.7) * col("rel_r") - lit(0.3) * col("maxsim_r"), 6)
              .as("score_r"))
          .orderBy(col("score_r").desc, col("vec_id").asc)
          .limit(1)
      }),
      // round 12: one power-iteration round body — per-row dot against the
      // broadcast-literal v (plan shape independent of v's values), then
      // the d-sized per-component partial-agg sum
      "q_pca_power" -> ((s: SparkSession, dir: String) => {
        val data = s.read.parquet(s"$dir/embeddings.parquet")
          .select(transform(col("embedding"), x => x.cast("double")).as("x"))
        val vLit = array(Seq.fill(64)(lit(0.5)): _*)
        data
          .withColumn("__dot", graft.operators.Similarity.dot(col("x"), vLit))
          .select(posexplode(transform(col("x"), e => e * col("__dot"))).as(Seq("pos", "wv")))
          .groupBy(col("pos"))
          .agg(sum(col("wv")).as("w"))
      }),
      // round 12: the deflation pass between components — map-side dot
      // bound once, then the indexed projection (no per-element re-eval)
      "q_pca_top2" -> ((s: SparkSession, dir: String) => {
        val data = s.read.parquet(s"$dir/embeddings.parquet")
          .select(transform(col("embedding"), x => x.cast("double")).as("x"))
        val vLit = array(Seq.fill(64)(lit(0.5)): _*)
        data
          .withColumn("__d", graft.operators.Similarity.dot(col("x"), vLit))
          .select(transform(col("x"), (e, i) => e - col("__d") * element_at(vLit, i + 1)).as("x"))
      }),
      // round 14: one k-core peel round — the real loop checkpoints each
      // round, so the final static plan shows only the last degree agg;
      // the peel body (partial-agg degree count + two node-sized
      // semi-joins) is what must stay scale-shaped
      "q_kcore" -> ((s: SparkSession, dir: String) => {
        import graft.operators.Graph
        Graph.kCorePeel(
          Graph.undirected(Graph.sameNationEdgesNum(
            s.read.parquet(s"$dir/orders.parquet"),
            s.read.parquet(s"$dir/lineitem.parquet"),
            s.read.parquet(s"$dir/customer.parquet"),
            s.read.parquet(s"$dir/supplier.parquet"))),
          k = 4)
      }),
      // round 15: one k-truss support-peel round over the customer
      // co-supplier projection — the oriented-wedge support count (two
      // equi-joins on the oriented edge list) + the >= k-2 filter; the
      // real loop checkpoints each round
      "q_ktruss" -> ((s: SparkSession, dir: String) => {
        import graft.operators.Graph
        Graph.kTrussPeel(
          Graph.orientedEdges(Graph.coSupplierEdgesNum(
            s.read.parquet(s"$dir/orders.parquet"),
            s.read.parquet(s"$dir/lineitem.parquet"),
            s.read.parquet(s"$dir/customer.parquet"),
            s.read.parquet(s"$dir/supplier.parquet"), maxDeg = 20)),
          k = 18)
      }),
      // round 14: the ER pipeline's cc round over the edit-pair graph —
      // same hash-to-min body as q_dedup_groups, name-keyed
      "q_er_end2end" -> ((s: SparkSession, dir: String) => {
        val pairs = graft.operators.Linkage.editMatches(
          s.read.parquet(s"$dir/part.parquet"), "p_name", blockWord = 2, maxDist = 2)
        Dedup.ccRoundPlan(pairs.select(col("name_a").as("doc1"), col("name_b").as("doc2")))
      }),
      // round 14: one BFS frontier round — edge join against the reached
      // relation + partial-agg min; the real loop checkpoints each round
      "q_bfs_dist" -> ((s: SparkSession, dir: String) => {
        import graft.operators.Graph
        val e = Graph.undirected(Graph.sameNationEdgesNum(
          s.read.parquet(s"$dir/orders.parquet"),
          s.read.parquet(s"$dir/lineitem.parquet"),
          s.read.parquet(s"$dir/customer.parquet"),
          s.read.parquet(s"$dir/supplier.parquet")))
        val seed = e.where(col("src").isin(2L, 3L))
          .select(col("src").as("node")).distinct()
          .withColumn("dist", lit(0L))
        seed.unionAll(
          e.join(seed.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }),
      // round 14 session 2: one landmark-BFS frontier round — q_bfs_dist's
      // body with the seed carried through the label (state L·N-bounded)
      "q_closeness_landmarks" -> ((s: SparkSession, dir: String) => {
        import graft.operators.Graph
        val e = Graph.undirected(Graph.sameNationEdgesNum(
          s.read.parquet(s"$dir/orders.parquet"),
          s.read.parquet(s"$dir/lineitem.parquet"),
          s.read.parquet(s"$dir/customer.parquet"),
          s.read.parquet(s"$dir/supplier.parquet")))
        val seed = e.where(col("src").isin(2L, 3L, -4L, -8L))
          .select(col("src").as("seed"), col("src").as("node")).distinct()
          .withColumn("dist", lit(0L))
        seed.unionAll(
          e.join(seed.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("seed"), col("dst").as("node"), (col("dist") + 1L).as("dist")))
          .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      }),
      // round 14: one ALS half-step — solve one side's factors against
      // the other's quantized table; the real loop checkpoints each
      // half-step, so the broadcast factor join + partial-agg decimal
      // sums are what must stay scale-shaped
      "q_als_rank1" -> ((s: SparkSession, dir: String) => {
        val r = s.read.parquet(s"$dir/orders.parquet")
          .join(s.read.parquet(s"$dir/lineitem.parquet"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("__u"), col("l_partkey").as("__i"))
          .agg(sum(col("l_quantity").cast("long")).as("__r"))
        val v = r.select(col("__i").as("__k")).distinct()
          .withColumn("__f6", lit(1000000L))
        graft.operators.Recommend.alsHalfStep(r, "__u", v, "__i")
      }))
  }

  def main(args: Array[String]): Unit = {
    // no default: a stale hardcoded round number silently mislabels the
    // artifact (round 6 shipped under an r05 default)
    val outFile = args.headOption.getOrElse(
      sys.error("usage: runMain graft.ExplainAudit <outFile> [sfDir]"))
    val sfDir   = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")

    val round = outFile.replaceAll("""^.*EXPLAIN_r0*(\d+).*$""", "$1")
    val sb = new StringBuilder
    sb ++= s"# EXPLAIN audit — round $round ($sfDir, extensions installed, AQE on)\n\n"
    sb ++=
      """Formatted physical plans of the headline pipelines, generated by
        |`runMain graft.ExplainAudit` on a session carrying GraftExtensions —
        |the same optimizer surface the bench and CLI run. Things to check per
        |plan: filters sit in `PushedFilters`, `ReadSchema` is pruned to used
        |columns, small sides are `BroadcastExchange`, aggregates show a
        |`partial_`/`sorted_set_agg` pass below the exchange, no `Window`
        |appears in argmax/top-k paths, and every document-side Window
        |partitions by a bounded key (e.g. packing's `(lang, __chunk)`).
        |""".stripMargin
    sb ++= "\n"
    pipelines.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"## $name\n\n```\n$plan```\n\n"
    }
    sb ++=
      """# Iterative queries — representative-iteration plans
        |
        |The 10 driver-loop queries run jobs during DataFrame construction
        |(trainer argmax collects, fixpoint checkpoints), so no single static
        |plan exists. Each section below is the fixed LOOP BODY the query
        |repeats — the plan that must stay scale-shaped. Loop-state inputs
        |(checkpointed label/vocab/centroid relations at runtime) appear as
        |their lazy derivations; encode-side plans use a literal merge table.
        |""".stripMargin
    sb ++= "\n"
    iterativeBodies.foreach { case (name, mk) =>
      val df = mk(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"## $name (representative iteration)\n\n```\n$plan```\n\n"
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote ${pipelines.size} static + ${iterativeBodies.size} representative-iteration plans to $outFile")
    spark.stop()
  }
}
