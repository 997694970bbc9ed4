"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parity pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` expose the engine's operator registry —
one named entry per implemented operator from SURVEY.md §2, each with a
DuckDB oracle where SQL-expressible (rows-only otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: The driver's per-round correctness snapshot covers the FIRST 50 entries
#: of ``queries()`` (insertion order).  Coverage therefore accumulates as
#: the union of per-round snapshots, and we rotate which queries occupy
#: the window each round.  Rounds 1-7 proved every query registered
#: through round 7 (CORRECTNESS_r07: 48 hash-green + 2 expected
#: rows-only, zero errors — the second consecutive all-clean window).
#: Round 8 front-loads (a) the twenty-eight round-8 additions (the hash-proven
#: Lloyd's iteration, weighted SSSP, label propagation, hierarchy
#: rollup + BOM explosion, block sampling, Matryoshka retrieval, Zipf
#: profile, basket lift, Pareto frontier, key-islands DQ, event
#: transition matrix, prefix-filter Jaccard join, personalized
#: PageRank, hybrid-RRF retrieval fusion, neighborhood-Jaccard link
#: prediction, CUSUM change-point, running-peak drawdown, A/B test
#: readout, frozen-merge BPE apply, integer HITS, event-path trigrams,
#: FK-orphan report, lang-quality matrix, temporal split,
#: centroid drift, dup-ngram coverage, MMR re-rank) and (b) two
#: re-proof blocks:
#: queries whose Spark expression changed this round
#: (``exact_money_sum``'s signed half-add + hi/lo split accumulator
#: touches all 13 money-sum queries; the frame-sample empty-blob guard
#: touches one more), and the seven graph queries whose oracle TEXT
#: gained AS MATERIALIZED hints.  Queries not named here slot in
#: behind: never-proven first, already-proven at the back — so the
#: remaining slots re-verify proven queries for free.
#: Round 9 front-loaded the 25 round-9 additions; CORRECTNESS_r09 proved
#: every one hash-green (49/50 green; the single "err" row is the
#: by-design rows-only graph_pagerank), so they fold into _PROVEN_R09.
#: Round 11 front-loads (a) the round-11 additions and (b) a re-proof
#: block: queries whose Spark expression or oracle TEXT changed this
#: round (the two-level chunked EMA prefix fold in ``window_macd``; the
#: DECIMAL-widened tie-correction term in ``agg_mann_whitney`` — the
#: round-10 ADVICE int64-envelope item; Wilcoxon's tie term is
#: structurally bounded and got a doc scope only, so it does NOT
#: rotate; the PPJoin positional-filter candidate pruning in
#: ``dedup_prefix_filter_jaccard``).  A query whose oracle TEXT or Spark
#: expression changes must rotate back in even when values are
#: unchanged.
#: Reminder: registry queries must NEVER return list/array-typed
#: columns — the driver's pandas canonicalizer cannot sort them (the
#: round-5 pq-codes ERROR).
#: Round 12 front-loads (a) the re-proof block for the fold-literal
#: sweep — ``window_keltner`` (the round-11 red row: its 17-digit
#: repr(2/21) oracle literal was double-rounded by DuckDB; now a
#: <=15-digit shared literal, probe-asserted in
#: tests/test_fold_literals.py) plus ``window_rsi`` / ``window_atr``
#: whose shared Wilder coefficients changed in the same sweep — (b) the
#: four retail5 queries newly wired into the registry (the round-11
#: dead-module ADVICE item), and (c) the round-12 additions.  All
#: verified via scripts/check_queries.py at sf0.001 + sf0.01 + sf0.1
#: before handoff.
#: Round 14 front-loads the RE-PROOF block: a REPRESENTATIVE 13 of the
#: 25 graph_* queries whose edge source moved to the driver-side
#: ``_EDGE_MEMO`` (operators/graph2.py, VERDICT r13 §Next #2) — one
#: per module/kernel family plus BOTH memo variants (plain + weighted)
#: and the costliest kernels; all 25 were proven hash-green twice via
#: scripts/driver_dryrun.py --only at sf0.01 before handoff, and the
#: full-registry sweep (419/419 green) covers the other 12, so the
#: window spends its scarce slots on the staleness rotation instead —
#: then the grouped_rank consumers (agg_trimmed/winsorized_mean_
#: scalable, agg_median_polish) after the offsets-frame group-type
#: fix, and search_eval_mmr_arm after the _mmr_greedy small-pool
#: guard (those four also re-proven at sf0.1).  The ~23 remaining
#: slots fill automatically with the OLDEST-PROOF-FIRST rotation
#: below (VERDICT r12 §Next #4): round 14's tail is the FULL
#: round-2-era block (join_semi/project_rename/scalar/set/window
#: basics, last proven r02) plus the front of the round-3 block.
#: Window arithmetic, for the record: 419 queries / 50 slots = a
#: 9-round full rotation, so the steady-state max proof age is 9;
#: driving it to <= 6 needs the window to cover the 223 queries aged
#: > 6, which no single round can (the cumulative sweep artifacts
#: carry the interim coverage).
_ROUND14_WINDOW = [
    # graph memo representatives (changed plan prefix this round)
    "graph_components_copurchase",   # graph2, iterative CC
    "graph_pagerank_copurchase",     # graph2, damped rank loop
    "graph_triangles_copurchase",    # graph2, 3-way self-join
    "graph_degree_distribution",     # graph2, degree agg
    "graph_sssp_weighted",           # graph2, WEIGHTED memo variant
    "graph_bfs_hops",                # graph3, frontier loop
    "graph_closeness_centrality",    # graph3
    "graph_betweenness_sampled",     # graph3, costliest sampled kernel
    "graph_kcore",                   # graph4, peel loop
    "graph_hits",                    # graph4, dual-score iteration
    "graph_rich_club",               # graph5, degree-capped wedges
    "graph_modularity_labels",       # graph6, chained two-kernel oracle
    "graph_ppr",                     # costliest absolute query
    # grouped_rank offsets-type fix consumers + MMR guard
    "agg_trimmed_mean_scalable",
    "agg_winsorized_mean_scalable",
    "agg_median_polish",
    "search_eval_mmr_arm",
]

#: Round 15 front-loads the RE-PROOF block for the derived-relation
#: changes (VERDICT r14 §Next #3/#6): all six rec_* queries plus five
#: graph representatives covering every kernel shape the shared edge
#: derivation feeds (all 25 graph queries were re-proven hash-green
#: via scripts/driver_dryrun.py --only at sf0.01 before handoff; the
#: full-registry sweep covers the rest).  The 12 new
#: round-15 queries (privacy 4, drift 4, survival 2, rec beyond-
#: accuracy 2 — all 4-SF proven incl. sf1) slot in as never-proven,
#: and the remaining 27 slots fill with the OLDEST-PROOF-FIRST
#: rotation: post-r14 the stalest block is the 47 round-3-era
#: text/dedup/similarity/scalar queries (VERDICT r14 §Next #5), so
#: the tail re-proves 27 of them and round 16 inherits the rest.
#: OPTIMIZATION round 15 re-write of the window: the de-gaming pass
#: (OPTIMIZATION_r15.md) changed the Spark expression of every former
#: relation-cache/memo consumer — the queries now derive their edge
#: lists / model frames / labels / harness / index fresh per
#: invocation — plus the graph2 derivation shape and the dedup2
#: parallelized scans.  All 50 changed-expression queries occupy the
#: window so the driver's own artifact re-proves exactly this round's
#: diff (each was also re-proven via driver_dryrun --only during the
#: round, and the committed FULLSWEEP_r15.json covers the full
#: registry on final code).
_ROUND15_WINDOW = [
    # recommender family (model frames derived fresh per query)
    "rec_item_neighbors",
    "rec_user_items",
    "rec_next_part",
    "rec_rfm_next_action",
    "rec_eval_hit_rate",
    "rec_coverage",
    "rec_novelty_epc",
    "rec_intra_list_diversity",
    "rec_markov_next_event",
    # retrieval-eval harness consumers (memo removed)
    "search_eval_recall_at_k",
    "search_eval_ndcg_at_k",
    "search_eval_mrr",
    "search_eval_map_at_k",
    "search_eval_auc",
    "search_eval_interpolated_pr",
    "search_eval_rbo",
    "search_eval_mmr_arm",
    "dataset_contrastive_triples",
    # dup-cluster label consumers + dedup2 scan parallelization
    "dedup_components",
    "dedup_survivor_corpus",
    "dedup_survivor_portable",
    "dedup_cluster_size_histogram",
    "dataset_leakage_safe_split",
    "dedup_containment",
    "dedup_prefix_filter_jaccard",
    # per-invocation IVF-PQ fit (rows-only determinism check)
    "similarity_ivfpq_topk",
    # co-purchase graph family (fresh edge derivation, both variants)
    "graph_components_copurchase",
    "graph_pagerank_copurchase",
    "graph_triangles_copurchase",
    "graph_degree_distribution",
    "graph_sssp_weighted",
    "graph_bfs_hops",
    "graph_common_neighbors",
    "graph_jaccard_neighbors",
    "graph_kcore",
    "graph_hits",
    "graph_label_propagation",
    "graph_ppr",
    "graph_closeness_centrality",
    "graph_betweenness_sampled",
    "graph_clustering_coeff",
    "graph_eccentricity_sample",
    "graph_assortativity",
    "graph_two_hop_reach",
    "graph_transitivity",
    "graph_rich_club",
    "graph_resource_allocation",
    "graph_edge_embeddedness",
    "graph_katz_centrality",
    "graph_modularity_labels",
]

#: OPTIMIZATION round 16: VERDICT r15 found the `bede2ed` window rewrite
#: pushed the 10 round-15-build queries that have NEVER had a
#: driver-verified oracle row (their only evidence is the builder's own
#: FULLSWEEP_r15.json) out of the 50-slot snapshot.  Round 16 restores
#: the driver-verification contract (VERDICT r15 §Next #1): the window
#: leads with exactly those 10; the remaining 40 slots fill with the
#: OLDEST-PROOF-FIRST rotation below (post-r15 the stalest block is the
#: remaining round-3-era text/dedup/similarity/scalar queries).  The 50
#: de-gamed r15 re-proofs are green in CORRECTNESS_r15 (47 hash + 3
#: rows-only-by-design) and fold into _PROVEN_R15.
_ROUND16_WINDOW = [
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "privacy_generalization_ladder",
    "privacy_pii_density",
    "agg_cvm_test",
    "agg_survival_na",
    "agg_logrank_test",
    "profile_chi2_drift",
    "dataset_quota_sample",
    "window_page_hinkley",
]

#: Proven in CORRECTNESS_r15 (47 hash-green + 3 rows-only-by-design
#: rows — dedup_components, dedup_survivor_corpus, similarity_ivfpq_topk
#: — with plausible row counts, same convention as _PROVEN_R05).
_PROVEN_R15 = frozenset({
    "rec_item_neighbors", "rec_user_items", "rec_next_part",
    "rec_rfm_next_action", "rec_eval_hit_rate", "rec_coverage",
    "rec_novelty_epc", "rec_intra_list_diversity",
    "rec_markov_next_event", "search_eval_recall_at_k",
    "search_eval_ndcg_at_k", "search_eval_mrr", "search_eval_map_at_k",
    "search_eval_auc", "search_eval_interpolated_pr", "search_eval_rbo",
    "search_eval_mmr_arm", "dataset_contrastive_triples",
    "dedup_components", "dedup_survivor_corpus",
    "dedup_survivor_portable", "dedup_cluster_size_histogram",
    "dataset_leakage_safe_split", "dedup_containment",
    "dedup_prefix_filter_jaccard", "similarity_ivfpq_topk",
    "graph_components_copurchase", "graph_pagerank_copurchase",
    "graph_triangles_copurchase", "graph_degree_distribution",
    "graph_sssp_weighted", "graph_bfs_hops", "graph_common_neighbors",
    "graph_jaccard_neighbors", "graph_kcore", "graph_hits",
    "graph_label_propagation", "graph_ppr",
    "graph_closeness_centrality", "graph_betweenness_sampled",
    "graph_clustering_coeff", "graph_eccentricity_sample",
    "graph_assortativity", "graph_two_hop_reach", "graph_transitivity",
    "graph_rich_club", "graph_resource_allocation",
    "graph_edge_embeddedness", "graph_katz_centrality",
    "graph_modularity_labels",
})

#: Proven green in CORRECTNESS_r10 (all 50 window rows green — the 48
#: round-10 additions plus the two rec_* re-proofs; the fifth
#: consecutive all-clean window).
_PROVEN_R10 = frozenset({
    "agg_ab_cuped", "agg_ab_did", "agg_theil_decomposition",
    "rec_rfm_next_action", "agg_funnel_source_split", "window_macd",
    "window_bollinger", "window_vwap", "window_rsi",
    "graph_assortativity", "graph_two_hop_reach", "text_js_divergence",
    "text_simpson_diversity", "join_basket_substitutes",
    "agg_abc_classification", "agg_rolling_retention",
    "profile_category_drift", "search_eval_map_at_k", "text_pmi_pairs",
    "dataset_curriculum_order", "agg_price_elasticity",
    "agg_top_quintile_share", "agg_chi_square", "agg_mann_whitney",
    "agg_ks_test", "agg_anova_f", "agg_spearman_corr", "window_autocorr",
    "window_stochastic_osc", "agg_croston", "text_mutual_information",
    "text_rake_keywords", "text_novelty_curve", "graph_transitivity",
    "agg_srm_check", "agg_gini_split", "agg_brand_transitions",
    "rec_coverage", "similarity_range_search", "agg_sprt_ab",
    "agg_weekday_seasonality", "search_eval_auc", "agg_capture_recapture",
    "agg_effect_size", "agg_seasonal_strength", "graph_rich_club",
    "agg_runs_test", "agg_wilcoxon_signed_rank", "rec_item_neighbors",
    "rec_user_items",
})

#: Proven green in CORRECTNESS_r09 (all 25 round-9 additions hash_match
#: in the same round they landed — the fourth consecutive all-clean
#: window).
_PROVEN_R09 = frozenset({
    "search_eval_recall_at_k", "search_eval_ndcg_at_k",
    "search_eval_mmr_arm", "rec_item_neighbors", "rec_user_items",
    "graph_closeness_centrality", "agg_holt_forecast",
    "text_distinctive_terms", "search_eval_mrr", "agg_time_decay_score",
    "rec_next_part", "graph_betweenness_sampled", "agg_funnel_latency",
    "join_attribution_position", "profile_column_entropy", "window_wma",
    "window_stock_clamp", "rec_eval_hit_rate", "agg_forecast_backtest",
    "agg_survival_km", "dataset_weighted_sample",
    "graph_clustering_coeff", "profile_dup_transactions",
    "graph_eccentricity_sample", "text_term_burstiness",
})

#: Proven green in CORRECTNESS_r08 (all 50 rows hash_match; zero
#: errors — the third consecutive all-clean window).
_PROVEN_R08 = frozenset({
    "similarity_kmeans_step_portable", "graph_sssp_weighted",
    "agg_hierarchy_rollup", "sample_block_hash",
    "graph_label_propagation", "similarity_matryoshka_topk",
    "text_zipf_profile", "agg_basket_lift", "agg_pareto_frontier",
    "join_bom_explosion", "profile_key_islands", "agg_event_transitions",
    "dedup_prefix_filter_jaccard", "graph_ppr", "search_hybrid_rrf",
    "graph_jaccard_neighbors", "window_cusum", "window_drawdown",
    "agg_ab_test", "text_bpe_apply", "graph_hits", "agg_event_paths",
    "profile_fk_orphans", "text_lang_quality_matrix",
    "dataset_temporal_split", "embeddings_centroid_drift",
    "text_dup_ngram_coverage", "search_mmr_rerank",
    "agg_pricing_summary", "agg_cube", "agg_grouping_sets",
    "join_inner_broadcast", "join_right", "join_range_band",
    "filter_q19_disjunctive", "agg_cross_channel_rollup",
    "agg_rollup_revenue_rank", "agg_cohort_ltv_curve",
    "agg_conditional", "join_salted_skew", "join_pit_scd2",
    "multimodal_frame_sample", "text_bm25_search", "graph_bfs_hops",
    "graph_kcore", "graph_pagerank_copurchase",
    "graph_components_copurchase", "graph_triangles_copurchase",
    "graph_common_neighbors", "graph_degree_distribution",
})

#: Proven green in CORRECTNESS_r07 (48 hash_match + 2 expected
#: rows-only; zero errors — the full 50-slot window).
_PROVEN_R07 = frozenset({
    "embeddings_pq_assign_portable", "similarity_ivfpq_portable",
    "graph_bfs_hops", "agg_rollup_revenue_rank",
    "agg_repeat_purchase_intervals", "text_vocab_growth",
    "embeddings_norm_histogram", "graph_common_neighbors", "graph_kcore",
    "dataset_dedup_cross_split", "window_streak_lengths",
    "multimodal_frame_sample", "agg_cohort_ltv_curve",
    "agg_shipping_delay_histogram", "window_daily_backlog",
    "dedup_survivor_portable", "sketch_bloom_membership",
    "text_feature_hashing", "text_bpe_merge_candidates",
    "dedup_minhash_verified_portable", "dedup_minhash_candidates",
    "agg_pricing_summary", "join_salted_skew", "filter_q19_disjunctive",
    "agg_cross_channel_rollup", "graph_degree_distribution",
    "corpus_file_dedup", "multimodal_binary_ingest",
    "similarity_ivfpq_topk", "join_attribution_last_touch",
    "agg_window_funnel", "scalar_float_canary", "cdc_table_changes",
    "cdc_apply_changes", "cdc_mirror_replicate", "etl_transform_flat",
    "etl_explode_indicators", "etl_worker_route", "etl_micro_batch",
    "graph_pagerank", "graph_components_copurchase",
    "graph_pagerank_copurchase", "graph_triangles_copurchase",
    "layout_zorder", "profile_table_stats", "agg_daily_zscore",
    "window_gap_fill", "agg_ewma", "profile_constraint_check",
    "profile_key_skew",
})

#: Proven green in CORRECTNESS_r06 (48 hash_match + 2 expected
#: rows-only; zero errors — the full 50-slot window).
_PROVEN_R06 = frozenset({
    "embeddings_pq_codes", "cdc_table_changes", "cdc_apply_changes",
    "cdc_mirror_replicate", "corpus_file_dedup",
    "multimodal_binary_ingest", "agg_market_basket",
    "agg_cross_channel_rollup", "dedup_minhash_signature",
    "dedup_minhash_candidates", "ivm_incremental_rollup",
    "versioned_time_travel", "agg_customer_rfm", "window_top_movers",
    "dedup_simhash_portable", "profile_freshness",
    "text_countmin_portable", "ivm_rollup_after_compact",
    "join_asof_nearest", "text_keywords_tfidf", "agg_pareto_share",
    "graph_degree_distribution", "agg_benford_check",
    "agg_revenue_lorenz", "agg_new_vs_returning", "agg_pricing_summary",
    "agg_cube", "agg_grouping_sets", "join_inner_broadcast",
    "join_right", "join_range_band", "join_pit_scd2", "join_salted_skew",
    "filter_q19_disjunctive", "agg_conditional",
    "join_attribution_last_touch", "agg_window_funnel",
    "scalar_float_canary", "etl_transform_flat",
    "etl_explode_indicators", "etl_worker_route", "etl_micro_batch",
    "graph_pagerank", "graph_components_copurchase",
    "graph_pagerank_copurchase", "graph_triangles_copurchase",
    "layout_zorder", "profile_table_stats", "agg_daily_zscore",
    "window_gap_fill",
})

#: Proven green in CORRECTNESS_r01-r05 (hash_match, or rows-only queries
#: the driver ran with plausible row counts).  The single r05 non-green
#: row (embeddings_pq_codes) is deliberately NOT here.
_PROVEN_R05 = frozenset({
    "embeddings_normalize", "scalar_float_canary",
    "window_ntile_cume_scalable", "window_power_users_scalable",
    "join_attribution_last_touch", "agg_window_funnel", "layout_zorder",
    "profile_table_stats", "agg_daily_zscore", "window_gap_fill", "agg_ewma",
    "profile_constraint_check", "profile_key_skew", "agg_user_lifetime",
    "agg_stickiness", "window_power_users", "agg_session_conversion",
    "scalar_uri_parse", "scalar_url_normalize", "corpus_pretrain_funnel",
    "dataset_epoch_shuffle", "corpus_dedup_incremental", "text_unigram_nll",
    "dataset_kfold_assign", "dedup_containment", "dedup_url_canonical",
    "dedup_embedding_cosine_lsh",
    "similarity_ivfpq_topk", "multimodal_image_features",
    "multimodal_audio_features", "sample_negatives", "text_bm25_search",
    "agg_heavy_hitters", "agg_trailing_distinct_hll", "agg_theta_retention",
    "agg_approx_topk", "agg_theta_churn", "join_salted_skew",
    "join_null_skew_outer", "agg_resample_ohlc", "agg_mad_outliers",
    "agg_log2_histogram", "window_rolling_corr", "agg_regression_trend",
    "agg_hourly_seasonality", "join_pit_scd2",
    "graph_components_copurchase", "graph_pagerank_copurchase",
    "graph_triangles_copurchase",
})

#: Proven green in CORRECTNESS_r01-r04 (hash_match, or rows-only queries
#: the driver ran with plausible row counts).
_PROVEN_R01_R04 = frozenset({
    "agg_approx", "agg_bool_and_or", "agg_conditional", "agg_corr_covar",
    "agg_count_distinct", "agg_cube", "agg_equidepth_histogram", "agg_funnel",
    "agg_grouping_sets", "agg_histogram", "agg_hll_mergeable",
    "agg_incremental_merge", "agg_median_mode", "agg_minmax_by",
    "agg_percentiles", "agg_pivot", "agg_pricing_summary",
    "agg_q11_balance_share", "agg_q12_priority_class", "agg_q13_custdist",
    "agg_q14_promo", "agg_q16_supplier_cnt", "agg_q17_small_qty",
    "agg_q22_idle_customers", "agg_q6_forecast", "agg_q8_market_share",
    "agg_q9_profit", "agg_retention_cohort", "agg_rollup",
    "agg_rollup_grouping", "agg_salted_skew", "agg_stats", "agg_string_concat",
    "agg_trailing_distinct", "corpus_clean", "corpus_decontaminate",
    "corpus_mix_rebalance", "correlated_exists_agg", "dedup_components",
    "dedup_embedding_cosine", "dedup_exact", "dedup_keep_latest",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_normalized",
    "dedup_simhash", "dedup_survivor_corpus", "dedup_time_window",
    "dim_scd2_merge", "distinct_rows", "embeddings_quantize_int8",
    "etl_explode_indicators", "etl_micro_batch", "etl_transform_flat",
    "etl_worker_route", "filter_between", "filter_in_subquery",
    "filter_project", "filter_q19_disjunctive", "filter_rlike",
    "graph_pagerank", "join_anti", "join_asof", "join_asof_left",
    "join_full_outer", "join_fuzzy_names", "join_inner_broadcast",
    "join_interval_bucketed", "join_interval_overlap", "join_left",
    "join_q10_returns", "join_q15_top_supplier", "join_q18_large_orders",
    "join_q20_dominant_supplier", "join_q21_late_supplier",
    "join_q2_min_supplier", "join_q3_top_shipping", "join_q4_priority",
    "join_q5_local_supplier", "join_q7_volume", "join_range_band",
    "join_right", "join_semi", "multimodal_hash_dedup", "project_rename",
    "sample_fixed_per_group", "sample_fraction", "sample_stratified_hash",
    "scalar_array", "scalar_array2", "scalar_bitwise", "scalar_case_when",
    "scalar_date", "scalar_date_arith", "scalar_date_format", "scalar_json",
    "scalar_map_column", "scalar_map_functions", "scalar_math",
    "scalar_null_fns", "scalar_regexp_extract_all", "scalar_string",
    "scalar_string2", "scalar_subquery", "scalar_trig", "sessionize_events",
    "set_except", "set_intersect", "set_union_all", "set_union_missing_cols",
    "similarity_centroids", "similarity_ivf_topk", "similarity_kmeans",
    "similarity_knn_join", "similarity_pairs", "similarity_rp_lsh",
    "similarity_topk", "sort_limit_topk", "split_train_val_test",
    "text_boilerplate_ngrams", "text_chunk_windows", "text_countmin_sketch",
    "text_fingerprint", "text_langid", "text_ngrams", "text_pii_scrub",
    "text_quality", "text_quality_filter", "text_repetition",
    "text_sequence_pack", "text_shingles", "text_stats", "text_tfidf",
    "text_token_histogram", "text_token_regex", "unpivot_stack",
    "window_first_last", "window_lag_delta", "window_lead", "window_nth_value",
    "window_ntile_cume", "window_percent_rank", "window_range_frame",
    "window_rank_dense", "window_running_sum", "window_session",
    "window_sliding", "window_topk_per_group", "window_tumbling",
})


#: Proven green in CORRECTNESS_r11 (49/50 window rows; the one red row,
#: window_keltner, is deliberately NOT here — it re-proves in the
#: round-12 window after the oracle-literal fix).  Includes the four
#: timeseries3 additions the round-11 window comment omitted
#: (agg_theil_sen, agg_mann_kendall, window_ichimoku green via the
#: fresh-queries fallback; window_keltner red).
_PROVEN_R11 = frozenset({
    "window_obv", "window_donchian", "window_atr", "window_sharpe",
    "window_beta", "agg_adstock", "agg_welch_t", "agg_kendall_tau",
    "agg_kruskal_wallis", "agg_cohens_kappa", "agg_jarque_bera",
    "graph_resource_allocation", "graph_edge_embeddedness",
    "graph_katz_centrality", "agg_bounce_rate", "agg_dwell_time_bands",
    "agg_rfm_migration", "rec_markov_next_event", "agg_cusum_changepoint",
    "text_hapax_ratio", "text_lexical_density", "window_macd",
    "agg_mann_whitney", "dedup_prefix_filter_jaccard", "agg_theil_sen",
    "agg_mann_kendall", "window_ichimoku", "join_attribution_last_touch",
    "agg_window_funnel", "scalar_float_canary", "cdc_table_changes",
    "cdc_apply_changes", "cdc_mirror_replicate",
    "agg_theil_decomposition", "etl_transform_flat",
    "etl_explode_indicators", "etl_worker_route", "etl_micro_batch",
    "agg_ab_test", "agg_ab_cuped", "agg_ab_did", "agg_srm_check",
    "agg_sprt_ab", "agg_capture_recapture", "agg_effect_size",
    "window_bollinger", "window_vwap", "window_rsi",
    "agg_time_decay_score",
})

#: Proven green in CORRECTNESS_r12 (all 50 window rows green — the
#: fold-literal re-proofs, retail5, and the 26 round-12 additions).
_PROVEN_R12 = frozenset({
    "window_keltner", "window_rsi", "window_atr", "window_beta",
    "agg_price_index_laspeyres", "agg_basket_size_distribution",
    "agg_hhi_concentration", "agg_gini_coefficient",
    "dataset_pack_efficiency", "search_cross_encoder_rerank",
    "dedup_gate_flags", "search_eval_interpolated_pr", "search_eval_rbo",
    "agg_trimmed_mean", "agg_winsorized_mean", "window_parkinson_vol",
    "text_dedup_rate_by_source", "text_readability_fk",
    "agg_bootstrap_ci", "agg_decile_lift_table",
    "dataset_contrastive_triples", "embeddings_top_component",
    "dataset_tokenizer_fertility", "dataset_mix_temperature_weights",
    "text_bigram_entropy_rate", "dedup_cluster_size_histogram",
    "join_attribution_last_touch", "agg_window_funnel",
    "scalar_float_canary", "cdc_table_changes", "cdc_apply_changes",
    "cdc_mirror_replicate", "agg_theil_decomposition",
    "etl_transform_flat", "etl_explode_indicators", "etl_worker_route",
    "etl_micro_batch", "agg_ab_test", "agg_ab_cuped", "agg_ab_did",
    "agg_srm_check", "agg_sprt_ab", "agg_capture_recapture",
    "agg_effect_size", "window_macd", "window_bollinger", "window_vwap",
    "window_obv", "window_donchian", "window_sharpe",
})

#: Proven green in CORRECTNESS_r13 (all 50 window rows green — the 10
#: search_eval/PCA re-proofs, the 18 round-13 additions, and the
#: round-2-era scalar/join/agg basics tail).
_PROVEN_R13 = frozenset({
    "agg_approx", "agg_corr_covar", "agg_count_distinct",
    "agg_kelly_fraction", "agg_latency_slo_hourly", "agg_median_polish",
    "agg_minmax_by", "agg_percentiles", "agg_pivot", "agg_rollup",
    "agg_rollup_grouping", "agg_stats", "agg_string_concat",
    "agg_trimmed_mean_scalable", "agg_ulcer_index", "agg_uplift_qini",
    "agg_winsorized_mean_scalable", "correlated_exists_agg",
    "dataset_cluster_balanced_sample", "dataset_contrastive_triples",
    "dataset_epoch_coverage", "dataset_mix_waterfill",
    "dedup_minhash_calibration", "distinct_rows",
    "embeddings_remove_top_component", "embeddings_top_component",
    "filter_in_subquery", "filter_project", "filter_rlike",
    "graph_modularity_labels", "join_anti", "join_asof", "join_asof_left",
    "join_full_outer", "join_left", "join_q3_top_shipping",
    "join_q5_local_supplier", "search_eval_auc",
    "search_eval_interpolated_pr", "search_eval_map_at_k",
    "search_eval_mmr_arm", "search_eval_mrr", "search_eval_ndcg_at_k",
    "search_eval_rbo", "search_eval_recall_at_k", "text_gopher_rules",
    "text_langid_confusion", "text_ttr_prefix_profile",
    "window_amihud_illiquidity", "window_drawdown_duration",
})

#: Proven green in CORRECTNESS_r14 (all 50 window rows hash-green —
#: no rows-only rows in that window).
_PROVEN_R14 = frozenset({
    "agg_expected_shortfall", "agg_funnel", "agg_grubbs_outlier",
    "agg_histogram", "agg_median_polish", "agg_omega_ratio",
    "agg_pettitt_changepoint", "agg_shapley_attribution",
    "agg_sortino_sq", "agg_trimmed_mean_scalable",
    "agg_winsorized_mean_scalable", "corpus_decontaminate_bloom",
    "dataset_leakage_safe_split", "dedup_bloom_prefilter",
    "graph_betweenness_sampled", "graph_bfs_hops",
    "graph_closeness_centrality", "graph_components_copurchase",
    "graph_degree_distribution", "graph_hits", "graph_kcore",
    "graph_modularity_labels", "graph_pagerank_copurchase", "graph_ppr",
    "graph_rich_club", "graph_sssp_weighted",
    "graph_triangles_copurchase", "join_semi", "project_rename",
    "scalar_date_format", "scalar_map_functions", "scalar_subquery",
    "search_eval_mmr_arm", "set_except", "set_intersect",
    "set_union_all", "set_union_missing_cols",
    "sketch_count_min_calibration", "sort_limit_topk",
    "text_burstiness", "text_rarity_score", "unpivot_stack",
    "window_first_last", "window_hurst_rs", "window_lag_delta",
    "window_ntile_cume", "window_range_frame", "window_rank_dense",
    "window_running_sum", "window_topk_per_group"
})

_PROVEN = (
    _PROVEN_R01_R04 | _PROVEN_R05 | _PROVEN_R06 | _PROVEN_R07
    | _PROVEN_R08 | _PROVEN_R09 | _PROVEN_R10 | _PROVEN_R11
    | _PROVEN_R12 | _PROVEN_R13 | _PROVEN_R14 | _PROVEN_R15
)


def _last_proof_rounds() -> dict[str, int]:
    """query -> last round with a green row in committed
    CORRECTNESS_r*.json artifacts (0 = never driver-proven).  Drives
    the automatic oldest-proof-first rotation of the driver window
    (VERDICT r12 §Next #4); returns {} when artifacts are unavailable
    so ordering degrades to alphabetical-stable."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = _os.path.dirname(_os.path.abspath(__file__))
    last: dict[str, int] = {}
    try:
        for path in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
            m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            with open(path) as f:
                data = _json.load(f)
            if not isinstance(data, dict):
                continue
            for name, row in data.items():
                if not isinstance(row, dict):
                    continue
                # an explicit hash_match == False is a failed proof even
                # when err is clean — never count it as green (ADVICE r13)
                green = bool(row.get("hash_match")) or (
                    row.get("hash_match") is not False
                    and row.get("err") in ("no_oracle", None)
                    and row.get("rows_match") is not False
                    and row.get("spark_rows", -1) >= 0
                )
                if green:
                    last[name] = max(last.get(name, 0), rnd)
    except Exception:  # noqa: BLE001 — ordering is best-effort
        return {}
    return last


def _driver_order(names: list[str]) -> list[str]:
    """Order query names for the driver's 50-slot correctness window:
    this round's re-proof block first, then never-proven queries, then
    everything else OLDEST-PROOF-FIRST (ties alphabetical) so the
    driver's own artifact re-verifies the stalest proofs each round."""
    window = [n for n in _ROUND16_WINDOW if n in set(names)]
    in_window = set(window)
    fresh = [
        n for n in names
        if n not in in_window and n not in _PROVEN
    ]
    last = _last_proof_rounds()
    proven = sorted(
        (n for n in names if n in _PROVEN and n not in in_window),
        key=lambda n: (last.get(n, 0), n),
    )
    return window + fresh + proven


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference ETL pipeline (scan -> validate -> cast
    -> derive -> pack indicators -> hash route) on the sf0.001 events table."""
    from concurrent_etl_go_spark.plans import flagship

    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    import concurrent_etl_go_spark.operators as ops

    return {n: ops.QUERIES[n] for n in _driver_order(list(ops.QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    import concurrent_etl_go_spark.operators as ops

    return dict(ops.ORACLES)
