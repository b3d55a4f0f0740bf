"""Query registry: name → (Spark builder, DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) compares each Spark query
against its oracle SQL at sf0.01 by row count + schema + order-
insensitive value hash; every alias here is identical on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cassandra_extractor_spark.operators import (
    tpch as TP,
    dedup as D,
    extraction as X,
    multimodal as M,
    relational as R,
    sampling as SM,
    similarity as S,
    text as TX,
)
from cassandra_extractor_spark.oracles_ns import NS_ORACLES
from cassandra_extractor_spark.streaming.quantile import (
    q122_hist_quantile as _q122_hist_quantile,
)
from cassandra_extractor_spark.streaming.posting_stream import (
    ensure_session_bm25_store,
    ns_bm25_store as _ns_bm25_store,
)
from cassandra_extractor_spark.streaming.stateful import ns_sessionize as _ns_sessionize

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name → Spark DataFrame builder
#:
#: ORDER MATTERS for evidence: the driver artifact records the first
#: ~50 entries per round, so entries needing fresh rows lead: the
#: round-4 changed queries, then everything whose last driver row
#: predates the round-3 testdata regeneration; the r03-sampled set
#: closes the dict.  Every entry is always registered — this is
#: prioritization, not selection.
QUERIES: dict[str, QueryFn] = {
    # new in round 11 — need fresh rows
    "ns_bm25_store": _ns_bm25_store,
    "ns_kcenter_step": S.ns_kcenter_step,
    # new in round 10 — need fresh rows
    "ns_top_dup_spans": D.ns_top_dup_spans,
    "ns_boolean_retrieval": TX.ns_boolean_retrieval,
    "ns_length_outliers": TX.ns_length_outliers,
    "ns_ann_symmetry": S.ns_ann_symmetry,
    "q123_mann_whitney": R.q123_mann_whitney,
    "q127_wilcoxon_signed_rank": R.q127_wilcoxon_signed_rank,
    "q124_cusum_changepoint": R.q124_cusum_changepoint,
    "ns_ann_cell_balance": S.ns_ann_cell_balance,
    "ns_quality_by_dup": X.ns_quality_by_dup,
    "q125_theil_index": R.q125_theil_index,
    "ns_vocab_growth": TX.ns_vocab_growth,
    "q126_cramers_v": R.q126_cramers_v,
    "ns_dedup_savings": X.ns_dedup_savings,
    # new in round 7b — need fresh rows
    "ns_tokenizer_fertility": TX.ns_tokenizer_fertility,
    "ns_cluster_purity": S.ns_cluster_purity,
    "ns_knn_classifier": S.ns_knn_classifier,
    "ns_ann_mrr": S.ns_ann_mrr,
    "ns_hybrid_rrf": S.ns_hybrid_rrf,
    "ns_preference_pairs": X.ns_preference_pairs,
    "q122_hist_quantile": _q122_hist_quantile,
    # new in round 5 — need fresh rows
    "q100_crosstab_chi2": R.q100_crosstab_chi2,
    "q101_weighted_median": R.q101_weighted_median,
    "q102_interpolate": R.q102_interpolate,
    "q103_benford": R.q103_benford,
    "q104_autocorr": R.q104_autocorr,
    "ns_bpe_pair_counts": TX.ns_bpe_pair_counts,
    "ns_assoc_rules": X.ns_assoc_rules,
    "ns_pca_power_iter": S.ns_pca_power_iter,
    "ns_ranking_ndcg": S.ns_ranking_ndcg,
    "ns_cluster_canonical": D.ns_cluster_canonical,
    "ns_cluster_size_hist": D.ns_cluster_size_hist,
    "ns_lsh_recall": D.ns_lsh_recall,
    "ns_source_dedup_matrix": D.ns_source_dedup_matrix,
    "q105_skyline": R.q105_skyline,
    "ns_sample_k_per_group": SM.ns_sample_k_per_group,
    "ns_embedding_centering": S.ns_embedding_centering,
    "q106_attribution": R.q106_attribution,
    "tpch_q01": TP.tpch_q01,
    "tpch_q03": TP.tpch_q03,
    "tpch_q05": TP.tpch_q05,
    "tpch_q06": TP.tpch_q06,
    "tpch_q10": TP.tpch_q10,
    "tpch_q14": TP.tpch_q14,
    "tpch_q18": TP.tpch_q18,
    "tpch_q04": TP.tpch_q04,
    "tpch_q12": TP.tpch_q12,
    "tpch_q15": TP.tpch_q15,
    "tpch_q19": TP.tpch_q19,
    "tpch_q22": TP.tpch_q22,
    "tpch_q02": TP.tpch_q02,
    "tpch_q11": TP.tpch_q11,
    "tpch_q16": TP.tpch_q16,
    "tpch_q20": TP.tpch_q20,
    "tpch_q07": TP.tpch_q07,
    "tpch_q08": TP.tpch_q08,
    "tpch_q09": TP.tpch_q09,
    "tpch_q13": TP.tpch_q13,
    "tpch_q17": TP.tpch_q17,
    "tpch_q21": TP.tpch_q21,
    "ns_label_propagation": D.ns_label_propagation,
    "ns_random_projection": S.ns_random_projection,
    "ns_linear_probe_step": S.ns_linear_probe_step,
    "ns_cms_estimate": TX.ns_cms_estimate,
    "ns_bigram_lm": TX.ns_bigram_lm,
    "ns_hll_manual": TX.ns_hll_manual,
    "q112_not_in_nulls": R.q112_not_in_nulls,
    "q113_percent_of_parent": R.q113_percent_of_parent,
    "q114_bounce_rate": R.q114_bounce_rate,
    "q115_runs_test": R.q115_runs_test,
    "q116_spearman": R.q116_spearman,
    "q117_gini": R.q117_gini,
    "ns_mi_feature_select": S.ns_mi_feature_select,
    "q118_seasonal_decompose": R.q118_seasonal_decompose,
    "ns_hll_set_ops": TX.ns_hll_set_ops,
    "q119_ab_proportions": R.q119_ab_proportions,
    "q120_ltv_curve": R.q120_ltv_curve,
    "q121_ks_test": R.q121_ks_test,
    "ns_simpson_diversity": TX.ns_simpson_diversity,
    "ns_zipf_fit": TX.ns_zipf_fit,
    "ns_ngram_novelty": TX.ns_ngram_novelty,
    "ns_span_corruption": TX.ns_span_corruption,
    "ns_dp_noise": SM.ns_dp_noise,
    "ns_neyman_allocation": SM.ns_neyman_allocation,
    "q107_full_outer_reconcile": R.q107_full_outer_reconcile,
    "q108_ewma": R.q108_ewma,
    "q109_cusum": R.q109_cusum,
    "q110_markov_transitions": R.q110_markov_transitions,
    "q111_mom_growth": R.q111_mom_growth,
    # changed in round 5 (review fixes) — need fresh rows
    "q82_rolling_median": R.q82_rolling_median,
    "q92_ohlc_resample": R.q92_ohlc_resample,
    "ns_dedup_prefix_jaccard": D.ns_dedup_prefix_jaccard,
    # new in round 4 + changed in round 4
    "q38_approx_distinct": R.q38_approx_distinct,
    "q99_share_of_total": R.q99_share_of_total,
    "q89_grouped_quantiles": R.q89_grouped_quantiles,
    "ns_skew_audit": X.ns_skew_audit,
    "ns_ann_recall": S.ns_ann_recall,
    "ns_ann_ivfpq_recall": S.ns_ann_ivfpq_recall,
    "ns_minhash_calibration": D.ns_minhash_calibration,
    "ns_winsorize": SM.ns_winsorize,
    "q91_grouping_id": R.q91_grouping_id,
    "q93_column_profile": R.q93_column_profile,
    "q94_rank_distributions": R.q94_rank_distributions,
    "q95_event_pattern": R.q95_event_pattern,
    "q97_constraint_audit": R.q97_constraint_audit,
    "q98_incremental_rollup": R.q98_incremental_rollup,
    "q96_relational_division": R.q96_relational_division,
    "q90_time_rollup": R.q90_time_rollup,
    "q87_dense_timeseries": R.q87_dense_timeseries,
    "q88_salted_join": R.q88_salted_join,
    "ns_dup_ngram_coverage": D.ns_dup_ngram_coverage,
    "ns_embedding_audit": S.ns_embedding_audit,
    "q79_window_distinct": R.q79_window_distinct,
    "q81_rank_metrics": R.q81_rank_metrics,
    "q83_cdc_apply": R.q83_cdc_apply,
    "q84_scd2_history": R.q84_scd2_history,
    "q85_interval_lookup": R.q85_interval_lookup,
    "q86_sequence_gaps": R.q86_sequence_gaps,
    "ns_heavy_hitters": TX.ns_heavy_hitters,
    "ns_line_filter": TX.ns_line_filter,
    "ns_chunk_dedup": TX.ns_chunk_dedup,
    "ns_hard_negatives": S.ns_hard_negatives,
    "ns_triangle_count": D.ns_triangle_count,
    "ns_filter_funnel": X.ns_filter_funnel,
    "ns_gate_agreement": X.ns_gate_agreement,
    "ns_neardup_editdist": D.ns_neardup_editdist,
    "q80_interval_merge": R.q80_interval_merge,
    "q76_rolling_zscore": R.q76_rolling_zscore,
    "q77_zorder_key": R.q77_zorder_key,
    "q78_bloom_join": R.q78_bloom_join,
    "ns_text_normalize": TX.ns_text_normalize,
    "ns_lm_fluency_bucket": TX.ns_lm_fluency_bucket,
    "q66_grouped_median": R.q66_grouped_median,
    "q67_grouped_mode": R.q67_grouped_mode,
    "q68_fuzzy_join": R.q68_fuzzy_join,
    "ns_cdc_chunk": TX.ns_cdc_chunk,
    "ns_corpus_drift": X.ns_corpus_drift,
    "q69_median_abs_dev": R.q69_median_abs_dev,
    "q70_equidepth_hist": R.q70_equidepth_hist,
    "q71_fill_forward": R.q71_fill_forward,
    "ns_substring_dedup": D.ns_substring_dedup,
    "ns_temperature_sample": SM.ns_temperature_sample,
    "ns_shard_layout": X.ns_shard_layout,
    "ns_dsir_select": SM.ns_dsir_select,
    "ns_waterfill_cap": SM.ns_waterfill_cap,
    "ns_domain_reweight": SM.ns_domain_reweight,
    "ns_sketch_shard_merge": D.ns_sketch_shard_merge,
    "ns_bm25": TX.ns_bm25,
    "ns_entropy": TX.ns_entropy,
    "ns_cross_split_leakage": D.ns_cross_split_leakage,
    "ns_winnowing": D.ns_winnowing,
    "q72_funnel": R.q72_funnel,
    "q74_latency_bands": R.q74_latency_bands,
    "q75_path_analysis": R.q75_path_analysis,
    "q73_retention_cohorts": R.q73_retention_cohorts,
    "ns_pagerank": D.ns_pagerank,
    "ns_kmeans_step": S.ns_kmeans_step,
    "ns_ann_lsh_bucketed": S.ns_ann_lsh_bucketed,
    "ns_data_audit": X.ns_data_audit,
    "q02_filter": R.q02_filter,
    "q03_string_filter": R.q03_string_filter,
    # stale after the round-3 testdata regeneration: no driver row
    # at the current parquet yet (the driver samples ~50/round;
    # rotating these to the front closes the gap within two rounds)
    "q54_date_arith": R.q54_date_arith,
    "q55_range_frame": R.q55_range_frame,
    "q56_first_last": R.q56_first_last,
    "q57_array_funcs": R.q57_array_funcs,
    "q58_explode": R.q58_explode,
    "q59_except_all": R.q59_except_all,
    "q60_not_exists": R.q60_not_exists,
    "q61_json_keys": R.q61_json_keys,
    "q62_histogram": R.q62_histogram,
    "q33_range_join": R.q33_range_join,
    "q13_group_agg": R.q13_group_agg,
    "q19_multiway_join": R.q19_multiway_join,
    "q22_window_rank": R.q22_window_rank,
    "q42_pivot": R.q42_pivot,
    "q46_recursive_cte": R.q46_recursive_cte,
    "q01_projection": R.q01_projection,
    "q04_count": R.q04_count,
    "q05_filtered_count": R.q05_filtered_count,
    "q06_sort_limit": R.q06_sort_limit,
    "q07_offset_page": R.q07_offset_page,
    "q08_hwm_filter": R.q08_hwm_filter,
    "q09_rename_project": R.q09_rename_project,
    "q10_epoch_millis": R.q10_epoch_millis,
    "q11_expression": R.q11_expression,
    "q12_json_serialize": R.q12_json_serialize,
    "q14_having": R.q14_having,
    "q15_inner_join": R.q15_inner_join,
    "q16_left_join": R.q16_left_join,
    "q17_semi_join": R.q17_semi_join,
    "q18_anti_join": R.q18_anti_join,
    "q20_distinct": R.q20_distinct,
    "q21_count_distinct": R.q21_count_distinct,
    "q23_window_running_sum": R.q23_window_running_sum,
    "q24_union": R.q24_union,
    "q25_except": R.q25_except,
    "q26_rollup": R.q26_rollup,
    "q27_dedup": R.q27_dedup,
    "q28_date_funcs": R.q28_date_funcs,
    "q29_string_funcs": R.q29_string_funcs,
    "q30_case": R.q30_case,
    "q31_json_extract": R.q31_json_extract,
    "q32_event_agg": R.q32_event_agg,
    "q34_asof_join": R.q34_asof_join,
    "q35_time_bucket": R.q35_time_bucket,
    "q36_cube": R.q36_cube,
    "q37_grouping_sets": R.q37_grouping_sets,
    "q39_exists_subquery": R.q39_exists_subquery,
    "q40_scalar_subquery": R.q40_scalar_subquery,
    "q41_cte": R.q41_cte,
    "q43_unpivot": R.q43_unpivot,
    "q44_percentile": R.q44_percentile,
    "q45_stats": R.q45_stats,
    "q47_regex_funcs": R.q47_regex_funcs,
    "q48_null_funcs": R.q48_null_funcs,
    "q49_intersect": R.q49_intersect,
    "q50_lag_lead": R.q50_lag_lead,
    # sampled green in CORRECTNESS_r03 (post-regeneration rows)
    "q63_sliding_window": R.q63_sliding_window,
    "q64_regression": R.q64_regression,
    "q65_schema_evolution_union": R.q65_schema_evolution_union,
    "ns_mixture_sample": SM.ns_mixture_sample,
    "ns_sequence_pack": X.ns_sequence_pack,
    "ns_pack_fragmentation": X.ns_pack_fragmentation,
    "ns_quality_classifier": TX.ns_quality_classifier,
    "ns_classifier_calibration": TX.ns_classifier_calibration,
    "ns_quality_token_frontier": TX.ns_quality_token_frontier,
    "ns_budget_select": TX.ns_budget_select,
    "ns_training_corpus": X.ns_training_corpus,
    "q44b_quantile_disc": R.q44b_quantile_disc,
    "ns_vocab_oov": TX.ns_vocab_oov,
    "ns_boilerplate": TX.ns_boilerplate,
    "ns_topk_per_source": SM.ns_topk_per_source,
    "ns_corpus_diff": X.ns_corpus_diff,
    "ns_token_count": TX.ns_token_count,
    "ns_tfidf": TX.ns_tfidf,
    "ns_doc_fingerprint": TX.ns_doc_fingerprint,
    "ns_lang_id": TX.ns_lang_id,
    "ns_pii_scrub": TX.ns_pii_scrub,
    "ns_ngram_pmi": TX.ns_ngram_pmi,
    "ns_text_quality": TX.ns_text_quality,
    "ns_doc_chunk": TX.ns_doc_chunk,
    "ns_top_terms": TX.ns_top_terms,
    "ns_dedup_exact": D.ns_dedup_exact,
    "ns_dedup_fingerprint": D.ns_dedup_fingerprint,
    "ns_dedup_jaccard": D.ns_dedup_jaccard,
    "ns_dedup_containment": D.ns_dedup_containment,
    "ns_dedup_minhash_lsh": D.ns_dedup_minhash_lsh,
    "ns_dedup_clusters": D.ns_dedup_clusters,
    "ns_dedup_simhash": D.ns_dedup_simhash,
    "ns_neardup_embedding": D.ns_neardup_embedding,
    "ns_decontaminate": D.ns_decontaminate,
    "ns_semantic_dedup": D.ns_semantic_dedup,
    "ns_repetition_filter": TX.ns_repetition_filter,
    "ns_ann_pq": S.ns_ann_pq,
    "ns_ann_ivfpq": S.ns_ann_ivfpq,
    "ns_ann_cosine_topk": S.ns_ann_cosine_topk,
    "ns_ann_ivf": S.ns_ann_ivf,
    "ns_embedding_quantize": S.ns_embedding_quantize,
    "ns_multimodal_meta": M.ns_multimodal_meta,
    "ns_tablespec_pipeline": X.ns_tablespec_pipeline,
    "ns_corpus_select": X.ns_corpus_select,
    "ns_corpus_stats": X.ns_corpus_stats,
    "ns_sessionize": _ns_sessionize,
    "ns_sample_uniform": SM.ns_sample_uniform,
    "ns_sample_stratified": SM.ns_sample_stratified,
    "ns_split_assign": SM.ns_split_assign,
    "q51_conditional_agg": R.q51_conditional_agg,
    "q52_string_agg": R.q52_string_agg,
    "q53_ntile": R.q53_ntile,
}

#: driver-evidence rotation (round 8+): the driver's CORRECTNESS
#: artifact records roughly the first ~50 registry entries per round.
#: Rotation rule (stated in PARITY.md coverage note): each round the
#: prefix is recomputed as the ~50 registry entries whose most recent
#: driver-green row is OLDEST, excluding everything sampled in the two
#: preceding rounds — so each round's sample is disjoint from the two
#: before it and every entry re-earns driver evidence ~once per 5
#: rounds.  The union of CORRECTNESS_r{01..10}.json covers ALL 264
#: pre-round-11 registry names — the rotation accrues further-pass
#: evidence where it is stalest.  Computed mechanically each round
#: from the CORRECTNESS files (oldest round first, name-ordered
#: within a round; new zero-evidence entries lead).  Every entry
#: stays registered — prioritization, not selection.
_PRIORITY_PREFIX = [
    # Round 13 (no new registry entries this round — robustness round):
    # the 60 oldest-evidence eligibles, computed mechanically from
    # CORRECTNESS_r01..r12 (latest-green round r7/r8 for all of these),
    # excluding the r11 ∪ r12 samples.  Includes the round-13-replanned
    # rank statistics' neighbors and the TPC-H heavies whose evidence
    # is stalest.
    "q54_date_arith", "q55_range_frame", "q56_first_last", "q57_array_funcs",
    "q58_explode", "q59_except_all", "q60_not_exists", "q61_json_keys",
    "q62_histogram", "q76_rolling_zscore", "tpch_q02", "tpch_q07",
    "tpch_q08", "tpch_q09", "tpch_q11", "tpch_q13",
    "tpch_q16", "tpch_q17", "tpch_q20", "tpch_q21",
    "ns_ann_cosine_topk", "ns_ann_ivf", "ns_ann_pq", "ns_ann_recall",
    "ns_boilerplate", "ns_cdc_chunk", "ns_chunk_dedup", "ns_corpus_diff",
    "ns_corpus_drift", "ns_corpus_select", "ns_corpus_stats", "ns_data_audit",
    "ns_decontaminate", "ns_dedup_clusters", "ns_dedup_containment", "ns_dedup_exact",
    "ns_dedup_fingerprint", "ns_dedup_jaccard", "ns_dedup_minhash_lsh", "ns_dedup_prefix_jaccard",
    "ns_dedup_simhash", "ns_doc_chunk", "ns_embedding_quantize", "ns_filter_funnel",
    "ns_gate_agreement", "ns_kmeans_step", "ns_mixture_sample", "ns_multimodal_meta",
    "ns_neardup_editdist", "ns_neardup_embedding", "ns_quality_classifier", "ns_repetition_filter",
    "ns_sample_stratified", "ns_sample_uniform", "ns_semantic_dedup", "ns_sequence_pack",
    "ns_sessionize", "ns_split_assign", "ns_tablespec_pipeline", "ns_top_terms",
]
QUERIES = {name: QUERIES[name] for name in _PRIORITY_PREFIX} | {
    k: v for k, v in QUERIES.items() if k not in set(_PRIORITY_PREFIX)
}


def _dedup_chain_build(spark: SparkSession, sf_dir: str) -> None:
    D.shared_pairs(spark, sf_dir)  # builds shared_shingles + shared_bands too
    D.shared_pairs(spark, sf_dir, max_bucket=64)
    D.shared_clusters(spark, sf_dir)
    TX.shared_token_stream(spark, sf_dir)
    D.shared_kgrams(spark, sf_dir)


def _ann_build(spark: SparkSession, sf_dir: str) -> None:
    S.shared_embeddings(spark, sf_dir)
    S.shared_ann_cells(spark, sf_dir)
    S.shared_ann_codes(spark, sf_dir)  # builds shared_ann_codebook too
    S.shared_brute_topk(spark, sf_dir)


def _quality_build(spark: SparkSession, sf_dir: str) -> None:
    TX.shared_text_quality(spark, sf_dir)
    TX.shared_clf_scores(spark, sf_dir)
    TX.shared_rep_flags(spark, sf_dir)


#: the session-store builds that consumers share, as charged line items
#: (name → build over one corpus dir), in DEPENDENCY order: the BM25
#: store reads the token stream and the quality frame, so it comes last
SHARED_BUILDS: dict[str, Callable[[SparkSession, str], object]] = {
    "shared_dedup_chain_build": _dedup_chain_build,
    "shared_ann_build": _ann_build,
    "shared_quality_build": _quality_build,
    "shared_bm25_store_build": ensure_session_bm25_store,
}


def _zorder_spread_sql(col: str, offset: int) -> str:
    """DuckDB mirror of ``_zorder_bits``: 16 shift/mask terms OR-folded."""
    terms = [
        f"(((({col}) >> {i}) & 1) << {2 * i + offset})" for i in range(16)
    ]
    return "(" + " | ".join(terms) + ")"


#: Benford expected-frequency CASE arm, shared literals with the Spark
#: side (R.BENFORD_EXP) so engine libm can never diverge
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(
        f"WHEN {d} THEN CAST({v!r} AS DOUBLE)" for d, v in R.BENFORD_EXP.items()
    )
    + " END"
)

_CHI2_EXP = "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"

#: Wald–Wolfowitz expectation/variance, mirroring q115's Spark
#: expression operation by operation (nd expanded inline each time)
#: pooled proportion for q119's two-proportion z, mirroring Spark
_AB_PP = (
    "((CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)) "
    "/ (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
)

_RUNS_ND = "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
_RUNS_ER = (
    "CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) "
    f"/ {_RUNS_ND} + CAST(1.0 AS DOUBLE)"
)
_RUNS_VR = (
    "(CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) "
    "* (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) "
    f"- {_RUNS_ND}) / ({_RUNS_ND} * {_RUNS_ND} "
    f"* ({_RUNS_ND} - CAST(1.0 AS DOUBLE))))"
)

#: name → equivalent ANSI SQL for the DuckDB oracle
ORACLES: dict[str, str] = {
    "q100_crosstab_chi2": (
        "WITH cells AS (SELECT o_orderpriority, o_orderstatus, "
        "CAST(COUNT(*) AS BIGINT) AS obs FROM orders GROUP BY 1, 2), "
        "m AS (SELECT o_orderpriority, o_orderstatus, obs, "
        "CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS rt, "
        "CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS ct, "
        "CAST(SUM(obs) OVER () AS BIGINT) AS n FROM cells) "
        "SELECT CAST((COUNT(DISTINCT o_orderpriority) - 1) * "
        "(COUNT(DISTINCT o_orderstatus) - 1) AS BIGINT) AS dof, "
        f"round(CAST(SUM(CAST((obs - {_CHI2_EXP}) * (obs - {_CHI2_EXP}) "
        f"/ {_CHI2_EXP} AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2 FROM m"
    ),
    "tpch_q01": (
        "WITH a AS (SELECT l_returnflag, l_linestatus, "
        "SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq, "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sp, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS sdp, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS sch, "
        "SUM(CAST(l_discount AS DECIMAL(18,6))) AS sd, "
        "CAST(COUNT(*) AS BIGINT) AS count_order "
        "FROM lineitem WHERE l_shipdate <= '2000-09-02' GROUP BY 1, 2), "
        "m AS (SELECT *, CAST(sq * 1000000 AS HUGEINT) AS sqm, "
        "CAST(sp * 1000000 AS HUGEINT) AS spm, "
        "CAST(sd * 1000000 AS HUGEINT) AS sdm, "
        "CAST(count_order AS HUGEINT) * 10000 AS d2, "
        "CAST(count_order AS HUGEINT) * 100 AS d4 FROM a) "
        "SELECT l_returnflag, l_linestatus, CAST(sq AS DOUBLE) AS sum_qty, "
        "CAST(ROUND(sp, 2) AS DOUBLE) AS sum_base_price, "
        "CAST(ROUND(sdp, 2) AS DOUBLE) AS sum_disc_price, "
        "CAST(ROUND(sch, 2) AS DOUBLE) AS sum_charge, "
        f"CAST({TP.divr_sql('sqm', 'd2', '//')} AS DOUBLE) / CAST(100.0 AS DOUBLE) AS avg_qty, "
        f"CAST({TP.divr_sql('spm', 'd2', '//')} AS DOUBLE) / CAST(100.0 AS DOUBLE) AS avg_price, "
        f"CAST({TP.divr_sql('sdm', 'd4', '//')} AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS avg_disc, "
        "count_order FROM m ORDER BY 1, 2"
    ),
    "tpch_q03": (
        "SELECT l.l_orderkey AS l_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1998-03-15' "
        "AND l_shipdate > '1998-03-15' "
        "GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
    "tpch_q05": (
        "SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
    "tpch_q06": (
        "SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue, "
        "CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem "
        "WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
    ),
    "tpch_q10": (
        "SELECT c_custkey, c_name, n_name, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE l_returnflag = 'R' AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01' "
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
    "tpch_q14": (
        "WITH a AS (SELECT "
        "SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS pr, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS tr "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'), "
        "m AS (SELECT tr, CAST(pr * 1000000 AS HUGEINT) AS prm, "
        "CASE WHEN tr <> 0 THEN CAST(tr * 1000000 AS HUGEINT) "
        "ELSE CAST(1 AS HUGEINT) END AS trm FROM a) "
        "SELECT CASE WHEN tr <> 0 THEN "
        f"CAST({TP.divr_sql('prm * 1000000', 'trm', '//')} AS DOUBLE) "
        "/ CAST(10000.0 AS DOUBLE) END AS promo_revenue_pct FROM m"
    ),
    "tpch_q18": (
        "WITH big AS (SELECT l_orderkey, "
        "SUM(CAST(l_quantity AS DECIMAL(18,6))) AS total_qty FROM lineitem "
        "GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300) "
        "SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, "
        "CAST(total_qty AS DOUBLE) AS total_qty "
        "FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "ORDER BY total_qty DESC, o_orderkey"
    ),
    "tpch_q04": (
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count "
        "FROM orders o "
        "WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate) "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "tpch_q12": (
        "SELECT l_returnflag AS ship_class, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE l_returnflag IN ('A', 'R') "
        "AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01' "
        "GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q15": (
        "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
        "ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) "
        "AS total_revenue FROM lineitem "
        "WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01' "
        "GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue "
        "FROM supplier s JOIN revenue ON s.s_suppkey = supplier_no "
        "WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue) "
        "ORDER BY s_suppkey"
    ),
    "tpch_q19": (
        "SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue "
        "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
        "AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
        "AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 "
        "AND l_quantity BETWEEN 20 AND 30)"
    ),
    "tpch_q22": (
        "WITH c AS (SELECT c_custkey, c_nationkey, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer), "
        "pos AS (SELECT * FROM c WHERE bal_cents > 0), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pos, "
        "SUM(CAST(bal_cents AS HUGEINT)) AS total_cents FROM pos) "
        "SELECT c_nationkey AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, "
        "CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents "
        "FROM pos, g "
        "WHERE CAST(bal_cents AS HUGEINT) * n_pos > total_cents "
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pos.c_custkey "
        "AND o.o_orderdate >= '2000-01-01') "
        "GROUP BY 1 ORDER BY 1"
    ),
    "tpch_q02": (
        f"WITH {TP.PARTSUPP_CTE}, "
        "rs AS (SELECT ps_partkey, ps_cost_cents, s_name, s_acctbal, n_name "
        "FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{TP.Q2_REGION}'), "
        "mn AS (SELECT ps_partkey, MIN(ps_cost_cents) AS min_cents "
        "FROM rs GROUP BY 1) "
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, "
        "ps_cost_cents AS supplycost_cents "
        "FROM rs JOIN mn USING (ps_partkey) JOIN part ON ps_partkey = p_partkey "
        f"WHERE ps_cost_cents = min_cents AND p_type = '{TP.Q2_TYPE}' "
        f"AND p_size <= {TP.Q2_SIZE_MAX} "
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"
    ),
    "tpch_q11": (
        f"WITH {TP.PARTSUPP_CTE}, "
        "v AS (SELECT ps_partkey, "
        "SUM(CAST(ps_availqty * ps_cost_cents AS HUGEINT)) AS sum_cents "
        "FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE n_name = '{TP.Q11_NATION}' GROUP BY 1), "
        "g AS (SELECT SUM(sum_cents) AS total_cents, "
        "CAST(COUNT(*) AS BIGINT) AS n_parts FROM v) "
        "SELECT ps_partkey, CAST(sum_cents AS DOUBLE) / 100.0 AS value "
        f"FROM v, g WHERE sum_cents * n_parts > total_cents * {TP.Q11_AVG_MULT} "
        "ORDER BY value DESC, ps_partkey"
    ),
    "tpch_q16": (
        f"WITH {TP.PARTSUPP_CTE} "
        "SELECT p_brand, p_type, p_size, "
        "CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt "
        "FROM partsupp JOIN part ON ps_partkey = p_partkey "
        f"WHERE p_brand <> '{TP.Q16_BRAND}' "
        f"AND p_type NOT LIKE '{TP.Q16_TYPE_PREFIX}%' "
        f"AND p_size IN ({', '.join(str(s) for s in TP.Q16_SIZES)}) "
        "AND ps_suppkey NOT IN "
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
        "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"
    ),
    "tpch_q20": (
        f"WITH {TP.PARTSUPP_CTE}, "
        "qty AS (SELECT l_partkey, l_suppkey, "
        "SUM(CAST(l_quantity AS BIGINT)) AS sq FROM lineitem "
        f"WHERE l_shipdate >= '{TP.Q20_FROM}' AND l_shipdate < '{TP.Q20_TO}' "
        "GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT ps_suppkey FROM partsupp "
        "JOIN part ON ps_partkey = p_partkey "
        "JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey "
        f"WHERE p_name LIKE '{TP.Q20_NAME_PREFIX}%' AND ps_availqty * 2 > sq) "
        "SELECT s_suppkey, s_name, n_name FROM cand "
        "JOIN supplier ON ps_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey ORDER BY s_suppkey"
    ),
    "tpch_q07": (
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue "
        "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
        f"WHERE l_shipdate >= '{TP.Q7_FROM}' AND l_shipdate < '{TP.Q7_TO}' "
        f"AND ((n1.n_name = '{TP.Q7_NATION_A}' AND n2.n_name = '{TP.Q7_NATION_B}') "
        f"OR (n1.n_name = '{TP.Q7_NATION_B}' AND n2.n_name = '{TP.Q7_NATION_A}')) "
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"
    ),
    "tpch_q08": (
        "WITH a AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        f"SUM(CASE WHEN n1.n_name = '{TP.Q8_NATION}' "
        "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) "
        "ELSE CAST(0 AS DECIMAL(18,6)) END) AS ns, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS ts "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n2 ON c.c_nationkey = n2.n_nationkey "
        "JOIN region r ON n2.n_regionkey = r.r_regionkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n1 ON s.s_nationkey = n1.n_nationkey "
        f"WHERE p_type = '{TP.Q8_TYPE}' AND r_name = '{TP.Q8_REGION}' "
        f"AND o_orderdate >= '{TP.Q8_FROM}' AND o_orderdate < '{TP.Q8_TO}' "
        "GROUP BY 1), "
        "m AS (SELECT o_year, ts, CAST(ns * 1000000 AS HUGEINT) AS nsm, "
        "CASE WHEN ts <> 0 THEN CAST(ts * 1000000 AS HUGEINT) "
        "ELSE CAST(1 AS HUGEINT) END AS tsm FROM a) "
        "SELECT o_year, CASE WHEN ts <> 0 THEN "
        f"CAST({TP.divr_sql('nsm * 1000000', 'tsm', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) END AS mkt_share FROM m ORDER BY o_year"
    ),
    "tpch_q09": (
        f"WITH {TP.PARTSUPP_CTE}, "
        "a AS (SELECT n_name AS nation, "
        "CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS sr, "
        "SUM(CAST(ps_cost_cents * CAST(l_quantity AS BIGINT) AS HUGEINT)) AS sc "
        "FROM lineitem l "
        "JOIN partsupp ON l.l_partkey = ps_partkey AND l.l_suppkey = ps_suppkey "
        "JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"WHERE p_name LIKE '%{TP.Q9_NAME_SUBSTR}%' GROUP BY 1, 2), "
        "m AS (SELECT nation, o_year, "
        "CAST(sr * 1000000 AS HUGEINT) - sc * 10000 AS pm FROM a) "
        "SELECT nation, o_year, "
        f"CAST({TP.divr_sql('pm', '10000', '//')} AS DOUBLE) "
        "/ CAST(100.0 AS DOUBLE) AS sum_profit "
        "FROM m ORDER BY nation, o_year DESC"
    ),
    "tpch_q13": (
        "WITH pc AS (SELECT c.c_custkey, "
        "CAST(COUNT(o_orderkey) AS BIGINT) AS c_count "
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
        f"AND o_orderpriority <> '{TP.Q13_EXCLUDED_PRIORITY}' "
        "GROUP BY 1) "
        "SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist "
        "FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC"
    ),
    "tpch_q17": (
        "WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        f"WHERE p_brand = '{TP.Q17_BRAND}'), "
        "pp AS (SELECT l_partkey AS pk, "
        "SUM(CAST(l_quantity AS BIGINT)) AS sq, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1), "
        "a AS (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sp "
        "FROM li JOIN pp ON l_partkey = pk "
        "WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq), "
        "m AS (SELECT sp, CAST(sp * 1000000 AS HUGEINT) AS spm FROM a) "
        "SELECT CASE WHEN sp IS NOT NULL THEN "
        f"CAST({TP.divr_sql('spm', '70000', '//')} AS DOUBLE) "
        "/ CAST(100.0 AS DOUBLE) END AS avg_yearly FROM m"
    ),
    "tpch_q21": (
        "SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait "
        "FROM supplier, lineitem l1, orders o, nation "
        "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey "
        "AND o_orderstatus = 'F' "
        f"AND l1.l_shipdate > o_orderdate + INTERVAL {TP.Q21_LATE_DAYS} DAY "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey "
        "AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "WHERE l3.l_orderkey = l1.l_orderkey "
        "AND l3.l_suppkey <> l1.l_suppkey "
        f"AND l3.l_shipdate > o_orderdate + INTERVAL {TP.Q21_LATE_DAYS} DAY) "
        "AND s_nationkey = n_nationkey "
        f"AND n_name = '{TP.Q21_NATION}' "
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"
    ),
    "q119_ab_proportions": (
        "WITH f AS (SELECT user_id, event_type AS arm FROM "
        "(SELECT user_id, event_type, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) "
        "WHERE rn = 1 AND event_type IN ('view', 'click')), "
        "p AS (SELECT DISTINCT user_id, 1 AS converted FROM events "
        "WHERE event_type = 'purchase'), "
        "arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(COALESCE(converted, 0)) AS BIGINT) AS conv "
        "FROM f LEFT JOIN p USING (user_id) GROUP BY arm), "
        "a AS (SELECT n AS n1, conv AS c1 FROM arms WHERE arm = 'view'), "
        "b AS (SELECT n AS n2, conv AS c2 FROM arms WHERE arm = 'click') "
        "SELECT n1, c1, n2, c2, CASE WHEN n1 > 0 AND n2 > 0 "
        "AND c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN "
        "round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) "
        "- CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(" + _AB_PP
        + " * (CAST(1.0 AS DOUBLE) - " + _AB_PP + ") "
        "* (CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE) "
        "+ CAST(1.0 AS DOUBLE) / CAST(n2 AS DOUBLE))), 6) END AS z "
        "FROM a, b"
    ),
    "q120_ltv_curve": (
        "WITH o AS (SELECT o_custkey, "
        "date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
        "f AS (SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY 1), "
        "aged AS (SELECT cohort, CAST((EXTRACT(year FROM m) "
        "- EXTRACT(year FROM cohort)) * 12 + (EXTRACT(month FROM m) "
        "- EXTRACT(month FROM cohort)) AS BIGINT) AS age, cents "
        "FROM o JOIN f USING (o_custkey)), "
        "per AS (SELECT cohort, age, CAST(SUM(cents) AS BIGINT) AS rev_cents "
        "FROM aged GROUP BY 1, 2) "
        "SELECT CAST(cohort AS DATE) AS cohort, age, rev_cents, "
        "CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cum_cents FROM per ORDER BY cohort, age"
    ),
    "q126_cramers_v": (
        "WITH cells AS (SELECT o_orderpriority, o_orderstatus, "
        "CAST(COUNT(*) AS BIGINT) AS obs FROM orders "
        "GROUP BY o_orderpriority, o_orderstatus), "
        "m AS (SELECT obs, "
        "SUM(obs) OVER (PARTITION BY o_orderpriority) AS rt, "
        "SUM(obs) OVER (PARTITION BY o_orderstatus) AS ct, "
        "SUM(obs) OVER () AS n, o_orderpriority, o_orderstatus FROM cells), "
        "agg AS (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS r, "
        "CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS c, "
        "CAST(MAX(n) AS BIGINT) AS n_rows, "
        "SUM(CAST((obs - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) "
        "* (obs - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) "
        "/ (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) "
        "AS DECIMAL(38,18))) AS chi2d FROM m) "
        "SELECT r, c, n_rows, round(CAST(chi2d AS DOUBLE), 6) AS chi2, "
        "CASE WHEN n_rows > 0 AND LEAST(r, c) - 1 > 0 THEN "
        "round(sqrt(CAST(chi2d AS DOUBLE) / (CAST(n_rows AS DOUBLE) "
        "* CAST(LEAST(r, c) - 1 AS DOUBLE))), 6) END AS cramers_v FROM agg"
    ),
    "q125_theil_index": (
        "WITH o AS (SELECT o_orderpriority, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders "
        "WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0), "
        "cnt AS (SELECT o_orderpriority, v, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM o GROUP BY o_orderpriority, v), "
        "agg AS (SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS n_orders, "
        "SUM(CAST(v AS HUGEINT) * c) AS s, "
        "SUM(CAST(round(CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)), 6) "
        "AS DECIMAL(38,6)) * c) AS tl FROM cnt GROUP BY o_orderpriority) "
        "SELECT o_orderpriority, n_orders, CAST(s AS BIGINT) AS total_cents, "
        "CASE WHEN n_orders > 0 THEN round(CAST(tl AS DOUBLE) / CAST(s AS DOUBLE) "
        "- ln(CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE)), 6) + 0.0 END AS theil "
        "FROM agg ORDER BY o_orderpriority"
    ),
    "q123_mann_whitney": (
        # identical 2·rank integer algebra as the Spark side; the z
        # expression is the same double AST so IEEE results agree
        "WITH o AS (SELECT o_orderpriority AS t, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders "
        "WHERE o_orderpriority IN ('1-URGENT', '5-LOW')), "
        "counts AS (SELECT x, "
        "CAST(SUM(CASE WHEN t = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS a, "
        "CAST(SUM(CASE WHEN t = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS b "
        "FROM o GROUP BY x), "
        "cum AS (SELECT a, b, SUM(a + b) OVER (ORDER BY x "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (a + b) AS less "
        "FROM counts), "
        "agg AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a, "
        "CAST(SUM(b) AS BIGINT) AS n_b, "
        "SUM(CAST(a AS HUGEINT) * CAST(2 * less + a + b + 1 AS HUGEINT)) AS r2a, "
        "SUM(CAST(a + b AS HUGEINT) * CAST(a + b AS HUGEINT) * CAST(a + b AS HUGEINT) "
        "- CAST(a + b AS HUGEINT)) AS ties FROM cum), "
        "pre AS (SELECT n_a, n_b, "
        "r2a - CAST(n_a AS HUGEINT) * CAST(n_a + 1 AS HUGEINT) AS u2, ties, "
        "n_a + n_b AS n FROM agg) "
        "SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2, "
        "CASE WHEN n_a > 0 AND n_b > 0 AND "
        "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * "
        "((CAST(n AS DOUBLE) + 1) - CAST(ties AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) > 0 THEN "
        "round((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / "
        "(2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * "
        "((CAST(n AS DOUBLE) + 1) - CAST(ties AS DOUBLE) / "
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))), 6) END AS z "
        "FROM pre"
    ),
    "q127_wilcoxon_signed_rank": (
        # identical doubled-rank integer algebra as the Spark side
        # (first/last per customer via row_number == min/max of the
        # (date, orderkey, cents) struct, since (date, orderkey) is
        # unique); the z expression is the same double AST
        "WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
        "r AS (SELECT o_custkey, cents, ROW_NUMBER() OVER w AS rn, "
        "COUNT(*) OVER (PARTITION BY o_custkey) AS n FROM o "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)), "
        "pairs AS (SELECT MAX(CASE WHEN rn = n THEN cents END) "
        "- MAX(CASE WHEN rn = 1 THEN cents END) AS d "
        "FROM r WHERE n >= 2 GROUP BY o_custkey), "
        "counts AS (SELECT abs(d) AS v, "
        "CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p, "
        "CAST(COUNT(*) AS BIGINT) AS t FROM pairs GROUP BY abs(d)), "
        "np AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_pairs FROM counts), "
        "cum AS (SELECT p, t, SUM(t) OVER (ORDER BY v "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS less "
        "FROM counts WHERE v > 0), "
        "agg AS (SELECT CAST(SUM(t) AS BIGINT) AS n, "
        "SUM(CAST(p AS HUGEINT) * CAST(2 * less + t + 1 AS HUGEINT)) AS w2p, "
        "SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT) "
        "- CAST(t AS HUGEINT)) AS ties FROM cum) "
        "SELECT n_pairs, CAST(COALESCE(n, 0) AS BIGINT) AS n_nonzero, "
        "CAST(COALESCE(w2p, 0) AS BIGINT) AS w2_plus, "
        "CASE WHEN n > 0 AND (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) * "
        "(2.0 * CAST(n AS DOUBLE) + 1) / 6.0 "
        "- CAST(ties AS DOUBLE) / 12.0) > 0 THEN "
        "round((CAST(w2p AS DOUBLE) - CAST(n AS DOUBLE) * "
        "(CAST(n AS DOUBLE) + 1) / 2.0) / "
        "sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) * "
        "(2.0 * CAST(n AS DOUBLE) + 1) / 6.0 "
        "- CAST(ties AS DOUBLE) / 12.0), 6) END AS z "
        "FROM np, agg"
    ),
    "q124_cusum_changepoint": (
        "WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events), "
        "daily AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM e GROUP BY event_type, day), "
        "pre AS (SELECT event_type, day, "
        "ROW_NUMBER() OVER w AS k, SUM(c) OVER w AS pref, "
        "COUNT(*) OVER (PARTITION BY event_type) AS n, "
        "SUM(c) OVER (PARTITION BY event_type) AS tot FROM daily "
        "WINDOW w AS (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "scored AS (SELECT event_type, day, n, "
        "abs(CAST(n AS HUGEINT) * CAST(pref AS HUGEINT) "
        "- CAST(k AS HUGEINT) * CAST(tot AS HUGEINT)) AS dev FROM pre), "
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type "
        "ORDER BY dev DESC, day) AS rk FROM scored) "
        "SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS cp_day, "
        "CAST(dev AS BIGINT) AS max_dev_n FROM ranked WHERE rk = 1 "
        "ORDER BY event_type"
    ),
    "q121_ks_test": (
        "WITH base AS (SELECT event_type AS t, "
        "CAST(round(value * 100) AS BIGINT) AS x FROM events "
        "WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')), "
        "counts AS (SELECT x, "
        "CAST(SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS a, "
        "CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b "
        "FROM base GROUP BY x), "
        "tot AS (SELECT "
        "CAST(SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        "CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2 "
        "FROM base), "
        "cum AS (SELECT x, SUM(a) OVER w AS ca, SUM(b) OVER w AS cb, n1, n2 "
        "FROM counts, tot WINDOW w AS (ORDER BY x "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "dd AS (SELECT n1, n2, abs(CAST(ca AS HUGEINT) * n2 "
        "- CAST(cb AS HUGEINT) * n1) AS dn FROM cum), "
        "top AS (SELECT n1, n2, MAX(dn) AS dmax FROM dd GROUP BY n1, n2), "
        "m AS (SELECT *, CASE WHEN n1 > 0 AND n2 > 0 "
        "THEN CAST(n1 AS HUGEINT) * n2 ELSE CAST(1 AS HUGEINT) END AS den "
        "FROM top) "
        "SELECT n1, n2, CASE WHEN n1 > 0 AND n2 > 0 THEN "
        f"CAST({TP.divr_sql('dmax * 1000000', 'den', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) END AS ks_d FROM m"
    ),
    "q118_seasonal_decompose": (
        "WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
        "daily AS (SELECT d, CAST(SUM(cents) AS BIGINT) AS cents "
        "FROM o GROUP BY d), "
        "bounds AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o), "
        "dense AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), "
        "CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM bounds), "
        "filled AS (SELECT dense.d, COALESCE(daily.cents, 0) AS cents "
        "FROM dense LEFT JOIN daily USING (d)), "
        "win AS (SELECT *, SUM(cents) OVER w7 AS sum7, COUNT(*) OVER w7 AS n7 "
        "FROM filled WINDOW w7 AS (ORDER BY d "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), "
        "f2 AS (SELECT d, cents, CAST(sum7 AS HUGEINT) AS sum7, "
        "7 * cents - CAST(sum7 AS BIGINT) AS detr7, dayofweek(d) AS dow "
        "FROM win WHERE n7 = 7), "
        "seas AS (SELECT dow, SUM(CAST(detr7 AS HUGEINT)) AS s7n, "
        "CAST(COUNT(*) AS BIGINT) AS n_dow FROM f2 GROUP BY dow), "
        "j AS (SELECT f2.*, s7n, n_dow, "
        "CAST(n_dow AS HUGEINT) * 7 AS den_dow, "
        "CAST(detr7 AS HUGEINT) * n_dow - s7n AS resid_num "
        "FROM f2 JOIN seas USING (dow)) "
        "SELECT d, cents, "
        f"CAST({TP.divr_sql('sum7 * 100', '7', '//')} AS DOUBLE) "
        "/ CAST(100.0 AS DOUBLE) AS trend_cents, "
        f"CAST({TP.divr_sql('s7n * 100', 'den_dow', '//')} AS DOUBLE) "
        "/ CAST(100.0 AS DOUBLE) AS seasonal_cents, "
        f"CAST({TP.divr_sql('resid_num * 100', 'den_dow', '//')} AS DOUBLE) "
        "/ CAST(100.0 AS DOUBLE) AS residual_cents "
        "FROM j ORDER BY d"
    ),
    "q115_runs_test": (
        "WITH base AS (SELECT user_id, event_id, ts, "
        "CAST(round(value * 100) AS BIGINT) AS cents "
        "FROM events WHERE value IS NOT NULL), "
        "med AS (SELECT quantile_disc(cents, 0.5) AS med FROM base), "
        "signed AS (SELECT user_id, ts, event_id, "
        "CASE WHEN cents > med THEN 1 ELSE 0 END AS s "
        "FROM base, med WHERE cents <> med), "
        "lg AS (SELECT user_id, s, lag(s, 1) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM signed), "
        "agg AS (SELECT user_id, CAST(SUM(s) AS BIGINT) AS n1, "
        "CAST(SUM(1 - s) AS BIGINT) AS n2, "
        "CAST(SUM(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END) "
        "AS BIGINT) AS runs FROM lg GROUP BY user_id) "
        "SELECT user_id, n1, n2, runs, CASE WHEN n1 >= 1 AND n2 >= 1 AND "
        + _RUNS_VR + " > 0 THEN "
        "round((CAST(runs AS DOUBLE) - (" + _RUNS_ER + ")) / sqrt("
        + _RUNS_VR + "), 6) END AS z FROM agg ORDER BY user_id"
    ),
    "q116_spearman": (
        "WITH li AS (SELECT l_returnflag, "
        "CAST(round(l_quantity) AS BIGINT) AS q, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS p FROM lineitem), "
        "rk AS (SELECT l_returnflag, "
        "rank() OVER (PARTITION BY l_returnflag ORDER BY q ASC) "
        "+ COUNT(*) OVER (PARTITION BY l_returnflag) "
        "- rank() OVER (PARTITION BY l_returnflag ORDER BY q DESC) + 1 AS rq, "
        "rank() OVER (PARTITION BY l_returnflag ORDER BY p ASC) "
        "+ COUNT(*) OVER (PARTITION BY l_returnflag) "
        "- rank() OVER (PARTITION BY l_returnflag ORDER BY p DESC) + 1 AS rp "
        "FROM li), "
        "a AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(rq) AS sx, SUM(rp) AS sy, SUM(rq * rp) AS sxy, "
        "SUM(rq * rq) AS sxx, SUM(rp * rp) AS syy FROM rk GROUP BY 1) "
        "SELECT l_returnflag, n, CASE WHEN n >= 2 "
        "AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        "AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 "
        "THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) "
        "END AS spearman FROM a ORDER BY l_returnflag"
    ),
    "q117_gini": (
        "WITH o AS (SELECT o_orderpriority, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
        "f AS (SELECT * FROM o WHERE cents >= 0), "
        "idx AS (SELECT o_orderpriority, cents, row_number() OVER "
        "(PARTITION BY o_orderpriority ORDER BY cents, o_orderpriority) AS i "
        "FROM f), "
        "agg AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(cents) AS sx, SUM(i * cents) AS six FROM idx GROUP BY 1), "
        "m AS (SELECT *, 2 * six - (n + 1) * sx AS gnum, "
        "CASE WHEN sx > 0 THEN n * sx ELSE CAST(1 AS HUGEINT) END AS gden "
        "FROM agg) "
        "SELECT o_orderpriority, n, CAST(sx AS BIGINT) AS total_cents, "
        "CASE WHEN sx > 0 THEN "
        f"CAST({TP.divr_sql('gnum * 1000000', 'gden', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) END AS gini "
        "FROM m ORDER BY o_orderpriority"
    ),
    "q113_percent_of_parent": (
        "WITH base AS (SELECT r_name, n_name, "
        "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY 1, 2), "
        "m AS (SELECT *, CAST(cents AS HUGEINT) AS cents_d, "
        "CAST(SUM(cents) OVER (PARTITION BY r_name) AS HUGEINT) "
        "AS region_cents, CAST(SUM(cents) OVER () AS HUGEINT) AS total_cents "
        "FROM base) "
        "SELECT r_name, n_name, cents, "
        # zero-parent guard mirrors the Spark side (cancelling region
        # total -> NULL share, not a division error)
        "CASE WHEN region_cents <> 0 THEN "
        f"CAST({TP.divr_sql('cents_d * 1000000', 'region_cents', '//')} AS DOUBLE) "
        "/ CAST(10000.0 AS DOUBLE) END AS pct_of_region, "
        "CASE WHEN total_cents <> 0 THEN "
        f"CAST({TP.divr_sql('region_cents * 1000000', 'total_cents', '//')} AS DOUBLE) "
        "/ CAST(10000.0 AS DOUBLE) END AS region_pct_of_total "
        "FROM m ORDER BY r_name, n_name"
    ),
    "q114_bounce_rate": (
        "WITH f AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, "
        "CASE WHEN lag(epoch_ms(ts), 1) OVER w IS NULL "
        "OR epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w > 1800000 "
        "THEN 1 ELSE 0 END AS new_sess FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), "
        "s AS (SELECT user_id, SUM(new_sess) OVER "
        "(PARTITION BY user_id ORDER BY ms, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f), "
        "sz AS (SELECT user_id, sess_id, COUNT(*) AS n_events "
        "FROM s GROUP BY 1, 2), "
        "agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions, "
        "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_bounces FROM sz GROUP BY user_id) "
        "SELECT user_id, n_sessions, n_bounces, "
        f"CAST({TP.divr_sql('n_bounces * 1000000', 'n_sessions', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) AS bounce_rate "
        "FROM agg ORDER BY user_id"
    ),
    "q112_not_in_nulls": (
        "SELECT "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders f "
        "WHERE f.o_orderstatus = 'F' AND f.o_orderpriority NOT IN "
        "(SELECT nullif(p.o_orderpriority, '5-LOW') "
        "FROM orders p WHERE p.o_orderstatus = 'P')) AS n_not_in, "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM orders f "
        "WHERE f.o_orderstatus = 'F' AND NOT EXISTS "
        "(SELECT 1 FROM orders p WHERE p.o_orderstatus = 'P' "
        "AND nullif(p.o_orderpriority, '5-LOW') = f.o_orderpriority)) "
        "AS n_not_exists"
    ),
    "q107_full_outer_reconcile": (
        "WITH o AS (SELECT o_custkey, "
        "EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS yr, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), "
        "a AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS cents_1997 "
        "FROM o WHERE yr = 1997 GROUP BY o_custkey), "
        "b AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS cents_1998 "
        "FROM o WHERE yr = 1998 GROUP BY o_custkey) "
        "SELECT o_custkey, cents_1997, cents_1998, "
        "CASE WHEN cents_1997 IS NULL THEN 'added' "
        "WHEN cents_1998 IS NULL THEN 'churned' "
        "WHEN cents_1998 > cents_1997 THEN 'grew' "
        "WHEN cents_1998 < cents_1997 THEN 'shrank' "
        "ELSE 'flat' END AS status "
        "FROM a FULL OUTER JOIN b USING (o_custkey) ORDER BY o_custkey"
    ),
    "q108_ewma": (
        "WITH e AS (SELECT user_id, event_id, ts, "
        "CAST(round(value * 100) AS DOUBLE) AS cents "
        "FROM events WHERE value IS NOT NULL), "
        "c AS (SELECT user_id, event_id, "
        "list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals FROM e) "
        "SELECT user_id, event_id, "
        "floor(list_reduce(vals, (acc, x) -> acc * (1 - 0.3) + x * 0.3) "
        "/ CAST(100.0 AS DOUBLE) * CAST(1000000.0 AS DOUBLE) "
        "+ CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE) AS ewma "
        "FROM c ORDER BY user_id, event_id"
    ),
    "q109_cusum": (
        "WITH base AS (SELECT user_id, event_id, ts, "
        "CAST(round(value * 100) AS BIGINT) AS cents "
        "FROM events WHERE value IS NOT NULL), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all, "
        "SUM(CAST(cents AS HUGEINT)) AS total FROM base), "
        "cum AS (SELECT user_id, event_id, ts, n_all, "
        "SUM(CAST(cents AS HUGEINT) * n_all - total) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s "
        "FROM base, g), "
        "cl AS (SELECT *, s - LEAST(CAST(0 AS HUGEINT), "
        "MIN(s) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS c FROM cum), "
        "pk AS (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY c DESC, ts, event_id) AS rn FROM cl) "
        "SELECT user_id, "
        f"CAST({TP.divr_sql('CAST(c * 10000 AS HUGEINT)', 'n_all', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) AS peak_cusum, ts AS peak_ts "
        "FROM pk WHERE rn = 1 ORDER BY user_id"
    ),
    "q110_markov_transitions": (
        "WITH pairs AS (SELECT lag(event_type, 1) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS from_type, "
        "event_type AS to_type FROM events), "
        "counts AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2), "
        "totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from "
        "FROM counts GROUP BY 1) "
        "SELECT from_type, to_type, n, "
        f"CAST({TP.divr_sql('CAST(n AS HUGEINT) * 1000000', 'n_from', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) AS prob "
        "FROM counts JOIN totals USING (from_type) ORDER BY from_type, to_type"
    ),
    "q111_mom_growth": (
        "WITH monthly AS (SELECT "
        "date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month, "
        "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents "
        "FROM orders GROUP BY 1), "
        "lg AS (SELECT month, rev_cents, "
        "lag(rev_cents, 1) OVER (ORDER BY month) AS prev_cents FROM monthly), "
        "lm AS (SELECT *, CAST(rev_cents - prev_cents AS HUGEINT) * 1000000 AS dm, "
        "CASE WHEN prev_cents > 0 THEN prev_cents ELSE 1 END AS pden FROM lg) "
        "SELECT CAST(month AS DATE) AS month, rev_cents, prev_cents, "
        "rev_cents - prev_cents AS delta_cents, "
        "CASE WHEN prev_cents > 0 THEN "
        f"CAST({TP.divr_sql('dm', 'pden', '//')} AS DOUBLE) "
        "/ CAST(10000.0 AS DOUBLE) END AS growth_pct "
        "FROM lm ORDER BY month"
    ),
    "q106_attribution": (
        "WITH base AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), "
        "conv AS (SELECT event_id AS conv_id, user_id AS u, ms AS cms, "
        "cents AS conv_cents FROM base "
        "WHERE event_type = 'purchase' AND cents IS NOT NULL), "
        "touch AS (SELECT user_id AS u, ms AS tms, event_type AS channel "
        "FROM base WHERE event_type IN ('view', 'click')), "
        "j AS (SELECT c.conv_id, c.conv_cents, t.channel FROM conv c "
        "JOIN touch t ON t.u = c.u AND t.tms <= c.cms "
        "AND t.tms > c.cms - 86400000), "
        "per AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY conv_id), "
        "credit AS (SELECT j.channel, "
        "CAST(floor(j.conv_cents * 1000000 / per.n) AS BIGINT) AS micros "
        "FROM j JOIN per USING (conv_id)), "
        "direct AS (SELECT 'direct' AS channel, "
        "CAST(conv_cents * 1000000 AS BIGINT) AS micros FROM conv c "
        "WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.conv_id = c.conv_id)) "
        "SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits, "
        "CAST(SUM(micros) AS BIGINT) AS attributed_micros "
        "FROM (SELECT * FROM credit UNION ALL SELECT * FROM direct) "
        "GROUP BY channel ORDER BY channel"
    ),
    "q105_skyline": (
        "WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, "
        "CAST(o_orderdate AS DATE) AS ship_date FROM orders), "
        "sky AS (SELECT DISTINCT price_cents, ship_date FROM o a "
        "WHERE NOT EXISTS (SELECT 1 FROM o b "
        "WHERE b.price_cents <= a.price_cents AND b.ship_date <= a.ship_date "
        "AND (b.price_cents < a.price_cents OR b.ship_date < a.ship_date))) "
        "SELECT s.price_cents, s.ship_date, CAST(COUNT(*) AS BIGINT) AS n_orders "
        "FROM sky s JOIN o USING (price_cents, ship_date) "
        "GROUP BY 1, 2 ORDER BY price_cents"
    ),
    "q101_weighted_median": (
        "WITH li AS (SELECT l_returnflag, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents, "
        "CAST(round(l_quantity) AS BIGINT) AS w FROM lineitem), "
        "c AS (SELECT l_returnflag, price_cents, "
        "SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        "SUM(w) OVER (PARTITION BY l_returnflag) AS total FROM li) "
        "SELECT l_returnflag, CAST(MIN(price_cents) AS BIGINT) AS wmedian_cents, "
        "CAST(MAX(total) AS BIGINT) AS total_w FROM c "
        "WHERE cum * 2 >= total GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "q102_interpolate": (
        "WITH b AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, "
        "CAST(round(value * 100) AS BIGINT) AS c FROM events), "
        "j AS (SELECT event_id, user_id, ms, c, "
        "last_value(c IGNORE NULLS) OVER wp AS pc, "
        "last_value(CASE WHEN c IS NOT NULL THEN ms END IGNORE NULLS) OVER wp AS pms, "
        "first_value(c IGNORE NULLS) OVER wn AS nc, "
        "first_value(CASE WHEN c IS NOT NULL THEN ms END IGNORE NULLS) OVER wn AS nms "
        "FROM b WINDOW "
        "wp AS (PARTITION BY user_id ORDER BY ms, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "wn AS (PARTITION BY user_id ORDER BY ms, event_id "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) "
        "SELECT event_id, user_id, "
        "CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE) "
        "WHEN pc IS NOT NULL AND nc IS NOT NULL AND nms > pms "
        "THEN round(pc + (nc - pc) * (ms - pms) / (nms - pms), 6) "
        "WHEN pc IS NOT NULL THEN CAST(pc AS DOUBLE) "
        "WHEN nc IS NOT NULL THEN CAST(nc AS DOUBLE) END AS filled_cents, "
        "CASE WHEN c IS NOT NULL THEN 'obs' "
        "WHEN pc IS NOT NULL AND nc IS NOT NULL AND nms > pms THEN 'interp' "
        "WHEN pc IS NOT NULL THEN 'ffill' "
        "WHEN nc IS NOT NULL THEN 'bfill' ELSE 'none' END AS fill_kind "
        "FROM j ORDER BY event_id"
    ),
    "q103_benford": (
        "WITH o AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) "
        "AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit "
        "FROM orders WHERE o_totalprice > 0), "
        "g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM o GROUP BY digit), "
        "t AS (SELECT digit, obs, CAST(SUM(obs) OVER () AS BIGINT) AS n FROM g) "
        "SELECT digit, obs, "
        "round(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS freq, "
        f"round({_BENFORD_CASE}, 6) AS exp_freq, "
        f"round(abs(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE) - {_BENFORD_CASE}), 6) AS dev "
        "FROM t ORDER BY digit"
    ),
    "q104_autocorr": (
        "WITH p AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x, "
        "lag(CAST(round(value * 100) AS BIGINT), 1) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS y FROM events), "
        "f AS (SELECT user_id, x, y FROM p WHERE x IS NOT NULL AND y IS NOT NULL), "
        # sums stay in DuckDB's exact HUGEINT (mirrors Spark's
        # DECIMAL(38,0) sums — same width, same nearest-double cast)
        "a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(x) AS sx, SUM(y) AS sy, "
        "SUM(x * y) AS sxy, SUM(x * x) AS sxx, "
        "SUM(y * y) AS syy FROM f GROUP BY user_id) "
        "SELECT user_id, n AS n_pairs, CASE WHEN n >= 2 "
        "AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        "AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 "
        "THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) "
        "END AS autocorr FROM a ORDER BY user_id"
    ),
    "q98_incremental_rollup": (
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    "q97_constraint_audit": (
        "WITH w AS (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS uniq, "
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nonnull, "
        "CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS accepted, "
        "CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS rng "
        "FROM orders), "
        "fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem "
        "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) "
        "SELECT check_name, n_violations, n_violations = 0 AS ok FROM ("
        "SELECT 'accepted_values_o_orderstatus' AS check_name, accepted AS n_violations FROM w "
        "UNION ALL SELECT 'non_negative_o_totalprice', rng FROM w "
        "UNION ALL SELECT 'not_null_o_custkey', nonnull FROM w "
        "UNION ALL SELECT 'unique_o_orderkey', uniq FROM w "
        "UNION ALL SELECT 'fk_lineitem_orderkey', n FROM fk"
        ") ORDER BY check_name"
    ),
    "q95_event_pattern": (
        "WITH s AS (SELECT user_id, "
        "string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq "
        "FROM events GROUP BY user_id) "
        "SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events, "
        "CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT) AS n_conversions "
        "FROM s WHERE len(regexp_extract_all(seq, 'vcp')) > 0 ORDER BY user_id"
    ),
    "q96_relational_division": (
        "WITH u AS (SELECT COUNT(DISTINCT o_orderpriority) AS k FROM orders), "
        "p AS (SELECT o_custkey, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) "
        "AS n_classes FROM orders GROUP BY o_custkey) "
        "SELECT o_custkey, n_classes FROM p, u WHERE n_classes = k "
        "ORDER BY o_custkey"
    ),
    "q93_column_profile": (
        "WITH w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey, "
        "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_o_orderkey, "
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_custkey, "
        "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_o_custkey, "
        "CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderstatus, "
        "CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_o_orderstatus, "
        "CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_totalprice, "
        "CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_o_totalprice "
        "FROM orders) "
        "SELECT col_name, n_rows, n_nulls, n_distinct FROM (" 
        "SELECT 'o_orderkey' AS col_name, n_rows, nulls_o_orderkey AS n_nulls, nd_o_orderkey AS n_distinct FROM w "
        "UNION ALL SELECT 'o_custkey', n_rows, nulls_o_custkey, nd_o_custkey FROM w "
        "UNION ALL SELECT 'o_orderstatus', n_rows, nulls_o_orderstatus, nd_o_orderstatus FROM w "
        "UNION ALL SELECT 'o_totalprice', n_rows, nulls_o_totalprice, nd_o_totalprice FROM w"
        ") ORDER BY col_name"
    ),
    "q94_rank_distributions": (
        "SELECT o_orderkey, o_orderstatus, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, "
        "round(percent_rank() OVER w, 6) AS pr, "
        "round(cume_dist() OVER w, 6) AS cd, "
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile "
        "FROM orders WHERE o_orderkey <= 2000 "
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) "
        "ORDER BY o_orderkey"
    ),
    "q92_ohlc_resample": (
        "WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "CAST(round(value * 100) AS BIGINT) AS cents, "
        "lpad(CAST(epoch_ms(ts) AS VARCHAR), 15, '0') || "
        "lpad(CAST(event_id AS VARCHAR), 19, '0') AS k FROM events) "
        "SELECT event_type, day, arg_min(cents, k) AS open_cents, "
        "MAX(cents) AS high_cents, MIN(cents) AS low_cents, "
        "arg_max(cents, k) AS close_cents, CAST(COUNT(*) AS BIGINT) AS n_trades "
        "FROM e GROUP BY event_type, day ORDER BY event_type, day"
    ),
    "q91_grouping_id": (
        "WITH li AS (SELECT l_returnflag, l_linestatus, "
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem) "
        "SELECT l_returnflag, l_linestatus, "
        "CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag, "
        "CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status, "
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS cents "
        "FROM li GROUP BY ROLLUP(l_returnflag, l_linestatus) "
        "ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST, "
        "g_flag, g_status"
    ),
    "q89_grouped_quantiles": (
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
        "quantile_disc(o_totalprice, 0.25) AS p25, "
        "quantile_disc(o_totalprice, 0.5) AS p50, "
        "quantile_disc(o_totalprice, 0.75) AS p75, "
        "quantile_disc(o_totalprice, 0.95) AS p95 "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ),
    "q90_time_rollup": (
        "WITH e AS (SELECT EXTRACT(YEAR FROM CAST(ts AS DATE)) AS y, "
        "EXTRACT(MONTH FROM CAST(ts AS DATE)) AS m, "
        "EXTRACT(DAY FROM CAST(ts AS DATE)) AS dom, "
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events) "
        "SELECT y, m, dom, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "CAST(SUM(cents) AS BIGINT) AS value_cents "
        "FROM e GROUP BY ROLLUP(y, m, dom) "
        "ORDER BY y NULLS LAST, m NULLS LAST, dom NULLS LAST"
    ),
    "q87_dense_timeseries": (
        "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2), "
        "b AS (SELECT event_type, MIN(CAST(ts AS DATE)) AS mn, "
        "MAX(CAST(ts AS DATE)) AS mx FROM events GROUP BY event_type), "
        "dense AS (SELECT event_type, CAST(unnest(generate_series(mn, mx, "
        "INTERVAL 1 DAY)) AS DATE) AS day FROM b) "
        "SELECT dense.event_type, dense.day, "
        "COALESCE(n_events, CAST(0 AS BIGINT)) AS n_events "
        "FROM dense LEFT JOIN daily USING (event_type, day) "
        "ORDER BY event_type, day"
    ),
    "q88_salted_join": (
        "SELECT o_orderkey, o_orderdate, CAST(COUNT(*) AS BIGINT) AS n_items, "
        "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS revenue_cents "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderkey <= 4000 "
        "GROUP BY o_orderkey, o_orderdate ORDER BY o_orderkey"
    ),
    "q86_sequence_gaps": (
        "WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 2000 AND o_orderstatus = 'O'), "
        "b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM k), "
        "e AS (SELECT unnest(range(mn, mx + 1)) AS id FROM b), "
        "m AS (SELECT id FROM e WHERE id NOT IN (SELECT o_orderkey FROM k)), "
        "g AS (SELECT id, id - ROW_NUMBER() OVER (ORDER BY id) AS grp FROM m) "
        "SELECT MIN(id) AS gap_start, MAX(id) AS gap_end, "
        "CAST(COUNT(*) AS BIGINT) AS n_missing "
        "FROM g GROUP BY grp ORDER BY gap_start"
    ),
    "q85_interval_lookup": (
        "WITH bands AS (SELECT i AS band_id, CAST(i * 100 AS DOUBLE) AS lo, "
        "CAST((i + 1) * 100 AS DOUBLE) AS hi, 'band_' || i AS band_name "
        "FROM range(10) t(i)) "
        "SELECT COALESCE(band_name, 'out_of_range') AS band, "
        "CAST(COUNT(*) AS BIGINT) AS n, MIN(event_id) AS first_event "
        "FROM events LEFT JOIN bands ON value >= lo AND value < hi "
        "GROUP BY band ORDER BY band"
    ),
    "q84_scd2_history": (
        "WITH chg AS (SELECT o_custkey AS c_custkey, o_orderkey, "
        "epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS valid_from_ms, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS bal_cents FROM orders) "
        "SELECT c_custkey, o_orderkey, valid_from_ms, "
        "LEAD(valid_from_ms) OVER w AS valid_to_ms, "
        "LEAD(valid_from_ms) OVER w IS NULL AS is_current, bal_cents "
        "FROM chg WINDOW w AS (PARTITION BY c_custkey "
        "ORDER BY valid_from_ms, o_orderkey) "
        "ORDER BY c_custkey, valid_from_ms, o_orderkey"
    ),
    "q83_cdc_apply": (
        "WITH base AS (SELECT c_custkey, c_name, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer), "
        "chg AS (SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey, "
        "CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS bal_cents FROM orders), "
        "latest AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY c_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) "
        "AS rn FROM chg) WHERE rn = 1) "
        "SELECT COALESCE(b.c_custkey, c.c_custkey) AS c_custkey, "
        "CASE WHEN c.c_custkey IS NULL THEN 'K' "
        "WHEN b.c_custkey IS NULL THEN 'I' ELSE 'U' END AS op, "
        "b.c_name AS c_name, "
        "COALESCE(c.bal_cents, b.bal_cents) AS bal_cents "
        "FROM base b FULL OUTER JOIN latest c USING (c_custkey) "
        "WHERE c.op IS NULL OR c.op <> 'D' ORDER BY c_custkey"
    ),
    "q82_rolling_median": (
        "SELECT event_id, user_id, "
        "CAST(COUNT(*) OVER w AS BIGINT) AS n_win, "
        "CAST(quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) OVER w "
        "AS BIGINT) AS med_cents FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) ORDER BY event_id"
    ),
    "q81_rank_metrics": (
        "SELECT o_orderkey, o_orderpriority, "
        "percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume "
        "FROM orders WHERE o_orderkey <= 2000 "
        "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice) "
        "ORDER BY o_orderkey"
    ),
    "q79_window_distinct": (
        "SELECT event_id, user_id, CAST(COUNT(DISTINCT event_type) OVER "
        "(PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000 "
        "RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS n_types_1h FROM events ORDER BY event_id"
    ),
    "q80_interval_merge": (
        "WITH s AS (SELECT user_id, epoch_ms(ts) // 1000 AS lo, epoch_ms(ts) // 1000 + 300 AS hi "
        "FROM events), "
        "f AS (SELECT user_id, lo, hi, CASE WHEN "
        "MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL "
        "OR lo > MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
        "THEN 1 ELSE 0 END AS new_island FROM s), "
        "i AS (SELECT user_id, lo, hi, SUM(new_island) OVER "
        "(PARTITION BY user_id ORDER BY lo, hi "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id FROM f), "
        "p AS (SELECT user_id, island_id, MIN(lo) AS i_lo, MAX(hi) AS i_hi "
        "FROM i GROUP BY user_id, island_id) "
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands, "
        "CAST(SUM(i_hi - i_lo) AS BIGINT) AS covered_s "
        "FROM p GROUP BY user_id ORDER BY user_id"
    ),
    "q76_rolling_zscore": (
        "WITH c AS (SELECT event_id, user_id, ts, "
        "CAST(round(value * 100) AS BIGINT) AS x FROM events), "
        "s AS (SELECT event_id, user_id, x, "
        "CAST(SUM(x) OVER w AS BIGINT) AS s_win, "
        "CAST(SUM(x * x) OVER w AS BIGINT) AS ss_win, "
        "CAST(COUNT(*) OVER w AS BIGINT) AS n_win FROM c "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) "
        "SELECT event_id, user_id, n_win, s_win, ss_win, "
        "COALESCE((n_win * x - s_win) * (n_win * x - s_win) > "
        "4 * (n_win * ss_win - s_win * s_win), FALSE) AS is_outlier "
        "FROM s WHERE n_win >= 10 ORDER BY event_id"
    ),
    "q77_zorder_key": (
        "WITH b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
        "l_partkey % 65536 AS pk, l_suppkey % 65536 AS sk FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
        f"({_zorder_spread_sql('pk', 0)} | {_zorder_spread_sql('sk', 1)}) AS zkey "
        "FROM b ORDER BY zkey, l_orderkey, l_linenumber LIMIT 5000"
    ),
    "q78_bloom_join": (
        "SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        "AS sum_price_cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0 "
        "GROUP BY c_custkey, c_name ORDER BY c_custkey"
    ),
    "ns_text_normalize": (
        "WITH n AS (SELECT doc_id, text, trim(regexp_replace(regexp_replace("
        "lower(text), '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
        "'\\s+', ' ', 'g'), ' ') AS norm_text FROM documents) "
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len, norm_text, "
        "CAST(length(norm_text) AS BIGINT) AS norm_len, "
        "norm_text <> text AS changed FROM n ORDER BY doc_id"
    ),
    "q01_projection": (
        "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey"
    ),
    "q02_filter": (
        "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 45 "
        "ORDER BY l_orderkey, l_linenumber"
    ),
    "q03_string_filter": (
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey"
    ),
    "q04_count": "SELECT COUNT(*) AS cnt FROM lineitem",
    "q05_filtered_count": (
        "SELECT COUNT(*) AS cnt FROM orders WHERE o_orderstatus = 'F'"
    ),
    "q06_sort_limit": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    ),
    "q07_offset_page": (
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1000 OFFSET 2000"
    ),
    "q08_hwm_filter": (
        "SELECT event_id FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' "
        "ORDER BY event_id"
    ),
    "q09_rename_project": (
        "SELECT c_custkey AS customer_id, c_name AS full_name FROM customer "
        "ORDER BY customer_id"
    ),
    "q10_epoch_millis": (
        "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events ORDER BY event_id"
    ),
    # ROUND on raw doubles differs between engines at representation
    # boundaries; money columns have <=4 true decimal digits, so an exact
    # DECIMAL(18,6) cast before ROUND/SUM makes both engines agree
    # bit-for-bit (same spelling in the Spark builders).
    "q11_expression": (
        "SELECT l_orderkey, l_linenumber, "
        "CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2) "
        "AS DOUBLE) AS net "
        "FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber"
    ),
    "q12_json_serialize": (
        "SELECT o_orderkey, CONCAT('{\"id\":', o_orderkey, ',\"status\":\"', "
        "o_orderstatus, '\"}') AS payload FROM orders WHERE o_orderkey <= 50 "
        "ORDER BY o_orderkey"
    ),
    "q13_group_agg": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) "
        "AS sum_price, COUNT(*) AS cnt "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    ),
    "q14_having": (
        "SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey "
        "HAVING COUNT(*) > 20 ORDER BY o_custkey"
    ),
    "q15_inner_join": (
        "SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_count FROM customer c "
        "JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey "
        "ORDER BY c.c_custkey"
    ),
    "q16_left_join": (
        "SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_count FROM customer c "
        "LEFT JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey "
        "ORDER BY c.c_custkey"
    ),
    "q17_semi_join": (
        "SELECT p_partkey FROM part WHERE p_partkey IN "
        "(SELECT l_partkey FROM lineitem WHERE l_quantity > 49) ORDER BY p_partkey"
    ),
    "q18_anti_join": (
        "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
        "(SELECT o_custkey FROM orders) ORDER BY c_custkey"
    ),
    "q19_multiway_join": (
        "SELECT n.n_name, CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) "
        "AS DECIMAL(18,6))), 2) AS DOUBLE) AS rev "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY n.n_name ORDER BY n.n_name"
    ),
    "q20_distinct": (
        "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"
    ),
    "q21_count_distinct": "SELECT COUNT(DISTINCT o_custkey) AS cd FROM orders",
    "q22_window_rank": (
        "SELECT * FROM (SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"
    ),
    "q23_window_running_sum": (
        "SELECT o_orderkey, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) "
        "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS run "
        "FROM orders WHERE o_custkey <= 100 ORDER BY o_orderkey"
    ),
    "q24_union": (
        "SELECT c_nationkey AS k FROM customer UNION "
        "SELECT s_nationkey FROM supplier ORDER BY k"
    ),
    "q25_except": (
        "SELECT n_nationkey FROM nation EXCEPT "
        "SELECT DISTINCT c_nationkey FROM customer ORDER BY n_nationkey"
    ),
    "q26_rollup": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS s FROM lineitem "
        "GROUP BY ROLLUP(l_returnflag, l_linestatus) "
        "ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST"
    ),
    "q27_dedup": (
        "SELECT o_custkey, MIN(o_orderkey) AS first_order FROM orders "
        "GROUP BY o_custkey ORDER BY o_custkey"
    ),
    "q28_date_funcs": (
        "SELECT o_orderkey, EXTRACT(YEAR FROM o_orderdate) AS y, "
        "EXTRACT(MONTH FROM o_orderdate) AS m FROM orders "
        "WHERE o_orderkey <= 200 ORDER BY o_orderkey"
    ),
    "q29_string_funcs": (
        "SELECT c_custkey, UPPER(c_name) AS name_upper, "
        "SUBSTR(c_name, 1, 8) AS name_prefix, LENGTH(c_mktsegment) AS seg_len "
        "FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey"
    ),
    "q30_case": (
        "SELECT l_orderkey, l_linenumber, CASE WHEN l_discount > 0.05 THEN 'HI' "
        "ELSE 'LO' END AS d FROM lineitem WHERE l_orderkey <= 100 "
        "ORDER BY l_orderkey, l_linenumber"
    ),
    "q31_json_extract": (
        "SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events "
        "ORDER BY event_id"
    ),
    "q32_event_agg": (
        "SELECT event_type, COUNT(*) AS c, "
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS s "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "q33_range_join": (
        "SELECT a.event_id AS e1, b.event_id AS e2 FROM events a JOIN events b "
        "ON a.user_id = b.user_id AND a.event_id <> b.event_id "
        "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE "
        "ORDER BY e1, e2"
    ),
    # same running-max-window spelling as the Spark builder (DuckDB ASOF
    # JOIN exists but differs on ties; the window form is exact parity)
    "q34_asof_join": (
        "SELECT event_id, epoch_ms(MAX(CASE WHEN event_type = 'purchase' THEN ts "
        "END) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS asof_purchase_ms "
        "FROM events ORDER BY event_id"
    ),
    "q35_time_bucket": (
        "SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, COUNT(*) AS c, "
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS s "
        "FROM events GROUP BY day_ms ORDER BY day_ms"
    ),
    "q36_cube": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS s FROM lineitem "
        "GROUP BY CUBE(l_returnflag, l_linestatus) "
        "ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST"
    ),
    "q37_grouping_sets": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) "
        "ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST"
    ),
    "q99_share_of_total": (
        "WITH per AS (SELECT o_orderstatus, "
        "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents "
        "FROM orders GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, rev_cents, "
        "CASE WHEN (SELECT SUM(rev_cents) FROM per) <> 0 THEN "
        "CAST(floor(rev_cents * 10000 / (SELECT SUM(rev_cents) FROM per)) AS BIGINT) "
        "ELSE NULL END AS share_bp FROM per ORDER BY o_orderstatus"
    ),
    "q38_approx_distinct": (
        "SELECT n_exact, abs(n_approx - n_exact) * 100 <= 5 * n_exact "
        "AS approx_within_5pct FROM ("
        "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact, "
        "CAST(approx_count_distinct(o_custkey) AS BIGINT) AS n_approx "
        "FROM orders)"
    ),
    "q39_exists_subquery": (
        "SELECT c_custkey FROM customer c WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > 300000) ORDER BY c_custkey"
    ),
    "q40_scalar_subquery": (
        "SELECT o_orderkey FROM orders "
        "WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders) "
        "ORDER BY o_orderkey"
    ),
    "q41_cte": (
        "WITH revenue AS (SELECT l_suppkey, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_rev "
        "FROM lineitem GROUP BY l_suppkey) "
        "SELECT s.s_suppkey, s.s_name, r.total_rev FROM revenue r "
        "JOIN supplier s ON s.s_suppkey = r.l_suppkey "
        "ORDER BY r.total_rev DESC, s.s_suppkey LIMIT 20"
    ),
    "q42_pivot": (
        "SELECT o_orderpriority, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "q43_unpivot": (
        "WITH c AS (SELECT c_nationkey, CAST(ROUND(SUM(CAST(c_acctbal AS "
        "DECIMAL(18,6))), 2) AS DOUBLE) AS cust_bal FROM customer GROUP BY c_nationkey), "
        "s AS (SELECT s_nationkey, CAST(ROUND(SUM(CAST(s_acctbal AS "
        "DECIMAL(18,6))), 2) AS DOUBLE) AS supp_bal FROM supplier GROUP BY s_nationkey), "
        "wide AS (SELECT n_nationkey, cust_bal, supp_bal FROM nation n "
        "LEFT JOIN c ON n.n_nationkey = c.c_nationkey "
        "LEFT JOIN s ON n.n_nationkey = s.s_nationkey) "
        "SELECT n_nationkey, side, bal FROM ("
        "SELECT n_nationkey, 'customer' AS side, cust_bal AS bal FROM wide "
        "UNION ALL SELECT n_nationkey, 'supplier', supp_bal FROM wide) "
        "WHERE bal IS NOT NULL ORDER BY n_nationkey, side"
    ),
    # integer-cent order statistics + exact rational interpolation —
    # mirrors the Spark respelling exactly (quantile_cont's float
    # interpolation diverges from Spark's percentile() by one ulp on
    # .5 rounding boundaries; found by the round-11 differential run)
    "q44_percentile": (
        'WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders), cf AS (SELECT c, COUNT(*) AS cnt FROM o GROUP BY c), nn AS (SELECT COUNT(*) AS n FROM o), r AS (SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) - cnt AS before, n FROM cf, nn), sel AS (SELECT MAX(n) AS n, MAX(CASE WHEN before <= ((50 * (n - 1)) // 100) AND ((50 * (n - 1)) // 100) < before + cnt THEN c END) AS lo50, MAX(CASE WHEN before <= (((50 * (n - 1)) // 100) + 1) AND (((50 * (n - 1)) // 100) + 1) < before + cnt THEN c END) AS hi50, MAX(CASE WHEN before <= ((95 * (n - 1)) // 100) AND ((95 * (n - 1)) // 100) < before + cnt THEN c END) AS lo95, MAX(CASE WHEN before <= (((95 * (n - 1)) // 100) + 1) AND (((95 * (n - 1)) // 100) + 1) < before + cnt THEN c END) AS hi95, MAX(CASE WHEN before <= ((99 * (n - 1)) // 100) AND ((99 * (n - 1)) // 100) < before + cnt THEN c END) AS lo99, MAX(CASE WHEN before <= (((99 * (n - 1)) // 100) + 1) AND (((99 * (n - 1)) // 100) + 1) < before + cnt THEN c END) AS hi99 FROM r), vv AS (SELECT (CASE WHEN ((50 * (n - 1)) % 100) = 0 THEN lo50 * 100 ELSE lo50 * (100 - ((50 * (n - 1)) % 100)) + hi50 * ((50 * (n - 1)) % 100) END) AS v50, (CASE WHEN ((95 * (n - 1)) % 100) = 0 THEN lo95 * 100 ELSE lo95 * (100 - ((95 * (n - 1)) % 100)) + hi95 * ((95 * (n - 1)) % 100) END) AS v95, (CASE WHEN ((99 * (n - 1)) % 100) = 0 THEN lo99 * 100 ELSE lo99 * (100 - ((99 * (n - 1)) % 100)) + hi99 * ((99 * (n - 1)) % 100) END) AS v99 FROM sel) SELECT CAST((CASE WHEN v50 >= 0 THEN (2 * (v50) + (100)) // (2 * (100)) ELSE -((2 * (-(v50)) + (100)) // (2 * (100))) END) AS DOUBLE) / 100.0 AS p50, CAST((CASE WHEN v95 >= 0 THEN (2 * (v95) + (100)) // (2 * (100)) ELSE -((2 * (-(v95)) + (100)) // (2 * (100))) END) AS DOUBLE) / 100.0 AS p95, CAST((CASE WHEN v99 >= 0 THEN (2 * (v99) + (100)) // (2 * (100)) ELSE -((2 * (-(v99)) + (100)) // (2 * (100))) END) AS DOUBLE) / 100.0 AS p99 FROM vv'
    ),
    "q44b_quantile_disc": (
        "SELECT quantile_disc(o_totalprice, 0.5) AS p50, "
        "quantile_disc(o_totalprice, 0.95) AS p95, "
        "quantile_disc(o_totalprice, 0.99) AS p99 FROM orders"
    ),
    "q45_stats": (
        # exact-decimal sufficient statistics, mirroring the Spark
        # spelling (see q45_stats docstring / PARITY #12 follow-ups):
        # Spark ANSI corr() throws on zero variance, native moment
        # merges split the last rounded decimal on cancelling inputs,
        # and mean/var are rounded rationals (divergence #7)
        "WITH s AS (SELECT CAST(COUNT(*) AS DECIMAL(18,0)) AS n, "
        "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx, "
        "SUM(CAST(o_custkey AS DECIMAL(18,0))) AS sy, "
        "SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_custkey AS DECIMAL(18,0))) AS sxy, "
        "SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS sxx, "
        "SUM(CAST(o_custkey AS DECIMAL(18,0)) * CAST(o_custkey AS DECIMAL(18,0))) AS syy "
        "FROM orders), "
        "t AS (SELECT n, sx, "
        "CAST(n * sxy - sx * sy AS DOUBLE) AS num, "
        "CAST(n * sxx - sx * sx AS DOUBLE) AS denx, "
        "CAST(n * syy - sy * sy AS DOUBLE) AS deny, "
        "CAST(n AS DOUBLE) AS nd FROM s) "
        "SELECT "
        "CASE WHEN n >= 2 THEN floor(sqrt(denx / (nd * (nd - 1))) * 100 + 0.5) / 100.0 END AS sd, "
        "CASE WHEN n >= 2 THEN floor(denx / (nd * (nd - 1)) + 0.5) / 1.0 END AS vr, "
        "CASE WHEN n >= 2 AND denx > 0 AND deny > 0 THEN "
        "floor(num / (sqrt(denx) * sqrt(deny)) * 1000000 + 0.5) / 1000000.0 END AS cr, "
        "CASE WHEN n >= 1 THEN floor(CAST(sx AS DOUBLE) / nd * 100 + 0.5) / 100.0 END AS mean "
        "FROM t"
    ),
    "q47_regex_funcs": (
        "SELECT c_custkey, "
        "COALESCE(regexp_extract(c_name, '(\\d+)', 1), '') AS name_num, "
        "regexp_replace(c_name, '[0-9]', '#', 'g') AS masked, "
        "CAST(len(regexp_extract_all(c_name, '[0-9]')) AS BIGINT) AS digits "
        "FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey"
    ),
    "q48_null_funcs": (
        "SELECT s_suppkey, "
        "NULLIF(CAST(s_nationkey AS INTEGER), 0) AS nk_nullable, "
        "COALESCE(NULLIF(CAST(s_nationkey AS INTEGER), 0), -1) AS nk_filled, "
        "GREATEST(s_acctbal, 0.0) AS bal_floor, "
        "LEAST(s_acctbal, 5000.0) AS bal_cap, "
        "s_acctbal IS NULL AS bal_is_null "
        "FROM supplier ORDER BY s_suppkey"
    ),
    "q46_recursive_cte": (
        "WITH RECURSIVE months(m) AS ("
        "SELECT TIMESTAMP '1995-01-01 00:00:00' "
        "UNION ALL SELECT m + INTERVAL 1 MONTH FROM months "
        "WHERE m < TIMESTAMP '2001-08-01 00:00:00'), "
        "oc AS (SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS n "
        "FROM orders GROUP BY date_trunc('month', o_orderdate)) "
        "SELECT strftime(m, '%Y-%m') AS month, COALESCE(n, 0) AS n "
        "FROM months LEFT JOIN oc ON oc.mo = months.m ORDER BY month"
    ),
    "q49_intersect": (
        "SELECT s_nationkey AS nk FROM supplier "
        "INTERSECT SELECT c_nationkey AS nk FROM customer ORDER BY nk"
    ),
    "q50_lag_lead": (
        "SELECT o_custkey, o_orderkey, "
        "LAG(o_orderkey) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS prev_ok, "
        "LEAD(o_orderkey) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS next_ok "
        "FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey"
    ),
    "q51_conditional_agg": (
        "SELECT o_orderpriority, "
        "COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
        "CAST(ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN "
        "CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END), 2) AS DOUBLE) AS rev_f, "
        "CAST(ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN "
        "CAST(o_totalprice AS DECIMAL(18,6)) ELSE 0 END), 2) AS DOUBLE) AS rev_o "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "q52_string_agg": (
        "SELECT c_nationkey, "
        "string_agg(c_name, '|' ORDER BY c_name) AS names, "
        "COUNT(*) AS n FROM customer WHERE c_custkey <= 500 "
        "GROUP BY c_nationkey ORDER BY c_nationkey"
    ),
    "q53_ntile": (
        "SELECT o_orderkey, "
        "CAST(NTILE(4) OVER w AS BIGINT) AS quartile, "
        "ROUND(PERCENT_RANK() OVER w, 6) AS pr, "
        "ROUND(CUME_DIST() OVER w, 6) AS cd "
        "FROM orders WHERE o_orderkey <= 2000 "
        "WINDOW w AS (ORDER BY o_totalprice, o_orderkey) ORDER BY o_orderkey"
    ),
    "q54_date_arith": (
        "SELECT o_orderkey, "
        "CAST(o_orderdate AS DATE) + 30 AS due, "
        "date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS age_days, "
        "last_day(CAST(o_orderdate AS DATE)) AS eom "
        "FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey"
    ),
    "q55_range_frame": (
        "SELECT o_custkey, o_orderkey, "
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) "
        "AS run_range FROM orders WHERE o_custkey <= 50 "
        "ORDER BY o_custkey, o_orderkey"
    ),
    "q65_schema_evolution_union": (
        "SELECT c_custkey, c_name, 'v1' AS src, CAST(NULL AS VARCHAR) AS c_mktsegment "
        "FROM customer WHERE c_custkey <= 100 "
        "UNION ALL "
        "SELECT c_custkey, CAST(NULL AS VARCHAR), 'v2', c_mktsegment "
        "FROM customer WHERE c_custkey BETWEEN 50 AND 150 "
        "ORDER BY c_custkey, src"
    ),
    "q64_regression": (
        "WITH t AS (SELECT event_type, CAST(epoch_ms(ts) AS DOUBLE) AS x, "
        "value AS y FROM events) "
        "SELECT event_type, "
        "ROUND(regr_slope(y, x) * 3600000.0, 4) + CAST(0.0 AS DOUBLE) "
        "AS slope_per_hour, "
        "ROUND(regr_intercept(y, x), 2) + CAST(0.0 AS DOUBLE) AS intercept, "
        "CAST(regr_count(y, x) AS BIGINT) AS n "
        "FROM t GROUP BY event_type ORDER BY event_type"
    ),
    "q63_sliding_window": (
        "WITH t AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms "
        "FROM events WHERE user_id <= 50) "
        "SELECT user_id, event_id, ts_ms, "
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms "
        "RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_trailing_1h "
        "FROM t ORDER BY user_id, ts_ms, event_id"
    ),
    "q62_histogram": (
        "SELECT CAST(FLOOR(o_totalprice / 60000) AS BIGINT) AS bucket, "
        "COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi "
        "FROM orders GROUP BY bucket ORDER BY bucket"
    ),
    "q61_json_keys": (
        "SELECT event_id, "
        "array_to_string(list_sort(json_keys(props)), ',') AS keys "
        "FROM events WHERE event_id <= 500 ORDER BY event_id"
    ),
    "q59_except_all": (
        "WITH d AS (SELECT o_custkey AS k FROM orders "
        "EXCEPT ALL SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') "
        "SELECT k, COUNT(*) AS n FROM d GROUP BY k ORDER BY k"
    ),
    "q60_not_exists": (
        "SELECT c_custkey FROM customer c "
        "WHERE NOT EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT') "
        "ORDER BY c_custkey"
    ),
    "q57_array_funcs": (
        "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dim, "
        "ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_d, "
        "ROUND(list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)), (a, b) -> a + b), 6) AS total, "
        "ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS mx "
        "FROM embeddings WHERE vec_id <= 100 ORDER BY vec_id"
    ),
    "q58_explode": (
        # gs <= len(): posexplode emits one row per EXISTING element
        # (0 for NULL/short arrays) — the unconditional cross join
        # would fabricate NULL-val rows for vectors shorter than 3
        "SELECT vec_id, CAST(gs AS BIGINT) AS dim, "
        "ROUND(CAST(embedding[CAST(gs AS INTEGER)] AS DOUBLE), 6) AS val "
        "FROM embeddings, generate_series(1, 3) AS t(gs) "
        "WHERE vec_id <= 20 AND gs <= len(embedding) ORDER BY vec_id, dim"
    ),
    "q68_fuzzy_join": (
        "WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100) "
        "SELECT a.c_custkey AS k1, b.c_custkey AS k2, "
        "CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist "
        "FROM c a, c b WHERE a.c_custkey < b.c_custkey "
        "AND levenshtein(a.c_name, b.c_name) <= 2 ORDER BY k1, k2"
    ),
    "q69_median_abs_dev": (
        "WITH m AS (SELECT quantile_disc(l_quantity, 0.5) AS med FROM lineitem) "
        "SELECT ANY_VALUE(med) AS median_qty, "
        "quantile_disc(abs(l_quantity - med), 0.5) AS mad FROM lineitem, m"
    ),
    "q70_equidepth_hist": (
        "WITH th AS (SELECT quantile_disc(o_totalprice, "
        "[" + ", ".join(str(i / 10.0) for i in range(1, 10)) + "]) AS th FROM orders), "
        "b AS (SELECT ("
        + " + ".join(
            f"CASE WHEN o_totalprice > th[{i}] THEN 1 ELSE 0 END" for i in range(1, 10)
        )
        + ") AS bucket, o_totalprice FROM orders, th) "
        "SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n, "
        "MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi "
        "FROM b GROUP BY bucket ORDER BY bucket"
    ),
    "q71_fill_forward": (
        "WITH v AS (SELECT event_id, ts, user_id, "
        "CASE WHEN event_type <> 'error' THEN value END AS v_raw FROM events) "
        "SELECT event_id, user_id, v_raw, "
        "last_value(v_raw IGNORE NULLS) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled "
        "FROM v ORDER BY event_id"
    ),
    "q66_grouped_median": (
        "SELECT l_returnflag, quantile_disc(l_quantity, 0.5) AS median_qty, "
        "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "q74_latency_bands": (
        "SELECT event_type, quantile_disc(value, 0.5) AS p50, "
        "quantile_disc(value, 0.9) AS p90, quantile_disc(value, 0.99) AS p99, "
        "COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"
    ),
    "q75_path_analysis": (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms "
        "FROM events), "
        "l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id "
        "ORDER BY ts_ms, event_id) AS prev_ms FROM e), "
        "s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 "
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) "
        "AS session_id FROM l), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id "
        "ORDER BY ts_ms, event_id) AS rn FROM s), "
        "p AS (SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) "
        "AS path FROM r WHERE rn <= 3 GROUP BY user_id, session_id), "
        "c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path) "
        "SELECT path, n_sessions, rk FROM (SELECT path, n_sessions, "
        "ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rk FROM c) "
        "WHERE rk <= 20 ORDER BY rk"
    ),
    "q72_funnel": (
        "WITH u1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "u2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN u1 USING (user_id) "
        "WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id), "
        "u3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN u2 USING (user_id) "
        "WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id) "
        "SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, "
        "CAST(COUNT(*) AS BIGINT) AS n_users FROM u1 "
        "UNION ALL SELECT 2, 'click_after_view', COUNT(*) FROM u2 "
        "UNION ALL SELECT 3, 'purchase_after_click', COUNT(*) FROM u3 "
        "ORDER BY step"
    ),
    "q73_retention_cohorts": (
        "WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), "
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id) "
        'SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS "offset", '
        "CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active "
        "FROM e JOIN f USING (user_id) WHERE day - cohort_day <= 7 "
        'GROUP BY cohort_day, "offset" ORDER BY cohort_day, "offset"'
    ),
    "q67_grouped_mode": (
        "WITH c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderpriority, o_orderstatus), "
        "r AS (SELECT o_orderpriority, o_orderstatus AS mode_status, n, "
        "ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
        "ORDER BY n DESC, o_orderstatus) AS rk FROM c) "
        "SELECT o_orderpriority, mode_status, n FROM r WHERE rk = 1 "
        "ORDER BY o_orderpriority"
    ),
    "q56_first_last": (
        "SELECT o_custkey, o_orderkey, "
        "FIRST_VALUE(o_orderkey) OVER w AS first_ok, "
        "LAST_VALUE(o_orderkey) OVER w AS last_ok "
        "FROM orders WHERE o_custkey <= 100 "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        "ORDER BY o_custkey, o_orderkey"
    ),
    # north-star oracles (every entry oracle-checked, incl. the
    # LSH bucketing via literal md5-derived planes — see _lsh_sql)
    **NS_ORACLES,
}
