"""Operator modules. Each module exposes

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLES: dict[str, str]`` — DuckDB-runnable SQL, same column names

``all_queries()`` / ``all_oracles()`` merge every module for the driver
entry point (``__spark_entry__.py``).

Registration order is load-bearing: the driver's CORRECTNESS gate checks
the FIRST 50 entries of the merged dict. ``DRIVER_PRIORITY`` pins which 50
land in that window — the training-data-pipeline operators (dedup /
similarity / textstats / multimodal / udx) first, then the most
informative one-per-operator relational / join / window / event queries.
Everything else (already driver-verified green in round 1) registers
after slot 50 and stays covered by tests/test_oracle_parity.py.

CACHE-LIFETIME CONTRACT (covers every caching operator — the dedup
family, market_basket_rules, encoding_advisor_lineitem, asof_join
carry frames, kcore/graph edge lists, ppjoin prefix indexes, and
any other operator caching ``.cache()``-style internally): operators
cache per-query scratch frames and deliberately do NOT unpersist them,
because the returned DataFrame's lineage still references the cached
frame — an eager unpersist would silently recompute it on collect.
Every such frame is registered via ``collimate_spark.scratch.scache``
(``df.transform(scache)``), so callers running MANY queries in one
session (the driver's verify loop, bench.py, notebooks) release them
between queries with ``collimate_spark.scratch.clear_scratch()`` — or
wrap each query in ``with scratch_caches():`` — WITHOUT touching their
own cached frames. ``spark.catalog.clearCache()`` remains a valid
blunt superset. bench.py calls ``clear_scratch()`` between queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The 50 queries the driver verifies, in order. Keep this list at exactly
# 50 entries; tests/test_registration.py enforces the invariant.
#
# Round-14 window (VERDICT r13 directive #4): drain the freshness
# rotation — ALL 25 queries whose last driver contact is r09 (the
# remainder of the r09-vintage tranche, including its 4 no-oracle
# multimodal feature extractors: multimodal_{audio,image,video}_features
# and multimodal_features, which the driver checks rows-only), then the
# 25 alphabetically-first ORACLED queries of the 47-query r10-vintage
# tranche (the 6 no-oracle r10 rows — ann_pq_topk and the multimodal
# pair/resize/frame/scene queries — are deferred so the window spends
# its slots on hash-checkable queries; they remain bench-covered and
# parity-style tested). After this window lands, no registered query's
# last driver contact is older than r10. Window composition: 46 oracled
# + 4 no-oracle (declared up front, VERDICT r13 #5).
DRIVER_PRIORITY: tuple[str, ...] = (
    "embedding_jl_projection",
    "geo_radius_join_grid",
    "grouped_agg_gini",
    "grouped_arrow_profile",
    "join_null_safe",
    "join_skew_diagnostics",
    "k_anonymity_report",
    "lang_id_confusion",
    "multimodal_audio_features",
    "multimodal_features",
    "multimodal_image_features",
    "multimodal_video_features",
    "pareto_revenue_share",
    "price_histogram",
    "regr_price_trend",
    "semdedup_prune",
    "sessionization_gap",
    "set_ops_all",
    "sliding_distinct_users",
    "table_profile_lineitem",
    "train_val_test_split",
    "triangle_participation",
    "udtf_parse_props",
    "window_range_frame",
    "zorder_cluster_stats",
    "agg_approx_distinct",
    "approx_percentile_error",
    "asof_join_events_orders",
    "collocation_pmi",
    "conversion_time_quantiles",
    "corr_matrix_lineitem",
    "degree_assortativity",
    "dow_seasonality",
    "embedding_cluster_cohesion",
    "embedding_dim_stats",
    "encoding_advisor_lineitem",
    "ewma_value",
    "hll_intersection_users",
    "hll_native_distinct",
    "hll_sketch_partitioned",
    "ingest_typed_profile",
    "kmeans_lloyd_clusters",
    "listagg_supplier_names",
    "lm_perplexity_score",
    "longest_daily_streak",
    "mad_outliers",
    "markov_transitions",
    "mutual_information_value",
    "new_vs_returning_daily",
    "ohlc_bars",
)

# Queries registered but outside the 50-slot window — the complement of
# DRIVER_PRIORITY over the full registered surface. Every entry here has
# been driver-checked at least once (rounds 1-8) and stays covered by
# the parity suite at sf0.001 + sf0.01 (tests/test_oracle_parity.py)
# and the sf0.1 mirror (pytest -m sf01). tests/test_registration.py
# accepts a north-star query being here instead of in the window — but
# ONLY here, so the exemption is explicit and reviewed. One entry per
# line.
ROTATION_CANDIDATES: tuple[str, ...] = (
    "ab_test_welch",
    "acf_daily_events",
    "agg_argmax",
    "agg_boolean_counting",
    "agg_cube",
    "agg_distinct",
    "agg_grouping_sets",
    "agg_mode_deterministic",
    "agg_percentile",
    "agg_percentile_disc",
    "agg_rollup",
    "agg_stats",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_range_search",
    "anomaly_zscore",
    "approx_top_k_words",
    "array_agg_sorted",
    "array_functions",
    "asof_join_forward",
    "asof_join_nearest",
    "attribution_multitouch",
    "benford_first_digit",
    "bfs_distances",
    "bitmap_distinct_counts",
    "block_dedup_stats",
    "bloom_prefilter_join",
    "bm25_search",
    "bootstrap_mean_ci",
    "bottomk_sample_per_group",
    "bpe_merge_candidates",
    "char_entropy",
    "chi2_event_value",
    "chunk_documents",
    "cohort_retention",
    "collated_group_count",
    "concurrent_sessions_timeline",
    "corpus_pipeline_funnel",
    "countmin_word_frequencies",
    "curate_corpus",
    "cusum_changepoints",
    "data_quality_report",
    "date_spine_fill",
    "decontaminate_ngram",
    "dedup_connected_components",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_survivor_best_quality",
    "doc_fingerprint",
    "domain_mix_temperature",
    "dup_span_coverage",
    "embedding_gram_matrix",
    "embedding_quantize_int8",
    "entity_resolution_customers",
    "fifo_allocation",
    "funnel_conversion",
    "fuzzy_name_match",
    "gdpr_erasure_audit",
    "grouped_zscore",
    "grouped_zscore_native",
    "heavy_hitters_words",
    "hypertable_rollup",
    "interpolate_missing_values",
    "inverted_index_postings",
    "ivm_incremental_agg",
    "join_anti",
    "join_cross",
    "join_full_outer",
    "join_left_outer",
    "join_semi",
    "join_theta_inequality",
    "json_extract_events",
    "kaplan_meier_retention",
    "kcore_membership",
    "lang_id_heuristic",
    "map_functions",
    "map_hof_functions",
    "market_basket_rules",
    "merge_upsert_orders",
    "multimodal_audio_fingerprint_pairs",
    "multimodal_frame_sample",
    "multimodal_image_dhash_pairs",
    "multimodal_image_resize",
    "multimodal_metadata",
    "multimodal_video_scene_cuts",
    "order_total_reconciliation",
    "pack_sequences",
    "pagerank_copurchase",
    "pandas_udf_scalar",
    "partition_advisor_orders",
    "pit_join_scd2",
    "pivot_event_counts",
    "psi_price_drift",
    "q10_returned_items",
    "q11_important_parts",
    "q12_shipmode_priority",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q1_pricing_summary",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    "q2_cheapest_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "quality_filter_pipeline",
    "quantile_sketch_value",
    "range_join_events_orders",
    "referential_integrity_report",
    "repetition_metrics",
    "rfm_segmentation",
    "rolling_median_value",
    "rollup_grouping_id",
    "salted_join_hot_key",
    "scalar_conditional",
    "scalar_date_funcs",
    "scalar_math_funcs",
    "scalar_string_funcs",
    "scd2_user_segments",
    "session_window_agg",
    "session_window_dynamic_gap",
    "set_ops",
    "set_overlap_join_prefix",
    "shard_export_assignment",
    "skyline_suppliers",
    "sliding_window_agg",
    "snapshot_diff",
    "sort_topk",
    "stratified_sample_documents",
    "subquery_exists",
    "text_length_histogram",
    "text_pii_scrub",
    "text_quality_metrics",
    "tfidf_top_terms",
    "time_weighted_average",
    "top_event_paths",
    "try_functions_safety",
    "tumbling_window_agg",
    "udtf_tokenize",
    "union_by_name_evolution",
    "unpivot_lineitem",
    "variant_props_stats",
    "weighted_sample_documents",
    "window_distribution_ranks",
    "window_lag_lead",
    "window_rank_dense_ntile",
    "window_running_sum",
    "window_topk_per_group",
    "winnow_fingerprint_pairs",
    "winsorize_stats",
    "xml_roundtrip_stats",
    "yoy_revenue_growth",
    "zipf_slope",
)

def _modules():
    from collimate_spark.operators import (
        relational,
        tpch_ext,
        windows,
        joins,
        events,
        grouped,
        udx,
        dedup,
        similarity,
        textstats,
        multimodal,
        curation,
        quality,
        timeseries,
        dataeng,
        graph,
        stats,
    )
    from collimate_spark import ingest

    return (
        ingest,
        relational,
        tpch_ext,
        windows,
        joins,
        events,
        grouped,
        udx,
        dedup,
        similarity,
        textstats,
        multimodal,
        curation,
        quality,
        timeseries,
        dataeng,
        graph,
        stats,
    )


def _ordered(merged: dict) -> dict:
    missing = [n for n in DRIVER_PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names not registered: {missing}")
    out = {n: merged[n] for n in DRIVER_PRIORITY}
    out.update({n: v for n, v in merged.items() if n not in out})
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    return _ordered(merged)


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLES)
    # oracles are keyed lookups (order-insensitive), but keep the same
    # order as all_queries() for readability of driver artifacts
    out = {n: merged[n] for n in DRIVER_PRIORITY if n in merged}
    out.update({n: v for n, v in merged.items() if n not in out})
    return out
