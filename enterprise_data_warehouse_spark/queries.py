"""Query registry — the driver-facing contract.

Every implemented operator from SURVEY.md §2 registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` builder) plus, where SQL-expressible, an
ANSI oracle string DuckDB runs on the same parquet tables. Column names are
aliased identically on both sides (driver hashes values under sorted column
names).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Decorator: register a query builder with its DuckDB oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(fn, oracle, bench)
        return fn

    return deco


_OPERATOR_MODULES = [
    "enterprise_data_warehouse_spark.operators.star",
    "enterprise_data_warehouse_spark.operators.tpch",
    "enterprise_data_warehouse_spark.operators.relational",
    "enterprise_data_warehouse_spark.operators.windows",
    "enterprise_data_warehouse_spark.operators.scd2",
    "enterprise_data_warehouse_spark.operators.drift",
    "enterprise_data_warehouse_spark.operators.text",
    "enterprise_data_warehouse_spark.operators.dedup",
    "enterprise_data_warehouse_spark.operators.similarity",
    "enterprise_data_warehouse_spark.operators.extended",
    "enterprise_data_warehouse_spark.operators.chunking",
    "enterprise_data_warehouse_spark.operators.facts",
    "enterprise_data_warehouse_spark.operators.mlboundary",
    "enterprise_data_warehouse_spark.operators.multimodal",
    "enterprise_data_warehouse_spark.operators.batching",
    "enterprise_data_warehouse_spark.operators.importance",
    "enterprise_data_warehouse_spark.operators.graph",
    "enterprise_data_warehouse_spark.operators.sketches",
    "enterprise_data_warehouse_spark.operators.quality",
    "enterprise_data_warehouse_spark.operators.layout",
    "enterprise_data_warehouse_spark.operators.timetravel",
    "enterprise_data_warehouse_spark.streaming.queries",
    "enterprise_data_warehouse_spark.streaming.stateful",
]


# The verify driver evaluates registry entries in dict order with a budget
# (exactly the first 50 each round), so this list pins a curated front.
# The standing freshness rotation: each round, the oldest-recorded cohort
# moves to the front and last round's front drops to the tail, so no
# query's newest driver record ever ages more than ~4 rounds.
PRIORITY_ORDER = [
    # Round-13 curation (VERDICT r12 item 5). Registry FROZEN at 215
    # (since r09); standing rotation: oldest-recorded cohort to the
    # front, last round's front to the tail. The driver records
    # exactly the first 50 each round.
    # -- slots 1-15: the 15 remaining r08-cohort entries (oldest
    # records left after r12).
    "catalog_fact_inventory_daily",
    "catalog_dim_product",
    "catalog_dim_employee",
    "catalog_dim_geography",
    "catalog_fact_financial",
    "catalog_fact_employee_perf",
    "catalog_fact_marketing",
    "catalog_dim_date",
    "catalog_quality_suite",
    "zorder_keys",
    "inverted_index_topk",
    "mad_outliers",
    "weighted_doc_sample",
    "corpus_temperature_mix",
    "gopher_quality_filters",
    # -- slots 16-35: the r12/r13-touched query paths (outer-generate
    # family, banded-signature family, pagerank edge build, catalog
    # star near-unique-grain exchange, SHJ-affected join shapes) —
    # mostly builder-verified only until now; fresh driver records.
    "ngram_jaccard_pairs",
    "prefix_filter_jaccard_pairs",
    "simhash_hamming_pairs",
    "simhash_signatures",
    "minhash_lsh_candidates",
    "near_dup_clusters",
    "bipartite_pagerank",
    "dsir_importance_weights",
    "doc_chunks_native",
    "shared_chunk_fingerprints",
    "ngram_novelty_scores",
    "vocab_growth_buckets",
    "trigram_lm_counts",
    "perplexity_buckets",
    "association_rules",
    "copurchase_triangles",
    "record_linkage_pairs",
    "catalog_fact_sales_daily",
    "scd2_customer_dim",
    "minhash_lsh_verified",
    # -- slots 36-50: the oldest r09-cohort entries.
    "incremental_fact_merge_partitioned",
    "dedup_representatives",
    "lineitem_measure_unpivot",
    "funnel_conversion",
    "cohort_retention",
    "order_price_percentiles",
    "masked_customer_view",
    "cdc_apply",
    "part_hierarchy_rollup",
    "pca_power_iteration",
    "orders_column_profile",
    "token_budget_mix",
    "length_bucket_stats",
    "line_dedup_reconstruct",
    "mv_incremental_maintenance",
    # ---------------- slot 50 boundary (driver budget) ---------------------
    # -- remaining registry, prior relative order preserved ------------------
    "countmin_heavy_hitters",
    "hll_distinct_users",
    "ewma_fold_sql",
    "stratum_topk_sample",
    "hll_sliding_distinct",
    "pit_feature_snapshot",
    "scd2_temporal_join",
    "training_order_shards",
    "hard_negative_mining",
    "corpus_ingest_stats",
    "incremental_ivf_assign",
    "salted_skew_join",
    "target_encoding",
    "feature_hashing",
    "forecast_baseline_daily",
    "multitouch_attribution",
    "mv_rollup_routing",
    "densify_daily_revenue",
    "segment_revenue_share",
    "abc_part_classification",
    "fulfillment_lead_time",
    "ts_features_pandas",
    "score_customers_pandas",
    "ann_lsh_buckets",
    "embedding_centroids",
    "embedding_quantize",
    "pq_encode",
    "incremental_fact_merge",
    "staging_customer_cleanse",
    "customer_rfm",
    "pricing_summary",
    "quality_rollup",
    "top_customers",
    "shipping_priority_topk",
    "union_order_sets",
    "hash_sample_unit_price",
    "segment_status_rollup",
    "time_travel_read",
    "schema_evolution_merge",
    "zero_copy_clone",
    "local_supplier_volume",
    "returned_customer_ranking",
    "order_priority_counts",
    "customers_without_orders",
    "customers_with_finished_orders",
    "order_age_rollup",
    "retained_customers_intersect",
    "churned_orders_except_all",
    "customer_peak_orders",
    "customer_order_id_lists",
    "nullsafe_bucket_join",
    "order_ranking",
    "customer_rfm_scalable",
    "corr_quantity_price",
    "conditional_agg_orders",
    "active_weeks",
    "duplicate_detection",
    "mode_per_user",
    "daily_view_click_alignment",
    "json_prop_filter",
    "event_time_features",
    "salted_event_rollup",
    "approx_distinct_users",
    "event_props_kv_rollup",
    "latest_event_per_user",
    "session_gap_detection",
    "frequency_encoding",
    "rolling_1h_features",
    "value_zscore_outliers",
    "rolling_feature_matrix",
    "forward_fill_values",
    "feature_descriptive_stats",
    "categorical_profile",
    "regr_slope_per_user",
    "psi_value_drift",
    "ks_value_drift",
    "chi2_category_drift",
    "median_imputation",
    "language_id",
    "doc_fingerprint",
    "corpus_pipeline",
    "token_count_profile",
    "repetition_scores",
    "embedding_near_dup",
    "ann_lsh_verified",
    "feature_fetch_inlist",
    "training_dataset",
    "stats_pruned_lookup",
    "star_revenue_rollup",
    "text_quality_scores",
    "exact_dedup",
    "cosine_topk",
    "asof_click_attribution",
    "media_manifest",
    "session_metrics_batch",
    "tumbling_hourly_counts",
    "quality_check_suite",
    "median_price_udaf",
    "order_cube",
    "volume_shipping",
    "market_share",
    "product_profit",
    "important_suppliers",
    "customer_distribution",
    "promo_revenue",
    "top_supplier",
    "small_qty_revenue",
    "large_orders",
    "disjunctive_revenue",
    "dormant_customers",
    "forecast_revenue",
    "late_shipment_priority",
    "min_cost_supplier",
    "supplier_part_counts",
    "excess_shipped_parts",
    "waiting_suppliers",
    "ks_binned_drift",
    "feature_moments",
    "ks_drift_pvalue",
    "snapshot_diff",
    "key_skew_profile",
    "tfidf_top_terms",
    "corpus_source_mix",
    "pii_scrub",
    "token_frequencies",
    "benchmark_decontamination",
    "incremental_dedup",
    "ivf_topk",
    "ann_multiprobe_topk",
    "kmeans_embeddings",
    "bloom_pruned_lookup",
    "kmeans_pp_embeddings",
    "range_bin_lookup",
    "order_rollup_hierarchy",
    "order_window_frames",
    "stratified_order_sample",
    "event_type_pivot",
    "order_grouping_sets",
    "order_rank_distributions",
    "doc_chunks_udtf",
    "sequence_packing",
    "image_feature_extract",
    "catalog_dim_part",
    "catalog_fact_events_daily",
    "referential_integrity",
    "date_dimension",
    "freshness_rollup",
    "streaming_hourly_counts",
    "streaming_dedup_events",
    "streaming_session_metrics",
    "streaming_segment_counts",
    "streaming_view_click_join",
    "stateful_user_ewma",
    "ttl_feature_cache",
    "streaming_corpus_ingest",
    "feature_vector_conform",
    "train_test_split",
    "video_frame_sample_plan",
    "audio_chunk_plan",
    "sliding_hourly_counts",
    "segment_hourly_counts",
    "view_click_within_30m",
    "semantic_dedup",
    "pq_adc_topk",
    "catalog_fact_customer_behavior",
]


def load_registry() -> dict[str, QuerySpec]:
    """Import every operator module (each registers its queries) and return
    the populated registry, priority-ordered (see PRIORITY_ORDER)."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    missing = [n for n in PRIORITY_ORDER if n not in REGISTRY]
    assert not missing, f"PRIORITY_ORDER names not in registry: {missing}"
    ordered = {n: REGISTRY[n] for n in PRIORITY_ORDER}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    return ordered
