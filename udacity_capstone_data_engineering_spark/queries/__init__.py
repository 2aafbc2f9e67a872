"""Query catalog: every implemented operator as a named (spark, sf_dir) →
DataFrame callable with a matching DuckDB oracle SQL string.

This is the engine's correctness contract (SURVEY.md §5): the driver
runs each Spark query and its oracle side-by-side at sf0.01 and
compares row counts, schemas, and order-insensitive value hashes.

Determinism rules used throughout (so hashes are stable across engines
AND across partitionings — the property that matters at 100 TB):
  - sums of double measures go through DECIMAL(18,2) (exact, order-
    independent), then cast to double;
  - averages are exact-decimal-sum / count in double, rounded once;
  - every ranking window carries a unique tiebreaker;
  - hashes are the engine-portable md5-derived 60-bit family
    (``functions/hashing.py``), never Spark-internal murmur3;
  - session timezone is pinned UTC inside every callable (the driver's
    session config is not ours to assume).

Spark-side plans are built from the operator modules; oracle SQL is
plain ANSI/DuckDB. Reference-parity queries cite the reference sites
they generalize (SURVEY.md §2 numbering).

This module is the registry: ``_register``, ``queries()``,
``oracle_sql()`` and the helpers more than one domain uses. The rows
live in one module per domain (relational, tpch, corpus, retrieval,
behavioral, streaming, multimodal); a domain module imports only this
registry and the engine modules, never another domain module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REGISTRY: dict[str, tuple[Callable, str | None]] = {}


def _register(name: str, oracle: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Pin tz so timestamp bucketing/date-part extraction matches
            # the (naive-timestamp) DuckDB oracle regardless of the
            # driver session's config.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        # A duplicate name would silently REPLACE an existing catalog
        # entry (and its oracle) — exactly how round 5's MG sketch
        # briefly shadowed the exact token_heavy_hitters query. Fail
        # loudly at import instead.
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = (wrapped, oracle)
        return wrapped

    return deco


def _dec_sum(col: str, alias: str):
    """Exact order-independent sum of a money/measure double → double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


def _dec_avg(col: str, alias: str):
    """Deterministic mean: exact decimal sum → double, / count, round 6."""
    s = F.sum(F.col(col).cast("decimal(18,2)")).cast("double")
    return F.round(s / F.count(F.lit(1)), 6).alias(alias)


def _dec_sum_sql(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def _dec_avg_sql(col: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)"
        f" AS {alias}"
    )


_TOKENS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


# Every query name that has appeared in an official driver
# CORRECTNESS_r01..r10 sample (the driver takes the FIRST 50 entries
# of queries()). Frozen history — VERDICT r10 #5: 163 of the 215
# catalog rows had never been officially sampled because the first-50
# window never moved; ordering never-sampled rows first rotates the
# official gate through the unseen tail. Extend this set each round
# with the names the new CORRECTNESS record sampled.
_OFFICIALLY_SAMPLED = frozenset(
    """
    anti_join_no_urgent approx_distinct_users asof_join_purchase_view
    case_normalized_join cube_flag_status date_parts_calendar
    dedup_orders_per_customer deterministic_stats distinct_segments
    doc_fingerprints doc_quality doc_token_stats drop_columns_docs
    dup_witness_flag_status embedding_cosine_topk embedding_lsh_topk
    embedding_norms events_sessionize events_sliding_halfhour
    events_tumbling_hourly exact_dedup_docs exact_distinct_users
    fill_nulls_events fk_orphan_lineitems flagship_nation_order_stats
    global_top100_lineitems group_first_per_nation grouping_sets_sql
    json_extract_props lang_id_confusion math_functions
    median_price_per_segment minhash_rows multi_cast
    multimodal_features near_dup_minhash_lsh null_profile_events
    pricing_summary project_rename qc_table_counts
    range_join_events_60s rollup_priority_status salted_skew_agg
    sas_epoch_roundtrip semi_join_customers_with_orders
    setops_customer_segments simhash_docs string_functions token_tfidf
    window_lag_delta window_rolling_sum window_topk_orders
    """.split()
)

# The order queries() returns. The driver samples the first 50 entries
# (first block): oracle-paired rows never yet officially sampled
# (VERDICT r10 #5, pinned against _OFFICIALLY_SAMPLED in
# tests/test_round11.py). The second block holds the other
# oracle-paired rows, the third the rows-only-by-design entries, which
# must sit past the first-50 window (VERDICT r6 #5, tests/test_spec.py).
# bench.py orders its own run list, so bench records stay comparable
# across rounds regardless of this order.
_ORDER = tuple(
    """
    window_rank_family date_functions null_semantics pivot_status_counts
    unpivot_part_measures regexp_operations nations_per_region_csv
    revenue_histogram monthly_revenue_rollup embedding_dup_pairs
    upsert_orders_latest train_valid_test_split cap_docs_per_source_lang
    normalized_docs source_mixing_weights doc_length_trim array_functions
    nations_per_region_array sink_roundtrip_partitioned ann_recall_report
    ngram_jaccard_pairs winnow_fingerprints_docs bpe_pretoken_stats
    multimodal_frame_sample multimodal_resize_nearest bucketed_join_coloc
    label_centroids stratified_sample_docs correlated_subqueries
    events_gap_fill zorder_layout_keys scd2_customer_status
    qc_expectations_orders bitwise_functions conditional_aggregates
    higher_order_functions simhash_near_dup_pairs tpch_q3_shipping_priority
    tpch_q5_local_supplier_volume approx_quantile_report
    gopher_quality_flags tpch_q4_order_priority tpch_q7_nation_volume
    tpch_q8_market_share tpch_q9_product_profit tpch_q10_returned_items
    tpch_q11_important_parts tpch_q12_latency_classes
    tpch_q13_customer_distribution tpch_q14_promo_revenue

    tpch_q15_top_supplier tpch_q16_supplier_counts
    tpch_q17_small_qty_revenue tpch_q18_large_volume_customers
    tpch_q19_disjunctive_revenue tpch_q20_excess_shippers
    tpch_q21_waiting_suppliers tpch_q22_lapsed_customers
    tpch_q2_min_cost_supplier tpch_q6_revenue_forecast pii_redact_props
    doc_chunks_overlap duplicated_span_ratio token_heavy_hitters
    fuzzy_name_pairs map_functions variant_extract_props
    events_session_window_native lateral_topn_per_region safe_arithmetic
    rolling_7day_order_revenue iqr_outlier_bounds corpus_prep_pipeline
    explode_outer_semantics full_outer_reconciliation listagg_nations
    near_dup_collapsed partitioned_catalog_roundtrip zorder_layout_roundtrip
    decontam_ngram_overlap containment_pairs pack_sequences blocklist_audit
    embedding_int8_quantize rerank_two_stage token_heavy_hitters_mg
    leakage_safe_split funnel_conversion cohort_retention_weekly
    event_transition_matrix copurchase_part_pairs profile_orders
    incremental_monthly_rollup concurrent_sessions_peak
    time_weighted_avg_value orders_snapshot_diff attribution_last_touch
    zscore_events top_session_paths dedup_cluster_histogram
    conversion_lag_percentiles parts_abc_pareto customer_spend_gini
    event_weekday_chisq copurchase_graph_stats rfm_customer_segments
    copurchase_pagerank doc_repetition_flags token_countmin_sketch
    inverted_index_postings embedding_kmeans_int bm25_topk_docs
    embedding_gram_matrix bigram_lm_quality psi_event_drift
    semantic_dedup_eps semantic_dedup_autok jsonl_roundtrip_docs
    copurchase_kcore doc_token_entropy weighted_sample_docs
    orc_roundtrip_orders incremental_ingest_dedup embedding_corr_matrix
    full_quality_gate item_similarity_jaccard cluster_top_terms_ctfidf
    incremental_ingest_dedup_bucketed image_decode_stats
    image_resize_decoded embedding_random_projection
    event_value_outliers_mad join_key_skew_profile quality_pipeline_manifest
    semantic_dedup_incremental semantic_dedup_standing_index
    jl_manifold_capture image_dhash_docs image_near_dup_pairs
    audio_decode_stats audio_frame_energy audio_silence_flags
    video_decode_stats video_frame_deltas video_scene_cuts
    audio_envelope_fingerprint audio_near_dup_pairs video_row_luma
    video_scene_fingerprint video_near_dup_pairs duplicate_token_spans
    dup_span_doc_ratio ann_index_build ann_standing_serve ann_index_append
    semantic_dedup_index_build ann_exact_truth_build ann_auto_dispatch
    dedup_clusters flagship_nation_order_stats pricing_summary
    project_rename drop_columns_docs multi_cast fill_nulls_events
    null_profile_events dedup_orders_per_customer distinct_segments
    fk_orphan_lineitems anti_join_no_urgent semi_join_customers_with_orders
    group_first_per_nation case_normalized_join dup_witness_flag_status
    date_parts_calendar sas_epoch_roundtrip qc_table_counts
    window_topk_orders window_lag_delta window_rolling_sum
    global_top100_lineitems setops_customer_segments rollup_priority_status
    cube_flag_status events_tumbling_hourly events_sliding_halfhour
    events_sessionize doc_token_stats doc_quality lang_id_confusion
    doc_fingerprints exact_dedup_docs minhash_rows near_dup_minhash_lsh
    simhash_docs embedding_cosine_topk multimodal_features string_functions
    math_functions json_extract_props grouping_sets_sql deterministic_stats
    median_price_per_segment asof_join_purchase_view range_join_events_60s
    token_tfidf exact_distinct_users salted_skew_agg embedding_norms

    embedding_lsh_topk approx_distinct_users embedding_ivf_topk
    rerank_two_stage_ann profile_orders_approx embedding_pq_topk
    embedding_ivfpq_topk
    """.split()
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in _ORDER}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# The domain modules register their rows into _REGISTRY on import.
from udacity_capstone_data_engineering_spark.queries import (  # noqa: E402,F401
    behavioral,
    corpus,
    multimodal,
    relational,
    retrieval,
    streaming,
    tpch,
)
from udacity_capstone_data_engineering_spark.queries.relational import (  # noqa: E402,F401
    flagship_nation_order_stats,
)
