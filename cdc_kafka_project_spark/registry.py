"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 (plus the north-star
extensions) registers here as a named query:

* a callable ``(spark, sf_dir) -> DataFrame`` (the Spark implementation)
* optionally an ANSI-SQL oracle string for DuckDB (same tables as
  pre-registered views). Queries without an oracle are SKIPPED by the
  driver's hash gate (it records ``err: "no_oracle"`` — there is no
  rows-only fallback, per the round-5 verdict), so no-oracle names are
  reserved for genuinely non-SQL-expressible ops (MinHash banding,
  SimHash, LSH bucketing), each pinned by pytest bounds and/or an
  oracle-green exact twin, and they sort BEHIND every oracle-backed
  name in the gate order so they never burn a gate slot.

Parity rules (driver hash-compares values after sorting columns by
name):
* identical output column names on both sides (alias everything);
* no raw timestamp columns in outputs — format to string or cast to
  date (Spark session tz is pinned UTC to match DuckDB's naive ts);
* double aggregates go through exact DECIMAL sums (functions.dsum) and
  the oracle mirrors with CAST(SUM(CAST(x AS DECIMAL(25,2))) AS DOUBLE);
* DuckDB SUM(BIGINT) returns HUGEINT — oracles cast back to BIGINT.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_kafka_project_spark import cache

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and its DuckDB oracle) under ``name``.

    The REGISTERED callable is wrapped with the materialization
    lifecycle (``cache.begin_query``): invoking a different query —
    or the same name against a different sf_dir — through the registry
    releases the persisted AND localCheckpoint intermediates the
    previous query left behind, so a long-lived session serving many
    queries holds at most one query's blocks (the round-8 100x sweep
    OOMed a 16 GB driver heap on exactly this accumulation, and the
    checkpoint class additionally survives clearCache).
    The decorator returns the UNWRAPPED builder, so direct module
    imports (tests, composition inside other builders) see no
    lifecycle side effects.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # ownership keyed on (name, sf_dir): the scale-stress
            # big/base protocol runs one name against two datasets —
            # a name-only key would keep both datasets' blocks live
            cache.begin_query(name, sf_dir)
            return fn(spark, sf_dir)

        QUERIES[name] = run
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module (side effect: registration)."""
    from cdc_kafka_project_spark.queries import (  # noqa: F401
        cdc_surface,
        relational,
        relational_ext,
        scale_patterns,
        text_analysis,
        dedup,
        similarity,
        multimodal,
        pipeline,
        retrieval,
        temporal,
        stats_analytics,
        graph,
    )


# Driver-gate ordering. The per-round correctness gate checks queries in
# dict order and covers a bounded prefix (exactly 50 names in r5), so
# the registry orders the checked dict explicitly rather than relying on
# module import order.
# The window is machine-computed each round by
# tools/plan_gate_rotation.py from the CORRECTNESS_r*.json history
# (verify with --check); the full permutation below is its output.
# STANDING RULES: never-checked or changed-this-round names front the
# window; after that order by staleness (oldest driver row first);
# no-oracle names always sort after every oracle-backed name.
# Every name stays present regardless — this is a permutation, not a
# filter; names not listed here sort after the listed ones.
_GATE_PRIORITY: list[str] = [
    # -- ROUND-17 WINDOW (standing rotation; computed by
    #    tools/plan_gate_rotation.py --changed <the 15 names that
    #    reach an operator edited this round: the one banded candidate
    #    join (MinHash, SimHash, pHash, embedding LSH), the MinHash band
    #    hash / estimator / index sign-and-write, the shared word-shingle
    #    expression and the dedup queries' fixture and digest helpers>.
    #    They front the window because their operator internals changed.
    #    Then oracle-backed names by staleness (oldest newest-driver-
    #    row first, alphabetical within a round). --
    "dedup_minhash_lsh",  # changed-this-round (r12)
    "dedup_simhash_pairs",  # changed-this-round (r14)
    "media_phash_dup_pairs",  # changed-this-round (r15)
    "similarity_near_dup",  # changed-this-round (r15)
    "dedup_minhash_index_probe",  # changed-this-round (r16)
    "doc_decontaminate",  # changed-this-round (r12)
    "doc_contamination_hits",  # changed-this-round (r13)
    "curation_pipeline",  # changed-this-round (r16)
    "dedup_ngram_jaccard",  # changed-this-round (r14)
    "dedup_near_keep",  # changed-this-round (r15)
    "dedup_components",  # changed-this-round (r15)
    "doc_ngram_novelty",  # changed-this-round (r14)
    "vocab_growth_curve",  # changed-this-round (r16)
    "doc_boilerplate_fraction",  # changed-this-round (r14)
    "dedup_levenshtein_verify",  # changed-this-round (r14)
    "dedup_incremental_new_docs",  # r12
    "denormalized_order_lines",  # r12
    "doc_bigram_logprob",  # r12
    "doc_fingerprint_xx",  # r12
    "doc_span_dedup",  # r12
    "doc_stratified_split",  # r12
    "embedding_binary_quantize",  # r12
    "embedding_matryoshka_fidelity",  # r12
    "event_props_variant",  # r12
    "event_value_drift_kl",  # r12
    "feature_label_index",  # r12
    "feature_quantile_buckets",  # r12
    "fk_integrity_audit",  # r12
    "gapfill_daily_revenue",  # r12
    "hard_negative_mining",  # r12
    "interval_incident_event_stats",  # r12
    "interval_incident_overlap_pairs",  # r12
    "lang_source_pmi",  # r12
    "q12_priority_case_agg",  # r12
    "q14_promo_share",  # r12
    "q15_top_suppliers",  # r12
    "q16_supplier_variety",  # r12
    "q17_small_qty_avg",  # r12
    "q1_pricing_summary",  # r12
    "q2_min_price_per_type",  # r12
    "q3_shipping_priority",  # r12
    "q4_priority_exists",  # r12
    "q5_region_revenue",  # r12
    "q6_revenue_delta",  # r12
    "rolling_7d_user_spend",  # r12
    "session_window_native",  # r12
    "shard_assignment_by_bytes",  # r12
    "similarity_hamming_rerank",  # r12
    "split_leakage_audit",  # r12
    "unpivot_lineitem_measures",  # r12
    # -- BEHIND THE ROTATION, by staleness (oldest driver row
    #    first, alphabetical within a round); no-oracle names
    #    sort after every oracle-backed name (pinned rule 3). --
    "winsorized_price_stats",  # r12
    "asof_join_next_purchase",  # r13
    "asof_join_purchases",  # r13
    "column_profile",  # r13
    "corr_lineitem_measures",  # r13
    "dedup_exact_groups",  # r13
    "dedup_exact_keep",  # r13
    "dedup_keep_longest",  # r13
    "distinct_counts",  # r13
    "event_props_extract",  # r13
    "event_props_typed",  # r13
    "exact_moments",  # r13
    "grouped_floor_sum",  # r13
    "in_list_filter",  # r13
    "latest_event_per_user",  # r13
    "outer_join_nation_counts",  # r13
    "percentile_prices",  # r13
    "pivot_qty",  # r13
    "q10_returned_revenue",  # r13
    "q11_part_value_share",  # r13
    "q13_customer_distribution",  # r13
    "q18_large_orders",  # r13
    "q19_disjunctive_pred",  # r13
    "q20_volume_suppliers",  # r13
    "q22_idle_rich_customers",  # r13
    "q7_nation_volume",  # r13
    "q8_market_share",  # r13
    "q9_product_profit",  # r13
    "rollup_agg",  # r13
    "salted_event_type_totals",  # r13
    "scalar_exprs",  # r13
    "semi_join_big_spenders",  # r13
    "set_except_keys",  # r13
    "set_intersect_keys",  # r13
    "set_union_active_keys",  # r13
    "similarity_ann_pq",  # r13
    "similarity_topk",  # r13
    "string_funcs",  # r13
    "token_frequency_top100",  # r13
    "topk_orders",  # r13
    "tumbling_hourly_agg",  # r13
    "window_running_sum",  # r13
    "window_topn_per_group",  # r13
    "word_bigrams_top100",  # r13
    "benford_price_audit",  # r14
    "bloom_semi_join_revenue",  # r14
    "brand_copurchase_lift",  # r14
    "cdc_debezium_roundtrip",  # r14
    "customer_rfm_quantile_scores",  # r14
    "customer_rfm_segments",  # r14
    "daily_revenue_acf",  # r14
    "dedup_normalized_groups",  # r14
    "dedup_simhash",  # r14
    "doc_chunks",  # r14
    "doc_fingerprint_md5",  # r14
    "doc_host_stats",  # r14
    "doc_pack_assignments",  # r14
    "doc_pii_redact",  # r14
    "doc_quality_filter",  # r14
    "doc_readability",  # r14
    "doc_repetition_stats",  # r14
    "doc_sliding_chunks",  # r14
    "doc_source_quality_gate",  # r14
    "doc_split_assign",  # r14
    "doc_uniform_sample",  # r14
    "doc_unigram_logprob",  # r14
    "doc_url_canonical",  # r14
    "doc_winnow_fingerprints",  # r14
    "embedding_label_centroids",  # r14
    "embedding_norms",  # r14
    "embedding_pca_project",  # r14
    "event_value_anomalies",  # r14
    "group_minmax_norm",  # r14
    "heavy_hitter_tokens",  # r14
    "media_audio_features",  # r14
    "media_catalog",  # r14
    "media_decode_features",  # r14
    "media_frame_sample",  # r14
    "media_resize",  # r14
    "similarity_pairs_above",  # r14
    "skewed_salted_segment_revenue",  # r14
    "asof_last_purchase",  # r15
    "bm25_topk",  # r15
    "cdc_incremental_scan",  # r15
    "cdc_json_decode",  # r15
    "cdc_json_encode",  # r15
    "cdc_latest_state",  # r15
    "cdc_merge_upsert",  # r15
    "cdc_replica",  # r15
    "cdc_running_totals",  # r15
    "cdc_snapshot_diff",  # r15
    "embedding_label_outliers",  # r15
    "embedding_quantize_int8",  # r15
    "event_top_paths",  # r15
    "event_transition_matrix",  # r15
    "event_value_mad_outliers",  # r15
    "forecast_backtest_snaive",  # r15
    "gapfill_linear_interp",  # r15
    "histogram_prices",  # r15
    "hopping_event_counts",  # r15
    "join_size_estimate",  # r15
    "key_skew_report",  # r15
    "lang_id",  # r15
    "langid_confusion",  # r15
    "lateral_topk_per_customer",  # r15
    "null_semantics_probe",  # r15
    "order_priority_chi2",  # r15
    "pagerank_brand_copurchase",  # r15
    "part_pareto_frontier",  # r15
    "recursive_brand_reachability",  # r15
    "salted_join_segment_revenue",  # r15
    "session_stats",  # r15
    "sessionize",  # r15
    "sketch_distinct_users",  # r15
    "sketch_percentiles",  # r15
    "source_quota_sample",  # r15
    "source_weighted_sample",  # r15
    "text_stats",  # r15
    "token_count_regex",  # r15
    "user_spend_ewma",  # r15
    "weekly_retention_cohorts",  # r15
    "weekly_revenue_wow",  # r15
    "anti_join_no_big_orders",  # r16
    "asof_join_cogrouped",  # r16
    "bpe_merge_ranks",  # r16
    "cdc_incremental_agg",  # r16
    "cdc_scd2_history",  # r16
    "cdc_time_travel",  # r16
    "cdc_validate_dlq",  # r16
    "cdc_validate_valid",  # r16
    "cohort_ltv_curve",  # r16
    "conditional_aggs",  # r16
    "conversion_curve",  # r16
    "corpus_source_report",  # r16
    "cube_agg",  # r16
    "curation_funnel_report",  # r16
    "date_exprs",  # r16
    "doc_bpe_token_counts",  # r16
    "doc_nb_quality_score",  # r16
    "embedding_index_pipeline",  # r16
    "event_value_psi_drift",  # r16
    "funnel_view_click_purchase",  # r16
    "grouping_sets_sql",  # r16
    "ivm_join_delta_revenue",  # r16
    "lang_temperature_sample",  # r16
    "price_qty_regression",  # r16
    "purchase_click_attribution",  # r16
    "purchase_rate_wilson_ci",  # r16
    "q21_waiting_suppliers",  # r16
    "range_join_price_bands",  # r16
    "revenue_gini_by_segment",  # r16
    "revenue_seasonality_decomp",  # r16
    "rolling_median_revenue",  # r16
    "semantic_decontaminate",  # r16
    "similarity_ann_ivf",  # r16
    "similarity_ann_lsh",  # r16
    "similarity_ann_recall",  # r16
    "similarity_semdedup_keep",  # r16
    "sketch_incremental_distinct",  # r16
    "sketch_user_overlap",  # r16
    "source_distinctive_terms",  # r16
    "source_token_quota_sample",  # r16
    "supplier_hhi_by_nation",  # r16
    "text_index_topk",  # r16
    "text_tfidf_top_terms",  # r16
    "theilsen_revenue_slope",  # r16
    "user_growth_accounting",  # r16
    "weekend_effect_ttest",  # r16
    "zipf_slope",  # r16
]




def _gate_order(names: list[str]) -> list[str]:
    rank = {n: i for i, n in enumerate(_GATE_PRIORITY)}
    listed = [n for n in _GATE_PRIORITY if n in set(names)]
    rest = [n for n in names if n not in rank]
    return listed + rest


def all_queries() -> dict[str, QueryFn]:
    load_all()
    missing = [n for n in _GATE_PRIORITY if n not in QUERIES]
    if missing:
        # explicit raise, not assert: the guard must survive python -O
        raise RuntimeError(
            f"_GATE_PRIORITY names queries that are not registered: {missing}"
            " — the priority list must stay an accurate record of the gate"
        )
    return {n: QUERIES[n] for n in _gate_order(list(QUERIES))}


def all_oracles() -> dict[str, str]:
    load_all()
    return {n: ORACLES[n] for n in _gate_order(list(ORACLES))}
