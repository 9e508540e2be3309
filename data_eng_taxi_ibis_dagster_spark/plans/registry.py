"""The portable-query registry.

The reference's signature property is one logical query rendered on
multiple engines with provably identical results (Ibis on DuckDB +
PySpark; ``/root/reference/taxi_pipeline.py:89-147``, README "run
identical analytics on both backends"). This registry rebuilds that
property Spark-first: every query is a :class:`QuerySpec` pairing

* ``builder`` — the PySpark DataFrame plan, ``(spark, sf_dir) → DataFrame``
* ``oracle``  — the equivalent ANSI SQL executed by DuckDB over the same
  parquet (None for non-SQL-expressible ops → rows-only check)

Column names are part of the contract: every computed column is aliased
identically in both renderings (the harness sorts columns by name before
hashing values).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    bench: bool = False
    doc: str = field(default="")


def query(name: str, *, oracle: str | None = None,
          tags: tuple[str, ...] = (), bench: bool = False) -> Callable[[Builder], Builder]:
    """Register a named query. Use as a decorator on the builder."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tuple(tags),
            bench=bench, doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def _load_all() -> None:
    # Import side-effect-registers every query module exactly once.
    from data_eng_taxi_ibis_dagster_spark.plans import (  # noqa: F401
        audits,
        analytics,
        relational,
        llm,
        streaming_batch,
        llm2,
        advanced,
        aggregates,
        scalars,
        scalars2,
        llm3,
        llm4,
        llm5,
        llm6,
        llm7,
        llm8,
        llm9,
        llm10,
        llm11,
        llm12,
        semantics,
        tpch,
        windows2,
        # Registration order no longer gates the driver window:
        # ``_ordered_names`` leads with never-driver-verified queries
        # (strict-oracled first), so newly added modules can register
        # anywhere.  Keep new modules appended here for readability.
        llm13,
        llm14,
        runtime_filters,
        llm15,
        analytics2,
        maintenance,
        stats,
        llm16,
        llm17,
        llm18,
        llm19,
        llm20,
        llm21,
    )


# External-verification ledger: query name -> most recent round whose
# CORRECTNESS_r{N}.json holds a clean row for it (err None for strict
# hash rows, 'no_oracle' for rows-only-by-design rows).  The registry's
# public iteration order spends the driver's fixed 50-slot window where
# it buys the most evidence: the flagship anchor first, then queries
# with NO external row yet (strict-oracled before rows-only), then the
# verified block ordered OLDEST ROUND FIRST so long-unchecked queries
# are re-confirmed before recently-checked ones.  Regenerate with
# ``python scripts/regen_driver_verified.py`` after each driver round.
# Regeneration watermark: the highest driver round folded into
# ``_DRIVER_VERIFIED`` below.  The rotation tripwire
# (tests/test_registry_rotation.py) ignores CORRECTNESS files NEWER
# than this round -- the driver writes CORRECTNESS_r{N+1}.json after
# the final commit of round N+1, so a judged tree can never list it;
# any discrepancy AT or BELOW the watermark still fails hard.
_DRIVER_VERIFIED_AS_OF = 13
_DRIVER_VERIFIED = {
    "abc_pareto_customers": 11,
    "abtest_two_proportion": 11,
    "agg_argminmax_median_bits": 13,
    "agg_bitwise_flags": 9,
    "agg_conditional_bool": 13,
    "agg_exact_linear_stats": 13,
    "agg_salted_hot_key": 13,
    "agg_string_concat_sorted": 13,
    "anomaly_mad_outliers": 10,
    "apply_in_arrow_group_stats": 11,
    "apply_in_pandas_zscore": 13,
    "approx_aggregates": 13,
    "approx_exact_regime_audit": 10,
    "arrow_python_udf": 13,
    "audio_twin_audit": 10,
    "basket_brand_pairs": 8,
    "bpe_encode_audit": 13,
    "bpe_encode_corpus": 11,
    "bpe_learn_merges": 11,
    "bpe_merge_audit": 13,
    "brand_quantity_revenue": 8,
    "chi2_type_by_hour": 10,
    "cluster_balanced_sample": 11,
    "cms_heavy_hitter_estimate": 9,
    "cms_incremental_heavy_hitters": 10,
    "collect_sorted_list": 10,
    "constraint_check": 8,
    "contrastive_pair_mining": 10,
    "cooccurrence_edges_audit": 10,
    "correlated_scalar_subquery": 9,
    "count_lineitem": 13,
    "cube_sales": 10,
    "cum_revenue_by_orderdate": 13,
    "curation_best_rep": 13,
    "curation_funnel": 10,
    "curation_pairs": 13,
    "curation_stack": 13,
    "customer_order_distribution": 13,
    "data_mixture_resample": 13,
    "decontaminate_ngram": 9,
    "dedup_allpairs_prefix": 13,
    "dedup_cdc_chunks": 10,
    "dedup_cluster_audit": 9,
    "dedup_cluster_pick": 13,
    "dedup_containment": 11,
    "dedup_edit_distance": 9,
    "dedup_embedding_cosine": 13,
    "dedup_exact": 13,
    "dedup_incremental": 9,
    "dedup_incremental_batch": 13,
    "dedup_incremental_persisted": 13,
    "dedup_minhash_audit": 13,
    "dedup_minhash_lsh": 13,
    "dedup_ngram_jaccard": 9,
    "dedup_simhash": 13,
    "dedup_span_removal": 10,
    "dedup_span_windows": 10,
    "distinct_segments": 13,
    "domain_cap_sample": 11,
    "dsir_importance_topk": 11,
    "embedding_centroids": 10,
    "embedding_covariance": 10,
    "embedding_pca_project": 11,
    "embedding_quantize_int8": 13,
    "events_activity_streaks": 9,
    "events_asof_purchase_click": 8,
    "events_click_purchase_interval": 8,
    "events_dedup_ids": 8,
    "events_funnel_conversion": 9,
    "events_hourly_by_type": 8,
    "events_hourly_dense": 9,
    "events_locf_value": 10,
    "events_new_users_daily": 9,
    "events_retention_cohorts": 8,
    "events_sessionize": 8,
    "events_sliding_value": 8,
    "events_trailing_24h_spend": 11,
    "events_value_quantiles_hourly": 9,
    "exact_count_distinct": 8,
    "explode_tokens": 13,
    "fingerprint_winnowing": 10,
    "flagship_avg_price": 13,
    "flagship_sql_path": 8,
    "forecast_revenue": 10,
    "forecast_seasonal_naive": 11,
    "gini_customer_revenue": 11,
    "global_sales_opportunity": 10,
    "global_shuffle_order": 9,
    "graph_triangle_tokens": 10,
    "grouping_sets_sql": 13,
    "heavy_hitter_tokens": 9,
    "hierarchy_pointer_doubling": 10,
    "histogram_equidepth_price": 11,
    "histogram_price": 8,
    "important_part_volume": 8,
    "incremental_agg_merge": 11,
    "join_anti_customers_without_orders": 8,
    "join_band_acctbal": 8,
    "join_band_bucketized": 8,
    "join_bloom_prefilter": 10,
    "join_full_outer_nation_presence": 9,
    "join_left_order_counts": 8,
    "join_null_safe_priority": 9,
    "join_range_ship_lag": 8,
    "join_sales_by_region": 8,
    "join_salted_skew": 13,
    "join_semi_customers_with_orders": 8,
    "json_schema_parse": 13,
    "kmeans_estep_audit": 10,
    "kmeans_lloyd": 11,
    "kmeans_two_iter_audit": 10,
    "kmv_churned_users_daily": 10,
    "kmv_incremental_uniques": 10,
    "kmv_returning_users_daily": 10,
    "kmv_rollup_uniques": 10,
    "large_volume_customers": 8,
    "late_shipment_priority": 10,
    "lateral_topn_per_customer": 9,
    "lm_bigram_familiarity": 10,
    "local_supplier_volume": 13,
    "map_in_arrow_stats": 11,
    "markov_event_transitions": 11,
    "min_cost_supplier": 8,
    "mode_event_type_per_user": 9,
    "multimodal_audio_dedup": 11,
    "multimodal_decode_stats": 8,
    "multimodal_features": 8,
    "multimodal_phash_dedup": 11,
    "multimodal_video_frames": 11,
    "national_market_share": 8,
    "ngram_bigram_counts": 9,
    "ngram_novelty": 11,
    "null_semantics": 11,
    "order_priority_check": 13,
    "pack_sequences": 13,
    "pagerank_cooccurrence": 11,
    "pagerank_iter1_audit": 10,
    "pandas_udf_grouped": 13,
    "pandas_udf_scalar": 13,
    "parts_supplier_relationship": 8,
    "percentile_cont_price": 13,
    "percentile_disc_price": 13,
    "phash_twin_audit": 10,
    "pii_redact_digits": 9,
    "pivot_status_by_priority": 10,
    "pricing_summary": 10,
    "product_type_profit": 8,
    "profile_orders": 13,
    "promo_part_suppliers": 8,
    "promo_revenue_share": 13,
    "pysource_telemetry_rollup": 10,
    "quality_classifier_linear": 11,
    "quality_gopher_rules": 9,
    "quality_repetition": 9,
    "quantile_sketch_exact_audit": 8,
    "quantile_sketch_incremental": 9,
    "quantile_sketch_rollup": 8,
    "retrieval_bm25_topk": 11,
    "retrieval_stack_audit": 13,
    "retrieval_stack_topk": 13,
    "returned_items_top_customers": 13,
    "rfm_segmentation": 8,
    "rolling_7d_active_users": 11,
    "rollup_sales": 10,
    "running_peak_price_by_orderdate": 8,
    "scalar_array_funcs": 9,
    "scalar_date_funcs": 9,
    "scalar_hash_encode": 9,
    "scalar_json": 9,
    "scalar_map_funcs": 9,
    "scalar_math_case": 10,
    "scalar_regexp": 7,
    "scalar_string_funcs": 7,
    "scalar_struct_explode": 10,
    "scalar_subquery_fraction": 7,
    "scalar_try_funcs": 10,
    "scan_filter_project": 8,
    "scd2_user_value": 10,
    "semdedup_audit": 11,
    "semdedup_prune": 11,
    "setop_except": 8,
    "setop_intersect": 8,
    "setop_union_all_keys": 8,
    "share_of_priority_by_status": 10,
    "shipping_priority": 7,
    "simhash_twin_audit": 11,
    "similarity_ann_audit": 9,
    "similarity_ann_srp": 9,
    "similarity_cosine_topk": 13,
    "similarity_ivf": 9,
    "similarity_ivf_audit": 11,
    "similarity_ivfpq_audit": 7,
    "similarity_ivfpq_topk": 11,
    "similarity_matryoshka_topk": 11,
    "similarity_maxsim_topk": 11,
    "similarity_pq_audit": 7,
    "similarity_pq_topk": 11,
    "sketch_rollup_uniques": 9,
    "skyline_pareto_parts": 8,
    "small_quantity_revenue": 8,
    "stats_aggregates": 10,
    "stratified_sample_label": 7,
    "subquery_cte_having": 7,
    "systematic_sample": 11,
    "table_diff_orders": 13,
    "text_html_strip": 11,
    "text_lang_id": 9,
    "text_quality": 9,
    "text_shingle_fingerprint": 9,
    "text_stats": 9,
    "textrank_keywords": 13,
    "tfidf_top_term": 8,
    "top_supplier": 8,
    "topk_orders": 9,
    "topk_per_group": 9,
    "train_test_split": 10,
    "udtf_chunk_documents": 7,
    "unpivot_order_measures": 9,
    "url_parse_stats": 11,
    "variant_props_stats": 10,
    "video_frames_audit": 11,
    "volume_shipping": 8,
    "waiting_supplier_check": 8,
    "weighted_median_price": 13,
    "weighted_sample_aes": 10,
    "window_distribution_funcs": 7,
    "window_rank_lag": 9,
    "window_running_total": 9,
    "zipf_vocab_profile": 13,
}

# Queries whose plan was REWRITTEN after their last driver row: the
# external evidence verified the old plan, so they rotate back to the
# front of the window (treated as never-verified) until a fresh
# CORRECTNESS row lands.  Add names here in the same commit that
# rewrites a builder; remove them once regen picks up the new round.
_EVICTED: frozenset[str] = frozenset({
    # (r12: all 8 r11 evictions -- the deterministic-recall plan
    # rewrites (prefix-filter union) and the two LSH production
    # queries on the shared-exchange plan -- got fresh green r11
    # rows; cleared by the round-12 regen.)
    # r12: the exact-recall stack is now built in ONE scan
    # (operators/dedup._fused_band_prefix_stack -- band rows and
    # prefix rows from a single shingle projection + one explode,
    # replacing the two-scan union and the signature id-exchange),
    # and EVERY near-dup verify stage's AQE-exempt candidate spread
    # moved from single-key doc_a to the pair hash
    # xxhash64(doc_a, doc_b) (round-12 advisor: a hot document's
    # fan-out no longer funnels through one task).  Results are
    # bit-identical (fused-stack equivalence pinned in test_dedup),
    # but the PLANS changed for everything riding
    # minhash_near_dup_pairs / allpairs_near_dup_pairs /
    # incremental_near_dup_pairs / lsh_band_index(exact_recall=True).
    "dedup_minhash_audit",
    "dedup_allpairs_prefix",
    "curation_pairs",
    "curation_stack",
    "curation_best_rep",
    "dedup_incremental_batch",
    "dedup_incremental_persisted",
    "dedup_minhash_lsh",
    "dedup_cluster_pick",
    # r12 adversarial-sweep root fixes whose SEMANTIC DOMAIN changed
    # (new behavior on inputs that previously crashed or diverged —
    # values at the gate fixtures are unchanged, but the contract
    # grew, so fresh external rows are warranted):
    # - cosine totality (zero-norm → 0.0) through the one shared
    #   operator expression; representative strict surfaces evicted
    "similarity_cosine_topk",
    "dedup_embedding_cosine",
    # - int8 quantization: zero-scale guard + signed-zero scale_abs
    "embedding_quantize_int8",
    # - BPE: the empty word segments to [EOW] (phantom "" symbol
    #   removed from train AND apply on both engines)
    "bpe_merge_audit",
    "bpe_encode_audit",
    # - JSON typed extraction widened INT→BIGINT (schema change)
    "json_schema_parse",
    # - unknown mixture source keeps frac 1.0 (try_cast default)
    "data_mixture_resample",
    # - qy² multiplies in DECIMAL(19,0), syy string-mediated
    "agg_exact_linear_stats",
    # - dsum/sql_dsum re-based on FLOOR quantization after the
    #   double→DECIMAL cast divergence (Spark rounds the exact binary
    #   expansion, DuckDB the shortest repr); the one benched query
    #   whose oracle hand-wrote the product cast is re-verified here,
    #   the other 21 dsum riders are bit-identical at sf0.01 by the
    #   recorded snapshot diff (the _plane_array precedent: values
    #   unchanged, only the internal form moved)
    "join_salted_skew",
})



def _ordered_names() -> list[str]:
    # Fresh block (no external row yet, or plan rewritten since the
    # last one): strictly-oracled queries lead — a driver row for them
    # is a hash-verified external check, while a rows-only query yields
    # only a row-count record.  Verified block: oldest round first, so
    # every query's external evidence is bounded-stale.
    def fresh_key(n: str) -> tuple:
        return (_REGISTRY[n].oracle is None,)

    fresh = [n for n in _REGISTRY
             if n not in _DRIVER_VERIFIED or n in _EVICTED]
    fresh.sort(key=fresh_key)  # stable: keeps registration order within tier
    stale = [n for n in _REGISTRY
             if n in _DRIVER_VERIFIED and n not in _EVICTED
             and n != "flagship_avg_price"]
    stale.sort(key=lambda n: (_DRIVER_VERIFIED[n], n))
    anchor = ["flagship_avg_price"] if "flagship_avg_price" in _REGISTRY else []
    return anchor + fresh + stale


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return {name: _REGISTRY[name] for name in _ordered_names()}


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


def queries() -> dict[str, Builder]:
    """Driver contract: name → (spark, sf_dir) → DataFrame."""
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """Driver contract: name → ANSI SQL (only oracle-able queries)."""
    return {name: spec.oracle for name, spec in all_specs().items()
            if spec.oracle is not None}
