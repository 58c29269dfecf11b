"""Registry-wide output-schema gate (FIXTURES.md representation rules).

Two classes of cross-engine representational flake are banned at the
schema level, so they fail pytest before a red CORRECTNESS row can ship:

1. **No DecimalType output column, ever.** DuckDB returns wide decimals
   to pandas as float64, so a Spark Decimal output can be numerically
   identical yet hash-differently on trailing-zero scale
   (`Decimal('130760481.20')` vs `130760481.2` — the exact r6
   `nation_revenue_share` failure). Exact wide aggregates cross engines
   as TEXT (`CAST(... AS VARCHAR)` both sides) or integer cents.

2. **Every double/float output column is individually reviewed.** A
   double is hash-safe only in the FIXTURES-sanctioned forms:
   raw passthrough of a stored double, an identical sequential fold on
   both engines, an unrounded division/arithmetic of exact (integer or
   already-pinned) operands, or a micro-quantized transcendental. The
   allowlist below is the review record — adding a new double column
   requires adding it here with its sanctioned form, which is the
   moment to check the form actually applies.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

# (query, column) pairs allowed to be DoubleType/FloatType, grouped by
# the FIXTURES.md form that makes each hash-safe. Keep sorted within
# each group.
_ALLOWED_DOUBLE = {
    # -- raw passthrough of a stored double column (events.value,
    #    *_price/acctbal columns land as float64 in the parquet) -------
    ("cheapest_supplier_per_part", "s_acctbal"),
    ("downsample_ltob", "value"),
    ("regional_cheapest_supplier", "s_acctbal"),
    ("window_value_extrema", "first_v"),
    ("window_value_extrema", "last_v"),
    ("window_value_extrema", "third_v"),
    ("ewma_user_value", "value"),
    ("key_lookup", "value"),
    ("large_order_customers", "o_totalprice"),
    ("latest_per_user", "value"),
    ("orders_above_avg", "o_totalprice"),
    ("percent_rank_value", "value"),
    ("sql_brand_above_avg", "p_retailprice"),
    ("time_range_scan", "value"),
    ("top_volume_orders", "o_totalprice"),
    ("ttl_filter", "value"),
    ("value_outliers_by_type", "value"),
    # -- identical sequential fold on both engines (sorted-order
    #    F.aggregate <-> list_reduce), or min/max/first/last of raw
    #    doubles (order-insensitive picks, no summation) ---------------
    ("daily_event_stats", "total_value"),
    # Holt: identical sequential fold (sorted HOF fold <-> recursive
    # CTE, same op tree inlined on both engines); value is passthrough
    ("holt_daily_smoothing", "value"),
    ("holt_daily_smoothing", "level"),
    ("holt_daily_smoothing", "trend"),
    ("embedding_dim_stats", "sum_val"),
    ("ewma_user_value", "ewma"),
    ("gap_fill_interp", "avg_value_interp"),
    ("gap_fill_locf", "avg_value_locf"),
    ("moving_value_sum", "moving_sum"),
    ("ohlc_daily_rollup", "close_v"),
    ("ohlc_daily_rollup", "high_v"),
    ("ohlc_daily_rollup", "low_v"),
    ("ohlc_daily_rollup", "open_v"),
    ("ohlc_hourly", "close_v"),
    ("ohlc_hourly", "high_v"),
    ("ohlc_hourly", "low_v"),
    ("ohlc_hourly", "open_v"),
    ("profile_columns", "max_val"),
    ("profile_columns", "min_val"),
    ("range_frame_hour_sum", "hour_sum"),
    ("rank_lead_purchases", "next_val"),
    ("stats_per_type", "total_value"),
    ("udaf_median_value", "median_value"),
    # -- unrounded arithmetic of EXACT operands (int/int division,
    #    decimal-sum operands, already-quantized micro-unit inputs) ----
    ("ann_recall_at_10", "recall_at_10"),
    # exact pair-count divisions with zero-count NULL guards
    ("minhash_lsh_recall", "lsh_recall"),
    ("minhash_lsh_recall", "lsh_precision"),
    ("counter_rate", "increase"),
    ("counter_rate", "rate_per_s"),
    ("doc_quality", "stop_ratio"),
    ("doc_repetition", "dup_2gram_ratio"),
    ("doc_repetition", "top_token_ratio"),
    ("doc_token_stats", "avg_tokens"),
    # one unrounded division of exact integer totals (< 2^53)
    ("bpe_lang_fertility", "fertility"),
    ("embedding_quant_int8", "qscale"),
    ("json_value_by_type", "avg_k"),
    ("moment_stats_by_type", "mean_value"),
    ("moment_stats_by_type", "stddev_value"),
    ("moment_stats_by_type", "var_value"),
    ("minhash_md5_pairs", "jaccard"),
    ("nation_revenue_share", "revenue_share"),
    ("percent_rank_value", "cume"),
    ("percent_rank_value", "pct_rank"),
    ("promo_revenue_ratio", "promo_pct"),
    ("source_mix_weights", "actual_frac"),
    ("source_mix_weights", "mix_weight"),
    ("value_histogram", "hi"),
    ("value_histogram", "lo"),
    ("value_histogram_by_type", "bucket_lo"),
    ("value_ntiles", "cume"),
    ("value_ntiles", "pct_rank"),
    ("value_trend_by_type", "intercept_uv"),
    ("value_trend_by_type", "slope_uv_per_s"),
    ("seasonal_outlier_counts", "hi_fence"),
    ("seasonal_outlier_counts", "lo_fence"),
    ("value_outliers_by_type", "zscore"),
    # -- decimal-exact sums emitted as double where every addend has
    #    <=2 fractional digits and the sum stays under 2^53 cents at
    #    test SFs; pinned green since r1-r4 (pre-date the TEXT rule;
    #    migrate to TEXT if one ever flakes) ---------------------------
    ("grouping_sets_revenue", "sum_qty"),
    ("large_order_customers", "total_qty"),
    ("monthly_order_revenue", "revenue"),
    ("monthly_revenue_salted", "revenue"),
    ("nation_pair_trade", "revenue"),
    # mkt_share: ONE unrounded division of two decimal-exact sums cast
    # to double (FIXTURES exact-operand-division form)
    ("nation_market_share", "mkt_share"),
    # mix_share: unrounded division of two exact integers (micro-
    # quantized pow terms summed as BIGINT before the divide)
    ("source_mix_temperature", "mix_share"),
    # OLS slope over micro-quantized ln terms: exact integer/decimal
    # moments, one unrounded closed-form division (value_trend pattern)
    ("token_zipf_slope", "zipf_slope"),
    # Pearson r from exact integer moments; sqrt is IEEE-754
    # correctly-rounded, so deterministic like division
    ("quality_signal_corr", "pearson_r"),
    # Pearson r from exact decimal(38,0)/HUGEINT moments string-routed
    # to double (correctly-rounded parse on both engines; direct
    # wide-int casts diverge 1 ulp past 2^53)
    ("value_autocorr_daily", "acf"),
    # one unrounded division of a string-routed exact integer (sum of
    # count x quantized-PMI products) by the exact corpus total
    ("lang_source_mi", "mi_micro_nats"),
    # Pearson r from exact HUGEINT/decimal moments, string-routed
    # (value_autocorr_daily form)
    ("event_type_minute_corr", "corr_xy"),
    # exact decimal covariance, ranked on the INTEGER then
    # string-routed to double for output only
    ("embedding_dim_cov_topk", "cov_scaled"),
    ("pricing_summary", "avg_qty"),
    ("pricing_summary", "sum_base_price"),
    ("pricing_summary", "sum_disc_price"),
    ("pricing_summary", "sum_qty"),
    ("returned_customer_revenue", "revenue"),
    ("revenue_by_region", "revenue"),
    ("rollup_pricing", "sum_qty"),
    ("shipping_priority_top10", "revenue"),
    ("unpivot_part_metrics", "val"),
    # -- micro-quantized transcendental / documented ulp-bounded -------
    ("part_feature_scalars", "price_ln"),
    ("part_feature_scalars", "price_sqrt"),
    ("tfidf_top_terms", "score"),
    # 6dp-rounded int/int quotient; boundary-safe in practice, green
    # since r4 — migrate to unrounded if it ever flakes
    ("ngram_jaccard_pairs", "jaccard"),
    # same form: 6dp-rounded quotients of the exact bigint (common,
    # n_sh) pair — sf0.01 AND sf0.1 hash-green at introduction (r16)
    ("ngram_containment_pairs", "cont_a_in_b"),
    ("ngram_containment_pairs", "cont_b_in_a"),
    # -- embedding math: identical sequential fold over array elements
    #    (F.aggregate in index order <-> list_reduce) -------------------
    ("embedding_array_ops", "first_dim"),
    ("embedding_array_ops", "l2_norm"),
    ("embedding_array_ops", "last_dim"),
    ("embedding_array_ops", "mean_dim"),
    ("embedding_centroids", "avg_v"),
    ("embedding_near_pairs", "cosine"),
    ("ivf_topk_cosine", "sim"),
    ("topk_cosine", "sim"),
    # sequential-fold cosine over the kmeans-cell-restricted candidate
    # set (ivf_topk_cosine form)
    ("ivf_kmeans_topk", "sim"),
    # 6dp-rounded sequential-fold squared distance (the tie-break key
    # is the ROUNDED value on both engines, so knife-edges cannot
    # reorder the argmin)
    ("kmeans_lloyd_assign", "dist"),
    # -- no-oracle queries (pytest-pinned, never driver-hashed) --------
    ("approx_value_percentiles", "p50"),
    ("approx_value_percentiles", "p90"),
    ("approx_value_percentiles", "p99"),
    ("minhash_dedup_pairs", "jaccard"),
    ("value_percentiles", "p50"),
    ("value_percentiles", "p90"),
    ("value_percentiles", "p99"),
    # -- r10 session additions ------------------------------------------
    # one double division of exact integer sums (order-insensitive,
    # unrounded — the integer-ratio class)
    ("cdc_chunk_dedup", "dedup_save_ratio"),
    ("cdc_incremental_ingest", "store_savings_ratio"),
    ("label_balance_plan", "share"),
    ("label_balance_plan", "inv_freq_weight"),
    # 6dp-rounded sequential-fold cosines (topk_cosine form); margin is
    # the raw difference of the two rounded sims — identical binary
    # doubles on both engines, no further rounding
    ("hard_negative_mining", "pos_sim"),
    ("hard_negative_mining", "neg_sim"),
    ("hard_negative_mining", "margin"),
    # identical sequential folds (diff-then-project) with one final
    # multiply+divide on identical doubles; unrounded by design
    ("jl_distance_preservation", "d2_orig"),
    ("jl_distance_preservation", "d2_proj"),
    ("jl_distance_preservation", "distortion"),
    # ln(md5-uniform)/weight, 6dp-rounded BEFORE ranking — the
    # documented ulp-bounded transcendental class (price_ln precedent)
    ("weighted_reservoir_sample", "wrs_key"),
    # one double division of exact integer sums (integer-ratio class)
    ("packing_efficiency", "fill_ratio"),
    ("corpus_datacard", "avg_tokens"),
    ("corpus_datacard", "stop_ratio"),
    # p=0.5 interpolated medians of exact integers: (a+b)/2 halving is
    # exact in float64, so percentile <-> quantile_cont agree bit-for-
    # bit REGARDLESS of interpolation-formula order (0.5 only!)
    ("mad_outliers_by_type", "med_micro"),
    ("mad_outliers_by_type", "mad_micro"),
    # exact HUGEINT/decimal moments, one string-routed double cast per
    # operand, identical sqrt/divide tree (B = (rt-S)/(rt+S))
    ("event_burstiness", "mean_gap_us"),
    ("event_burstiness", "burstiness"),
    # one double division of the exact BIGINT micro-nat sum by the
    # exact token total (integer-ratio class; terms quantized before
    # the sum like the LM family)
    ("source_unigram_kl", "kl_nats"),
    # share: one division of exact BIGINTs; benford_p: Python-computed
    # literal injected identically into both engines; excess: one
    # subtraction of those two identical operands
    ("benford_first_digit", "share"),
    ("benford_first_digit", "benford_p"),
    ("benford_first_digit", "excess"),
    # -- r17 additions --------------------------------------------------
    # one double division of two exact per-doc BIGINT counts
    # (integer-ratio class, unrounded by design)
    ("doc_novelty_ratio", "novelty"),
}


def _walk(dt):
    yield dt
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _walk(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _walk(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _walk(dt.keyType)
        yield from _walk(dt.valueType)


@pytest.fixture(scope="module")
def registry_schemas(smoke_frame):
    """Every registered query's output schema, from the run's one shared
    build of the registry (conftest.smoke_frame)."""
    return [(name, smoke_frame(name).schema) for name in entrymod.queries()]


def test_no_decimal_output_columns(registry_schemas):
    offenders = [
        (name, f.name)
        for name, schema in registry_schemas
        for f in schema.fields
        if any(isinstance(k, T.DecimalType) for k in _walk(f.dataType))
    ]
    assert not offenders, (
        f"DecimalType output columns (emit as TEXT or integer cents per "
        f"FIXTURES.md): {offenders}"
    )


def test_double_outputs_are_reviewed(registry_schemas):
    seen = {
        (name, f.name)
        for name, schema in registry_schemas
        for f in schema.fields
        if any(
            isinstance(k, (T.DoubleType, T.FloatType))
            for k in _walk(f.dataType)
        )
    }
    unreviewed = seen - _ALLOWED_DOUBLE
    stale = _ALLOWED_DOUBLE - seen
    assert not unreviewed, (
        f"double output columns missing a FIXTURES-form review entry in "
        f"tests/test_schema_sweep.py: {sorted(unreviewed)}"
    )
    assert not stale, (
        f"allowlist entries no longer in the registry (prune): "
        f"{sorted(stale)}"
    )
