"""Driver-checkable query registry (SURVEY.md §2 Oracle column).

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame`` with
an equivalent DuckDB SQL string, compared by the driver at sf0.01 via
row-count + schema + order-insensitive value hash.

Float-safety contract (applies to every pair in this package): cross-engine
float aggregation is never compared directly. Quantities with finite decimal
granularity (fixture doubles all carry 2 decimals) are scaled to exact
integers (cents) and summed as BIGINT — bit-exact in any engine at any
parallelism — and any derived float is produced by a *pinned* sequence of
IEEE-754 double ops on those exact integers, written identically on both
sides, so even the doubles match bitwise. Timestamps are emitted as epoch
microseconds (BIGINT) to dodge timezone/representation drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import archive, detect, events, relational, rolling, shape, signal, text, vector

_MODULES = (archive, detect, events, relational, rolling, shape, signal, text, vector)

# Registry order = driver execution order, and the driver truncates its
# correctness sweep at 50 queries while the registry holds 81 — so order IS
# the attestation rotation.  Policy: least-recently-driver-attested first.
#
# Round-6 state: the round-5 artifact (CORRECTNESS_r05.json) green-rowed the
# first 50 queries of the round-5 order: q80/q81, the signal tail, shape,
# detect, rolling and q01–q19.  The 31 queries whose latest green row is
# round 4's (CORRECTNESS_r04.json) — q20–q47, q50, q58 and q59 — go FIRST;
# positions 32–50 re-attest the first 19 of the round-5 order (q80, q81,
# the signal tail and q64–q67); the other 31 round-5 greens sit past the
# window.  After a full r6 sweep every registry query has a driver-green
# row in r5 ∪ r6.  (Window math: 31 round-4-only + 19 refresh = 50.)
_ORDER = (
    # -- last driver-green in CORRECTNESS_r04, absent from r05 -------------
    "q20_token_stats",
    "q21_exact_dedup",
    "q22_lang_id",
    "q23_quality",
    "q24_prefix_fingerprint",
    "q25_ngram_jaccard_pairs",
    "q26_ann_cosine_topk",
    "q27_label_centroids",
    "q28_minhash_lsh_pairs",
    "q29_simhash_docs",
    "q30_embedding_near_dup",
    "q31_ann_lsh_topk",
    "q34_embedding_lsh_pairs",
    "q36_ann_ivf_topk",
    "q37_embedding_lsh_pairs_tuned",
    "q35_tier_ops_metrics",
    "q38_gapfill_linear_1h",
    "q39_downsample_ohlc_1h",
    "q40_counter_increase_1h",
    "q41_gap_percentiles",
    "q42_value_histogram_1d",
    "q50_gapfill_locf_1h",
    "q32_intersect_users",
    "q33_approx_distinct",
    "q58_asof_join_purchases",
    "q59_features_wide_1h",
    "q43_time_weighted_avg_1h",
    "q44_autocorr_lag1",
    "q45_spectral_bins_1h",
    "q46_zscore_anomalies",
    "q47_spectral_full",
    # -- green in CORRECTNESS_r05, re-attested at positions 32–50 ----------
    "q80_rolling_wide_matrix_24h",
    "q81_archive_roundtrip_1h",
    "q48_cross_channel_corr_1d",
    "q49_trend_slope_1h",
    "q51_moments_1d",
    "q52_value_median_iqr_1h",
    "q53_waveform_length_1h",
    "q54_mad_per_conv",
    "q55_ewma_value",
    "q56_live_coverage_1h",
    "q57_lttb_downsample",
    "q60_percentile_sketch_1h",
    "q61_interpolated_twa_1h",
    "q62_hjorth_1d",
    "q63_ssc_wamp_1h",
    "q64_temporal_moments_1d",
    "q65_histogram_diversity_1h",
    "q66_ar2_yule_walker",
    "q67_amplitude_factors_1h",
    # -- past the 50-query window: all green in CORRECTNESS_r05 ------------
    "q68_burst_runs",
    "q69_dominant_acf_lag",
    "q70_paa_sax_1d",
    "q71_ordinal_patterns_1d",
    "q72_sample_entropy_1d",
    "q73_mean_crossing_rate_1h",
    "q74_sma_1h",
    "q75_peak_census_1h",
    "q76_tkeo_dasdv_1d",
    "q77_cusum_changepoint",
    "q79_crosscorr_value_gap",
    "q78_rolling_features_24h",
    "q01_tier_features_1h",
    "q02_zero_crossings_1d",
    "q03_inter_event_latency",
    "q04_turn_rate_1h",
    "q05_dedup_first",
    "q06_sessionize",
    "q07_asof_prior_signup",
    "q08_json_props",
    "q09_topk_hot_users",
    "q10_rollup_event_types",
    "q11_pricing_summary",
    "q12_revenue_by_nation",
    "q13_customers_with_open_orders",
    "q14_customers_without_open_orders",
    "q15_theta_join",
    "q16_union_distinct_users",
    "q17_error_only_users",
    "q18_distinct_users",
    "q19_rolling_features",
)


def _ordered(combined: dict) -> dict:
    """Reorder a combined registry dict by _ORDER; names missing from _ORDER
    (a future query added without a rotation slot) append at the end rather
    than vanish — tests/test_driver_contract.py asserts exact set equality so
    the drift is loud."""
    out = {k: combined[k] for k in _ORDER if k in combined}
    out.update({k: v for k, v in combined.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE_SQL)
    return _ordered(out)
