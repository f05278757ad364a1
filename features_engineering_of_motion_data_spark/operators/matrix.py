"""Wide feature matrix (model-ready transpose of the tier tables).

The reference library's end product is a per-window feature frame a model
consumes — one row per window, one column per (signal, feature).  This
module materializes that shape from the transcript channel frame
directly: one row per ``(conv_id, bucket_start)`` with columns
``{channel}__{feature}`` for every derived channel and every A1–A8
feature.

Scale shape — the load-bearing choice: the matrix is a DIRECT conditional
aggregation over the long channel frame (``sum(when(channel = ch, …))``
per channel × statistic), NOT a pivot of the long tier table.  A pivot
after :func:`~.features.aggregate_tier` would re-shuffle — the tier agg
leaves data hash-partitioned on (conv, channel, bucket), which does not
satisfy the (conv, bucket) clustering the transpose needs — so the
pivot costs a second full exchange of the aggregated frame.  The
conditional-agg form reuses the channel window's hash(conv_id)
partitioning (a subset of the group keys), so the whole matrix is ONE
exchange end-to-end, identical to the cascade's (plan-asserted in
tests/test_features_job.py).  Exactly the q59 design rule, applied to
the engine's own product surface.

Exactness: per-channel sufficient statistics are the same exact integers
:func:`~.features.aggregate_tier` computes (s2 as decimal(38,0)), and the
per-channel finalization is :func:`~.features.pinned_features`, the
tier path's pinned float64 op order, with the channel's unit divisor
folded to a literal — so every matrix cell is bit-identical to the long-form
tier value it transposes (gated bitwise in tests/test_features_job.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .features import (
    aggregate_tier,
    bucket_and_cross,
    finalize_features,
    pinned_features,
)

#: channels produced by operators/channels.derive_channels, with their
#: raw-unit divisors (DESIGN.md §1: latency is stored in µs, reported in s)
CHANNELS = {
    "inter_turn_latency": 1e6,
    "text_len": 1.0,
    "tool_cadence": 1.0,
}

#: finalized features emitted per channel (A1–A8 + the sample count)
FEATURES = (
    "n",
    "f_mean",
    "f_std",
    "f_rms",
    "f_min",
    "f_max",
    "f_zero_crossings",
    "f_energy",
)


def matrix_columns() -> list[str]:
    """The matrix's value-column names, in emission order."""
    return [f"{ch}__{f}" for ch in CHANNELS for f in FEATURES]


def _channel_aggs(ch: str, cross: Column) -> list[Column]:
    """Sufficient-statistic aggregates for one channel, conditional form.

    No ``.otherwise(...)``: a channel absent from a bucket yields NULL in
    every cell (including n), matching what a pivot of the long tier table
    produces for a missing (conv, channel, bucket) row.
    """
    cond = F.col("channel") == F.lit(ch)
    x = F.when(cond, F.col("x"))
    x_dec = F.when(cond, F.col("x").cast("decimal(19,0)"))
    return [
        F.sum(F.when(cond, F.lit(1))).alias(f"_{ch}__n"),
        F.sum(x).alias(f"_{ch}__s1"),
        F.sum(x_dec * x_dec).cast("decimal(38,0)").alias(f"_{ch}__s2"),
        F.min(x).alias(f"_{ch}__min"),
        F.max(x).alias(f"_{ch}__max"),
        F.sum(F.when(cond, cross)).alias(f"_{ch}__zc"),
    ]


def _channel_features(ch: str, u: float) -> list[Column]:
    """Pinned finalization for one channel, the unit divisor a literal."""
    c = lambda s: F.col(f"_{ch}__{s}")  # noqa: E731
    feats = pinned_features(
        *(c(s) for s in ("n", "s1", "s2", "min", "max", "zc")), F.lit(u)
    )
    return [
        c("n").alias(f"{ch}__n"),
        *(col.alias(f"{ch}__{f}") for f, col in feats.items()),
    ]


def wide_tier_matrix(channels_df: DataFrame, tier: str) -> DataFrame:
    """One row per (conv_id, bucket_start); columns ``{ch}__{feature}``.

    Input is :func:`~.channels.derive_channels` output (the long channel
    frame with ``prev_x``/``prev_ts_us`` adjacency).  ``tier`` is a
    fixed-width tier key from :data:`~.features.TIER_US`.
    """
    b, cross = bucket_and_cross(tier)
    g = (
        channels_df.withColumn("bucket_us", b)
        .groupBy("conv_id", "bucket_us")
        .agg(*(a for ch in CHANNELS for a in _channel_aggs(ch, cross)))
    )
    return g.select(
        "conv_id",
        F.timestamp_micros(F.col("bucket_us")).alias("bucket_start"),
        *(c for ch, u in CHANNELS.items() for c in _channel_features(ch, u)),
    )


def wide_rolling_matrix(
    channels_df: DataFrame, tier: str, width: int, channels=None
) -> DataFrame:
    """Rolling wide matrix: one row per (conv_id, window-END bucket_start),
    columns ``{ch}__{feature}`` computed over the trailing ``width``
    buckets via :func:`~.rollup.rolling_merge` — the model-facing shape of
    the DESIGN.md §20 rolling-tier rule ("features over the last 24h,
    hourly" without raw rescans).

    Transpose nuance vs the §19 rule: the per-channel rolling RANGE frame
    must run in long form, so the transpose necessarily FOLLOWS the
    aggregation here — but it still costs no extra exchange, because every
    stage (base channel window, tier agg, boundary lag, rolling frame,
    final (conv, bucket) agg) clusters under the one hash(conv_id)
    partitioning; §19's objection targets pivots whose upstream shuffled
    on the full (conv, channel, bucket) key, not frames riding hash(conv).
    Plan-asserted single exchange in tests/test_features_job.py.

    Every cell is bit-identical to the long-form rolled value: the
    transpose is ``min(when(channel = ch, col))`` over exactly one
    non-null row per (conv, bucket, channel) — a copy, not arithmetic.

    NULL semantics (consumer contract, mirrored in the jobs/features.py
    manifest): rolling_merge keys windows by each channel's own *present*
    buckets, and channel presence differs per bucket (e.g. text_len skips
    null-text turns).  A row exists for every (conv, end-bucket) where at
    least one channel has raw events in the END bucket, and a channel's
    cells are NULL when that channel has no events in the end bucket —
    NULL means "channel absent in the end bucket", NOT "empty trailing
    window" (the channel may well have data earlier in the window).
    """
    from .rollup import rolling_merge

    chans = CHANNELS if channels is None else channels
    rolled = finalize_features(
        rolling_merge(aggregate_tier(channels_df, tier), tier, width)
    )
    aggs: list[Column] = []
    for ch in chans:
        cond = F.col("channel") == F.lit(ch)
        for f in FEATURES:
            aggs.append(F.min(F.when(cond, F.col(f))).alias(f"{ch}__{f}"))
    return rolled.groupBy("conv_id", "bucket_start").agg(*aggs)
