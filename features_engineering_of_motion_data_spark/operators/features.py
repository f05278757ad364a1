"""Tier feature aggregation (SURVEY.md §2.4 A1–A8, DESIGN.md §1–§3, §5).

The reference library computes windowed statistical features (mean, std, RMS,
min/max, zero-crossings, energy) with per-window numpy calls over motion
signals; here the same feature contract is expressed as a single native Spark
hash aggregation over exact-integer sufficient statistics, so the hot path is
whole-stage-codegen JVM work with zero Python, and every partial merge is an
integer add/min/max — associative and order-free, hence bit-identical at any
parallelism (the N-vs-4N exactness requirement, SURVEY.md §4 last para).

Pipeline position::

    derive_channels(...)  →  aggregate_tier(df, '1m')  →  rollup_merge(...)
                                     │
                              finalize_features(...)   →  tier table

``aggregate_tier`` produces the *sufficient statistics* frame; tiers above the
base are produced by :mod:`.rollup`'s merge algebra, never by re-reading raw.
``finalize_features`` applies the pinned float64 evaluation order of
DESIGN.md §2 — each step is one IEEE-754 double op, so the JVM and the numpy
oracle (oracle/features.py) produce identical bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}

#: the ten sufficient statistics every tier frame carries after its key
#: (conv_id, channel, bucket), in emission order and with their Spark types —
#: the one declaration of the format (DESIGN.md §1). s2 = Σx² is
#: decimal(38,0): latency-µs squared exceeds int64; decimal sums are exact
#: integers, keeping every merge bit-exact. first/last ts are epoch µs.
STAT_FIELDS = [
    T.StructField("n", T.LongType()),
    T.StructField("s1", T.LongType()),
    T.StructField("s2", T.DecimalType(38, 0)),
    T.StructField("min_raw", T.LongType()),
    T.StructField("max_raw", T.LongType()),
    T.StructField("zc", T.LongType()),
    T.StructField("first_ts_us", T.LongType()),
    T.StructField("last_ts_us", T.LongType()),
    T.StructField("first_val", T.LongType()),
    T.StructField("last_val", T.LongType()),
]
STAT_COLS = [f.name for f in STAT_FIELDS]


def _sign(col: Column) -> Column:
    """sign(x) = −1 if x < 0 else +1; sign(0) = +1 (DESIGN.md §3)."""
    return F.when(col < 0, F.lit(-1)).otherwise(F.lit(1))


def bucket_and_cross(tier: str) -> tuple[Column, Column]:
    """A channel row's bucket floor in µs and its zero-crossing indicator.

    The floor is epoch-aligned pure integer arithmetic — ``ts − pmod(ts,
    step)`` — because float division of µs-scale int64 loses ulps near
    bucket edges (DESIGN.md §5). A crossing belongs to bucket b iff *both*
    turns of the consecutive pair truncate to b (DESIGN.md §3); the channel
    frame carries ``prev_x``/``prev_ts_us`` for it.
    """
    step = F.lit(TIER_US[tier])
    b = F.col("ts_us") - F.pmod(F.col("ts_us"), step)
    prev_b = F.col("prev_ts_us") - F.pmod(F.col("prev_ts_us"), step)
    cross = (
        F.col("prev_ts_us").isNotNull()
        & (prev_b == b)
        & (_sign(F.col("prev_x")) * _sign(F.col("x")) < 0)
    ).cast("long")
    return b, cross


def aggregate_tier(channels: DataFrame, tier: str) -> DataFrame:
    """Base-tier sufficient statistics per (conv_id, channel, bucket).

    Input is :func:`..operators.channels.derive_channels` output — the long
    channel frame already carries ``prev_x``/``prev_ts_us`` from the same
    window pass, so the zero-crossing indicator (:func:`bucket_and_cross`)
    is a row-local expression and this whole operator is one hash aggregation
    that reuses the existing hash(conv_id) partitioning — no extra shuffle.
    It is the one builder of :data:`STAT_FIELDS` from channel rows; the
    first/last statistics follow ``turn_idx`` order.
    """
    b, cross = bucket_and_cross(tier)
    x_dec = F.col("x").cast("decimal(19,0)")
    return (
        channels.withColumn("bucket_us", b)
        .withColumn("_cross", cross)
        .groupBy("conv_id", "channel", "bucket_us")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s1"),
            F.sum(x_dec * x_dec).cast("decimal(38,0)").alias("s2"),
            F.min("x").alias("min_raw"),
            F.max("x").alias("max_raw"),
            F.sum("_cross").alias("zc"),
            F.min_by("ts_us", "turn_idx").alias("first_ts_us"),
            F.max_by("ts_us", "turn_idx").alias("last_ts_us"),
            F.min_by("x", "turn_idx").alias("first_val"),
            F.max_by("x", "turn_idx").alias("last_val"),
        )
    )


def merge_stats(boundary: str | None = None) -> list[Column]:
    """The ten aggregates that merge partial statistics frames into one
    :data:`STAT_FIELDS` row per group: integer adds for n/s1/s2/zc,
    min/max for the extrema, first/last carried by the partials'
    ``first_ts_us``/``last_ts_us``. A cross-bucket merge names its
    ``boundary`` column, whose sum — the zero crossings of consecutive-turn
    pairs that span two partials (DESIGN.md §3) — is added to zc.
    """
    zc = F.sum("zc") if boundary is None else F.sum("zc") + F.sum(boundary)
    return [
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
        F.min("min_raw").alias("min_raw"),
        F.max("max_raw").alias("max_raw"),
        zc.alias("zc"),
        F.min("first_ts_us").alias("first_ts_us"),
        F.max("last_ts_us").alias("last_ts_us"),
        F.min_by("first_val", "first_ts_us").alias("first_val"),
        F.max_by("last_val", "last_ts_us").alias("last_val"),
    ]


def unit_divisor(channel: Column) -> Column:
    """Per-channel raw-unit divisor u (DESIGN.md §1): µs→s for latency."""
    return F.when(channel == F.lit("inter_turn_latency"), F.lit(1e6)).otherwise(
        F.lit(1.0)
    )


def pinned_features(
    n: Column, s1: Column, s2: Column, mn: Column, mx: Column, zc: Column, u: Column
) -> dict[str, Column]:
    """Pinned float64 finalization (DESIGN.md §2) — verbatim evaluation order.

    Takes the exact-integer statistics of one series (count, Σx, Σx², min,
    max, zero crossings) and its unit divisor ``u``; returns the features
    ``f_mean`` … ``f_energy`` by name, in emission order. Every arithmetic
    step is a single IEEE-754 double operation mirrored exactly in
    oracle/features.py::_finalize; int→double and decimal→double casts are
    correctly rounded on both the JVM and CPython.
    """
    fn = n.cast("double")
    m = s1.cast("double") / fn
    q = s2.cast("double") / fn
    var = q - m * m
    var = F.when(var < 0, F.lit(0.0)).otherwise(var)
    return {
        "f_mean": m / u,
        "f_std": F.sqrt(var) / u,
        "f_rms": F.sqrt(q) / u,
        "f_min": mn.cast("double") / u,
        "f_max": mx.cast("double") / u,
        "f_zero_crossings": zc,
        "f_energy": s2.cast("double") / (u * u),
    }


def finalize_features(stats: DataFrame) -> DataFrame:
    """A tier's feature table: key, :func:`pinned_features` and the stats."""
    feats = pinned_features(
        *(F.col(c) for c in ("n", "s1", "s2", "min_raw", "max_raw", "zc")),
        unit_divisor(F.col("channel")),
    )
    return stats.select(
        "conv_id",
        "channel",
        F.timestamp_micros(F.col("bucket_us")).alias("bucket_start"),
        *(c.alias(k) for k, c in feats.items()),
        *STAT_COLS,
    )


def features_from_turns(channels: DataFrame, tier: str) -> DataFrame:
    """Convenience: base aggregation + finalization at one tier."""
    return finalize_features(aggregate_tier(channels, tier))
