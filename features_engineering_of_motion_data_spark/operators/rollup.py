"""Rollup cascade — continuous-aggregate merge algebra (SURVEY.md §2.5 R1–R3).

Tier T+1 is computed by *merging* tier T's sufficient statistics, never by
re-reading raw data, and — because every statistic is an exact integer and
every merge an integer add/min/max — the result is bit-identical to computing
T+1 directly from the turns (property-tested in tests/test_tiers_vs_oracle.py).

The only order-sensitive term is the zero-crossing boundary: when fine buckets
A, B (consecutive in ``bucket_us`` order within one coarse bucket) merge, the
consecutive-turn pair (last turn of A, first turn of B) may itself cross zero:
``sign(last_val_A) · sign(first_val_B) < 0`` (DESIGN.md §3). That term is
computed with one lag window partitioned by the *coarse* key, which hash-
clusters exactly like the groupBy that follows, so the whole merge is one
shuffle — and even that shuffle is avoided when the frame is already
partitioned by hash(conv_id) from the base aggregation (Spark's
``HashPartitioning(conv_id)`` satisfies clustering on any superset of keys).

Exactness note: concatenating fine buckets in ``bucket_us`` order equals turn
order iff ``ts`` is monotone in ``turn_idx`` within each conversation — true
of transcripts by construction (a conversation's turns happen in order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .features import (
    TIER_US,
    _sign,
    aggregate_tier,
    finalize_features,
    merge_stats,
)


def rollup_merge(stats: DataFrame, to_tier: str) -> DataFrame:
    """Merge a finer tier's sufficient-statistics frame up to ``to_tier``.

    Input must be a stats frame (aggregate_tier / rollup_merge output) whose
    buckets are strictly finer than ``to_tier`` (1m→1h, 1h→1d, 1m→1d).
    """
    step = F.lit(TIER_US[to_tier])
    coarse = F.col("bucket_us") - F.pmod(F.col("bucket_us"), step)
    return _merge_to_coarse(stats, coarse)


def rollup_merge_calendar(stats: DataFrame, unit: str = "month") -> DataFrame:
    """Calendar-bucket rollup (``time_bucket('1 month', …)`` face): merge a
    stats frame up to ``date_trunc`` units — month/quarter/year/week — whose
    width is NOT a fixed number of microseconds, so the modulo bucketing of
    :func:`rollup_merge` cannot express them.

    Same exact-integer merge algebra, same single-shuffle shape; only the
    coarse-bucket expression differs (``date_trunc`` on the UTC-pinned
    session clock, emitted back as epoch µs).  Bit-identical along any merge
    path — 1m→month ≡ 1d→month — because the algebra is associative and the
    zc boundary window orders by the fine ``bucket_us`` either way
    (tests/test_tiers_vs_oracle.py gates path independence).
    """
    if unit not in ("week", "month", "quarter", "year"):
        raise KeyError(unit)
    coarse = F.unix_micros(
        F.date_trunc(unit, F.timestamp_micros(F.col("bucket_us")))
    )
    return _merge_to_coarse(stats, coarse)


def _boundary(w: WindowSpec) -> Column:
    """1 iff the consecutive-turn pair (last turn of the previous partial in
    ``w``, first turn of this one) crosses zero (DESIGN.md §3), else 0."""
    prev_last = F.lag("last_val").over(w)
    return (
        prev_last.isNotNull() & (_sign(prev_last) * _sign(F.col("first_val")) < 0)
    ).cast("long")


def _merge_to_coarse(stats: DataFrame, coarse) -> DataFrame:
    w = Window.partitionBy("conv_id", "channel", "_coarse").orderBy("bucket_us")
    return (
        stats.withColumn("_coarse", coarse)
        .withColumn("_boundary", _boundary(w))
        .groupBy("conv_id", "channel", F.col("_coarse").alias("bucket_us"))
        .agg(*merge_stats("_boundary"))
    )


def rolling_merge(stats: DataFrame, tier: str, width: int) -> DataFrame:
    """Trailing rolling window over a stats frame: for every *present*
    bucket e, merge the present buckets in [e − (width−1)·tier, e] (``width``
    buckets, inclusive at both ends — exactly the RANGE frame below) into
    one sufficient-statistics row — 24h-rolling features from the 1h tier
    without ever rescanning raw data (the continuous-aggregate answer to
    "rolling mean over the last day": at 100 TB the window reads ≤ ``width``
    tier rows per output row instead of millions of raw rows).

    Same exact-integer algebra as :func:`rollup_merge`, expressed as a RANGE
    frame over ``bucket_us`` so sparse series are handled exactly (absent
    buckets simply contribute nothing, and the frame never invents rows).

    The zero-crossing boundary term follows the same raw-pair semantics as
    the cascade: the consecutive-turn pair (last turn of the previous
    present bucket p, first turn of bucket b) counts in the window ending
    at e iff BOTH buckets lie in the window.  Attaching the boundary
    indicator to b, every in-frame bucket except the frame's FIRST has its
    partner in-frame too (p is the largest present bucket < b, and the
    frame is a contiguous bucket range), so the window term is
    ``Σ_frame boundary − first(boundary)`` — exact, with no per-pair
    membership test.

    Output carries STAT_COLS keyed by the window's END bucket and feeds
    :func:`~.features.finalize_features` unchanged.  Single-exchange: the
    lag window, the range frame, and any upstream base aggregation all
    cluster under hash(conv_id).
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    step = TIER_US[tier]
    order = Window.partitionBy("conv_id", "channel").orderBy("bucket_us")
    frame = order.rangeBetween(-(width - 1) * step, 0)
    return stats.withColumn("_boundary", _boundary(order)).select(
        "conv_id",
        "channel",
        "bucket_us",
        F.sum("n").over(frame).alias("n"),
        F.sum("s1").over(frame).alias("s1"),
        F.sum("s2").over(frame).cast("decimal(38,0)").alias("s2"),
        F.min("min_raw").over(frame).alias("min_raw"),
        F.max("max_raw").over(frame).alias("max_raw"),
        (
            F.sum("zc").over(frame)
            + F.sum("_boundary").over(frame)
            - F.first("_boundary").over(frame)
        ).alias("zc"),
        F.first("first_ts_us").over(frame).alias("first_ts_us"),
        F.col("last_ts_us"),
        F.first("first_val").over(frame).alias("first_val"),
        F.col("last_val"),
    )


# calendar tiers accepted by cascade_from_stats / jobs/rollup.py --tiers,
# coarse→fine ordering implied by CAL_ORDER
CAL_UNITS = ("week", "month", "quarter", "year")
CAL_ORDER = {u: i for i, u in enumerate(CAL_UNITS)}


def split_tiers(tiers: tuple[str, ...]) -> tuple[list[str], list[str]]:
    """Partition a ``--tiers`` list into (fixed-width, calendar) tiers,
    raising KeyError on anything in neither vocabulary."""
    fixed = [t for t in tiers if t in TIER_US]
    cal = [t for t in tiers if t in CAL_UNITS]
    for t in tiers:
        if t not in TIER_US and t not in CAL_UNITS:
            raise KeyError(t)
    return fixed, cal


def finest_tier(tiers: tuple[str, ...]) -> str:
    """The finest fixed tier of a tier list: the one base-aggregated from
    channel rows, which every other tier merges from. Raises KeyError on a
    tier in neither vocabulary and ValueError on a list with no fixed tier
    (calendar buckets have no fixed µs width to base-aggregate at)."""
    fixed, cal = split_tiers(tiers)
    if not fixed:
        raise ValueError(
            f"calendar tiers {cal} merge from a fixed tier; include one of "
            f"{sorted(TIER_US)}"
        )
    return min(fixed, key=TIER_US.get)


def cascade_from_stats(
    base_stats: DataFrame, tiers: tuple[str, ...]
) -> dict[str, DataFrame]:
    """R3 from a pre-built finest-tier sufficient-statistics frame.

    ``base_stats`` must be an ``aggregate_tier(channels, finest)`` frame (or a
    bit-exact materialization of one, e.g. jobs/rollup.py's staged parquet)
    where ``finest = min(fixed tiers)``. Coarser tiers are pure integer
    merges of it — the raw turns are never touched again.

    ``tiers`` may include calendar units (week/month/quarter/year): those
    merge from the COARSEST fixed tier's stats — the cheapest path, and
    bit-identical to merging from any finer tier because the merge algebra
    is associative (path independence gated in tests/test_tiers_vs_oracle).
    At least one fixed tier is required (:func:`finest_tier`).
    """
    if not tiers:
        return {}
    stats = {finest_tier(tiers): base_stats}
    fixed, cal = split_tiers(tiers)
    order = sorted(fixed, key=TIER_US.get)
    for fine, coarse in zip(order, order[1:]):
        stats[coarse] = rollup_merge(stats[fine], coarse)
    for unit in sorted(cal, key=CAL_ORDER.get):
        stats[unit] = rollup_merge_calendar(stats[order[-1]], unit)
    return {t: finalize_features(s) for t, s in stats.items()}


def cascade(channels: DataFrame, tiers: tuple[str, ...] = ("1m", "1h", "1d")) -> dict[str, DataFrame]:
    """R3: base-aggregate the finest tier, then merge upward tier by tier.

    Returns {tier: finalized feature DataFrame}. The plans share the base
    stats lineage, so with ``.cache()`` on the base frame (callers' choice)
    each higher tier is a cheap integer merge.
    """
    if not tiers:
        return {}
    return cascade_from_stats(aggregate_tier(channels, finest_tier(tiers)), tiers)
