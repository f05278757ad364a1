"""Skew handling (SURVEY §2.6 K1–K3): explicit layout + salted two-phase
aggregation for hot conversations.

Why salting is *exact* here (and why SURVEY §2.6's contiguous-block-salt
caveat dissolves): the channel frame carries a row-local zero-crossing
indicator (prev_x/prev_ts_us travel WITH the row from the single window
pass), so Σ(cross) over any partition of a bucket's rows equals the bucket's
crossing count — no inter-salt boundary terms exist. First/last values are
selected by min/max ``turn_idx``, which is a total order within a bucket, so
two-phase min_by/max_by recovers the global first/last under ANY salt
assignment. Every other statistic is an integer sum/min/max. Hence
``aggregate_tier_salted(K) ≡ aggregate_tier`` bit-for-bit for every K —
property-tested in tests/test_skew.py.

At 10¹²-turn scale the two-phase path matters when one conversation's
(channel, bucket) group would otherwise dominate a reducer: phase 1 spreads a
hot group over K reducers with map-side partials; phase 2 merges K small
partial rows. K3 keys the salt off per-conversation counts so the 99% of
cold conversations skip the extra shuffle work (salt 0 → single partial).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .features import bucket_and_cross


def repartition_by_range(df: DataFrame, num_partitions: int) -> DataFrame:
    """K1: deterministic global layout on (conv_id, ts) + intra-partition
    order (conv_id, turn_idx) — file clustering for scans."""
    return df.repartitionByRange(num_partitions, "conv_id", "ts").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def _phase1(channels: DataFrame, tier: str, salt_col) -> DataFrame:
    b, cross = bucket_and_cross(tier)
    x_dec = F.col("x").cast("decimal(19,0)")
    return (
        channels.withColumn("bucket_us", b)
        .withColumn("_cross", cross)
        .withColumn("_salt", salt_col)
        .groupBy("conv_id", "channel", "bucket_us", "_salt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s1"),
            F.sum(x_dec * x_dec).cast("decimal(38,0)").alias("s2"),
            F.min("x").alias("min_raw"),
            F.max("x").alias("max_raw"),
            F.sum("_cross").alias("zc"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
            F.min_by("ts_us", "turn_idx").alias("first_ts_us"),
            F.max_by("ts_us", "turn_idx").alias("last_ts_us"),
            F.min_by("x", "turn_idx").alias("first_val"),
            F.max_by("x", "turn_idx").alias("last_val"),
        )
    )


def _phase2(partials: DataFrame) -> DataFrame:
    return partials.groupBy("conv_id", "channel", "bucket_us").agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
        F.min("min_raw").alias("min_raw"),
        F.max("max_raw").alias("max_raw"),
        F.sum("zc").alias("zc"),
        F.min_by("first_ts_us", "first_turn").alias("first_ts_us"),
        F.max_by("last_ts_us", "last_turn").alias("last_ts_us"),
        F.min_by("first_val", "first_turn").alias("first_val"),
        F.max_by("last_val", "last_turn").alias("last_val"),
    )


def aggregate_tier_salted(channels: DataFrame, tier: str, k: int) -> DataFrame:
    """K2: fixed-K salted two-phase aggregation, bit-identical to
    :func:`..operators.features.aggregate_tier` (see module docstring)."""
    salt = F.pmod(F.col("turn_idx").cast("long"), F.lit(int(k)))
    return _phase2(_phase1(channels, tier, salt))


def aggregate_tier_skew_aware(
    channels: DataFrame,
    tier: str,
    hot_threshold: int = 100_000,
    k: int = 16,
) -> DataFrame:
    """K3: adaptive salt — only conversations whose row count exceeds
    ``hot_threshold`` are salted (broadcast of the small hot-conv list), so
    cold conversations keep single-partial aggregation."""
    hot = (
        channels.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") > hot_threshold)
        .select("conv_id", F.lit(True).alias("_hot"))
    )
    joined = channels.join(broadcast(hot), "conv_id", "left")
    salt = F.when(
        F.col("_hot").isNotNull(),
        F.pmod(F.col("turn_idx").cast("long"), F.lit(int(k))),
    ).otherwise(F.lit(0))
    return _phase2(_phase1(joined, tier, salt))
