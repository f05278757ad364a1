"""Incremental refresh (operators/incremental.py): aggregating ONLY appended
turns and merging sufficient statistics must be bit-identical to recomputing
the full cascade from scratch — every stats column including the seam-
sensitive ones (zc, first/last, latency channel values that need lag context
across the append boundary)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.incremental import (
    incremental_cascade,
    merge_partial_stats,
    seam_phantoms,
)
from features_engineering_of_motion_data_spark.operators.rollup import (
    cascade_from_stats,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

TIERS = ("1m", "1h", "1d")


@pytest.fixture(scope="module")
def split(spark, tiny_path):
    """(old, delta): per-conversation 70/30 prefix split by turn_idx — the
    append contract (delta turns strictly newer per conv). Convs with few
    turns land entirely in `old` (no delta) — also a case worth covering."""
    turns = read_transcripts(spark, tiny_path)
    w = Window.partitionBy("conv_id")
    cut = (F.max("turn_idx").over(w) * 0.7).cast("int")
    tagged = turns.withColumn("_delta", F.col("turn_idx") > cut)
    old = tagged.filter(~F.col("_delta")).drop("_delta").cache()
    delta = tagged.filter(F.col("_delta")).drop("_delta").cache()
    n_old, n_delta = old.count(), delta.count()
    assert n_old > 0 and n_delta > 0
    return old, delta


def _pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    bucket = "bucket_start" if "bucket_start" in pdf.columns else "bucket_us"
    return (
        pdf.sort_values(["conv_id", "channel", bucket], kind="mergesort")
        .reset_index(drop=True)
    )


def _assert_bit_equal(got: pd.DataFrame, want: pd.DataFrame, ctx: str) -> None:
    assert list(got.columns) == list(want.columns), ctx
    assert len(got) == len(want), f"{ctx}: {len(got)} vs {len(want)} rows"
    for c in want.columns:
        if c == "s2":
            assert [int(v) for v in got[c]] == [int(v) for v in want[c]], (
                f"{ctx}.{c}"
            )
            continue
        a, b = got[c].to_numpy(), want[c].to_numpy()
        bad = ~((a == b) | (pd.isna(a) & pd.isna(b)))
        assert not bad.any(), (
            f"{ctx}.{c}: {bad.sum()} mismatches, e.g. {a[bad][:3]} vs {b[bad][:3]}"
        )


def test_incremental_equals_full_recompute(spark, tiny_path, split):
    """Fixed tiers, and fixed plus a calendar tier merged from the coarsest
    fixed one."""
    old, delta = split
    old_1m = aggregate_tier(derive_channels(old), "1m").cache()
    old_1m.count()
    full_1m = aggregate_tier(
        derive_channels(read_transcripts(spark, tiny_path)), "1m"
    )
    for tiers in (TIERS, TIERS + ("month",)):
        inc = incremental_cascade(old_1m, delta, tiers)
        full = cascade_from_stats(full_1m, tiers)
        assert sorted(inc) == sorted(tiers)
        for tier in tiers:
            _assert_bit_equal(
                _pdf(inc[tier]), _pdf(full[tier]), f"{tiers}:{tier}"
            )


def test_empty_delta_is_identity(spark, split):
    """An empty append must leave every tier bit-unchanged."""
    old, delta = split
    old_1m = aggregate_tier(derive_channels(old), "1m").cache()
    old_1m.count()
    inc = incremental_cascade(old_1m, delta.filter(F.lit(False)), TIERS)
    base = cascade_from_stats(old_1m, TIERS)
    for tier in TIERS:
        _assert_bit_equal(_pdf(inc[tier]), _pdf(base[tier]), tier)


def test_merge_partials_is_associative_with_parallelism(spark, split):
    """merge_partial_stats is pure integer algebra: merging under 1 and 16
    shuffle partitions gives identical bits (the N-vs-4N exactness story
    extends to incremental refresh)."""
    old, delta = split
    old_1m = aggregate_tier(derive_channels(old), "1m")
    d_1m = aggregate_tier(derive_channels(delta), "1m")
    a = _pdf(merge_partial_stats(old_1m.repartition(1), d_1m.repartition(1)))
    b = _pdf(merge_partial_stats(old_1m.repartition(16), d_1m.repartition(16)))
    _assert_bit_equal(a, b, "parallelism")


SEAM_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, conftest's seam t0


def test_seam_phantoms_cases(spark, seam_turns):
    """Exact phantom rows (conv_id, turn_idx, length(text), tool, ts µs)
    for each seam case. Every conversation in the stats gets its phantoms,
    "absent" (which the delta leaves out) included: the caller prunes the
    stats, and phantoms without delta turns yield no channel row."""
    stats = aggregate_tier(derive_channels(seam_turns), "1m")
    got = sorted(
        tuple(r)
        for r in seam_phantoms(stats)
        .select(
            "conv_id",
            "turn_idx",
            F.length("text"),
            "tool",
            F.unix_micros("ts"),
        )
        .collect()
    )
    s = 1_000_000
    assert got == [
        # a tool call with text as last turn, two turns in all
        ("absent", -2, None, None, SEAM_T0_US),
        ("absent", -1, 4, "seam", SEAM_T0_US + 30 * s),
        # null-text last turn: −1 has no text, −3 is the last text turn
        ("null_last", -3, 4, None, SEAM_T0_US + 65 * s),
        ("null_last", -2, None, None, SEAM_T0_US + 65 * s),
        ("null_last", -1, None, None, SEAM_T0_US + 200 * s),
        # a single old turn: no latency, no earlier text
        ("one", -1, 5, None, SEAM_T0_US + 10 * s),
        # last turn carries text: −1 holds its length, no −3
        ("text_last", -2, None, None, SEAM_T0_US + 70 * s),
        ("text_last", -1, 7, None, SEAM_T0_US + 150 * s),
        # a tool call as last turn
        ("tool_last", -2, None, None, SEAM_T0_US + 5 * s),
        ("tool_last", -1, 1, "seam", SEAM_T0_US + 100 * s),
    ]
