"""Salt-invariance properties (SURVEY §5.3): salted two-phase aggregation is
bit-identical to the direct path for every K, including the adaptive variant,
and the rollup cascade built on salted stats stays exact."""

from __future__ import annotations

import pandas as pd
import pytest

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
    finalize_features,
)
from features_engineering_of_motion_data_spark.operators.rollup import rollup_merge
from features_engineering_of_motion_data_spark.operators.skew import (
    aggregate_tier_salted,
    aggregate_tier_skew_aware,
    repartition_by_range,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def _norm(sdf) -> pd.DataFrame:
    pdf = finalize_features(sdf).toPandas()
    pdf["s2"] = pdf["s2"].map(int)
    return pdf.sort_values(
        ["conv_id", "channel", "bucket_start"], kind="mergesort"
    ).reset_index(drop=True)


@pytest.fixture(scope="module")
def channels(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path)).cache()
    ch.count()
    return ch


@pytest.fixture(scope="module")
def direct(channels):
    return _norm(aggregate_tier(channels, "1m"))


@pytest.mark.parametrize("k", [1, 8, 64])
def test_salted_equals_direct(channels, direct, k):
    got = _norm(aggregate_tier_salted(channels, "1m", k))
    pd.testing.assert_frame_equal(got, direct, check_exact=True)


def test_skew_aware_equals_direct(channels, direct):
    # threshold 50k ⇒ only edge_hot (100k turns) gets salted
    got = _norm(aggregate_tier_skew_aware(channels, "1m", hot_threshold=50_000))
    pd.testing.assert_frame_equal(got, direct, check_exact=True)


def test_salted_cascade_exact(channels):
    base = aggregate_tier(channels, "1m")
    salted = aggregate_tier_salted(channels, "1m", 8)
    a = _norm(rollup_merge(base, "1h"))
    b = _norm(rollup_merge(salted, "1h"))
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_range_layout_preserves_rows(spark, tiny_path):
    df = read_transcripts(spark, tiny_path)
    laid = repartition_by_range(df, 8)
    assert laid.count() == df.count()
    direct = _norm(aggregate_tier(derive_channels(df), "1m"))
    via_layout = _norm(
        aggregate_tier(derive_channels(laid), "1m")
    )
    pd.testing.assert_frame_equal(via_layout, direct, check_exact=True)
