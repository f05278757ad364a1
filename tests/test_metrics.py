"""Per-tier ops metrics (A9 at the table level): exact columns equal an
independent pandas computation; the HLL sketch lands within its rsd."""

from __future__ import annotations

import pandas as pd

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.metrics import tier_metrics
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def test_tier_metrics_exact_and_sketch(spark, tiny_path):
    stats = aggregate_tier(
        derive_channels(read_transcripts(spark, tiny_path)), "1h"
    ).cache()
    got = (
        tier_metrics(stats)
        .toPandas()
        .sort_values("bucket_date", kind="mergesort")
        .reset_index(drop=True)
    )

    pdf = stats.toPandas()
    pdf["bucket_date"] = pd.to_datetime(pdf["bucket_us"], unit="us").dt.date
    want = (
        pdf.groupby("bucket_date")
        .agg(
            n_rows=("n", "size"),
            n_points=("n", "sum"),
            n_convs=("conv_id", "nunique"),
            n_channels=("channel", "nunique"),
            first_bucket_us=("bucket_us", "min"),
            last_bucket_us=("bucket_us", "max"),
        )
        .reset_index()
        .sort_values("bucket_date", kind="mergesort")
        .reset_index(drop=True)
    )
    stats.unpersist()

    assert len(got) == len(want) > 1
    for col in (
        "n_rows",
        "n_points",
        "n_convs",
        "n_channels",
        "first_bucket_us",
        "last_bucket_us",
    ):
        assert got[col].tolist() == want[col].tolist(), col
    # HLL++ at rsd 5%: generous 3-sigma-ish envelope, deterministic fixture
    rel_err = (got["n_convs_approx"] - got["n_convs"]).abs() / got["n_convs"]
    assert (rel_err <= 0.15).all(), rel_err.max()
