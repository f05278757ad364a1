"""Raw-tier archive round-trip (C1–C3) and gap-fill kernel (G1/G2) vs the
independent oracle — exact/bitwise comparisons throughout."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import oracle.features as orc
import oracle.gapfill as orc_gf
from features_engineering_of_motion_data_spark.operators.archive import (
    build_archive,
    decode_archive,
)
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.gapfill import (
    gapfill_features,
    gapfill_series,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

KEY = ["conv_id", "channel", "turn_idx"]


@pytest.fixture(scope="module")
def channels(spark, tiny_path):
    df = derive_channels(read_transcripts(spark, tiny_path))
    df = df.select("conv_id", "channel", "turn_idx", "ts_us", "x").cache()
    df.count()
    return df


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def test_archive_roundtrip_exact(spark, channels):
    arch = build_archive(channels, tier="1h")
    got = _sorted(decode_archive(arch).toPandas())
    want = _sorted(channels.toPandas())
    assert len(got) == len(want)
    for c in ("conv_id", "channel", "turn_idx", "ts_us", "x"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_archive_compresses(channels):
    arch = build_archive(channels, tier="1h").toPandas()
    ratio = arch["encoded_bytes"].sum() / arch["raw_bytes"].sum()
    assert ratio < 0.6, f"compression ratio {ratio:.3f} too weak"


def test_gapfill_series_matches_oracle(spark, channels):
    got = _sorted(gapfill_series(channels).toPandas())
    want = _sorted(orc_gf.fill_channel_frame(channels.toPandas()))
    assert len(got) == len(want)
    for c in ("conv_id", "channel", "turn_idx", "ts_us", "is_filled"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    a, b = got["x"].to_numpy(), want["x"].to_numpy()
    assert (a == b).all(), "x not bitwise equal"


def test_gapfill_no_gap_is_fixed_point(spark, channels):
    filled = gapfill_series(channels).toPandas()
    const = filled[filled.conv_id == "edge_constant"]
    assert not const["is_filled"].any()
    # interior gaps are filled for the gap fixture
    mid = filled[
        (filled.conv_id == "edge_gaps_mid") & (filled.channel == "text_len")
    ]
    assert mid["is_filled"].sum() == 10  # FIXTURES.md: 10 dropped interior turns
    # no extrapolation: observed turn range is [5, 94] for edge_gaps_ends
    ends = filled[
        (filled.conv_id == "edge_gaps_ends") & (filled.channel == "text_len")
    ]
    assert ends["turn_idx"].min() == 5 and ends["turn_idx"].max() == 94
    assert not ends["is_filled"].any()
    # filled values lie within the neighbouring observed values (linearity)
    m = mid.sort_values("turn_idx")
    obs = m[~m.is_filled]["x"].to_numpy()
    fil = m[m.is_filled]["x"].to_numpy()
    assert fil.min() >= obs.min() and fil.max() <= obs.max()


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_gapfill_features_match_oracle(spark, channels, tier):
    got = (
        gapfill_features(channels, tiers=(tier,))
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    filled = orc_gf.fill_channel_frame(channels.toPandas())
    want = (
        orc_gf.filled_tier_features(filled, tier)
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ("conv_id", "channel", "bucket_us", "n", "n_filled", "f_zero_crossings"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    for c in ("f_mean", "f_std", "f_rms", "f_min", "f_max", "f_energy"):
        a, b = got[c].to_numpy(), want[c].to_numpy()
        assert (a == b).all(), f"{c} not bitwise equal"
