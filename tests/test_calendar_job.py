"""Calendar tiers on the deploy surface (VERDICT r3 item 5): jobs/rollup.py
accepts ``--tiers 1m,1d,month``, producing a month tier bit-equal to
rollup_merge_calendar via a DIFFERENT merge path (1d→month vs 1m→month —
equal by the tested associativity of the merge algebra).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
    finalize_features,
)
from features_engineering_of_motion_data_spark.operators.rollup import (
    rollup_merge_calendar,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)
from jobs.rollup import parse_args, run


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.drop(columns=[c for c in ("part",) if c in pdf.columns])
    pdf["s2"] = pdf["s2"].map(int)
    # parquet read is tz-aware UTC, toPandas is session-UTC-naive — same
    # instant, different pandas dtype; pin both to naive UTC
    pdf["bucket_start"] = pd.to_datetime(
        pdf["bucket_start"], utc=True
    ).dt.tz_localize(None)
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(
        ["conv_id", "channel", "bucket_start"], kind="mergesort"
    ).reset_index(drop=True)


def test_job_month_tier_bit_equal_to_operator(spark, tiny_path, tmp_path):
    out = str(tmp_path / "tiers")
    rc = run(
        parse_args(
            [
                "--input", tiny_path, "--output", out,
                "--tiers", "1m,1d,month", "--num-parts", "4",
                "--master", "local[4]",
            ]
        )
    )
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "tier=month"))
    got = _canon(pd.read_parquet(os.path.join(out, "tier=month")))

    turns = read_transcripts(spark, tiny_path)
    stats = aggregate_tier(derive_channels(turns), "1m")
    want = _canon(finalize_features(rollup_merge_calendar(stats, "month")).toPandas())

    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f":
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
        else:
            assert (pd.Series(a).astype(object) == pd.Series(b).astype(object)).all(), c


def test_job_rejects_calendar_only_and_unknown(tiny_path, tmp_path):
    base = ["--input", tiny_path, "--output", str(tmp_path / "x"),
            "--num-parts", "2", "--master", "local[4]"]
    with pytest.raises(SystemExit, match="merge from a fixed tier"):
        run(parse_args(base + ["--tiers", "month"]))
    with pytest.raises(SystemExit, match="unknown tier"):
        run(parse_args(base + ["--tiers", "1m,5m"]))


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
