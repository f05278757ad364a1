"""rolling_merge: trailing k-bucket windows merged from tier sufficient
stats must reproduce raw-pair semantics bit-for-bit.

The brute-force oracle here recomputes every window DIRECTLY from the long
channel frame (numpy/python ints, no Spark, no merge algebra): for each
present end bucket e it selects the raw channel rows whose bucket lies in
[e − (width−1)·tier, e] and derives n/s1/s2/min/max from them, and counts a
zero crossing for a consecutive series pair iff BOTH rows' buckets lie in
the window — the definition the operator's Σboundary − first(boundary) term
claims to implement.  Exact integer comparison throughout (s2 via python
ints, immune to int64 overflow on the latency channel).
"""

from __future__ import annotations

import pandas as pd
import pytest

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    TIER_US,
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.rollup import rolling_merge
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

H = TIER_US["1h"]
WIDTH = 24


def _brute(raw: pd.DataFrame, width: int) -> pd.DataFrame:
    rows = []
    span = (width - 1) * H
    for (conv, chan), g in raw.groupby(["conv_id", "channel"], sort=False):
        g = g.sort_values("turn_idx")
        ts = g["ts_us"].to_numpy()
        x = g["x"].to_numpy()
        bucket = ts - ts % H
        sgn = [(-1 if v < 0 else 1) for v in x]
        cross = [False] + [sgn[i - 1] * sgn[i] < 0 for i in range(1, len(x))]
        for e in sorted(set(bucket.tolist())):
            lo = e - span
            idx = [i for i in range(len(x)) if lo <= bucket[i] <= e]
            wx = [int(x[i]) for i in idx]
            zc = sum(
                1
                for i in idx
                if i > 0 and cross[i] and bucket[i - 1] >= lo
            )
            rows.append(
                {
                    "conv_id": conv,
                    "channel": chan,
                    "bucket_us": int(e),
                    "n": len(wx),
                    "s1": sum(wx),
                    "s2": sum(v * v for v in wx),
                    "min_raw": min(wx),
                    "max_raw": max(wx),
                    "zc": zc,
                    "first_ts_us": int(ts[idx[0]]),
                    "last_ts_us": int(ts[idx[-1]]),
                    "first_val": int(x[idx[0]]),
                    "last_val": int(x[idx[-1]]),
                }
            )
    return pd.DataFrame(rows)


def test_rolling_merge_matches_raw_brute_force(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path))
    # bound the brute-force cost: every conv except the 100k-turn edge_hot
    ch = ch.filter(ch.conv_id != "edge_hot").cache()
    got = (
        rolling_merge(aggregate_tier(ch, "1h"), "1h", WIDTH)
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"])
        .reset_index(drop=True)
    )
    raw = ch.select("conv_id", "channel", "turn_idx", "ts_us", "x").toPandas()
    want = (
        _brute(raw, WIDTH)
        .sort_values(["conv_id", "channel", "bucket_us"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    for col in want.columns:
        a = got[col].astype(object).tolist()
        b = want[col].astype(object).tolist()
        assert a == b, f"{col} diverges (first at {next(i for i in range(len(a)) if a[i] != b[i])})"


def test_rolling_merge_width1_is_identity(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path))
    stats = aggregate_tier(ch, "1h")
    cols = stats.columns
    a = stats.toPandas().sort_values(["conv_id", "channel", "bucket_us"])
    b = rolling_merge(stats, "1h", 1).toPandas()[cols].sort_values(
        ["conv_id", "channel", "bucket_us"]
    )
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_rolling_merge_rejects_bad_width(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path))
    stats = aggregate_tier(ch, "1h")
    with pytest.raises(ValueError):
        rolling_merge(stats, "1h", 0)
