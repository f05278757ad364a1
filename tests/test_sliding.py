"""50%-overlap sliding-window features vs an independent numpy oracle
(bitwise — same pinned finalize contract as the tier path)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import oracle.features as orc
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.sliding import (
    sliding_features,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

WINDOW = 8
HOP = WINDOW // 2


def _oracle_sliding(channels: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for (conv, chan), g in channels.groupby(["conv_id", "channel"], sort=True):
        g = g.sort_values("turn_idx", kind="mergesort")
        xs = g["x"].to_numpy(np.int64)
        ti = g["turn_idx"].to_numpy(np.int64)
        ts = g["ts_us"].to_numpy(np.int64)
        sign = np.where(xs < 0, -1, 1)
        flip = np.concatenate([[0], (sign[1:] * sign[:-1] < 0).astype(np.int64)])
        for end in range(WINDOW - 1, len(xs)):
            if (end + 1) % HOP:
                continue
            lo = end - WINDOW + 1
            win = [int(v) for v in xs[lo : end + 1]]
            rec = {
                "conv_id": conv,
                "channel": chan,
                "window_end_turn": int(ti[end]),
                "window_end_ts_us": int(ts[end]),
                "n": WINDOW,
            }
            rec.update(
                orc._finalize(
                    WINDOW,
                    sum(win),
                    sum(v * v for v in win),
                    min(win),
                    max(win),
                    int(flip[lo + 1 : end + 1].sum()),
                    orc.UNIT[chan],
                )
            )
            rows.append(rec)
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def channel_pdf(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path))
    # keep the oracle loop fast: drop the 100k-turn hot conv
    return ch.filter("conv_id != 'edge_hot'")


def test_sliding_features_match_oracle(spark, channel_pdf):
    got = (
        sliding_features(channel_pdf, window=WINDOW)
        .toPandas()
        .sort_values(["conv_id", "channel", "window_end_turn"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        _oracle_sliding(channel_pdf.toPandas())
        .sort_values(["conv_id", "channel", "window_end_turn"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("conv_id", "channel", "window_end_turn", "window_end_ts_us", "n",
              "f_zero_crossings"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    for c in ("f_mean", "f_std", "f_rms", "f_min", "f_max", "f_energy"):
        a, b = got[c].to_numpy(), want[c].to_numpy()
        assert (a == b).all(), f"{c} not bitwise equal"


def test_sliding_rejects_bad_window(spark, channel_pdf):
    with pytest.raises(ValueError, match="even integer"):
        sliding_features(channel_pdf, window=7)
