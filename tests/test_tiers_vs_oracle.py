"""Exact (bitwise float64, exact integer) comparison of the Spark engine's
tier cascade against the independent numpy oracle (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import oracle.features as orc
from features_engineering_of_motion_data_spark.operators.channels import (
    dedup_turns,
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.rollup import cascade
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

INT_COLS = [
    "n",
    "s1",
    "min_raw",
    "max_raw",
    "zc",
    "first_ts_us",
    "last_ts_us",
    "first_val",
    "last_val",
]
FLOAT_COLS = ["f_mean", "f_std", "f_rms", "f_min", "f_max", "f_energy"]


def _normalize_spark(sdf) -> pd.DataFrame:
    pdf = sdf.toPandas()
    pdf["bucket_us"] = (
        pdf["bucket_start"].astype("datetime64[us]").astype("int64")
    )
    return pdf.sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort").reset_index(
        drop=True
    )


def _assert_tier_equal(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, tier: str):
    assert len(spark_pdf) == len(oracle_pdf), f"{tier}: row count mismatch"
    for key in ("conv_id", "channel", "bucket_us"):
        assert (spark_pdf[key].to_numpy() == oracle_pdf[key].to_numpy()).all(), (
            f"{tier}: key column {key} mismatch"
        )
    for c in INT_COLS:
        a = spark_pdf[c].to_numpy().astype(np.int64)
        b = oracle_pdf[c].to_numpy().astype(np.int64)
        bad = a != b
        assert not bad.any(), (
            f"{tier}.{c}: {bad.sum()} mismatches, first at "
            f"{oracle_pdf.loc[bad.argmax(), ['conv_id', 'channel', 'bucket_us']].tolist()}"
            f" spark={a[bad][:5]} oracle={b[bad][:5]}"
        )
    # s2 is decimal(38,0) → python Decimal objects; compare as exact ints
    s2_spark = [int(v) for v in spark_pdf["s2"]]
    s2_oracle = [int(v) for v in oracle_pdf["s2"]]
    assert s2_spark == s2_oracle, f"{tier}.s2 mismatch"
    assert (
        spark_pdf["f_zero_crossings"].to_numpy().astype(np.int64)
        == oracle_pdf["f_zero_crossings"].to_numpy().astype(np.int64)
    ).all()
    for c in FLOAT_COLS:
        a = spark_pdf[c].to_numpy()
        b = oracle_pdf[c].to_numpy()
        bad = a != b  # bitwise float64 equality (no NaNs by construction)
        assert not bad.any(), (
            f"{tier}.{c}: {bad.sum()} bitwise mismatches, e.g. "
            f"{a[bad][:3]} vs {b[bad][:3]}"
        )


@pytest.fixture(scope="module")
def spark_tiers(spark, tiny_path):
    df = read_transcripts(spark, tiny_path)
    ch = derive_channels(df)
    return {t: _normalize_spark(sdf) for t, sdf in cascade(ch).items()}


@pytest.fixture(scope="module")
def oracle_tiers(tiny_pdf):
    return orc.all_tiers(tiny_pdf)


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_tier_exact_match(spark_tiers, oracle_tiers, tier):
    """Cascaded Spark tiers ≡ oracle tiers computed directly from raw turns —
    validates both the base aggregation AND the merge algebra (§2.5)."""
    _assert_tier_equal(spark_tiers[tier], oracle_tiers[tier].reset_index(drop=True), tier)


def test_dedup_matches_oracle(spark, tiny_path, tiny_pdf):
    got = (
        dedup_turns(read_transcripts(spark, tiny_path))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = orc.dedup(tiny_pdf)
    assert len(got) == len(want)
    assert (got["conv_id"] == want["conv_id"]).all()
    assert (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    assert (got["text"] == want["text"]).all()
    # edge_dup_turn keeps the earlier-ts row
    kept = got[(got.conv_id == "edge_dup_turn") & (got.turn_idx == 1)]["text"].iloc[0]
    assert kept == "edge_dup_turn:keep"


def test_dedup_tie_break_matches_oracle(spark):
    """Duplicates that share (conv_id, turn_idx, ts) fall through to the md5
    tie-break. The texts are chosen so the md5-first row is neither the
    shortest nor the lexically first, and the kept row's tool flag differs
    from the dropped ones; a null text must lose to any text."""
    import datetime

    from features_engineering_of_motion_data_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0, tzinfo=datetime.timezone.utc)
    sec = datetime.timedelta(seconds=1)
    rows = [
        ("tb", 0, "user", "start", None, t0),
        # md5 order: dddd (11dd…) < bb (21ad…) < ccc (9df6…)
        ("tb", 1, "user", "ccc", None, t0 + 10 * sec),
        ("tb", 1, "user", "bb", None, t0 + 10 * sec),
        ("tb", 1, "user", "dddd", "search", t0 + 10 * sec),
        # md5 order: yy (2fb1…) < x (9dd4…) < zzz (f3ab…)
        ("tb", 2, "user", "zzz", "search", t0 + 20 * sec),
        ("tb", 2, "user", "x", "search", t0 + 20 * sec),
        ("tb", 2, "user", "yy", None, t0 + 20 * sec),
        # null text sorts last
        ("tb", 3, "user", None, None, t0 + 30 * sec),
        ("tb", 3, "user", "hello", "search", t0 + 30 * sec),
        # ts decides before the digest: a (0cc1…) is md5-first but later
        ("tb", 4, "user", "a", None, t0 + 41 * sec),
        ("tb", 4, "user", "ccc", "search", t0 + 40 * sec),
        ("tb", 5, "user", "end", None, t0 + 50 * sec),
    ]
    turns = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    pdf = pd.DataFrame(rows, columns=TRANSCRIPT_SCHEMA.fieldNames())
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).dt.tz_localize(None)
    want = orc.dedup(pdf)
    assert list(want["text"]) == ["start", "dddd", "yy", "hello", "ccc", "end"]

    got = dedup_turns(turns).toPandas().sort_values("turn_idx").reset_index(drop=True)
    for c in ("turn_idx", "text", "tool"):
        assert list(got[c]) == list(want[c]), c

    cols = ["conv_id", "channel", "turn_idx", "ts_us", "x"]
    got_ch = (
        derive_channels(turns).select(*cols).toPandas()
        .sort_values(cols[:3], kind="mergesort").reset_index(drop=True)
    )
    want_ch = orc.derive_channels(want)[cols]
    assert len(got_ch) == len(want_ch)
    for c in cols:
        assert list(got_ch[c]) == list(want_ch[c]), c


def test_partitioning_invariance(spark, tiny_path):
    """Same input at 1 vs 16 input partitions → identical tier frames
    (the algebraic half of the N-vs-4N exactness requirement)."""
    base = read_transcripts(spark, tiny_path)
    outs = []
    for nparts in (1, 16):
        ch = derive_channels(base.repartition(nparts))
        outs.append({t: _normalize_spark(s) for t, s in cascade(ch).items()})
    for tier in ("1m", "1h", "1d"):
        a, b = outs[0][tier], outs[1][tier]
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_calendar_month_merge_path_independent_and_correct(spark):
    """rollup_merge_calendar: month buckets from any fine tier agree
    bit-for-bit (associativity incl. the zc boundary term), and the merged
    sufficient statistics equal a direct pandas month aggregation."""
    import datetime

    import numpy as np
    import pandas as pd

    from features_engineering_of_motion_data_spark.operators.channels import (
        derive_channels,
    )
    from features_engineering_of_motion_data_spark.operators.features import (
        aggregate_tier,
    )
    from features_engineering_of_motion_data_spark.operators.rollup import (
        rollup_merge,
        rollup_merge_calendar,
    )
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    # three months of synthetic turns for two convs, irregular cadence
    rng = np.random.default_rng(5)
    rows = []
    for conv in ("m1", "m2"):
        t = datetime.datetime(2024, 1, 15)
        for i in range(400):
            t += datetime.timedelta(hours=float(rng.integers(1, 12)))
            rows.append((conv, i, "user", "y" * int(rng.integers(1, 300)),
                         "search" if i % 3 == 0 else None, t))
    turns = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    ch = derive_channels(turns)
    s1m = aggregate_tier(ch, "1m")

    def _pdf(df):
        p = df.toPandas()
        p["s2"] = p["s2"].map(int)
        return p.sort_values(
            ["conv_id", "channel", "bucket_us"], kind="mergesort"
        ).reset_index(drop=True)

    via_1m = _pdf(rollup_merge_calendar(s1m, "month"))
    via_1d = _pdf(rollup_merge_calendar(rollup_merge(s1m, "1d"), "month"))
    pd.testing.assert_frame_equal(via_1m, via_1d, check_exact=True)

    # month starts span Jan..May and are true calendar boundaries
    starts = pd.to_datetime(via_1m["bucket_us"].unique(), unit="us")
    assert all(s.day == 1 and s.time() == datetime.time() for s in starts)
    assert len(starts) >= 3

    # n/s1/s2/min/max vs a direct pandas month aggregation of the channels
    chp = ch.toPandas()
    ts = pd.to_datetime(chp["ts_us"], unit="us")
    chp["m_us"] = (
        ts.dt.tz_localize(None).dt.to_period("M").dt.start_time.astype("int64")
        // 1000
    )
    direct = (
        chp.groupby(["conv_id", "channel", "m_us"])
        .agg(n=("x", "size"), s1=("x", "sum"), min_raw=("x", "min"),
             max_raw=("x", "max"))
        .reset_index()
        .sort_values(["conv_id", "channel", "m_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert (via_1m["n"].to_numpy() == direct["n"].to_numpy()).all()
    assert (via_1m["s1"].to_numpy() == direct["s1"].to_numpy()).all()
    assert (via_1m["min_raw"].to_numpy() == direct["min_raw"].to_numpy()).all()
    assert (via_1m["max_raw"].to_numpy() == direct["max_raw"].to_numpy()).all()
    assert (via_1m["bucket_us"].to_numpy() == direct["m_us"].to_numpy()).all()
