"""Streaming surface tests: file source + availableNow trigger + memory sink;
finished streaming buckets must equal the batch tier bit-for-bit."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.operators.channels import (
    dedup_turns,
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    read_transcripts,
)
from features_engineering_of_motion_data_spark.streaming import (
    stream_dedup_turns,
    stream_latency_stateful,
    stream_sessions,
    stream_tier_1m,
)


@pytest.fixture(scope="module")
def stream_input(spark, tiny_path, tmp_path_factory):
    """Tiny fixture re-written as a multi-file directory (micro-batch food).
    edge_hot excluded to keep the stateful python loop fast."""
    d = str(tmp_path_factory.mktemp("stream_in"))
    # edge_hot excluded (stateful python loop cost); edge_dup_turn excluded
    # because the streaming path has no dedup stage
    df = read_transcripts(spark, tiny_path).filter(
        ~F.col("conv_id").isin("edge_hot", "edge_dup_turn")
    )
    df.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run_stream(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ckpt_{name}")
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_stream_tier_matches_batch(spark, stream_input):
    import shutil

    shutil.rmtree("/tmp/ckpt_t1m", ignore_errors=True)
    turns = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_input)
    got = (
        _run_stream(spark, stream_tier_1m(turns, watermark="0 seconds"), "t1m",
                    mode="complete")
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch = aggregate_tier(
        derive_channels(spark.read.parquet(stream_input)), "1m"
    )
    want = (
        batch.filter(F.col("channel") != "inter_turn_latency")
        .select("conv_id", "channel", "bucket_us", "n", "s1", "s2", "min_raw", "max_raw")
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("conv_id", "channel", "bucket_us", "n", "s1", "min_raw", "max_raw"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert [int(v) for v in got["s2"]] == [int(v) for v in want["s2"]]


def test_streamed_1m_feeds_batch_cascade(spark, stream_input):
    """The streaming→batch handoff the module docstring promises: the
    streamed 1m stats table, pushed through the BATCH merge algebra
    (rollup_merge → 1h), equals the all-batch 1h tier bit-for-bit for the
    row-local channels."""
    import shutil

    from features_engineering_of_motion_data_spark.operators.rollup import (
        rollup_merge,
    )

    shutil.rmtree("/tmp/ckpt_t1m_cas", ignore_errors=True)
    turns = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_input)
    streamed_1m = _run_stream(
        spark, stream_tier_1m(turns, watermark="0 seconds"), "t1m_cas",
        mode="complete"
    )
    got = (
        rollup_merge(streamed_1m, "1h")
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch_1h = rollup_merge(
        aggregate_tier(
            derive_channels(spark.read.parquet(stream_input)), "1m"
        ),
        "1h",
    )
    want = (
        batch_1h.filter(F.col("channel") != "inter_turn_latency")
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_us"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert list(got.columns) == list(want.columns)
    for c in want.columns:
        if c == "s2":
            assert [int(v) for v in got[c]] == [int(v) for v in want[c]], c
        else:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_stream_latency_stateful(spark, stream_input):
    import shutil

    shutil.rmtree("/tmp/ckpt_lat", ignore_errors=True)
    turns = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_input)
    got = _run_stream(
        spark, stream_latency_stateful(turns, watermark="0 seconds"), "lat"
    ).toPandas()
    # within one availableNow run the per-conv state sees all turns →
    # latencies must match the batch lag exactly for in-order convs
    sub = got[got.conv_id == "edge_constant"].sort_values("turn_idx")
    lats = sub["lat_us"].dropna().unique().tolist()
    assert lats == [10_000_000]  # uniform 10s cadence
    assert pd.isna(sub.iloc[0]["lat_us"])


def test_stream_sessions(spark, stream_input):
    import shutil

    shutil.rmtree("/tmp/ckpt_sess", ignore_errors=True)
    turns = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_input)
    got = _run_stream(
        spark, stream_sessions(turns, gap="30 minutes", watermark="0 seconds"),
        "sess", mode="complete"
    ).toPandas()
    # edge_constant: uniform 10s gaps → exactly one session of 50 turns
    const = got[got.conv_id == "edge_constant"]
    assert len(const) == 1 and const.iloc[0]["n_turns"] == 50
    # edge_bursty: 20 bursts separated by 1h silences → 20 sessions of 10
    bursty = got[got.conv_id == "edge_bursty"]
    assert len(bursty) == 20
    assert (bursty["n_turns"] == 10).all()


def test_watermark_late_data_and_append_finalization(spark, tmp_path):
    """The streaming contract Spark actually GUARANTEES for late data, pinned
    empirically (Spark ≥3.4 filters late events with the PREVIOUS batch's
    watermark — ``watermarkForLateEvents`` — and evicts with the updated one,
    so dropping before a window's state is evicted is best-effort, NOT
    promised):

    1. cross-batch rows within the watermark delay MERGE into the open
       window (no premature finalization),
    2. append mode emits a window exactly ONCE, when the watermark passes
       its end — still-open windows are withheld,
    3. a row arriving after its window was emitted+evicted is dropped
       deterministically (no duplicate emission, no resurrected state).

    Three files, mtime-ordered so the file source feeds them as separate
    micro-batches (maxFilesPerTrigger=1): f1 = windows 0/1/2/18 + a
    watermark-advancer at minute 20; f2 = a cross-batch update to the
    still-open window 18 + a minute-60 sentinel whose batch evicts all
    earlier windows; f3 = a too-late row for the already-emitted window 0
    + a minute-61 row whose window stays open."""
    import datetime
    import os
    import shutil

    def rows(specs):
        return [
            (
                "c1",
                i,
                "user",
                "x" * 10,
                None,
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(minutes=minute, seconds=second),
            )
            for i, (minute, second) in enumerate(specs)
        ]

    d = str(tmp_path / "late_in")
    os.makedirs(d)
    for name, specs, mtime in (
        ("f1", [(0, 0), (1, 0), (2, 0), (18, 0), (20, 0)], 1_000_000),
        ("f2", [(18, 30), (60, 0)], 2_000_000),
        ("f3", [(0, 30), (61, 0)], 3_000_000),
    ):
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(specs), TRANSCRIPT_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    shutil.rmtree("/tmp/ckpt_late", ignore_errors=True)
    turns = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = (
        _run_stream(
            spark, stream_tier_1m(turns, watermark="5 minutes"), "late"
        )
        .toPandas()
        .query("channel == 'text_len'")
    )
    minute_us = 60_000_000
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

    # (2) exactly-once emission: no bucket appears twice in the sink
    assert got["bucket_us"].is_unique
    byb = got.set_index("bucket_us")
    # f1's window 0 was emitted (n=1) at f2's batch; f3's too-late row for
    # it was dropped — (3): no duplicate row, no n=2 resurrection
    assert sorted(byb.index) == [
        base_us,
        base_us + 1 * minute_us,
        base_us + 2 * minute_us,
        base_us + 18 * minute_us,
        base_us + 20 * minute_us,
    ]
    assert int(byb.loc[base_us, "n"]) == 1
    # (1) the cross-batch minute-18:30 row merged into window 18 before it
    # finalized: n=2 spanning both micro-batches
    assert int(byb.loc[base_us + 18 * minute_us, "n"]) == 2
    # (2) still-open windows withheld: final watermark = 00:56 < ends of
    # the minute-60/61 windows
    assert base_us + 60 * minute_us not in byb.index
    assert base_us + 61 * minute_us not in byb.index


def _two_batch_dup_dir(spark, stream_input, tmp_path):
    """Duplicated feed as two mtime-ordered files: f1 = the clean input,
    f2 = a redelivery of every turn_idx % 3 == 0 turn (identical payloads) —
    with maxFilesPerTrigger=1 the redeliveries arrive one micro-batch LATER,
    exercising cross-batch dedup state, not just in-batch distinct."""
    import os
    import shutil

    clean = spark.read.parquet(stream_input)
    d = str(tmp_path / "dup_in")
    os.makedirs(d)
    for name, df, mtime in (
        ("f1", clean, 1_000_000),
        ("f2", clean.filter(F.pmod(F.col("turn_idx"), F.lit(3)) == 0), 2_000_000),
    ):
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))
    return d, clean


def test_stream_dedup_drops_cross_batch_redeliveries(spark, stream_input, tmp_path):
    """Exactly-once ingestion under at-least-once delivery: redeliveries in a
    LATER micro-batch (inside the watermark) are dropped, and the deduped
    stream equals the batch dedup of the clean input row-for-row — per-turn
    text equality included."""
    import shutil

    d, clean = _two_batch_dup_dir(spark, stream_input, tmp_path)
    shutil.rmtree("/tmp/ckpt_dedup", ignore_errors=True)
    turns = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = (
        _run_stream(spark, stream_dedup_turns(turns, watermark="1 hour"), "dedup")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        dedup_turns(clean)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts"):
        a, b = got[c], want[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_stream_dedup_feeds_tier(spark, stream_input, tmp_path):
    """Chained stateful operators in ONE streaming query (dedup → windowed
    agg, Spark ≥ 3.5 append mode): every bucket the chain finalizes over the
    DUPLICATED feed is bit-equal to the batch 1m tier of the CLEAN input —
    i.e. the dedup stage fully shields the aggregate from redelivery."""
    import shutil

    d, clean = _two_batch_dup_dir(spark, stream_input, tmp_path)
    shutil.rmtree("/tmp/ckpt_dedup_tier", ignore_errors=True)
    turns = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    chained = stream_tier_1m(
        stream_dedup_turns(turns, watermark="5 minutes"), watermark=None
    )
    got = _run_stream(spark, chained, "dedup_tier").toPandas()
    assert len(got) > 0
    want = (
        aggregate_tier(derive_channels(clean), "1m")
        .filter(F.col("channel") != "inter_turn_latency")
        .select("conv_id", "channel", "bucket_us", "n", "s1", "s2",
                "min_raw", "max_raw")
        .toPandas()
    )
    key = ["conv_id", "channel", "bucket_us"]
    merged = got.merge(want, on=key, how="left", suffixes=("", "_b"))
    # every emitted bucket exists in the batch tier and carries identical
    # sufficient stats — a duplicate leaking through would inflate n/s1/s2
    assert merged["n_b"].notna().all()
    for c in ("n", "s1", "min_raw", "max_raw"):
        assert (merged[c].to_numpy() == merged[f"{c}_b"].to_numpy()).all(), c
    assert [int(v) for v in merged["s2"]] == [int(v) for v in merged["s2_b"]]


def test_stream_ewma_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming EWMA (stream_ewma): the recurrence resumes from one carried
    float per conversation, so three mtime-ordered micro-batches produce
    output BIT-EQUAL to the single-pass batch EWMA over the full series."""
    import datetime
    import os
    import shutil

    import numpy as np

    from features_engineering_of_motion_data_spark.streaming import stream_ewma

    rng = np.random.default_rng(11)
    lens = {c: rng.integers(1, 400, 30) for c in ("cA", "cB")}

    def rows(lo, hi):
        out = []
        for conv, ls in lens.items():
            for i in range(lo, hi):
                out.append(
                    (
                        conv,
                        i,
                        "user",
                        "x" * int(ls[i]),
                        None,
                        datetime.datetime(2024, 1, 1)
                        + datetime.timedelta(seconds=10 * i),
                    )
                )
        return out

    d = str(tmp_path / "ewma_in")
    os.makedirs(d)
    for name, (lo, hi), mtime in (
        ("f1", (0, 9), 1_000_000),
        ("f2", (9, 10), 2_000_000),  # single-row batch: boundary case
        ("f3", (10, 30), 3_000_000),
    ):
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(lo, hi), TRANSCRIPT_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    shutil.rmtree("/tmp/ckpt_ewma", ignore_errors=True)
    turns = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = (
        _run_stream(spark, stream_ewma(turns, alpha=0.25), "ewma")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == 60

    for conv, ls in lens.items():
        want = (
            pd.Series(ls.astype("float64"))
            .ewm(alpha=0.25, adjust=False)
            .mean()
            .to_numpy()
        )
        g = got[got.conv_id == conv]["ewma_len"].to_numpy()
        assert np.array_equal(g.view(np.int64), want.view(np.int64)), conv


def test_stream_ewma_drops_out_of_order_redelivery(spark, tmp_path):
    """The ordering guard: a later micro-batch re-delivering turn_idx values
    at or below the carried last_turn must be DROPPED, not folded into the
    recurrence — survivors stay bit-equal to the ordered-prefix batch EWMA
    and the stale rows emit nothing."""
    import datetime
    import os
    import shutil

    import numpy as np

    from features_engineering_of_motion_data_spark.streaming import stream_ewma

    lens = np.arange(1, 21) * 7  # deterministic, nontrivial

    def rows(idxs):
        return [
            (
                "cX",
                int(i),
                "user",
                "x" * int(lens[i]),
                None,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=10 * int(i)),
            )
            for i in idxs
        ]

    d = str(tmp_path / "ewma_ooo_in")
    os.makedirs(d)
    batches = (
        ("f1", range(0, 10), 1_000_000),
        ("f2", [3, 7, 9], 2_000_000),   # pure re-delivery batch -> no output
        ("f3", [8, 10, 11, 12], 3_000_000),  # mixed: 8 stale, 10-12 fresh
    )
    for name, idxs, mtime in batches:
        tmp = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(idxs), TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{name}.parquet")
        shutil.copyfile(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    shutil.rmtree("/tmp/ckpt_ewma_ooo", ignore_errors=True)
    turns = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = (
        _run_stream(spark, stream_ewma(turns, alpha=0.25), "ewma_ooo")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    # 0..9 from f1 + 10..12 from f3; every stale row silent
    assert got["turn_idx"].tolist() == list(range(13))
    want = (
        pd.Series(lens[:13].astype("float64"))
        .ewm(alpha=0.25, adjust=False)
        .mean()
        .to_numpy()
    )
    assert np.array_equal(got["ewma_len"].to_numpy().view(np.int64), want.view(np.int64))
