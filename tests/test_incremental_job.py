"""jobs/rollup.py --incremental: full run, append new files, incremental
refresh → tier outputs bit-identical to a full rerun over the grown input;
unaffected ranges untouched; non-append input rejected clearly."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)
from jobs.rollup import parse_args, run

TIERS = ["1m", "1h"]


def _run(args_list) -> int:
    return run(parse_args(args_list))


def _read_tiers(root: str) -> dict[str, pd.DataFrame]:
    out = {}
    for t in TIERS:
        df = pd.read_parquet(os.path.join(root, f"tier={t}"))
        df["s2"] = df["s2"].map(int)
        out[t] = df.sort_values(
            ["conv_id", "channel", "bucket_start"], kind="mergesort"
        ).reset_index(drop=True)
    return out


@pytest.fixture(scope="module")
def grown_input(spark, tiny_path, tmp_path_factory):
    """An input dir written in two file batches: 80% prefix turns, then the
    20% tail appended as NEW parquet files (append-only file history)."""
    d = str(tmp_path_factory.mktemp("grow_in"))
    turns = read_transcripts(spark, tiny_path)
    w = Window.partitionBy("conv_id")
    tagged = turns.withColumn(
        "_d", F.col("turn_idx") > (F.max("turn_idx").over(w) * 0.8).cast("int")
    )
    tagged.filter(~F.col("_d")).drop("_d").repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    delta = tagged.filter(F.col("_d")).drop("_d").cache()
    n_delta = delta.count()
    assert n_delta > 0
    return d, delta, n_delta


def _common(tiny_path):
    return ["--tiers", ",".join(TIERS), "--num-parts", "4", "--master", "local[4]"]


def test_incremental_refresh_equals_full_rerun(
    spark, tiny_path, grown_input, tmp_path_factory
):
    d, delta, n_delta = grown_input
    inc_out = str(tmp_path_factory.mktemp("inc_out"))
    full_out = str(tmp_path_factory.mktemp("full_out"))
    common = _common(tiny_path)

    # bootstrap: --incremental with no prior manifest = full run + manifest
    assert _run(["--input", d, "--output", inc_out, "--incremental"] + common) == 0
    assert os.path.exists(os.path.join(inc_out, "_input_manifest.json"))

    # re-run before any append: up to date, nothing rewritten
    assert _run(["--input", d, "--output", inc_out, "--incremental"] + common) == 0

    # append the tail as NEW files, then refresh incrementally
    delta.repartition(2).write.mode("append").parquet(d)
    assert _run(["--input", d, "--output", inc_out, "--incremental"] + common) == 0

    # reference: full run over the grown input
    assert _run(["--input", d, "--output", full_out] + common) == 0
    a, b = _read_tiers(inc_out), _read_tiers(full_out)
    for t in TIERS:
        pd.testing.assert_frame_equal(a[t], b[t], check_exact=True)

    # lineage: the refresh records exactly the delta rows against the new
    # snapshot, and flags itself incremental in the stage metadata it used
    recs = [json.loads(x) for x in open(os.path.join(inc_out, "_ckpt.jsonl"))]
    snaps = {r["snapshot_id"] for r in recs}
    assert len(snaps) == 2  # bootstrap snapshot + refreshed snapshot
    new_snap = json.load(open(os.path.join(inc_out, "_input_manifest.json")))[
        "snapshot_id"
    ]
    delta_recs = [r for r in recs if r["snapshot_id"] == new_snap]
    assert sum(r["rows_in"] for r in delta_recs) == n_delta
    assert all(r["points_out"]["1m"] > 0 for r in delta_recs)


def test_non_append_history_is_rejected(
    spark, tiny_path, grown_input, tmp_path_factory
):
    d, delta, _ = grown_input
    out = str(tmp_path_factory.mktemp("rej_out"))
    common = _common(tiny_path)
    assert _run(["--input", d, "--output", out, "--incremental"] + common) == 0

    # rewrite the input dir in place (same rows, different files) — history
    # is no longer an append of the recorded snapshot. Round-trip through
    # pandas: Spark refuses to overwrite a path its own plan reads.
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    pdf = read_transcripts(spark, d).toPandas()
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).repartition(3).write.mode(
        "overwrite"
    ).parquet(d)
    with pytest.raises(RuntimeError, match="not an append"):
        _run(["--input", d, "--output", out, "--incremental"] + common)


def test_refresh_after_empty_bootstrap(spark, tiny_path, tmp_path):
    """A full run over an empty input writes no range directories; a
    refresh that appends turns then merges into nothing and equals a full
    run over the grown input."""
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    d = str(tmp_path / "in")
    # the 100k-turn conversation adds run time and no coverage here
    turns = read_transcripts(spark, tiny_path).filter(F.col("conv_id") != "edge_hot")
    spark.createDataFrame([], TRANSCRIPT_SCHEMA).write.parquet(d)
    common = _common(tiny_path)
    inc_out, full_out = str(tmp_path / "inc"), str(tmp_path / "full")
    assert _run(["--input", d, "--output", inc_out, "--incremental"] + common) == 0
    assert not os.path.exists(os.path.join(inc_out, "tier=1m"))

    turns.repartition(2).write.mode("append").parquet(d)
    assert _run(["--input", d, "--output", inc_out, "--incremental"] + common) == 0
    assert _run(["--input", d, "--output", full_out] + common) == 0
    a, b = _read_tiers(inc_out), _read_tiers(full_out)
    for t in TIERS:
        assert len(a[t]) > 0
        pd.testing.assert_frame_equal(a[t], b[t], check_exact=True)


def test_refresh_stage_exact_under_aqe_coalescing(spark, tiny_path, tmp_path):
    """The refresh merge aggregates a union of two shuffles (old stats and
    the delta's channel pass) on the hash(conv_id) partitioning they share,
    with no exchange of its own. AQE sizes the reads of both shuffles from
    their partition sizes: on this input 64m and 256k coalesce each side to
    one partition, 16k and 4k leave all of them. At every size the staged
    stats equal a from-scratch aggregation of the grown input, row for
    row."""
    import jobs.rollup as rollup_job
    from features_engineering_of_motion_data_spark.operators.channels import (
        derive_channels,
    )
    from features_engineering_of_motion_data_spark.operators.features import (
        aggregate_tier,
    )

    d, out = str(tmp_path / "in"), str(tmp_path / "out")
    turns = read_transcripts(spark, tiny_path).filter(F.col("conv_id") != "edge_hot")
    w = Window.partitionBy("conv_id")
    tagged = turns.withColumn(
        "_d", F.col("turn_idx") > (F.max("turn_idx").over(w) * 0.8).cast("int")
    )
    tagged.filter(~F.col("_d")).drop("_d").repartition(2).write.parquet(d)
    args = parse_args(["--input", d, "--output", out, "--incremental"] + _common(tiny_path))
    assert run(args) == 0
    tagged.filter(F.col("_d")).drop("_d").repartition(2).write.mode("append").parquet(d)
    prior = rollup_job._load_input_manifest(out)

    keys = ["conv_id", "channel", "bucket_us"]
    part = F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    want = (
        aggregate_tier(derive_channels(read_transcripts(spark, d)), "1m")
        .withColumn("part", part).toPandas()
        .sort_values(keys, kind="mergesort").reset_index(drop=True)
    )
    confs = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
             "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for size in ("64m", "256k", "16k", "4k"):
            for k in confs:
                spark.conf.set(k, size)
            staged, rows = rollup_job._incremental_stage(spark, args, "1m", prior)
            affected = {int(k[1:]) for k, n in rows.items() if n}
            got = (
                staged.withColumn("part", F.col("part").cast("int")).toPandas()
                .sort_values(keys, kind="mergesort").reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(
                got, want[want["part"].isin(affected)].reset_index(drop=True),
                check_exact=True, obj=size,
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
