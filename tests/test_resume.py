"""Resume tests (SURVEY §5.5): kill after a partial run → resume → outputs
identical to an uninterrupted run; snapshot-id mismatch aborts.

Runs jobs/rollup.py in-process (same code path spark-submit executes) against
the tiny fixture with 4 hash ranges.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from features_engineering_of_motion_data_spark.sources.checkpoints import (
    load_manifest,
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
def base_args(tiny_path):
    return ["--input", tiny_path, "--tiers", ",".join(TIERS), "--num-parts", "4",
            "--master", "local[4]"]


def test_resume_after_crash_is_identical(tmp_path_factory, base_args):
    full = str(tmp_path_factory.mktemp("full"))
    part = str(tmp_path_factory.mktemp("partial"))

    assert _run(base_args + ["--output", full]) == 0

    # crash after 2 of 4 ranges, then resume
    assert _run(base_args + ["--output", part, "--fail-after", "2"]) == 42
    ckpt = os.path.join(part, "_ckpt.jsonl")
    recs = [json.loads(x) for x in open(ckpt)]
    assert len(recs) == 2
    # a crash inside the third range's append leaves a torn last line
    with open(ckpt, "a", encoding="utf-8") as f:
        f.write('{"finished_at": "2024-')
    assert _run(base_args + ["--output", part, "--resume"]) == 0
    recs = [json.loads(x) for x in open(ckpt)]
    assert len(recs) == 4
    assert {r["part_key"] for r in recs} == {0, 1, 2, 3}
    assert all(r["rows_in"] > 0 for r in recs)

    a, b = _read_tiers(full), _read_tiers(part)
    for t in TIERS:
        pd.testing.assert_frame_equal(a[t], b[t], check_exact=True)


def test_failed_range_leaves_only_its_own_record(
    tmp_path_factory, base_args, monkeypatch
):
    """One write makes every range, then records are appended in range
    order: a failed append writes no record for its range, the others still
    land, and --resume redoes only the failed range."""
    import jobs.rollup as rollup_job

    full = str(tmp_path_factory.mktemp("full_iso"))
    part = str(tmp_path_factory.mktemp("failed_range"))
    assert _run(base_args + ["--output", full]) == 0

    real = rollup_job.append_record
    inflight, peak = [0], [0]
    count_lock = threading.Lock()

    def failing(path, snapshot, part_key, *rest):
        with count_lock:
            inflight[0] += 1
            peak[0] = max(peak[0], inflight[0])
        try:
            time.sleep(0.2)  # widen the window an unserialized append would hit
            if part_key == 1:
                raise RuntimeError("injected failure in range 1")
            return real(path, snapshot, part_key, *rest)
        finally:
            with count_lock:
                inflight[0] -= 1

    monkeypatch.setattr(rollup_job, "append_record", failing)
    with pytest.raises(RuntimeError, match="injected failure in range 1"):
        _run(base_args + ["--output", part])
    assert peak[0] == 1  # checkpoint appends never overlap
    ckpt = os.path.join(part, "_ckpt.jsonl")
    assert sorted(json.loads(x)["part_key"] for x in open(ckpt)) == [0, 2, 3]

    monkeypatch.setattr(rollup_job, "append_record", real)
    assert _run(base_args + ["--output", part, "--resume"]) == 0
    recs = [json.loads(x) for x in open(ckpt)]
    assert sorted(r["part_key"] for r in recs) == [0, 1, 2, 3]

    a, b = _read_tiers(full), _read_tiers(part)
    for t in TIERS:
        pd.testing.assert_frame_equal(a[t], b[t], check_exact=True)


def _tier_files(root: str) -> dict[str, list[str]]:
    """Digests of the parquet files in each ``tier=<T>/part=<K>`` dir (file
    names carry the write's job id, so only contents are compared)."""
    out = {}
    for d in sorted(glob.glob(os.path.join(root, "tier=*", "part=*"))):
        out[os.path.relpath(d, root)] = sorted(
            hashlib.sha256(open(f, "rb").read()).hexdigest()
            for f in glob.glob(os.path.join(d, "*.parquet"))
        )
    return out


def test_crash_after_commit_reruns_every_range(
    tmp_path_factory, base_args, monkeypatch
):
    """The tier write commits, then every record append fails: the job
    raises with an empty checkpoint, and --resume rewrites all ranges into
    tiers byte-identical to an uninterrupted run's."""
    import jobs.rollup as rollup_job

    full = str(tmp_path_factory.mktemp("full_commit"))
    part = str(tmp_path_factory.mktemp("crash_after_commit"))
    assert _run(base_args + ["--output", full]) == 0

    def failing(path, snapshot, part_key, *rest):
        raise RuntimeError(f"injected failure in range {part_key}")

    monkeypatch.setattr(rollup_job, "append_record", failing)
    with pytest.raises(RuntimeError, match="injected failure in range 0"):
        _run(base_args + ["--output", part])
    ckpt = os.path.join(part, "_ckpt.jsonl")
    assert load_manifest(ckpt) == []

    monkeypatch.undo()
    assert _run(base_args + ["--output", part, "--resume"]) == 0
    assert sorted(r["part_key"] for r in load_manifest(ckpt)) == [0, 1, 2, 3]
    want = _tier_files(full)
    assert want and _tier_files(part) == want
    assert not glob.glob(os.path.join(part, "**", ".spark-staging-*"), recursive=True)


def _write_small_input(path: str) -> None:
    """Three conversations of a few turns each, one with a tool call."""
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    t0 = dt.datetime(2024, 3, 1, 23, 58)
    rows = []
    for c, (n, step_s) in enumerate([(5, 20), (4, 45), (6, 900)]):
        for i in range(n):
            rows.append({
                "conv_id": f"conv-{c}", "turn_idx": i,
                "role": "user" if i % 2 == 0 else "assistant",
                "text": "x" * (3 + 7 * i) if i != 2 else None,
                "tool": "search" if c == 1 and i == 1 else None,
                "ts": t0 + dt.timedelta(seconds=c * 7 + i * step_s),
            })
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def test_empty_ranges_record_zero_points(tmp_path):
    """Three conversations over 8 ranges: every range gets a record, an
    empty range records 0 points and has no directory, each record's points
    equal the rows on disk, and the tiers equal a one-range run's."""
    src = str(tmp_path / "three.parquet")
    _write_small_input(src)
    common = ["--input", src, "--tiers", ",".join(TIERS), "--master", "local[2]"]
    out = str(tmp_path / "p8")
    assert _run(common + ["--output", out, "--num-parts", "8"]) == 0

    recs = load_manifest(os.path.join(out, "_ckpt.jsonl"))
    assert sorted(r["part_key"] for r in recs) == list(range(8))
    empty = 0
    for r in recs:
        for t in TIERS:
            d = os.path.join(out, f"tier={t}", f"part={r['part_key']:05d}")
            on_disk = pq.read_table(d).num_rows if os.path.isdir(d) else 0
            assert r["points_out"][t] == on_disk
        if r["rows_in"] == 0:
            empty += 1
            assert r["points_out"] == {t: 0 for t in TIERS}
            assert not glob.glob(os.path.join(out, "tier=*", f"part={r['part_key']:05d}"))
    assert empty >= 5

    one = str(tmp_path / "p1")
    assert _run(common + ["--output", one, "--num-parts", "1"]) == 0
    a, b = _read_tiers(out), _read_tiers(one)
    for t in TIERS:
        assert len(a[t]) > 0
        pd.testing.assert_frame_equal(
            a[t].drop(columns="part"), b[t].drop(columns="part"), check_exact=True
        )


def test_empty_input_completes(tmp_path):
    """Zero-row input → zero partition dirs in the stage; the explicit
    read-schema path must still complete all ranges with 0 rows_in."""
    import pandas as pd

    src = str(tmp_path / "empty.parquet")
    pd.DataFrame(
        {"conv_id": pd.Series([], dtype="str"),
         "turn_idx": pd.Series([], dtype="int32"),
         "role": pd.Series([], dtype="str"),
         "text": pd.Series([], dtype="str"),
         "tool": pd.Series([], dtype="str"),
         "ts": pd.Series([], dtype="datetime64[us]")}
    ).to_parquet(src)
    out = str(tmp_path / "out")
    assert _run(["--input", src, "--output", out, "--tiers", "1m",
                 "--num-parts", "2", "--master", "local[2]"]) == 0
    recs = [json.loads(x) for x in open(os.path.join(out, "_ckpt.jsonl"))]
    assert len(recs) == 2
    assert all(r["rows_in"] == 0 for r in recs)


def test_snapshot_mismatch_aborts(tmp_path, base_args, tiny_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt.jsonl")
    with open(ckpt, "w") as f:
        f.write(
            json.dumps(
                {"snapshot_id": "deadbeef00000000", "part_key": 0,
                 "rows_in": 1, "points_out": {}, "wall_s": 0.0,
                 "finished_at": "2024-01-01T00:00:00Z"}
            ) + "\n"
        )
    with pytest.raises(RuntimeError, match="refusing to resume"):
        _run(base_args + ["--output", out, "--ckpt", ckpt, "--resume"])


def test_fresh_run_refuses_existing_manifest(tmp_path, base_args):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt.jsonl")
    with open(ckpt, "w") as f:
        f.write(json.dumps({"snapshot_id": "x", "part_key": 0, "rows_in": 1,
                            "points_out": {}, "wall_s": 0.0,
                            "finished_at": "z"}) + "\n")
    with pytest.raises(SystemExit):
        _run(base_args + ["--output", out, "--ckpt", ckpt])


def test_archive_product_round_trips(spark, tiny_path, tmp_path):
    """--archive writes the compressed raw tier as a job product; decoding
    it reproduces the channel frame bit-for-bit, and the lineage sidecar
    records the snapshot and a real compression ratio."""
    import numpy as np

    from features_engineering_of_motion_data_spark.operators.archive import (
        decode_archive,
    )
    from features_engineering_of_motion_data_spark.operators.channels import (
        derive_channels,
    )
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        read_transcripts,
        resolve_snapshot,
    )

    out = str(tmp_path / "with_archive")
    assert _run(["--input", tiny_path, "--tiers", "1m,1h", "--num-parts", "4",
                 "--master", "local[4]", "--output", out, "--archive"]) == 0

    meta = json.load(open(os.path.join(out, "archive", "_archive_meta.json")))
    assert meta["snapshot_id"] == resolve_snapshot(tiny_path)
    assert meta["turn_points"] > 0
    assert 0 < meta["ratio"] < 0.35  # DoD+Gorilla on the tiny fixture (~0.26;
    # the per-stream <0.02 DoD gate lives in test_codecs — this checks the
    # JOB product end-to-end, all three streams + headers included)

    cols = ["conv_id", "channel", "turn_idx", "ts_us", "x"]
    got = (
        decode_archive(spark.read.parquet(os.path.join(out, "archive")).drop("part"))
        .toPandas()
        .sort_values(cols[:3], kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        derive_channels(read_transcripts(spark, tiny_path))
        .select(*cols)
        .toPandas()
        .sort_values(cols[:3], kind="mergesort")
        .reset_index(drop=True)
    )
    for c in cols:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_refresh_refuses_other_ranges_or_tier(tmp_path):
    """A refresh keeps the recorded run's --num-parts and finest tier: asking
    for others exits naming the recorded values and leaves the tiers as they
    are, on an unchanged input as on a grown one."""
    src = str(tmp_path / "three.parquet")
    _write_small_input(src)
    out = str(tmp_path / "out")
    common = ["--input", src, "--output", out, "--master", "local[2]",
              "--incremental"]
    assert _run(common + ["--tiers", "1m,1h", "--num-parts", "4"]) == 0
    before = _tier_files(out)
    recorded = "--num-parts 4 and finest tier 1m"
    with pytest.raises(SystemExit, match=recorded):
        _run(common + ["--tiers", "1m,1h", "--num-parts", "8"])
    with pytest.raises(SystemExit, match=recorded):
        _run(common + ["--tiers", "1h,1d", "--num-parts", "4"])
    assert _tier_files(out) == before


def _grown_refresh(spark, tiny_path, tmp_path):
    """Bootstraps a refresh output over the first 60% of every tiny
    conversation but edge_hot (which adds run time and no coverage), then
    appends the next 20% as new files. Returns the input dir, the output
    dir, the refresh args and the last 20%, not yet appended."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from features_engineering_of_motion_data_spark.sources.transcripts import (
        read_transcripts,
    )

    d, out = str(tmp_path / "in"), str(tmp_path / "out")
    turns = read_transcripts(spark, tiny_path).filter(F.col("conv_id") != "edge_hot")
    last = F.max("turn_idx").over(Window.partitionBy("conv_id"))
    tagged = turns.withColumn(
        "_q",
        (F.col("turn_idx") > (last * 0.6).cast("int")).cast("int")
        + (F.col("turn_idx") > (last * 0.8).cast("int")).cast("int"),
    )
    slices = [tagged.filter(f"_q = {q}").drop("_q").repartition(2) for q in range(3)]
    slices[0].write.parquet(d)
    common = ["--input", d, "--output", out, "--tiers", ",".join(TIERS),
              "--num-parts", "4", "--master", "local[4]", "--incremental"]
    assert _run(common) == 0
    slices[1].write.mode("append").parquet(d)
    return d, out, common, slices[2]


def _failed_refresh(spark, tiny_path, tmp_path, monkeypatch):
    """:func:`_grown_refresh`, then a refresh whose tier write commits and
    whose every record append fails."""
    import jobs.rollup as rollup_job

    grown = _grown_refresh(spark, tiny_path, tmp_path)

    def failing(path, snapshot, part_key, *rest):
        raise RuntimeError(f"injected failure in range {part_key}")

    monkeypatch.setattr(rollup_job, "append_record", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        _run(grown[2])
    monkeypatch.undo()
    return grown


def _assert_equals_full_run(d: str, out: str, full: str) -> None:
    assert _run(["--input", d, "--output", full, "--tiers", ",".join(TIERS),
                 "--num-parts", "4", "--master", "local[4]"]) == 0
    a, b = _read_tiers(out), _read_tiers(full)
    for t in TIERS:
        assert len(a[t]) > 0
        pd.testing.assert_frame_equal(a[t], b[t], check_exact=True)
    assert not os.path.exists(os.path.join(out, "_stage"))


def test_refresh_rerun_continues_its_stage(spark, tiny_path, tmp_path, monkeypatch):
    """A refresh's tier write commits, then no record lands. The tiers now
    hold the merged delta, so only the stage still holds the merge of the
    parent tiers: a rerun on the same input, without --resume, continues
    from it and equals a full run (a stage rebuilt from the merged tiers
    would count the delta twice)."""
    d, out, common, _rest = _failed_refresh(spark, tiny_path, tmp_path, monkeypatch)
    assert _run(common) == 0
    _assert_equals_full_run(d, out, str(tmp_path / "full"))


def test_refresh_refuses_another_snapshots_stage(
    spark, tiny_path, tmp_path, monkeypatch
):
    """Same failed refresh, then the input grows again: even with --resume,
    the run refuses, naming the unfinished snapshot, and leaves every tier
    file as it was."""
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        resolve_snapshot,
    )

    d, out, common, rest = _failed_refresh(spark, tiny_path, tmp_path, monkeypatch)
    unfinished = resolve_snapshot(d)
    before = _tier_files(out)
    rest.write.mode("append").parquet(d)
    with pytest.raises(SystemExit, match=unfinished):
        _run(common + ["--resume"])
    assert _tier_files(out) == before


def test_refresh_after_crash_before_stage_delete(
    spark, tiny_path, tmp_path, monkeypatch
):
    """A refresh records its snapshot, then crashes before deleting its
    stage. The next refresh, over a grown input, removes that finished
    stage and equals a full run."""
    import jobs.rollup as rollup_job

    d, out, common, rest = _grown_refresh(spark, tiny_path, tmp_path)
    real = rollup_job._write_input_manifest

    def crashing(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected crash after the manifest write")

    monkeypatch.setattr(rollup_job, "_write_input_manifest", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(common)
    monkeypatch.undo()
    assert glob.glob(os.path.join(out, "_stage", "snap=*", "meta.json"))

    rest.write.mode("append").parquet(d)
    assert _run(common) == 0
    _assert_equals_full_run(d, out, str(tmp_path / "full"))
