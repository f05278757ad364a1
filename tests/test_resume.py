"""Resume tests (SURVEY §5.5): kill after a partial run → resume → outputs
identical to an uninterrupted run; snapshot-id mismatch aborts.

Runs jobs/rollup.py in-process (same code path spark-submit executes) against
the tiny fixture with 4 hash ranges.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pandas as pd
import pytest

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
    """Ranges run concurrently: one that fails writes no record, the others
    still commit theirs, and --resume redoes only the failed range."""
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
