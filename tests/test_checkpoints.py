"""Checkpoint manifest (sources/checkpoints.py): a crash inside
``append_record`` leaves a torn last line, which must not block --resume."""

from __future__ import annotations

import json

import pytest

from features_engineering_of_motion_data_spark.sources.checkpoints import (
    append_record,
    load_manifest,
)


def _write_two(path):
    append_record(path, "snap", 0, 10, {"1m": 3}, 0.1)
    append_record(path, "snap", 1, 20, {"1m": 4}, 0.2)


def test_torn_last_line_is_skipped_and_replaced(tmp_path):
    path = str(tmp_path / "_ckpt.jsonl")
    _write_two(path)
    with open(path, "a", encoding="utf-8") as f:
        f.write('{"part_key": 2, "rows_in"')  # crash mid-append
    assert [r["part_key"] for r in load_manifest(path)] == [0, 1]

    # the rerun's record replaces the torn line instead of extending it
    append_record(path, "snap", 2, 30, {"1m": 5}, 0.3)
    assert [r["part_key"] for r in load_manifest(path)] == [0, 1, 2]
    with open(path, encoding="utf-8") as f:
        assert [json.loads(x)["part_key"] for x in f] == [0, 1, 2]


def test_corrupt_middle_line_raises(tmp_path):
    path = str(tmp_path / "_ckpt.jsonl")
    _write_two(path)
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    lines[0] = lines[0][:20] + "\n"
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(lines)
    with pytest.raises(json.JSONDecodeError):
        load_manifest(path)
