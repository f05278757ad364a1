"""Per-partition checkpoint manifest (SURVEY §2.1 S4, §3 E3) and the
atomic JSON writer of the jobs' lineage sidecars.

JSON-lines file; one record per completed partition range carrying lineage:
input snapshot-id, partition key, rows-in / points-out metrics and wall time.
Appends are atomic enough for a single driver (O_APPEND + flush + fsync);
on Iceberg deployments the manifest would live beside the job's own commit
metadata, but its format is engine-owned either way.
"""

from __future__ import annotations

import json
import os
import time


def write_json(path: str, obj) -> None:
    """Write a lineage sidecar atomically: a tmp file, flushed and fsynced,
    then renamed over ``path``. A crash leaves the old file or the new one,
    never a truncated one."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_json(path: str):
    """A sidecar written by :func:`write_json`, or None when absent."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def load_manifest(path: str) -> list[dict]:
    """Records of a manifest. An unterminated last line is the torn write of
    a crash inside :func:`append_record`: that part never committed its
    record, so it is skipped and the part reruns. A corrupt line that is
    followed by others is damage, not a torn append, and raises."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        # the piece after the last newline is "" when the file ends cleanly,
        # and the torn record otherwise: drop it either way
        lines = f.read().split("\n")[:-1]
    return [json.loads(line) for line in lines if line.strip()]


def _drop_torn_tail(path: str) -> None:
    """Cut an unterminated last line, so the next record starts a line."""
    with open(path, "rb+") as f:
        end = f.seek(0, os.SEEK_END)
        if end == 0:
            return
        f.seek(end - 1)
        if f.read(1) == b"\n":
            return
        f.seek(0)
        f.truncate(f.read().rfind(b"\n") + 1)


def completed_parts(records: list[dict], snapshot_id: str) -> set[int]:
    """Partition keys already finished *for this snapshot*.

    A manifest written against a different snapshot is a hard error: resume
    must never mix snapshots (lineage guarantee, SURVEY §3 E3).
    """
    seen = {r["snapshot_id"] for r in records}
    if seen and seen != {snapshot_id}:
        raise RuntimeError(
            f"checkpoint manifest was written for snapshot(s) {sorted(seen)} "
            f"but the input resolves to {snapshot_id}; refusing to resume "
            "across snapshots"
        )
    return {int(r["part_key"]) for r in records}


def append_record(
    path: str,
    snapshot_id: str,
    part_key: int,
    rows_in: int,
    points_out: dict[str, int],
    wall_s: float,
) -> dict:
    rec = {
        "snapshot_id": snapshot_id,
        "part_key": part_key,
        "rows_in": rows_in,
        "points_out": points_out,
        "wall_s": round(wall_s, 3),
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    if os.path.exists(path):
        _drop_torn_tail(path)
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())
    return rec
