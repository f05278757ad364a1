#!/usr/bin/env python3
"""Self-test of the benchmark on the ``tiny`` preset (about five minutes):

    python3 perfbench/selftest.py

Checks that
1. every workload prints every end-to-end metric (``--trace 0``) and every
   per-layer metric (``--trace 1``) of BENCHMARK.json, each with its unit;
2. a deliberately corrupted tier file is counted as a failed operation in
   the result, not a crash of the run;
3. the ``refresh`` reset gives identical snapshot ids across operations and
   across runs;
4. two traced runs of one seed report identical work counts.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 3


def bench(workload: str, trace: int = 0, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--preset", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.tracing import WORK_COUNTS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    traced = {}
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            detail, result = bench(workload, trace)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want[trace], f"{workload} --trace {trace}: every metric with its unit")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{workload} --trace {trace}: every operation passes its oracle check")
            if trace:
                traced[workload] = result["metrics"]
            if workload == "refresh" and not trace:
                snaps = {o["snapshot_id"] for o in detail["ops"]}

    _detail, result = bench("backfill", 0, "--inject-corrupt")
    expect(not result["correct"] and result["failed"] == 1
           and result["metrics"]["success_rate"]["value"] < 1,
           "a corrupted tier file is counted as a failed operation")

    detail, _result = bench("refresh", 0)
    again = {o["snapshot_id"] for o in detail["ops"]}
    expect(len(snaps) == 1 and again == snaps,
           f"refresh reset repeats the snapshot id across operations and runs ({snaps})")

    _detail, result = bench("backfill", 1)
    diff = [k for k in WORK_COUNTS
            if result["metrics"][k]["value"] != traced["backfill"][k]["value"]]
    expect(not diff, f"two traced backfill runs report equal work counts {diff or ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
