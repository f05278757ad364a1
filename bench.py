#!/usr/bin/env python3
"""Benchmark front: perfbench's three job workloads in one short line.

    python3 bench.py

Runs ``perfbench/run.py --workload <w>`` for backfill, refresh and matrix
with perfbench's defaults (seed 7, 18 s, untraced), each in a process of its
own, because run.py stops its JVM gateway on exit. Prints ONE stdout line of
JSON, under 1.5 kB:

  {"metric": "points_per_s", "value": <backfill points/s>, "unit": "points/s",
   "nproc": N, "cores": N, "seed": 7,
   "workloads": {"<w>": {<the five end-to-end metrics>, "attempted": N,
                         "failed": N, "work": {<untraced work counts>}}}}

The headline is backfill's ``points_per_s``: rolled-up feature points per
second of the shipped ``jobs/rollup.py``, scan to committed tier files. The
work counts do not depend on host speed, so a wall-time change with equal
work is host noise. Per-operation samples and the run context stay in the
``.bench_out/<w>-seed7-trace0.json`` files perfbench writes.

A run that exits non-zero, or whose output does not parse, gets a workload
entry with an ``error`` field; the other workloads still run, and bench.py
exits 1.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("backfill", "refresh", "matrix")


def workload_entry(returncode: int, stdout: str) -> tuple[dict, dict]:
    """One workload's bench entry and its perfbench run context, from the
    run's exit status and stdout (detail line, then result line)."""
    if returncode:
        return {"error": f"perfbench exited {returncode}"}, {}
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        entry = {k: m["value"] for k, m in result["metrics"].items()}
        entry.update(attempted=result["attempted"], failed=result["failed"], work=detail["work"])
        return entry, detail["context"]
    except (IndexError, KeyError, TypeError, ValueError) as e:
        return {"error": f"perfbench output does not parse ({type(e).__name__})"}, {}


def bench_line(runs: dict[str, tuple[int, str]]) -> tuple[dict, int]:
    """The bench line and exit status for ``{workload: (returncode, stdout)}``."""
    entries, context = {}, {}
    for name, (returncode, stdout) in runs.items():
        entries[name], ctx = workload_entry(returncode, stdout)
        context = context or ctx
    line = {
        "metric": "points_per_s",
        "value": entries.get("backfill", {}).get("points_per_s"),
        "unit": "points/s",
        **{k: context.get(k) for k in ("nproc", "cores", "seed")},
        "workloads": entries,
    }
    return line, int(any("error" in e for e in entries.values()))


def main() -> int:
    runs = {}
    for name in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", name],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        runs[name] = (p.returncode, p.stdout)
    line, status = bench_line(runs)
    print(json.dumps(line, separators=(",", ":")))
    return status


if __name__ == "__main__":
    sys.exit(main())
