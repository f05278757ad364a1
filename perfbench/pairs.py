#!/usr/bin/env python3
"""Interleaved runs that separate seed and tracing effects from host drift:

    python3 perfbench/pairs.py --workload backfill --rounds 2 \
        [--out perfbench/results/backfill-pairs.json]

Each round runs, back to back: untraced default seed, untraced confirming
seed, traced default seed.  Comparing runs of one round (minutes apart)
gives the seed effect and the tracing overhead with the host's slow load
swings mostly cancelled.  Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from spread import ROOT, invoke

DEFAULT_SEED, CONFIRM_SEED = 7, 1009


def job_s(workload: str, seed: int, trace: int, seconds: int) -> float:
    metrics = invoke(workload, seed, trace, seconds)[1]["metrics"]
    return metrics["job.wall_s" if trace else "job_s"]["value"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--out", default=None)
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]
    rounds = []
    for _ in range(a.rounds):
        base = job_s(a.workload, DEFAULT_SEED, 0, seconds)
        confirm = job_s(a.workload, CONFIRM_SEED, 0, seconds)
        traced = job_s(a.workload, DEFAULT_SEED, 1, seconds)
        rounds.append({"job_s_seed7": base, "job_s_seed1009": confirm,
                       "traced_wall_s_seed7": traced,
                       "seed_effect": confirm / base - 1, "trace_overhead_s": traced - base})
        print(json.dumps(rounds[-1]), flush=True)
    summary = {k: statistics.median(r[k] for r in rounds) for k in ("seed_effect", "trace_overhead_s")}
    print(json.dumps({"workload": a.workload, "median": summary}))
    if a.out:
        with open(a.out, "w", encoding="utf-8") as f:
            json.dump({"workload": a.workload, "rounds": rounds, "median": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
