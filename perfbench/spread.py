#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median and its
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 perfbench/spread.py --workload refresh --seeds 1 2 3 4 5 \
        [--seconds 10] [--trace 0] [--out perfbench/results/refresh.json]

Run from the checkout root.  Runs are sequential; each is a fresh process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def invoke(workload: str, seed: int, trace: int, seconds: int) -> tuple[dict, dict]:
    """One benchmark run in a fresh process: (detail line, result line)."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        command = json.load(f)["command"]
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in a.seeds:
        t0 = time.perf_counter()
        detail, result = invoke(a.workload, seed, a.trace, seconds)
        run_wall = time.perf_counter() - t0
        runs.append({"seed": seed, "run_wall_s": run_wall, "result": result,
                     "samples": detail.get("samples"), "setup_s": detail.get("setup_s")})
        print(json.dumps({"seed": seed, "run_wall_s": round(run_wall, 1), "correct": result["correct"],
                          "metrics": {k: v["value"] for k, v in result["metrics"].items()}}),
              flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals), "spread": spread(vals),
                         "bound": bounds.get(name), "values": vals}
    report = {"workload": a.workload, "seconds": seconds, "trace": a.trace,
              "seeds": a.seeds, "all_correct": all(r["result"]["correct"] for r in runs),
              "metrics": summary, "runs": runs}
    for name, s in summary.items():
        print(f"{name:28s} median {s['median']:.6g}  spread {s['spread']:.4f}  bound {s['bound']}")
    if a.out:
        with open(a.out, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
