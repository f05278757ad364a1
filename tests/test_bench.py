"""bench.py's one-line contract, built from canned perfbench output (no Spark)."""

from __future__ import annotations

import json

import bench

WORK = {
    "backfill": {"points": 35197, "spark_jobs": 5, "tasks": 30, "output_files": 26,
                 "parquet_bytes": 2497317},
    "refresh": {"points": 34285, "spark_jobs": 9, "tasks": 26, "output_files": 26,
                "parquet_bytes": 2417749},
    "matrix": {"points": 514, "spark_jobs": 3, "tasks": 21, "output_files": 8,
               "parquet_bytes": 1234567},
}


def _stdout(workload: str, points_per_s: float) -> str:
    """The last two stdout lines of one untraced perfbench run."""
    context = {"nproc": 4, "master": "local[4]", "cores": 4, "shuffle_partitions": 16,
               "seed": 7, "preset": "small", "workload": workload, "seconds": 18,
               "trace": 0, "corpus": {"conversations": 511, "turns": 125345}}
    detail = {"context": context, "setup_s": 14.123456789012345, "samples": 17,
              "job_s_median": 1.0212345678901234, "work": WORK[workload],
              "work_repeats": True, "ops": [{"wall_s": 1.0212345678901234, "ok": True}] * 17}
    metrics = {"setup_s": (14.123456789012345, "s"), "job_s": (1.0212345678901234, "s"),
               "points_per_s": (points_per_s, "points/s"), "output_mb": (3.456789012345678, "MB"),
               "success_rate": (1.0, "fraction")}
    result = {"correct": True, "attempted": 17, "failed": 0,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return "\n".join([json.dumps({"detail": detail}), json.dumps(result)]) + "\n"


def _runs() -> dict[str, tuple[int, str]]:
    pps = {"backfill": 34465.12345678901, "refresh": 28334.98765432101, "matrix": 856.6666666666666}
    return {w: (0, _stdout(w, pps[w])) for w in bench.WORKLOADS}


def test_bench_line_carries_perfbench_numbers():
    runs = _runs()
    line, status = bench.bench_line(runs)
    assert status == 0
    assert len(json.dumps(line, separators=(",", ":"))) < 1500
    assert line["metric"] == "points_per_s" and line["unit"] == "points/s"
    assert line["value"] == 34465.12345678901
    assert (line["nproc"], line["cores"], line["seed"]) == (4, 4, 7)
    for w, (_rc, out) in runs.items():
        result = json.loads(out.splitlines()[-1])
        entry = line["workloads"][w]
        assert entry["work"] == WORK[w]
        assert {k: entry[k] for k in result["metrics"]} == {
            k: m["value"] for k, m in result["metrics"].items()}
        assert (entry["attempted"], entry["failed"]) == (17, 0)
        assert "error" not in entry


def test_failed_or_truncated_run_gets_an_error_entry():
    runs = _runs()
    runs["refresh"] = (0, runs["refresh"][1][:-40])  # last line cut short
    runs["matrix"] = (1, "")
    line, status = bench.bench_line(runs)
    assert status != 0
    assert set(line["workloads"]["refresh"]) == {"error"}
    assert set(line["workloads"]["matrix"]) == {"error"}
    assert line["workloads"]["backfill"]["work"] == WORK["backfill"]
    assert line["value"] == 34465.12345678901
    assert len(json.dumps(line, separators=(",", ":"))) < 1500


def test_failed_backfill_leaves_no_headline():
    runs = _runs()
    runs["backfill"] = (137, "")
    line, status = bench.bench_line(runs)
    assert status != 0 and line["value"] is None
    assert (line["nproc"], line["cores"], line["seed"]) == (4, 4, 7)
