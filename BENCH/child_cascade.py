#!/usr/bin/env python
"""Measurement child for the scaling harness (BENCH/run_scaling.py).

Runs the full three-tier cascade ONCE, the way the production job does
(jobs/rollup.py stages the 1m sufficient statistics and every coarser tier
merges from the tier below — the staged frame is never recomputed):
``stats_1m`` is persisted, 1h merges from it, 1d merges from 1h.  The
pre-round-3 inline child recomputed the whole scan+dedup+agg pipeline for
every tier (3x the real work), which made quiet-window sampling on this
throttled host 3x harder for no extra evidence.

Prints ``MEASURE <cores> <wall_s> <points> <cpu_s>`` exactly like the
legacy inline child; run_scaling.py parses that line.

Usage: python child_cascade.py <cores> <input> <repo> <shuffle_parts>
Env:   SPARK_GRAFT_EXTRA_CONF — JSON dict of extra Spark conf (applied
       identically at every core count, so N-vs-4N stays apples-to-apples).
"""

import json
import os
import resource
import sys
import time

sys.path.insert(0, sys.argv[3])

from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.session import get_spark
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
    finalize_features,
)
from features_engineering_of_motion_data_spark.operators.rollup import rollup_merge
from features_engineering_of_motion_data_spark.sources.transcripts import read_transcripts


def _proc_cpu_s() -> float:
    """Total CPU-seconds of this python + every live DESCENDANT process (the
    JVM and any Python workers it forks): walk the full ppid tree, not just
    direct children. /proc/<pid>/stat utime+stime aggregate all threads."""
    hz = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts_ = f.read().rsplit(") ", 1)[1].split()
            stats[pid] = (parts_[1], (int(parts_[11]) + int(parts_[12])) / hz)
        except (OSError, IndexError, ValueError):
            continue
    mine = {str(os.getpid())}
    grew = True
    while grew:  # transitive closure over ppid
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    total = sum(cpu for pid, (_, cpu) in stats.items() if pid in mine and pid != str(os.getpid()))
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return total + ru.ru_utime + ru.ru_stime


def main() -> None:
    n = int(sys.argv[1])
    parts = int(sys.argv[4])
    extra = {}
    if parts != n:
        # without this, AQE's parallelism-first coalescing folds the
        # multi-wave layout straight back to ~n partitions
        extra["spark.sql.adaptive.coalescePartitions.minPartitionNum"] = str(parts)
    extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    spark = get_spark(master="local[%d]" % n, shuffle_partitions=parts, extra_conf=extra)

    turns = read_transcripts(spark, sys.argv[2])

    def force(df):
        return df.select(F.count(F.lit(1))).collect()[0][0]

    # JIT warmup on a slice (not counted)
    force(aggregate_tier(derive_channels(turns.limit(100_000)), "1m"))

    cpu0 = _proc_cpu_s()
    t0 = time.perf_counter()
    s1m = aggregate_tier(derive_channels(turns), "1m").persist()
    pts = force(finalize_features(s1m))
    s1h = rollup_merge(s1m, "1h").persist()
    pts += force(finalize_features(s1h))
    pts += force(finalize_features(rollup_merge(s1h, "1d")))
    dt = time.perf_counter() - t0
    cpu = _proc_cpu_s() - cpu0
    print("MEASURE %d %f %d %f" % (n, dt, pts, cpu))
    spark.stop()


if __name__ == "__main__":
    main()
