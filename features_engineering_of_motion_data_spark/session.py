"""SparkSession factory with the engine's canonical configuration.

Local mode is the sandbox stand-in for a multi-executor cluster; the configs
below are chosen so the same code deploys unchanged via
``spark-submit --py-files`` (SURVEY.md §3 E1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: driver heap ceiling, and the default when the host's memory is unknown
_MAX_DRIVER_MB = 16 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's ``MemTotal``, capped at 16g; 16g when the file cannot
    be read (a non-Linux driver). ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    try:
        with open(meminfo, encoding="ascii") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{_MAX_DRIVER_MB}m"
    return f"{min(kb // 2048, _MAX_DRIVER_MB)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "transcript-rollup",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build the canonical SparkSession, or return the active one untouched.

    ``master=None`` defers to spark-submit / an existing session, so the same
    entry points run under a real cluster manager unchanged. A job called
    in-process (tests, perfbench) runs on its caller's session as configured:
    re-applying the defaults below would override the caller's settings.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        # 4 task waves per core, not the 200 default (local mode = 1 JVM) and
        # not 1 wave: measured on the staged cascade (BENCH/sweep_gc4.log,
        # sgc4g_p4 vs sgc4g) a 4-wave layout cuts TOTAL CPU ~20% — smaller
        # per-task agg hash maps stay cache/GC-friendly — on top of
        # bin-packing hot-conversation partition skew (max/mean 1.35 at one
        # wave).
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        shuffle_partitions = 4 * cpus
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # modern parquet timestamps (µs), not legacy INT96: this pins the
        # bytes of the jobs' tier files, and INT96 columns get NO footer
        # min/max statistics, so readers could not skip row groups on
        # bucket_start
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound Arrow batches crossing the JVM<->Python boundary (SURVEY §4)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(),
        # PySpark 4 captures a DataFrame call-site origin on every Column
        # call: one F.col makes 13 py4j round trips instead of 3, and
        # building the 1m→1h→1d cascade_from_stats plan makes 2,558 instead
        # of 838 (warm, ~180 → ~105 ms on a 4-vCPU host). Every job pays
        # it on the driver, between Spark actions. With capture off, an
        # analysis error lacks PySpark's DataFrame call-site block: turn it
        # back on through ``extra_conf`` when debugging (like every key
        # here, this one wins over a spark-submit ``--conf``).
        # PySpark caches the flag process-wide on first use, so it only
        # counts when the session is built.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
