#!/usr/bin/env python
"""Feature-matrix materialization job (the model-facing product surface).

    spark-submit --py-files engine.zip jobs/features.py \
        --input <transcripts parquet/Iceberg path> \
        --output <matrix root> [--tier 1h] [--snapshot <id>]

Writes the wide, model-ready feature matrix — one row per
``(conv_id, bucket_start)``, one column per ``{channel}__{feature}`` over
the derived channels and the A1–A8 feature set — as parquet partitioned by
``bucket_date``, plus a ``_matrix_manifest.json`` recording lineage
(input snapshot-id, tier, row/column counts, feature list).  This is the
artifact a downstream training pipeline reads directly; it is the wide
transpose of what the reference library's per-window feature frames
deliver, produced at Spark scale.

Scale shape: the whole job is the cascade's own single hash(conv_id)
exchange (see operators/matrix.py — conditional aggregation, not a pivot
of the long tier table) followed by the date-partitioned write's one
rebalance exchange on ``bucket_date``.  AQE splits an oversized date and
merges small ones at run time, so scan → dedup/channel window →
aggregation runs once per write, with no sampling pass.  Row counts are
captured with ``DataFrame.observe`` in the write action itself, so the
output is never re-read.  Reruns are idempotent: the write is an
overwrite, and the manifest is written only after the write commits.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.matrix import (
    FEATURES,
    matrix_columns,
    wide_rolling_matrix,
    wide_tier_matrix,
)
from features_engineering_of_motion_data_spark.operators.features import TIER_US
from features_engineering_of_motion_data_spark.session import get_spark
from features_engineering_of_motion_data_spark.sources.checkpoints import write_json
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
    resolve_snapshot,
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--tier",
        default="1h",
        choices=sorted(TIER_US),
        help="bucket width of the matrix rows",
    )
    p.add_argument(
        "--snapshot",
        default=None,
        help="pin the input snapshot-id; default = resolve the current one "
             "(the resolved id is recorded in the manifest either way)",
    )
    p.add_argument(
        "--rolling",
        type=int,
        default=None,
        metavar="WIDTH",
        help="emit TRAILING-window features instead of per-bucket ones: each "
             "row covers the last WIDTH tier buckets ending at its "
             "bucket_start (e.g. --tier 1h --rolling 24 = 24h rolling "
             "features, hourly), merged from tier stats via rolling_merge — "
             "never from raw rescans",
    )
    p.add_argument("--master", default=None,
                   help="override master (tests); spark-submit sets it otherwise")
    return p.parse_args(argv)


def matrix_frame(spark, args, snapshot: str):
    """The matrix rows as the job writes them: laid out one ``bucket_date``
    per write task (AQE rebalance) and sorted by (conv_id, bucket_start)
    inside each file."""
    turns = read_transcripts(spark, args.input, snapshot_id=snapshot)
    ch = derive_channels(turns)
    # `is not None`, not truthiness: --rolling 0 must reach rolling_merge's
    # width>=1 ValueError, not silently fall back to the per-bucket matrix
    # (and overwrite the unsuffixed tier=<tier> output)
    if args.rolling is not None:
        matrix = wide_rolling_matrix(ch, args.tier, args.rolling)
    else:
        matrix = wide_tier_matrix(ch, args.tier)
    return (
        matrix.withColumn("bucket_date", F.to_date(F.col("bucket_start")))
        .hint("rebalance", "bucket_date")
        .sortWithinPartitions("conv_id", "bucket_start")
    )


def run(args) -> int:
    from pyspark.sql import Observation

    spark = get_spark(master=args.master, app_name="feature-matrix")
    snapshot = args.snapshot or resolve_snapshot(args.input)
    obs = Observation("matrix")
    # rolling matrices live beside (not over) the per-bucket one
    suffix = f"_roll{args.rolling}" if args.rolling is not None else ""
    out = os.path.join(args.output, f"tier={args.tier}{suffix}")
    (
        matrix_frame(spark, args, snapshot)
        # above the rebalance exchange: counts the rows as they are written
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(out)
    )
    rows = obs.get["rows"]

    manifest = {
        "input": args.input,
        "snapshot": snapshot,
        "tier": args.tier,
        "rolling_width": args.rolling,
        "rows": int(rows),
        "value_columns": matrix_columns(),
        "features": list(FEATURES),
        # consumer contract (operators/matrix.py): a NULL cell means the
        # channel had no events in the row's (end) bucket — for rolling
        # matrices it does NOT mean the trailing window was empty
        "null_semantics": "channel absent in the row's end bucket",
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    write_json(os.path.join(args.output, "_matrix_manifest.json"), manifest)
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args()))
