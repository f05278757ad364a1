"""Per-tier operational metrics (SURVEY §2.4 A9 at the table level).

What an operator of this engine monitors per tier partition: row/point
volumes, exact and approximate distinct conversations, bucket coverage.
Computed straight from a tier's sufficient-statistics frame (one extra
hash aggregation over already-aggregated data — never from raw turns), at
``bucket_date`` granularity so each metrics row describes one day of the
tier.

The approx column uses Spark's native HyperLogLog++ (`approx_count_distinct`,
rsd 5%): at 10¹² turns the exact distinct needs a conv_id shuffle anyway —
both are produced in the SAME aggregation pass, so the sketch is free and
the exact column can be dropped at scales where it's too hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tier_metrics(stats: DataFrame) -> DataFrame:
    """Ops-metrics rows, one per ``bucket_date`` of a tier stats frame."""
    day = F.to_date(F.timestamp_micros(F.col("bucket_us"))).alias("bucket_date")
    return (
        stats.groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("n_points"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.approx_count_distinct("conv_id", 0.05).alias("n_convs_approx"),
            F.countDistinct("channel").alias("n_channels"),
            F.min("bucket_us").alias("first_bucket_us"),
            F.max("bucket_us").alias("last_bucket_us"),
        )
    )
