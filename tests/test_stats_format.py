"""Every producer of a sufficient-statistics frame emits the declared format:
the key ``conv_id, channel, bucket_us`` and then ``STAT_FIELDS``, with the
same names, order and data types. The job reads staged and written stats
back under schemas built from the same declaration, so a producer that
drifted would be read back under the wrong types."""

from __future__ import annotations

from pyspark.sql import types as T

import jobs.rollup as rollup_job
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    STAT_FIELDS,
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.incremental import (
    merge_partial_stats,
)
from features_engineering_of_motion_data_spark.operators.rollup import (
    rollup_merge,
    rollup_merge_calendar,
)

KEY = [("conv_id", T.StringType()), ("channel", T.StringType()),
       ("bucket_us", T.LongType())]
WANT = KEY + [(f.name, f.dataType) for f in STAT_FIELDS]


def _fields(schema: T.StructType) -> list:
    return [(f.name, f.dataType) for f in schema]


def test_every_producer_emits_the_declared_format(seam_turns):
    base = aggregate_tier(derive_channels(seam_turns), "1m")
    producers = {
        "aggregate_tier": base,
        "rollup_merge": rollup_merge(base, "1h"),
        "rollup_merge_calendar": rollup_merge_calendar(base, "month"),
        "merge_partial_stats": merge_partial_stats(base, base),
    }
    for name, df in producers.items():
        assert _fields(df.schema) == WANT, name
    # the job stages aggregate_tier's frame with its hash range and reads
    # it back under an explicit schema
    staged = base.withColumn("part", rollup_job._part_expr(4))
    assert _fields(staged.schema) == _fields(rollup_job._STAGE_SCHEMA)
