"""Wide feature matrix (operators/matrix.py + jobs/features.py).

Gates:
1. every matrix cell is BIT-identical to the long-form tier value it
   transposes (the conditional-agg rewrite changes the plan, never the
   numbers);
2. the matrix plan is the cascade's own single hash exchange (the whole
   point of not pivoting the long tier table) with no Python nodes;
3. the spark-submit-style CLI writes a date-partitioned matrix plus a
   lineage manifest, and reruns are idempotent.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    features_from_turns,
)
from features_engineering_of_motion_data_spark.operators.matrix import (
    CHANNELS,
    FEATURES,
    matrix_columns,
    wide_tier_matrix,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


@pytest.fixture(scope="module")
def channels_df(spark, tiny_path):
    return derive_channels(read_transcripts(spark, tiny_path))


def _pivoted_long_form(channels_df, tier):
    """The oracle: finalize the long tier table, then transpose it row-wise
    in pandas (engine-independent)."""
    long = features_from_turns(channels_df, tier).toPandas()
    out = {}
    for row in long.itertuples():
        key = (row.conv_id, row.bucket_start)
        cell = out.setdefault(key, {})
        for f in FEATURES:
            cell[f"{row.channel}__{f}"] = getattr(row, f)
    return out


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_matrix_cells_bitwise_equal_long_form(channels_df, tier):
    wide = wide_tier_matrix(channels_df, tier).toPandas()
    oracle = _pivoted_long_form(channels_df, tier)
    assert len(wide) == len(oracle)
    cols = matrix_columns()
    checked = 0
    for row in wide.itertuples():
        cell = oracle[(row.conv_id, row.bucket_start)]
        for col in cols:
            got = getattr(row, col)
            want = cell.get(col)
            if want is None or (isinstance(want, float) and want != want):
                assert got is None or got != got, (row.conv_id, col, got)
            else:
                # bitwise: int==int, float==float with no tolerance
                assert got == want, (row.conv_id, row.bucket_start, col)
                checked += 1
    assert checked > 500  # the gate actually exercised dense cells


def test_matrix_plan_single_exchange_no_python(channels_df):
    plan = (
        wide_tier_matrix(channels_df, "1h")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in plan, node


def test_matrix_null_semantics(channels_df, spark):
    """A bucket holding only a conversation's first turn has no latency
    observation: every inter_turn_latency__* cell must be NULL while
    text_len/tool_cadence cells are populated."""
    wide = wide_tier_matrix(channels_df, "1m")
    first_only = wide.filter(
        F.col("inter_turn_latency__n").isNull()
        & F.col("text_len__n").isNotNull()
    )
    assert first_only.count() >= 1
    row = first_only.select(
        "inter_turn_latency__f_mean", "text_len__f_mean", "tool_cadence__n"
    ).first()
    assert row["inter_turn_latency__f_mean"] is None
    assert row["text_len__f_mean"] is not None
    assert row["tool_cadence__n"] is not None


def test_features_job_cli(tiny_path, tmp_path, spark):
    import jobs.features as fj

    out = str(tmp_path / "matrix")
    args = fj.parse_args(
        ["--input", tiny_path, "--output", out, "--tier", "1h",
         "--master", "local[4]"]
    )
    assert fj.run(args) == 0

    manifest = json.load(open(os.path.join(out, "_matrix_manifest.json")))
    assert manifest["tier"] == "1h"
    assert manifest["value_columns"] == matrix_columns()
    assert manifest["snapshot"]

    files = glob.glob(os.path.join(out, "tier=1h", "bucket_date=*", "*.parquet"))
    assert files, "date-partitioned parquet written"
    back = spark.read.parquet(os.path.join(out, "tier=1h"))
    assert back.count() == manifest["rows"]
    assert set(matrix_columns()) <= set(back.columns)

    # rerun is idempotent: same rows, manifest rewritten cleanly (re-read —
    # the overwrite replaced the files the old DataFrame's listing points at)
    assert fj.run(args) == 0
    manifest2 = json.load(open(os.path.join(out, "_matrix_manifest.json")))
    assert manifest2["rows"] == manifest["rows"]
    back = spark.read.parquet(os.path.join(out, "tier=1h"))
    assert back.count() == manifest["rows"]

    # the matrix content equals computing it in-session from the same input
    expect = wide_tier_matrix(
        derive_channels(read_transcripts(spark, tiny_path)), "1h"
    )
    got = back.drop("bucket_date")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert sorted(CHANNELS) == sorted(
        {c.split("__")[0] for c in matrix_columns()}
    )


def test_rolling_matrix_cells_bitwise_equal_long_form(channels_df):
    """Every wide_rolling_matrix cell equals the long-form
    rolling_merge+finalize value bitwise — the transpose copies, never
    recomputes."""
    from features_engineering_of_motion_data_spark.operators.features import (
        aggregate_tier,
        finalize_features,
    )
    from features_engineering_of_motion_data_spark.operators.matrix import (
        wide_rolling_matrix,
    )
    from features_engineering_of_motion_data_spark.operators.rollup import (
        rolling_merge,
    )

    wide = wide_rolling_matrix(channels_df, "1h", 24).toPandas()
    long = finalize_features(
        rolling_merge(aggregate_tier(channels_df, "1h"), "1h", 24)
    ).toPandas()
    oracle = {}
    for row in long.itertuples():
        cell = oracle.setdefault((row.conv_id, row.bucket_start), {})
        for f in FEATURES:
            cell[f"{row.channel}__{f}"] = getattr(row, f)
    assert len(wide) == len(oracle)
    checked = 0
    for row in wide.itertuples():
        cell = oracle[(row.conv_id, row.bucket_start)]
        for col in matrix_columns():
            got, want = getattr(row, col), cell.get(col)
            if want is None or (isinstance(want, float) and want != want):
                assert got is None or got != got, (row.conv_id, col, got)
            else:
                assert got == want, (row.conv_id, row.bucket_start, col)
                checked += 1
    assert checked > 500


def test_rolling_matrix_plan_single_exchange_no_python(channels_df):
    from features_engineering_of_motion_data_spark.operators.matrix import (
        wide_rolling_matrix,
    )

    plan = (
        wide_rolling_matrix(channels_df, "1h", 24)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in plan, node


def test_features_job_rolling_cli(tiny_path, tmp_path, spark):
    from features_engineering_of_motion_data_spark.operators.matrix import (
        wide_rolling_matrix,
    )
    import jobs.features as fj

    out = str(tmp_path / "matrix_roll")
    args = fj.parse_args(
        ["--input", tiny_path, "--output", out, "--tier", "1h",
         "--rolling", "24", "--master", "local[4]"]
    )
    assert fj.run(args) == 0
    manifest = json.load(open(os.path.join(out, "_matrix_manifest.json")))
    assert manifest["rolling_width"] == 24
    back = spark.read.parquet(os.path.join(out, "tier=1h_roll24"))
    assert back.count() == manifest["rows"]
    expect = wide_rolling_matrix(
        derive_channels(read_transcripts(spark, tiny_path)),
        "1h",
        24,
    )
    got = back.drop("bucket_date")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
