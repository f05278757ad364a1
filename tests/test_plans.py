"""Physical-plan assertions (SURVEY §4): the optimizations the engine's
scale story depends on must be visible in the executed plan, not assumed —
predicate pushdown to the parquet scan, the single-exchange cascade, and
broadcast joins for small dims."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.rollup import rollup_merge
from features_engineering_of_motion_data_spark.queries.relational import (
    q12_revenue_by_nation,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ts_predicate_pushed_to_scan(spark, tiny_path):
    lo = datetime.datetime(2024, 1, 2)
    hi = datetime.datetime(2024, 1, 3)
    df = read_transcripts(spark, tiny_path, ts_range=(lo, hi))
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the ts bounds must reach the parquet scan, not sit in a post-filter only
    assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan


def test_column_pruning_reaches_scan(spark, tiny_path):
    ch = derive_channels(read_transcripts(spark, tiny_path))
    plan = _plan(ch)
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # 'role' is never used by the channel pipeline → must be pruned
    assert "role" not in scan_line
    assert "conv_id" in scan_line


def test_cascade_is_single_exchange(spark, tiny_path):
    """The load-bearing scale property: dedup → channels → 1m agg plans ONE
    exchange (hash(conv_id)), and each rollup merge adds NONE."""
    ch = derive_channels(read_transcripts(spark, tiny_path))
    base = aggregate_tier(ch, "1m")
    assert _plan(base).count("Exchange") == 1
    assert _plan(rollup_merge(base, "1h")).count("Exchange") == 1
    assert _plan(rollup_merge(rollup_merge(base, "1h"), "1d")).count("Exchange") == 1


def _nodes(node):
    """Pre-order walk of a JVM physical plan, into AQE's current plan."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _exchanges(df) -> list:
    return [n for n in _nodes(df._jdf.queryExecution().executedPlan())
            if n.nodeName() == "Exchange"]


def _conv_exchange_input(df) -> set[str]:
    """Attribute names fed into the channel pipeline's hash(conv_id)
    exchange (the plan must hold exactly one)."""
    hits = [n for n in _exchanges(df)
            if n.outputPartitioning().toString().startswith("hashpartitioning(conv_id")]
    assert len(hits) == 1, [n.toString() for n in hits]
    out = hits[0].child().output()
    return {out.apply(i).name() for i in range(out.size())}


def test_channel_exchange_carries_no_text(spark, tiny_path):
    """Only scalars and the 16-byte tie-break digest cross the shuffle: the
    dedup/channel window needs a text length and a digest, never the text."""
    ch = derive_channels(read_transcripts(spark, tiny_path))
    cols = _conv_exchange_input(aggregate_tier(ch, "1m"))
    assert "text" not in cols
    assert {"conv_id", "turn_idx", "ts_us", "text_len", "tool_cadence"} <= cols


def test_matrix_job_write_is_one_rebalance(spark, tiny_path):
    """The matrix job's pre-write frame: the channel exchange plus one AQE
    rebalance on bucket_date. A range partitioner would sample its input in
    a separate job and run the whole channel window twice."""
    import jobs.features as fj

    args = fj.parse_args(["--input", tiny_path, "--output", "-"])
    frame = fj.matrix_frame(spark, args, None)
    exchanges = _exchanges(frame)
    assert len(exchanges) == 2, [n.toString() for n in exchanges]
    assert not any("rangepartitioning" in n.outputPartitioning().toString()
                   for n in exchanges)
    assert "REBALANCE_PARTITIONS_BY_COL" in _plan(frame)
    assert "text" not in _conv_exchange_input(frame)


def test_partial_aggregation_present(spark, tiny_path):
    """Map-side combine: partial + final HashAggregate pairs."""
    ch = derive_channels(read_transcripts(spark, tiny_path))
    plan = _plan(aggregate_tier(ch, "1m"))
    assert "partial_count" in plan and "partial_sum" in plan


def test_small_dims_broadcast(spark, sf_dir):
    plan = _plan(q12_revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_rollup_merge_reuses_cached_stats(spark, tiny_path):
    """BENCH/child_cascade.py merges 1h from its persisted 1m frame; the
    merge plan must actually read the cache (InMemoryTableScan), not
    recompute the base aggregation from the parquet scan."""
    ch = derive_channels(read_transcripts(spark, tiny_path))
    base = aggregate_tier(ch, "1m").persist()
    try:
        base.count()
        plan = _plan(rollup_merge(base, "1h"))
        # (the plan string also prints the cached relation's ORIGINAL build
        # plan under InMemoryRelation, so "FileScan" appears textually; the
        # executed read is the InMemoryTableScan above it)
        assert "InMemoryTableScan" in plan
    finally:
        base.unpersist()


def test_rollup_job_scans_input_once(spark, tiny_path, tmp_path, monkeypatch):
    """The batch job's scale contract: a P-range run reads the raw input
    EXACTLY once (the stage build), never once-per-range; a resumed run whose
    stage survives reads it zero times; and each range's stage read is
    partition-pruned to its own bucket."""
    import jobs.rollup as rollup_job

    calls = []
    real = rollup_job.read_transcripts

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(rollup_job, "read_transcripts", counting)
    out = str(tmp_path / "tiers")
    args = ["--input", tiny_path, "--output", out, "--tiers", "1m,1h",
            "--num-parts", "4", "--master", "local[4]"]

    # crash after 2 of 4 ranges: one input scan, stage left behind
    assert rollup_job.run(rollup_job.parse_args(args + ["--fail-after", "2"])) == 42
    assert len(calls) == 1

    # the per-range pipeline reads the staged stats partition-pruned
    import glob

    stage = glob.glob(os.path.join(out, "_stage", "snap=*", "stats"))[0]
    staged = spark.read.parquet(stage).filter("part = 3")
    scan_line = next(
        l for l in _plan(staged).splitlines() if "FileScan parquet" in l
    )
    assert "PartitionFilters" in scan_line and "part" in scan_line.split(
        "PartitionFilters"
    )[1]

    # resume: stage is reused — ZERO further scans of the raw input
    assert rollup_job.run(rollup_job.parse_args(args + ["--resume"])) == 0
    assert len(calls) == 1


@pytest.mark.parametrize("num_parts", [4, 16])
def test_rollup_job_writes_twice(spark, tiny_path, tmp_path, monkeypatch, num_parts):
    """A full run makes two parquet writes whatever the range count: the
    stage, then every range and tier at once."""
    from pyspark.sql import DataFrameWriter

    import jobs.rollup as rollup_job

    paths = []
    real = DataFrameWriter.parquet

    def counting(self, path, *a, **kw):
        paths.append(path)
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    out = str(tmp_path / "tiers")
    args = ["--input", tiny_path, "--output", out, "--tiers", "1m,1h,1d",
            "--num-parts", str(num_parts), "--master", "local[4]"]
    assert rollup_job.run(rollup_job.parse_args(args)) == 0
    assert len(paths) == 2, paths
    assert paths[1] == out


def test_cascade_hot_path_has_no_python(spark, tiny_path):
    """The zero-per-row-Python contract, visible in the plan: the whole
    cascade must contain no Python-evaluation operators (those are confined
    to the archive/gap-fill kernels). (AQE hides WholeStageCodegen wrappers
    from plan strings in Spark 4, so JVM-only execution is the assertable
    proxy for staying on the codegen path.)"""
    ch = derive_channels(read_transcripts(spark, tiny_path))
    plan = _plan(rollup_merge(rollup_merge(aggregate_tier(ch, "1m"), "1h"), "1d"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in plan, f"unexpected Python operator {node} in hot path"


def test_round3_signal_query_shapes(spark, sf_dir):
    """Round-3 additions keep their documented scale shapes: q56/q58 are
    single-exchange JVM-only plans; q55/q57 are single-exchange Arrow
    group kernels (exactly one FlatMapGroupsInPandas, no row-wise Python)."""
    from features_engineering_of_motion_data_spark.queries.relational import (
        q58_asof_join_purchases,
        q59_features_wide_1h,
    )
    from features_engineering_of_motion_data_spark.queries.signal import (
        q55_ewma_value,
        q56_live_coverage_1h,
        q57_lttb_downsample,
        q60_percentile_sketch_1h,
    )

    for q in (q56_live_coverage_1h, q58_asof_join_purchases, q59_features_wide_1h,
              q60_percentile_sketch_1h):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") <= 1, q.__name__
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{q.__name__}: {node}"

    for q in (q55_ewma_value, q57_lttb_downsample):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("FlatMapGroupsInPandas") == 1, q.__name__
        assert plan.count("Exchange hashpartitioning") == 1, q.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_round4_query_shapes(spark, sf_dir):
    """Round-4 additions keep their documented scale shapes: q62/q63 are
    single-exchange JVM-only plans (one shared window + one hash agg on the
    same conv key)."""
    from features_engineering_of_motion_data_spark.queries.signal import (
        q62_hjorth_1d,
        q63_ssc_wamp_1h,
    )

    for q in (q62_hjorth_1d, q63_ssc_wamp_1h):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") <= 1, q.__name__
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{q.__name__}: {node}"


def test_shape_query_plans(spark, sf_dir):
    """queries/shape.py scale shapes: q64/q66/q67 are single-exchange
    JVM-only plans (one hash agg, q66 sharing its window's exchange);
    q65/q68 are two-level aggregations (bin/island level then bucket/conv
    level) — at most 3 exchanges, all keyed on a conv-prefixed key; none
    may contain a Python node."""
    from features_engineering_of_motion_data_spark.queries import shape

    single = (shape.q64_temporal_moments_1d, shape.q66_ar2_yule_walker,
              shape.q67_amplitude_factors_1h, shape.q69_dominant_acf_lag,
              shape.q71_ordinal_patterns_1d, shape.q73_mean_crossing_rate_1h)
    multi = (shape.q65_histogram_diversity_1h, shape.q68_burst_runs,
             shape.q70_paa_sax_1d)
    # q72's band self-join legitimately shuffles both template sides on the
    # (conv, bucket, band) key on top of its two window stages
    joins = (shape.q72_sample_entropy_1d,)
    for q in single + multi + joins:
        plan = _plan(q(spark, sf_dir))
        cap = 1 if q in single else (3 if q in multi else 6)
        assert plan.count("Exchange hashpartitioning") <= cap, q.__name__
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{q.__name__}: {node}"


def test_detect_query_plans(spark, sf_dir):
    """queries/detect.py scale shapes: every detection query is a
    single-exchange JVM-only plan — q75's peak-interval window and final
    agg, q76's neighborhood agg, and q77's prefix/total/rank windows all
    cluster under the conv window's hash(user_id) exchange (subset rule)."""
    from features_engineering_of_motion_data_spark.queries import detect

    for q in (detect.q75_peak_census_1h, detect.q76_tkeo_dasdv_1d,
              detect.q77_cusum_changepoint, detect.q79_crosscorr_value_gap):
        plan = _plan(q(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1, q.__name__
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{q.__name__}: {node}"


def test_rolling_query_plan(spark, sf_dir):
    """q78: base lag window, 1h hash agg, boundary lag window, and the
    RANGE rolling frame all ride one hash(conv) exchange; no Python."""
    from features_engineering_of_motion_data_spark.queries.rolling import (
        q78_rolling_features_24h,
    )

    plan = _plan(q78_rolling_features_24h(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, node


def test_round5_product_query_plans(spark, sf_dir):
    """q80: the whole two-channel wide rolling matrix (base window, stack,
    tier agg, boundary lag, RANGE frame, finalize, transpose) is ONE
    hash exchange with no Python — the matrix.py scale claim, asserted on
    the registry query itself.  q81: the window and the applyInPandas
    encode share one hash(conv_id) exchange (keying the window on the
    string conv_id, not user_id, is load-bearing — alias tracking dies at
    the cast), and only the post-decode digest agg adds a second; the
    codec stages are the two sanctioned pandas nodes."""
    from features_engineering_of_motion_data_spark.queries.archive import (
        q81_archive_roundtrip_1h,
    )
    from features_engineering_of_motion_data_spark.queries.rolling import (
        q80_rolling_wide_matrix_24h,
    )

    plan = _plan(q80_rolling_wide_matrix_24h(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, node

    plan = _plan(q81_archive_roundtrip_1h(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("FlatMapGroupsInPandas") == 1  # encode
    assert plan.count("MapInPandas") == 1            # decode
    assert "BatchEvalPython" not in plan


def _scans(df, path_part: str) -> int:
    """Parquet scans in the executed plan whose root path holds ``path_part``
    (read from the scan node: the plan string shortens long locations)."""
    return sum(
        1 for n in _nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName().startswith("Scan parquet")
        and path_part in n.relation().location().rootPaths().toString()
    )


def test_seam_phantoms_is_one_aggregate(spark, seam_turns, tmp_path):
    """The ≤3 phantom turns per conversation come out of one per-conversation
    aggregate: no Union in the plan and a single scan of the stats."""
    from features_engineering_of_motion_data_spark.operators.incremental import (
        seam_phantoms,
    )

    path = str(tmp_path / "stats_1m")
    aggregate_tier(derive_channels(seam_turns), "1m").write.parquet(path)
    phantoms = seam_phantoms(spark.read.parquet(path))
    assert "Union" not in _plan(phantoms)
    assert _scans(phantoms, "stats_1m") == 1


def _refresh_stage(spark, seam_turns, tmp_path):
    """Full run over ``seam_turns``, then an append of later turns for every
    conversation but "absent": returns the append, the input dir, the
    job's args and the refresh stage's ``(staged, rows)``."""
    import jobs.rollup as rollup_job

    d, out = str(tmp_path / "in"), str(tmp_path / "out")
    seam_turns.write.parquet(d)
    args = rollup_job.parse_args(
        ["--input", d, "--output", out, "--tiers", "1m,1h", "--num-parts", "4",
         "--master", "local[4]", "--incremental"])
    assert rollup_job.run(args) == 0
    later = seam_turns.filter("conv_id != 'absent'").select(
        "conv_id", (F.col("turn_idx") + 10).alias("turn_idx"), "role", "text",
        "tool", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"))
    later.write.mode("append").parquet(d)
    prior = rollup_job._load_input_manifest(out)
    return later, d, args, rollup_job._incremental_stage(spark, args, "1m", prior)


def test_incremental_stage_reads_old_tier_twice(spark, seam_turns, tmp_path):
    """The refresh stage reads ``tier=<finest>`` twice, once for the seam
    aggregate and once for the merge, typed as the job wrote it."""
    import jobs.rollup as rollup_job

    later, _d, args, (staged, rows) = _refresh_stage(spark, seam_turns, tmp_path)
    assert sum(rows.values()) == later.count()
    assert _scans(staged, "tier=1m") == 2
    # the explicit read schema matches what the job wrote
    written = spark.read.parquet(os.path.join(args.output, "tier=1m")).schema
    for f in rollup_job._TIER_STATS_SCHEMA:
        assert written[f.name].dataType == f.dataType, f.name


def test_incremental_stage_plans_one_delta_branch(spark, seam_turns, tmp_path):
    """The refresh stage scans the delta files once, through the channel
    pass: no aggregate keyed on conv_id alone (a conversation list for a
    seam semi-join) runs over them. The merge aggregates the union of old
    and delta stats on the hash(conv_id) partitioning both sides already
    have, with no Exchange between the merge HashAggregate and the Union."""
    _later, d, _args, (staged, _rows) = _refresh_stage(spark, seam_turns, tmp_path)
    delta_dir = os.path.join(d, "")
    assert _scans(staged, delta_dir) == 1

    def scans_delta(n) -> bool:
        return (n.nodeName().startswith("Scan parquet")
                and delta_dir in n.relation().location().rootPaths().toString())

    root = staged._jdf.queryExecution().executedPlan()
    for n in _nodes(root):
        if "Aggregate" in n.nodeName() and any(map(scans_delta, _nodes(n))):
            keys = n.groupingExpressions()
            assert [keys.apply(i).name() for i in range(keys.size())] != ["conv_id"]

    # single-child chain from the plan root down to the merge's Union
    path, node = [], next(_nodes(root))
    while node.nodeName() != "Union":
        assert node.children().size() == 1, node.nodeName()
        path.append(node.nodeName())
        node = node.children().apply(0)
    assert "HashAggregate" in path
    assert "Exchange" not in path, path
