#!/usr/bin/env python
"""Batch rollup job (SURVEY §3 E1/E3) — the spark-submit entry point.

    spark-submit --py-files engine.zip jobs/rollup.py \
        --input <transcripts parquet/Iceberg path> \
        --output <tier-table root> \
        --tiers 1m,1h,1d [--num-parts 64] [--resume] [--ckpt manifest.jsonl] \
        [--incremental]

``--incremental`` turns the job into a continuous-aggregate refresher: the
output dir records the last fully-processed input snapshot
(``_input_manifest.json``); when the input is an append of it (Iceberg
incremental-scan semantics), only the NEW data files are aggregated and
merged into the existing tiers via operators/incremental.py — bit-equal to
a full rerun, with only delta-affected hash ranges rewritten. Bootstraps to
a full run when no prior snapshot is recorded; refuses (with a clear error)
when the input history is not append-only, or when ``--num-parts`` or the
finest tier differ from the recorded run's.

Two phases, ONE scan of the input per job run (not per range):

1. **Stage** — dedup + channels + finest-tier sufficient statistics are
   computed in a single pass over the input and written to
   ``<output>/_stage/snap=<id>/stats_1m`` partitioned by the conv_id hash
   bucket (``part``).  Per-range raw-row counts are captured *in the same
   action* via ``DataFrame.observe`` (no extra count jobs).  The stage is
   keyed by snapshot-id, so a resumed run whose stage already exists never
   touches the raw input at all.
2. **Ranges** — the ``--num-parts`` hash buckets of conv_id still pending
   are rolled up together from their *partition-pruned* slice of the staged
   stats (the stage read's FileScan shows ``PartitionFilters: [part IN
   (...)]``; the pruning is asserted in tests/test_plans.py).  Ranges are
   conversation-closed, so one cascade over the slice gives the rows
   separate per-range cascades would.  ONE dynamic-partition-overwrite
   write, partitioned by ``tier`` and ``part``, replaces exactly the
   ``<output>/tier=<T>/part=<K>/`` directories of the pending ranges; the
   stage, the checkpoint, ``archive/`` and every other range are left as
   they are, and an empty range gets no directory.  Only after that write
   commits does each range append its lineage record (snapshot-id, range,
   rows-in, points-out, an equal share of the write's wall) to the
   checkpoint manifest, in range order.  Points-out come from the parquet
   footers of the files just written — no data is re-read.  Resume is per
   range: a crash inside the write leaves no records, so the rerun
   rewrites every pending range (the overwrite is idempotent); a failed
   append leaves only its own range to redo, the other records still land,
   and the job then raises.

The stage is the one marker of an unfinished run, full or incremental: it
lives from its ``meta.json`` until ``_input_manifest.json`` records its
snapshot, which is written before the stage is deleted.  A run reuses its
own snapshot's stage, with or without ``--resume``; it removes the stage
of the recorded snapshot (a finished run's leftover) and refuses any other.
``--resume`` lets a full run continue a checkpoint that already holds
ranges, and refuses records of another snapshot.

Scale note (10^12 turns): the previous design filtered the FULL input by
``pmod(xxhash64(conv_id))`` once per range — O(P·N) read amplification,
since a hash predicate cannot prune a parquet/Iceberg scan.  The staged
layout reads the input exactly once and the range phase reads only the
pending (much smaller, aggregated) buckets via real partition pruning.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    STAT_COLS,
    STAT_FIELDS,
    TIER_US,
    aggregate_tier,
)
from features_engineering_of_motion_data_spark.operators.rollup import (
    CAL_UNITS,
    cascade_from_stats,
    finest_tier,
)
from features_engineering_of_motion_data_spark.session import get_spark
from features_engineering_of_motion_data_spark.sources.checkpoints import (
    append_record,
    completed_parts,
    load_manifest,
    read_json,
    write_json,
)
from features_engineering_of_motion_data_spark.operators.incremental import (
    delta_tier_stats,
    merge_partial_stats,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
    read_transcripts_delta,
    resolve_snapshot,
    snapshot_manifest,
)


#: explicit read schemas of the two stats frames the job reads back, built
#: from the declared statistics: an empty input writes no partition
#: directory, and a schema-less parquet read of that would fail, or would
#: run a footer-inference job first. The ``tier=<finest>`` output (read back
#: by an incremental refresh) keys buckets by ``bucket_start`` and names its
#: ``part=00003`` directories, read as int; the ``_stage`` keeps
#: ``bucket_us`` and the bigint hash range.
_TIER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("channel", T.StringType()),
        T.StructField("bucket_start", T.TimestampType()),
        *STAT_FIELDS,
        T.StructField("part", T.IntegerType()),
    ]
)
_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("channel", T.StringType()),
        T.StructField("bucket_us", T.LongType()),
        *STAT_FIELDS,
        T.StructField("part", T.LongType()),
    ]
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--tiers",
        default="1m,1h,1d",
        help="comma list of fixed tiers (1m/1h/1d) and/or calendar tiers "
             "(week/month/quarter/year); calendar tiers merge from the "
             "coarsest fixed tier in the list",
    )
    p.add_argument("--num-parts", type=int, default=16)
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--archive",
        action="store_true",
        help="also write the compressed full-fidelity raw tier to "
             "<output>/archive (delta-of-delta timestamps + Gorilla XOR "
             "values per (conv, channel, 1h bucket)); its own scan of the "
             "input — the staged stats pass cannot feed it because the "
             "archive needs the turn-level rows the stage deliberately "
             "aggregates away",
    )
    p.add_argument(
        "--incremental",
        action="store_true",
        help="refresh mode: if <output>/_input_manifest.json records a prior "
             "snapshot and the input is an append of it, aggregate only the "
             "new data files and merge into the existing tiers (bit-equal to "
             "a full rerun); bootstraps to a full run when none is recorded",
    )
    p.add_argument("--ckpt", default=None, help="manifest path (default <output>/_ckpt.jsonl)")
    p.add_argument("--master", default=None, help="override master (tests); spark-submit sets it otherwise")
    p.add_argument(
        "--fail-after",
        type=int,
        default=None,
        help="TEST HOOK: write the first N pending ranges (in the one tier "
             "write), record them, then exit 42",
    )
    return p.parse_args(argv)


def _part_expr(num_parts: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(num_parts))


def _observe_parts(df, obs, num_parts: int):
    """Attach per-range row counters to the SAME action that writes the stage
    (CollectMetrics node — zero extra scans)."""
    part_of = _part_expr(num_parts)
    counters = [
        F.sum(F.when(part_of == k, 1).otherwise(0)).alias(f"p{k}")
        for k in range(num_parts)
    ]
    return df.observe(obs, *counters)


def _write_stage(
    stage_dir: str, staged, rows_cb, args, snapshot: str, finest: str, t0: float,
    extra: dict | None = None,
) -> dict:
    """Write the staged stats; ``rows_cb()`` supplies per-range rows-in after
    the write action completes (Observation harvest or precomputed dict)."""
    (
        staged.write.mode("overwrite")
        .partitionBy("part")
        .parquet(os.path.join(stage_dir, "stats"))
    )
    rows = rows_cb()
    meta = {
        "snapshot_id": snapshot,
        "num_parts": args.num_parts,
        "finest": finest,
        "rows_in": {str(k): int(rows.get(f"p{k}") or 0) for k in range(args.num_parts)},
        "stage_wall_s": round(time.perf_counter() - t0, 3),
    }
    meta.update(extra or {})
    write_json(os.path.join(stage_dir, "meta.json"), meta)
    return meta


def _build_stage(spark, args, snapshot: str, finest: str, stage_dir: str) -> dict:
    """Phase 1 (full): one pass over the input → staged finest-tier stats +
    per-range raw-row metrics. Persisted as ``meta.json`` so a resumed run
    can skip this phase entirely."""
    from pyspark.sql import Observation

    turns = read_transcripts(spark, args.input, snapshot_id=snapshot)
    obs = Observation()
    turns = _observe_parts(turns, obs, args.num_parts)
    t0 = time.perf_counter()
    stats = aggregate_tier(derive_channels(turns), finest)
    staged = stats.withColumn("part", _part_expr(args.num_parts))
    return _write_stage(
        stage_dir, staged, lambda: dict(obs.get), args, snapshot, finest, t0
    )


def _incremental_stage(spark, args, finest: str, prior: dict):
    """Phase 1 (incremental) frame: ``(staged, rows)``, where ``staged`` is
    the merged finest-tier stats of the delta-affected ranges with their
    ``part`` and ``rows`` maps ``p<K>`` to the range's delta-turn count.

    Old stats are read back from the existing ``tier=<finest>`` output with
    an explicit schema (:data:`_TIER_STATS_SCHEMA`), so no footer-inference
    job runs before the stage write; without that directory (a prior run
    over an empty input) they are an empty frame of the same schema. The
    delta feeds one plan branch, the channel pass with seam phantoms; the
    old stats feed two, the seam aggregate and the merge. Both old-stats
    branches are hash-partitioned on ``conv_id`` like the channel pass, so
    the merge aggregates the union of old and delta stats with no exchange
    of its own.
    """
    delta = read_transcripts_delta(spark, args.input, prior["entries"])
    part = _part_expr(args.num_parts)
    rows = {f"p{k}": n for k, n in delta.groupBy(part).count().collect()}
    # a rewritten range must carry ALL its conversations, not only the
    # delta's: the old side is filtered by the partition column (pruned
    # read of exactly the affected part dirs), so convs with no delta in
    # an affected range pass through the merge bit-unchanged
    affected = [k for k in range(args.num_parts) if rows.get(f"p{k}", 0) > 0]
    old_dir = os.path.join(args.output, f"tier={finest}")
    if os.path.isdir(old_dir):
        old = spark.read.schema(_TIER_STATS_SCHEMA).parquet(old_dir)
    else:
        # empty ranges write no directory: a prior run over an empty input
        # left nothing to merge into
        old = spark.createDataFrame([], _TIER_STATS_SCHEMA)
    old_stats = (
        old.filter(F.col("part").isin(affected))
        .select(
            "conv_id",
            "channel",
            F.unix_micros("bucket_start").alias("bucket_us"),
            *STAT_COLS,
        )
        # the channel pass's exchange is hash(conv_id) too: the merge's
        # union is then co-partitioned and needs no exchange of its own
        .repartition("conv_id")
    )
    merged = merge_partial_stats(old_stats, delta_tier_stats(old_stats, delta, finest))
    return merged.withColumn("part", part), rows


def _build_stage_incremental(
    spark, args, snapshot: str, finest: str, stage_dir: str, prior: dict
) -> dict:
    """Phase 1 (incremental): one pass over the DELTA data files only.

    Stages the already-MERGED finest-tier stats of the delta-affected
    ranges (:func:`_incremental_stage`): old stats read back, with an
    explicit schema, from those ranges' ``tier=<finest>`` directories,
    merged with delta stats that carry seam context
    (operators/incremental.py). Staging the merged frame — rather than the
    delta alone — keeps the range phase free of a read-then-overwrite on the
    tier dirs it rewrites. ``rows_in`` counts DELTA turns per range (the
    lineage of what this run actually ingested) via an explicit count over
    the small delta, run before the stage is planned because its result
    picks the ranges whose old stats are read. Ranges with zero delta rows
    are skipped untouched: their tier outputs are already bit-correct on
    disk.
    """
    t0 = time.perf_counter()
    staged, rows = _incremental_stage(spark, args, finest, prior)
    return _write_stage(
        stage_dir, staged, lambda: rows, args, snapshot, finest, t0,
        extra={"incremental": True, "parent_snapshot": prior["snapshot_id"]},
    )


def _write_tiers(staged, pending: list[int], tiers: tuple[str, ...], args) -> None:
    """Phase 2: roll every pending range up in ONE write.  Ranges are
    conversation-closed, so one cascade over their pruned stage slice gives
    the rows P separate ones would.  Dynamic partition overwrite replaces
    only the ``tier=<T>/part=<K>`` directories this write produces; the
    stage, the checkpoint, the archive and every other range stay as they
    are."""
    sub_stats = staged.filter(F.col("part").isin(pending)).drop("part")
    frames = [
        df.withColumn("tier", F.lit(tier))
        for tier, df in cascade_from_stats(sub_stats, tiers).items()
    ]
    part = F.lpad(_part_expr(args.num_parts).cast("string"), 5, "0")
    (
        reduce(DataFrame.unionByName, frames)
        .withColumn("part", part)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tier", "part")
        .parquet(args.output)
    )


def _points_out(output: str, tier: str, part: int) -> int:
    """Rows one range holds in one tier, from the parquet footers of the
    files just written (no data read).  A range with no rows has no
    directory."""
    d = os.path.join(output, f"tier={tier}", f"part={part:05d}")
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(d, "*.parquet"))
    )


def _load_input_manifest(output: str):
    """The last fully-processed input snapshot, or None before the first."""
    return read_json(os.path.join(output, "_input_manifest.json"))


def _write_input_manifest(
    output: str, snapshot: str, entries: list, num_parts: int, finest: str
) -> None:
    """Record the fully-processed input snapshot: the diff base of the next
    --incremental run, and what marks its stage as finished."""
    write_json(
        os.path.join(output, "_input_manifest.json"),
        {
            "snapshot_id": snapshot,
            "entries": entries,
            "num_parts": num_parts,
            "finest": finest,
        },
    )


def _load_stage_meta(
    output: str, snapshot: str, recorded: dict | None, args, finest: str
):
    """Reusable metadata of this snapshot's stage, or None.

    A stage ``_stage/snap=<id>/`` marks an unfinished run from its
    ``meta.json`` until ``_input_manifest.json`` records ``<id>``; the
    recorded snapshot's stage is a finished run's leftover and is removed.
    This snapshot's stage is reused whenever it has the same ranges and
    finest tier: once a refresh's tier write has started, only the stage
    still holds its merge of the parent tiers. Any other stage belongs to
    an unfinished run over another input, which may have written tiers
    already, so the run refuses rather than merge on top of them."""
    meta = None
    for path in glob.glob(os.path.join(output, "_stage", "snap=*", "meta.json")):
        m = read_json(path)
        if recorded is not None and m["snapshot_id"] == recorded["snapshot_id"]:
            shutil.rmtree(os.path.dirname(path), ignore_errors=True)
        elif m["snapshot_id"] != snapshot:
            raise SystemExit(
                f"{os.path.dirname(path)} holds the unfinished run of snapshot "
                f"{m['snapshot_id']}, and the input now resolves to {snapshot}; "
                "rerun with that exact input to finish it, or run a full "
                "rollup into a fresh output"
            )
        elif m["num_parts"] == args.num_parts and m["finest"] == finest:
            meta = m
    return meta


def _write_archive(spark, args, snapshot: str) -> None:
    """Optional second product: the compressed full-fidelity raw tier
    (SURVEY §2.7 C1/C2; operators/archive.py).  One dedicated scan —
    partitioned by the conv_id hash range like the tiers, with a lineage
    sidecar recording the snapshot and the measured compression ratio via
    ``observe`` on the SAME write action (no re-read)."""
    from pyspark.sql import Observation

    from features_engineering_of_motion_data_spark.operators.archive import (
        build_archive,
    )

    turns = read_transcripts(spark, args.input, snapshot_id=snapshot)
    arch = build_archive(derive_channels(turns), tier="1h")
    arch = arch.withColumn("part", _part_expr(args.num_parts))
    obs = Observation()
    arch = arch.observe(
        obs,
        F.count(F.lit(1)).alias("buckets"),
        F.sum("n").alias("turn_points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("encoded_bytes").alias("encoded_bytes"),
    )
    dest = os.path.join(args.output, "archive")
    arch.write.mode("overwrite").partitionBy("part").parquet(dest)
    m = {k: int(v or 0) for k, v in obs.get.items()}
    m["snapshot_id"] = snapshot
    m["ratio"] = (
        round(m["encoded_bytes"] / m["raw_bytes"], 6) if m["raw_bytes"] else None
    )
    write_json(os.path.join(dest, "_archive_meta.json"), m)


def run(args) -> int:
    tiers = tuple(args.tiers.split(","))
    try:
        finest = finest_tier(tiers)
    except KeyError as e:
        raise SystemExit(
            f"unknown tier {e.args[0]!r}; valid: {sorted(TIER_US) + list(CAL_UNITS)}"
        )
    except ValueError as e:
        raise SystemExit(str(e))
    ckpt = args.ckpt or os.path.join(args.output, "_ckpt.jsonl")
    snapshot = resolve_snapshot(args.input)
    entries = snapshot_manifest(args.input)
    recorded = _load_input_manifest(args.output)
    prior = recorded if args.incremental else None
    if prior is not None and (
        prior["num_parts"] != args.num_parts or prior["finest"] != finest
    ):
        raise SystemExit(
            f"{args.output} was rolled up with --num-parts {prior['num_parts']} "
            f"and finest tier {prior['finest']}; an incremental refresh must "
            f"keep them (got --num-parts {args.num_parts}, finest tier "
            f"{finest}), or run a full rollup into a fresh output"
        )
    meta = _load_stage_meta(args.output, snapshot, recorded, args, finest)
    if prior is not None and prior["snapshot_id"] == snapshot:
        print(f"rollup up to date: snapshot={snapshot} (no new data files)")
        return 0
    incremental = prior is not None
    manifest = load_manifest(ckpt)
    if manifest and not (args.resume or incremental):
        raise SystemExit(
            f"manifest {ckpt} already exists; pass --resume to continue it"
        )
    if incremental:
        # the ckpt is a lineage log across refreshes: this snapshot's records
        # are the ranges an interrupted refresh already finished
        done = {
            int(r["part_key"]) for r in manifest if r["snapshot_id"] == snapshot
        }
    else:
        done = completed_parts(manifest, snapshot)

    from pyspark.sql import SparkSession

    # only stop the session on exit if this job created it (in-process test
    # harnesses share one session via getOrCreate)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="transcript-rollup")

    stage_dir = os.path.join(args.output, "_stage", f"snap={snapshot}")
    if meta is None:
        if incremental:
            meta = _build_stage_incremental(
                spark, args, snapshot, finest, stage_dir, prior
            )
        else:
            meta = _build_stage(spark, args, snapshot, finest, stage_dir)

    staged = spark.read.schema(_STAGE_SCHEMA).parquet(
        os.path.join(stage_dir, "stats")
    )

    pending = [
        part
        for part in range(args.num_parts)
        if part not in done
        # no delta turns hashed into this range: its tier outputs on disk are
        # already bit-correct — skip without rewriting
        and not (meta.get("incremental") and meta["rows_in"][str(part)] == 0)
    ]
    if args.fail_after is not None:
        pending = pending[: args.fail_after]
    if pending:
        t0 = time.perf_counter()
        _write_tiers(staged, pending, tiers, args)
        # one write made every range: each record carries an equal share of
        # its wall, so the records still sum to the phase wall
        share = (time.perf_counter() - t0) / len(pending)
        error = None
        for part in pending:
            # a failed append leaves only its own range to redo on --resume
            try:
                append_record(
                    ckpt,
                    snapshot,
                    part,
                    meta["rows_in"][str(part)],
                    {t: _points_out(args.output, t, part) for t in tiers},
                    share,
                )
            except Exception as e:
                error = error or e
        if error is not None:
            raise error
    ran = len(pending)
    if args.fail_after is not None and ran >= args.fail_after:
        print(f"TEST HOOK: aborting after {ran} ranges", file=sys.stderr)
        if owns_session:
            spark.stop()
        return 42
    if args.archive:
        _write_archive(spark, args, snapshot)
    # record the fully-processed snapshot — the diff base for the next
    # --incremental run (written for full runs too, so any full rollup
    # bootstraps later increments) — and only then delete the stage: a
    # crash in between leaves a stage the next run knows to be finished
    _write_input_manifest(args.output, snapshot, entries, args.num_parts, finest)
    shutil.rmtree(stage_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(stage_dir))  # drop _stage/ itself if empty
    except OSError:
        pass
    if owns_session:
        spark.stop()
    print(
        f"rollup complete: snapshot={snapshot} parts={args.num_parts} "
        f"({'incremental, ' if incremental else ''}ran {ran}, "
        f"resumed past {len(done)}) tiers={','.join(tiers)}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args()))
