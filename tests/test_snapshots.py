"""Write-side snapshot lineage (SURVEY §2.1 S2/S3): every write_tier commit
is a snapshot; read_tier reads the table AS OF any prior snapshot id;
retention expiry commits a new snapshot and genuinely removes the data."""

from __future__ import annotations

import pandas as pd
import pytest

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    features_from_turns,
)
from features_engineering_of_motion_data_spark.sources.sinks import (
    compact,
    expire,
    list_snapshots,
    read_tier,
    write_tier,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


@pytest.fixture(scope="module")
def feats(spark, tiny_path):
    df = features_from_turns(
        derive_channels(read_transcripts(spark, tiny_path)), "1d"
    ).cache()
    df.count()
    return df


def _pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "channel", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_overwrite_commit_and_time_travel(spark, feats, tmp_path):
    out = str(tmp_path / "tier_1d")
    snap1 = write_tier(feats, out)

    # overwrite ONE day's partition with doctored rows (n bumped by 1000)
    from pyspark.sql import functions as F

    day = feats.select(F.min(F.to_date("bucket_start")).alias("d")).collect()[0]["d"]
    doctored = feats.filter(F.to_date("bucket_start") == F.lit(day)).withColumn(
        "n", F.col("n") + F.lit(1000)
    )
    snap2 = write_tier(doctored, out)
    assert snap1 != snap2
    assert [s["snapshot_id"] for s in list_snapshots(out)] == [snap1, snap2]

    cur = _pdf(read_tier(spark, out).drop("bucket_date"))
    old = _pdf(read_tier(spark, out, snapshot_id=snap1).drop("bucket_date"))
    base = _pdf(feats)
    # AS OF the first snapshot → the original rows, bit-for-bit
    pd.testing.assert_frame_equal(old, base, check_exact=True)
    # current snapshot: the doctored day replaced, the other days untouched
    assert len(cur) == len(base)
    day_mask = cur["bucket_start"].dt.date == day
    assert (
        cur.loc[day_mask, "n"].to_numpy()
        == base.loc[day_mask, "n"].to_numpy() + 1000
    ).all()
    pd.testing.assert_frame_equal(
        cur[~day_mask].reset_index(drop=True),
        base[~day_mask].reset_index(drop=True),
        check_exact=True,
    )

    # unknown snapshot id is a hard error
    with pytest.raises(RuntimeError, match="no snapshot"):
        read_tier(spark, out, snapshot_id="deadbeef00000000")


def test_append_mode_accumulates(spark, feats, tmp_path):
    out = str(tmp_path / "tier_1d")
    snap1 = write_tier(feats, out)
    snap2 = write_tier(feats, out, mode="append")
    cur = read_tier(spark, out)
    n = feats.count()
    assert cur.count() == 2 * n
    assert read_tier(spark, out, snapshot_id=snap1).count() == n
    assert snap1 != snap2


def test_expire_commits_snapshot_and_deletes(spark, feats, tmp_path):
    out = str(tmp_path / "tier_1d")
    write_tier(feats, out)
    days = sorted(_pdf(feats)["bucket_start"].dt.date.unique())
    assert len(days) > 1
    cutoff = days[1].isoformat()

    dropped = expire(spark, out, cutoff)
    assert dropped == 1
    assert expire(spark, out, cutoff) == 0  # idempotent
    cur = _pdf(read_tier(spark, out))
    assert str(cur["bucket_start"].dt.date.min()) >= cutoff
    # expiry is itself a commit in the lineage
    assert len(list_snapshots(out)) == 2


def test_compact_merges_fragmented_partitions(spark, feats, tmp_path):
    """Append-mode refreshes fragment partitions across commits; compact()
    must rewrite them into one commit with identical rows (bit-for-bit),
    keep time travel to pre-compaction snapshots, and be a no-op when the
    table is already compact."""
    import os

    out = str(tmp_path / "tier_1d")
    write_tier(feats, out)
    write_tier(feats, out, mode="append")
    snap_pre = write_tier(feats, out, mode="append")
    pre = _pdf(read_tier(spark, out).drop("bucket_date"))

    def live_files():
        m = list_snapshots(out)[-1]
        return [
            os.path.join(out, f"commit={c}", f"bucket_date={d}", f)
            for d, commits in m["partitions"].items()
            for c in commits
            for f in os.listdir(os.path.join(out, f"commit={c}", f"bucket_date={d}"))
            if f.endswith(".parquet")
        ]

    n_files_pre = len(live_files())
    sid = compact(spark, out)
    assert sid is not None and sid != snap_pre

    # identical row set, one commit per partition, fewer live files
    post = _pdf(read_tier(spark, out).drop("bucket_date"))
    pd.testing.assert_frame_equal(post, pre, check_exact=True)
    m = list_snapshots(out)[-1]
    assert all(len(commits) == 1 for commits in m["partitions"].values())
    assert len(live_files()) < n_files_pre

    # pre-compaction snapshot still time-travels to the original files
    old = _pdf(read_tier(spark, out, snapshot_id=snap_pre).drop("bucket_date"))
    pd.testing.assert_frame_equal(old, pre, check_exact=True)

    # already-compact table: no-op, no new snapshot
    n_snaps = len(list_snapshots(out))
    assert compact(spark, out) is None
    assert len(list_snapshots(out)) == n_snaps

    # retention still works on the compacted layout
    days = sorted(pre["bucket_start"].dt.date.unique())
    assert expire(spark, out, days[1].isoformat()) == 1
    assert str(
        _pdf(read_tier(spark, out))["bucket_start"].dt.date.min()
    ) >= days[1].isoformat()


def test_asof_read_past_retention_boundary_fails_clearly(spark, feats, tmp_path):
    """An AS-OF read of a snapshot whose partitions a later retention commit
    physically deleted must fail up front with a clear 'expired' error, not
    resolve successfully and then die mid-scan on a missing path (or worse,
    silently return partial data)."""
    out = str(tmp_path / "tier_1d")
    snap1 = write_tier(feats, out)
    days = sorted(_pdf(feats)["bucket_start"].dt.date.unique())
    expire(spark, out, days[1].isoformat())

    with pytest.raises(RuntimeError, match="expired by a later retention"):
        read_tier(spark, out, snapshot_id=snap1)
    # the post-expiry snapshot still reads fine
    assert read_tier(spark, out).count() > 0


def test_file_stats_recorded_in_manifest(spark, feats, tmp_path):
    """Every commit records per-file row counts + conv_id/bucket_start
    bounds (the Iceberg data-skipping analogue); counts must tie out to the
    table, and bounds must actually bound the file contents."""
    out = str(tmp_path / "tier_1d")
    write_tier(feats, out)
    stats = list_snapshots(out)[-1]["file_stats"]
    assert stats, "commit wrote no file_stats"
    assert sum(s["rows"] for s in stats.values()) == feats.count()
    pdf = _pdf(feats)
    lo, hi = pdf["conv_id"].min(), pdf["conv_id"].max()
    for s in stats.values():
        assert lo <= s["conv_id"][0] <= s["conv_id"][1] <= hi
        assert s["bucket_start"][0] <= s["bucket_start"][1]


def test_point_lookup_prunes_files(spark, feats, tmp_path):
    """read_tier(conv_id=...) over a range-clustered layout reads strictly
    fewer files than a full scan and returns exactly the full-scan-filtered
    rows, bit for bit."""
    out = str(tmp_path / "tier_1d")
    # the rollup job's layout: range-partition by conv_id so each file
    # within a bucket_date partition covers a narrow conv range
    write_tier(feats.repartitionByRange(4, "conv_id"), out)

    conv = _pdf(feats)["conv_id"].iloc[0]
    full = read_tier(spark, out)
    pruned = read_tier(spark, out, conv_id=conv)
    want = (
        full.filter(full.conv_id == conv)
        .toPandas()
        .sort_values(["conv_id", "channel", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
    )
    got = (
        pruned.toPandas()
        .sort_values(["conv_id", "channel", "bucket_start"], kind="mergesort")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert len(got) > 0
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_bucket_range_prunes_and_open_ended(spark, feats, tmp_path):
    out = str(tmp_path / "tier_1d")
    write_tier(feats, out)
    pdf = _pdf(feats)
    days = sorted(pdf["bucket_start"].unique())
    assert len(days) > 2
    cut = days[1]

    ranged = read_tier(spark, out, bucket_range=(None, cut)).toPandas()
    assert set(ranged["bucket_start"].unique()) <= set(days[:2])
    assert len(ranged) == int((pdf["bucket_start"] <= cut).sum())
    # bounds prune to fewer files than the full live set
    full_files = read_tier(spark, out).inputFiles()
    pruned_files = read_tier(spark, out, bucket_range=(None, cut)).inputFiles()
    assert len(pruned_files) < len(full_files)

    # ISO-string bounds behave like datetimes
    iso = read_tier(
        spark, out, bucket_range=(None, str(pd.Timestamp(cut)))
    ).toPandas()
    assert len(iso) == len(ranged)


def test_prune_to_nothing_keeps_schema(spark, feats, tmp_path):
    out = str(tmp_path / "tier_1d")
    write_tier(feats, out)
    full = read_tier(spark, out)
    empty = read_tier(spark, out, conv_id="zzz_no_such_conv")
    assert empty.count() == 0
    assert empty.schema == full.schema


def test_compact_preserves_data_skipping(spark, feats, tmp_path):
    """Compaction must not destroy the clustering that makes file-level
    bounds selective: when max_records_per_file splits a rewritten partition
    into several files, their conv_id ranges must be DISJOINT, and a point
    lookup must still prune within the compacted partition."""
    out = str(tmp_path / "tier_1d")
    write_tier(feats.repartitionByRange(4, "conv_id"), out)
    write_tier(feats.repartitionByRange(4, "conv_id"), out, mode="append")
    assert compact(spark, out, max_records_per_file=10) is not None

    stats = list_snapshots(out)[-1]["file_stats"]
    by_day: dict = {}
    for rel, s in stats.items():
        by_day.setdefault(rel.split("/")[1], []).append(s["conv_id"])
    multi = {d: b for d, b in by_day.items() if len(b) > 1}
    assert multi, "compaction produced no multi-file partitions to check"
    for bounds in multi.values():
        bounds.sort()
        for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
            assert hi <= lo2, f"overlapping conv ranges after compact: {bounds}"

    conv = _pdf(feats)["conv_id"].iloc[0]
    full = read_tier(spark, out)
    pruned = read_tier(spark, out, conv_id=conv)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() == full.filter(full.conv_id == conv).count() > 0


def test_schema_evolution_add_column(spark, feats, tmp_path):
    """Iceberg-style schema evolution: a commit that adds a column makes the
    table read with the new schema (NULL for pre-evolution files — parquet
    schema-on-read, no mergeSchema sweep), while time travel to an earlier
    snapshot reads the old shape; pruning composes with the evolved schema."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "tier_1d")
    snap1 = write_tier(feats, out)
    evolved = feats.limit(5).withColumn("quality_flag", F.lit("ok"))
    write_tier(evolved, out, mode="append")

    cur = read_tier(spark, out)
    assert "quality_flag" in cur.columns
    n_old, n_new = feats.count(), 5
    assert cur.count() == n_old + n_new
    assert cur.filter(cur.quality_flag.isNull()).count() == n_old
    assert cur.filter(cur.quality_flag == "ok").count() == n_new

    old = read_tier(spark, out, snapshot_id=snap1)
    assert "quality_flag" not in old.columns
    assert old.count() == n_old

    conv = _pdf(feats)["conv_id"].iloc[0]
    pt = read_tier(spark, out, conv_id=conv)
    assert "quality_flag" in pt.columns
    assert pt.count() == cur.filter(cur.conv_id == conv).count() > 0


def test_apply_retention_policy_cascade(spark, feats, tmp_path):
    """apply_retention: the per-tier policy surface — raw kept short, coarser
    tiers longer; expired days vanish from the short tier while remaining in
    the long one; None = keep forever; deterministic via the explicit now."""
    import datetime
    import os

    from features_engineering_of_motion_data_spark.sources.sinks import (
        apply_retention,
    )

    root = str(tmp_path / "tiers")
    for tier in ("1h", "1d"):
        write_tier(feats, os.path.join(root, f"tier={tier}"))

    days = sorted(
        feats.toPandas()["bucket_start"].dt.date.unique()
    )
    assert len(days) >= 3, "fixture must span several days"
    # cutoff chosen so the 1h tier drops everything before the last 2 days
    now = days[-1] + datetime.timedelta(days=1)
    res = apply_retention(
        spark,
        root,
        {"1h": 3, "1d": None, "1m": 1},  # 1m table absent: must be a no-op
        now=now,
    )
    expect_dropped = sum(1 for d in days if d < now - datetime.timedelta(days=3))
    assert res["1h"]["dropped_partitions"] == expect_dropped > 0
    assert res["1d"]["dropped_partitions"] == 0
    assert res["1m"]["dropped_partitions"] == 0

    kept_1h = read_tier(spark, os.path.join(root, "tier=1h")).toPandas()
    full_1d = read_tier(spark, os.path.join(root, "tier=1d")).toPandas()
    assert kept_1h["bucket_start"].dt.date.min() >= now - datetime.timedelta(days=3)
    # the expired days remain summarized in the coarser tier
    assert set(full_1d["bucket_start"].dt.date) == set(days)

    # idempotent at the same clock
    res2 = apply_retention(spark, root, {"1h": 3, "1d": None}, now=now)
    assert res2["1h"]["dropped_partitions"] == 0


def test_register_tier_views_sql_face(spark, feats, tmp_path):
    """SQL face: spark.sql over the registered views sees exactly what
    read_tier sees, including AS-OF pinning per tier."""
    import os

    from pyspark.sql import functions as F

    from features_engineering_of_motion_data_spark.sources.sinks import (
        register_tier_views,
    )

    root = str(tmp_path / "tiers")
    p1d = os.path.join(root, "tier=1d")
    snap1 = write_tier(feats, p1d)
    doctored = feats.withColumn("n", F.col("n") + F.lit(7))
    write_tier(doctored, p1d)

    assert register_tier_views(spark, root) == ["tier_1d"]  # 1m/1h absent
    cur = spark.sql(
        "SELECT SUM(n) AS sn, COUNT(*) AS c FROM tier_1d"
    ).collect()[0]
    base = _pdf(feats)
    assert cur["c"] == len(base)
    assert cur["sn"] == int(base["n"].sum()) + 7 * len(base)

    # AS-OF pinning is SQL-visible
    register_tier_views(spark, root, snapshot_ids={"1d": snap1})
    old = spark.sql("SELECT SUM(n) AS sn FROM tier_1d").collect()[0]
    assert old["sn"] == int(base["n"].sum())

    # pruning pushes through the view: a conv_id filter in SQL matches
    conv = base["conv_id"].iloc[0]
    n_sql = spark.sql(
        f"SELECT COUNT(*) AS c FROM tier_1d WHERE conv_id = '{conv}'"
    ).collect()[0]["c"]
    assert n_sql == int((base["conv_id"] == conv).sum())
