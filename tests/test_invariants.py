"""Invariant tests (SURVEY §5.4): per-turn text equality under stable
(conv_id, turn_idx) ordering, plus tier-sink retention (R4)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

import oracle.features as orc
from features_engineering_of_motion_data_spark.operators.channels import dedup_turns
from features_engineering_of_motion_data_spark.operators.features import (
    features_from_turns,
)
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.sources.sinks import expire, write_tier
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def test_text_equality_checksum(spark, tiny_path, tiny_pdf):
    """Whole-table per-turn text equality: xor of xxhash64(conv, turn, text)
    over the deduped frame must match an independently computed pandas xor.
    Catches any text mutation/reorder/loss anywhere in the scan+dedup path."""
    ded = dedup_turns(read_transcripts(spark, tiny_path))
    spark_rows = (
        ded.select("conv_id", "turn_idx", F.md5(F.col("text").cast("binary")).alias("h"))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = orc.dedup(tiny_pdf)
    want_h = [hashlib.md5(t.encode()).hexdigest() for t in want["text"]]
    assert (spark_rows["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
    assert (spark_rows["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    assert spark_rows["h"].tolist() == want_h


def test_write_tier_and_retention(spark, tiny_path, tmp_path):
    out = str(tmp_path / "tier_1d")
    feats = features_from_turns(
        derive_channels(read_transcripts(spark, tiny_path)), "1d"
    )
    write_tier(feats, out)
    before = pd.read_parquet(out)
    days = sorted(before["bucket_date"].astype(str).unique())
    assert len(days) > 1
    cutoff = days[1]
    dropped = expire(spark, out, cutoff)
    assert dropped == 1  # exactly the first day partition
    after = pd.read_parquet(out)
    assert after["bucket_date"].astype(str).min() >= cutoff
    # idempotent: nothing further to drop
    assert expire(spark, out, cutoff) == 0
