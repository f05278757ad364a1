"""Invariant tests (SURVEY §5.4): per-turn text equality under stable
(conv_id, turn_idx) ordering."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

import oracle.features as orc
from features_engineering_of_motion_data_spark.operators.channels import dedup_turns
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def test_text_equality_checksum(spark, tiny_path, tiny_pdf):
    """Whole-table per-turn text equality: the deduped frame's per-row
    md5(text), in (conv_id, turn_idx) order, must equal the list computed
    by oracle.features.dedup on the raw parquet, keys included. Catches any
    text mutation/reorder/loss anywhere in the scan+dedup path."""
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
