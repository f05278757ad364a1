"""Sliding-window features with 50% overlap (SURVEY §2.9 W3) — the reference
library's signature operation, turn-count windows instead of sample-count.

The reference segments a sampled motion signal into fixed-length windows
overlapping by half and computes the statistical feature set per window; here
the signal is a conversation channel and the window is the last ``window``
turns, emitted every ``window/2`` turns (hop). Expressed natively: one row
frame over the existing hash(conv_id) clustering plus a row_number filter —
no extra shuffle, no Python.

Same exact-integer statistics + pinned float64 finalization as the tier
path, so results are bitwise-reproducible at any parallelism and checked
against an independent numpy oracle (tests/test_sliding.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .features import _sign, pinned_features, unit_divisor


def sliding_features(channels: DataFrame, window: int = 8) -> DataFrame:
    """Per (conv_id, channel): features over the trailing ``window`` turns,
    hop = window//2 (50% overlap), emitted only for full windows.

    Returns one row per emitted window keyed by the last turn in it.
    """
    if window < 2 or window % 2:
        raise ValueError(f"window must be an even integer >= 2, got {window}")
    hop = window // 2
    w = Window.partitionBy("conv_id", "channel").orderBy("turn_idx")
    frame = w.rowsBetween(-(window - 1), 0)

    # cross(i) marks a zero crossing of the pair (i−1, i) of the series. The
    # window ending at j holds the pairs whose both turns lie in its frame:
    # window zc = Σ cross over the frame − cross of the frame's first row,
    # the pair entering the frame (lag(cross, window−1); 0 before it exists)
    cross = (
        F.col("prev_x").isNotNull()
        & (_sign(F.col("prev_x")) * _sign(F.col("x")) < 0)
    ).cast("long")

    d = (
        channels.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cross", cross)
        .withColumn("n_w", F.count(F.lit(1)).over(frame))
        .withColumn("s1_w", F.sum("x").over(frame))
        .withColumn(
            "s2_w",
            F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).over(frame).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn("min_w", F.min("x").over(frame))
        .withColumn("max_w", F.max("x").over(frame))
        .withColumn(
            "zc_w",
            F.sum("_cross").over(frame)
            - F.coalesce(F.lag("_cross", window - 1).over(w), F.lit(0)),
        )
        .filter((F.col("n_w") == window) & (F.pmod(F.col("_rn"), F.lit(hop)) == 0))
    )
    feats = pinned_features(
        *(F.col(c) for c in ("n_w", "s1_w", "s2_w", "min_w", "max_w", "zc_w")),
        unit_divisor(F.col("channel")),
    )
    return d.select(
        "conv_id",
        "channel",
        F.col("turn_idx").alias("window_end_turn"),
        F.col("ts_us").alias("window_end_ts_us"),
        F.col("n_w").alias("n"),
        *(c.alias(k) for k, c in feats.items()),
    )
