"""Dedup + channel derivation (SURVEY.md §2.2 P1/P4, §1.2).

The transcripts table becomes a long-format integer signal table
``(conv_id, channel, turn_idx, ts_us, x, prev_x, prev_ts_us)`` with one
window pass per conversation. All channel values are exact integers
(DESIGN.md §1); ``prev_*`` columns let every retention tier compute its own
zero-crossing indicator without another shuffle. The one hash(conv_id)
exchange carries scalars plus a 16-byte text digest, never the text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _digest(text: Column) -> Column:
    """16-byte md5 of the UTF-8 text (NULL for null text). Compared as
    unsigned bytes with nulls last, it orders exactly like the lowercase hex
    digest with a sorts-last sentinel for null (DESIGN.md §4)."""
    return F.unhex(F.md5(text.cast("binary")))


def _keep_first(df: DataFrame, ts: str) -> DataFrame:
    """Keep the first row per (conv_id, turn_idx) under the deterministic
    tie-break (``ts`` asc, ``_h`` asc nulls last), then drop ``_h``.

    Windowed by ``conv_id`` alone (ordered by turn_idx, ts, digest) rather
    than by (conv_id, turn_idx): ``HashPartitioning(conv_id)`` satisfies the
    clustering required by every downstream window/groupBy in the pipeline
    (all key on conv_id supersets), so dedup → channels → tier aggregation →
    full cascade runs on a SINGLE shuffle.
    """
    w = Window.partitionBy("conv_id").orderBy(
        F.col("turn_idx").asc(), F.col(ts).asc(), F.col("_h").asc_nulls_last()
    )
    dup = F.lag("turn_idx").over(w) == F.col("turn_idx")
    return (
        df.withColumn("_dup", F.coalesce(dup, F.lit(False)))
        .filter(~F.col("_dup"))
        .drop("_dup", "_h")
    )


def dedup_turns(df: DataFrame) -> DataFrame:
    """P4: keep the first row per (conv_id, turn_idx) under the deterministic
    tie-break (ts asc, md5(text) asc, nulls last). Every input column is
    kept, so this exchange carries the full rows, ``text`` included;
    :func:`derive_channels` applies the same rule to narrowed rows."""
    return _keep_first(df.withColumn("_h", _digest(F.col("text"))), "ts")


def derive_channels(turns: DataFrame) -> DataFrame:
    """P4 + P1 + W1 + melt: dedup raw turns, then per-turn integer channel
    values in long format with per-channel previous observations
    (``prev_x``, ``prev_ts_us``).

    The rows are narrowed to scalars before the hash(conv_id) exchange:
    conv_id, turn_idx, ts_us, text length, the tool flag and the 16-byte
    text digest that breaks dedup ties. ``text`` itself never crosses the
    shuffle. Dedup (the same keep-first rule as :func:`dedup_turns`) and
    every channel value are computed in ONE sort over ``(conv_id) ORDER BY
    turn_idx, ts_us, digest`` *before* the melt, so the pipeline does a
    single sort and a single exchange which the downstream tier groupBy
    reuses (HashPartitioning on a key subset satisfies the clustering). The
    melt itself is a narrow ``stack``. Channel-series adjacency tricks:

    * latency channel: element i's predecessor is the latency at the previous
      turn = ``lag(ts,1) − lag(ts,2)`` — expressed with plain lags to avoid a
      nested-window (or second window pass) on the derived column;
    * text_len channel skips null-text rows (gap-filled turns), so its
      predecessor uses a running ``last(…, ignorenulls)`` frame.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    narrow = turns.select(
        "conv_id",
        "turn_idx",
        F.unix_micros("ts").alias("ts_us"),
        F.length("text").cast("long").alias("text_len"),
        F.col("tool").isNotNull().cast("long").alias("tool_cadence"),
        _digest(F.col("text")).alias("_h"),
    )
    base = _keep_first(narrow, "ts_us").select(
        "conv_id",
        "turn_idx",
        "ts_us",
        "text_len",
        "tool_cadence",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("lat_us"),
        F.last(F.when(F.col("text_len").isNotNull(), F.col("text_len")), True)
        .over(wprev)
        .alias("prev_text_x"),
        F.last(F.when(F.col("text_len").isNotNull(), F.col("ts_us")), True)
        .over(wprev)
        .alias("prev_text_ts"),
        (F.lag("ts_us", 1).over(w) - F.lag("ts_us", 2).over(w)).alias("prev_lat_x"),
        F.when(F.lag("ts_us", 2).over(w).isNotNull(), F.lag("ts_us", 1).over(w)).alias(
            "prev_lat_ts"
        ),
        F.lag("tool_cadence").over(w).alias("prev_tool_x"),
        F.lag("ts_us").over(w).alias("prev_tool_ts"),
    )
    return base.selectExpr(
        "conv_id",
        "turn_idx",
        "ts_us",
        "stack(3,"
        " 'text_len', text_len, prev_text_x, prev_text_ts,"
        " 'inter_turn_latency', lat_us, prev_lat_x, prev_lat_ts,"
        " 'tool_cadence', tool_cadence, prev_tool_x, prev_tool_ts"
        ") as (channel, x, prev_x, prev_ts_us)",
    ).filter(F.col("x").isNotNull())
