"""Incremental refresh of the continuous-aggregate cascade (SURVEY §2.5 R2/R3
taken to their TimescaleDB-style conclusion): when the transcripts table grows
by an APPEND (new snapshot, strictly newer turns per conversation — Iceberg
incremental-scan semantics), the tier tables are refreshed by aggregating ONLY
the delta and merging sufficient statistics, never re-reading old raw data.

Exactness contract: ``incremental_cascade(old_1m_stats, delta_turns)`` is
bit-identical to recomputing the cascade over old∪delta from scratch
(tests/test_incremental.py asserts every stats column including zc).

Two non-obvious pieces make that possible:

**Seam state lives in the stats table.** The first delta turns of a
conversation need window-lag context from the last old turns (inter-turn
latency needs the previous two timestamps; text_len's predecessor is the last
non-null text; tool cadence needs the last flag). All of it is recoverable
from the finest tier's own sufficient statistics — no separate state store:

* ``tool_cadence``'s x is non-null for EVERY turn, so that channel's last
  bucket row gives the conversation's final turn: ts_n = last_ts_us and the
  final tool flag = last_val;
* the latency channel's last row is also turn n (a latency value exists for
  every turn with a predecessor), so ts_{n−1} = ts_n − last_val;
* the text channel's last row gives the last non-null text length and its
  timestamp (which may precede turn n−1 — gap-filled turns carry null text).

The context is injected as up to three PHANTOM turns per conversation with
negative ``turn_idx`` (real turns are non-negative by schema contract), so the
ordinary dedup→channels window pass produces correct lag values for the real
delta turns; phantom-origin channel rows are then dropped before aggregation —
phantoms exist only to be *lagged against*. Ordering is sound because ts is
monotone in turn_idx within a conversation (rollup.py's standing assumption)
and the last non-null text turn is ≤ turn n−1 whenever it isn't turn n.

**Same-bucket merge has no boundary term.** Merging two partials of the SAME
(conv, channel, bucket) sums n/s1/s2/zc and min/maxes the extrema, with
first/last carried by first_ts_us order — but unlike the cross-bucket merge
(rollup.py), it must NOT add a boundary zero-crossing: the seam pair (last
old turn, first delta turn) was already counted inside the delta partial via
the phantom ``prev_x`` when both truncate to the same bucket, and is counted
by the coarser tier's ordinary boundary term when they don't. Appends can
only deepen a conversation's LAST old bucket or add later ones (ts monotone),
so partials of one bucket order cleanly by first_ts_us.

At 10¹²-turn scale: the delta aggregation costs O(|delta|); the seam read is
one semi-join of the stats table against the delta's conversations (prunable,
co-partitioned on hash(conv_id)); the merge touches only those conversations'
stats; and jobs/rollup.py rewrites the delta-affected conv_id hash ranges
whole, in one dynamic-partition-overwrite write that replaces only their
``tier=<T>/part=<K>/`` directories (ranges with no delta rows are left
untouched). Nothing scans old raw turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .channels import derive_channels
from .features import TIER_US, aggregate_tier
from .rollup import cascade_from_stats, split_tiers


def seam_phantoms(old_stats: DataFrame, delta_convs: DataFrame) -> DataFrame:
    """Synthesize per-conversation phantom turns from finest-tier stats.

    ``old_stats``: the existing finest-tier sufficient-statistics frame
    (aggregate_tier output; the persisted tier table works — finalize keeps
    the stats columns). ``delta_convs``: one-column frame of conv_ids present
    in the delta (seam state is only materialized for those).

    Returns rows in TRANSCRIPT_SCHEMA shape: (conv_id, turn_idx, role, text,
    tool, ts) with turn_idx ∈ {−1, −2, −3}:

    * −1 — the last old turn: its ts, tool flag, and (if it carried text) a
      synthetic text of the recorded length (only ``length(text)`` feeds any
      channel; content is irrelevant by construction);
    * −2 — the second-to-last turn's timestamp (latency lag-2 context);
    * −3 — the last non-null-text turn, when that is not turn n.

    One ``groupBy("conv_id")`` over the semi-joined stats yields all three:
    each conversation's aggregate row becomes a three-element array of
    phantom structs, ``inline`` turns it into rows and a keep flag drops the
    −2/−3 rows whose context is absent. The aggregate is planned and run
    once, with one scan of ``old_stats``.
    """
    per_conv = (
        old_stats.join(delta_convs.select("conv_id"), "conv_id", "semi")
        .groupBy("conv_id")
        .agg(
            # tool channel covers every turn → its max-bucket row is turn n
            F.max_by(
                F.struct("last_ts_us", "last_val"),
                F.when(F.col("channel") == "tool_cadence", F.col("bucket_us")),
            ).alias("tool_last"),
            F.max_by(
                F.struct("last_ts_us", "last_val"),
                F.when(
                    F.col("channel") == "inter_turn_latency", F.col("bucket_us")
                ),
            ).alias("lat_last"),
            F.max_by(
                F.struct("last_ts_us", "last_val"),
                F.when(F.col("channel") == "text_len", F.col("bucket_us")),
            ).alias("text_last"),
        )
    )
    ts_n = F.col("tool_last.last_ts_us")
    lat_ts = F.col("lat_last.last_ts_us")
    text_ts = F.col("text_last.last_ts_us")
    synth_text = F.repeat(F.lit("a"), F.col("text_last.last_val").cast("int"))
    no_str = F.lit(None).cast("string")

    def phantom(keep, turn_idx, text, tool, ts_us):
        return F.struct(
            keep.alias("_keep"),
            F.lit(turn_idx).alias("turn_idx"),
            text.alias("text"),
            tool.alias("tool"),
            ts_us.alias("ts_us"),
        )

    phantoms = F.array(
        phantom(
            F.lit(True),
            -1,
            F.when(text_ts == ts_n, synth_text),
            F.when(F.col("tool_last.last_val") == 1, F.lit("seam")),
            ts_n,
        ),
        phantom(
            lat_ts.isNotNull(), -2, no_str, no_str, ts_n - F.col("lat_last.last_val")
        ),
        phantom(
            text_ts.isNotNull() & (text_ts < ts_n), -3, synth_text, no_str, text_ts
        ),
    )
    return (
        per_conv.select("conv_id", F.inline(phantoms))
        .filter(F.col("_keep"))
        .select(
            "conv_id",
            "turn_idx",
            no_str.alias("role"),
            "text",
            "tool",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
        )
    )


def merge_partial_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two partial sufficient-statistics frames of the SAME tier.

    Rows with the same (conv_id, channel, bucket_us) — one partial from the
    already-aggregated past, one from a delta — combine associatively:
    integer adds for n/s1/s2/zc, min/max for the extrema, first/last carried
    by first_ts_us order. NO boundary zero-crossing term (see module
    docstring). Buckets present in only one side pass through bit-unchanged.
    """
    u = a.unionByName(b)
    return u.groupBy("conv_id", "channel", "bucket_us").agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
        F.min("min_raw").alias("min_raw"),
        F.max("max_raw").alias("max_raw"),
        F.sum("zc").alias("zc"),
        F.min_by("first_ts_us", "first_ts_us").alias("first_ts_us"),
        F.max_by("last_ts_us", "last_ts_us").alias("last_ts_us"),
        F.min_by("first_val", "first_ts_us").alias("first_val"),
        F.max_by("last_val", "last_ts_us").alias("last_val"),
    )


def delta_tier_stats(old_stats: DataFrame, delta_turns: DataFrame, tier: str) -> DataFrame:
    """Finest-tier sufficient statistics of the delta WITH correct seam
    context: phantoms provide the window-lag values, then phantom-origin
    channel rows (turn_idx < 0) are dropped before aggregation."""
    delta_convs = delta_turns.select("conv_id").distinct()
    phantoms = seam_phantoms(old_stats, delta_convs)
    full = phantoms.unionByName(delta_turns.select(*phantoms.columns))
    channels = derive_channels(full).filter(F.col("turn_idx") >= 0)
    return aggregate_tier(channels, tier)


def incremental_cascade(
    old_1m_stats: DataFrame,
    delta_turns: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
) -> dict[str, DataFrame]:
    """Refresh the cascade for an append: {tier: finalized features frame},
    bit-identical to a full recompute over old∪delta.

    ``old_1m_stats`` must be the finest fixed tier's stats frame. The delta's
    stats merge into it, and ``cascade_from_stats`` derives every coarser
    tier, calendar tiers included. jobs/rollup.py runs the same composition
    restricted to the delta-affected conv_id hash ranges and replaces their
    ``tier=<T>/part=<K>/`` directories whole, all of them in one
    dynamic-overwrite write."""
    fixed, _ = split_tiers(tiers)
    if not fixed:  # {} for no tiers, the calendar-only KeyError otherwise
        return cascade_from_stats(old_1m_stats, tiers)
    finest = min(fixed, key=lambda t: TIER_US[t])
    merged = merge_partial_stats(
        old_1m_stats, delta_tier_stats(old_1m_stats, delta_turns, finest)
    )
    return cascade_from_stats(merged, tiers)
