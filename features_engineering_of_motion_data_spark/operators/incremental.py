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

At 10¹²-turn scale: the delta aggregation costs O(|delta|) plus up to three
phantom rows per conversation of the stats it is given; jobs/rollup.py gives
it only the delta-affected conv_id hash ranges (a partition-pruned read), so
the seam aggregate reads the same stats rows the merge does, with no
semi-join against a conversation list of the delta. Both read those rows
hash-partitioned on conv_id, the partitioning the delta's channel pass
already has, so the merge adds no exchange. The job rewrites the affected
ranges whole, in one dynamic-partition-overwrite write that replaces only
their ``tier=<T>/part=<K>/`` directories (ranges with no delta rows are left
untouched). Nothing scans old raw turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .channels import derive_channels
from .features import aggregate_tier, merge_stats
from .rollup import cascade_from_stats, finest_tier
from ..sources.transcripts import TRANSCRIPT_SCHEMA


_NO_STR = "CAST(NULL AS STRING)"


def _last_of(channel: str, name: str) -> str:
    """SQL for the (last_ts_us, last_val) of ``channel``'s latest bucket row."""
    return (
        "max_by(struct(last_ts_us, last_val),"
        f" IF(channel = '{channel}', bucket_us, NULL)) AS {name}"
    )


def _phantom(turn_idx: int, text: str, tool: str, ts_us: str) -> str:
    """SQL for one phantom turn struct in TRANSCRIPT_SCHEMA field order."""
    return (
        f"named_struct('turn_idx', {turn_idx}, 'role', {_NO_STR},"
        f" 'text', {text}, 'tool', {tool}, 'ts', timestamp_micros({ts_us}))"
    )


#: ts_n, the last old turn's ts: the tool channel covers every turn, so its
#: max-bucket row is turn n
_TS_N = "tool_last.last_ts_us"
_SYNTH_TEXT = "repeat('a', CAST(text_last.last_val AS INT))"
_P1 = _phantom(
    -1,
    f"IF(text_last.last_ts_us = {_TS_N}, {_SYNTH_TEXT}, NULL)",
    "IF(tool_last.last_val = 1, 'seam', NULL)",
    _TS_N,
)
_P2 = _phantom(-2, _NO_STR, _NO_STR, f"{_TS_N} - lat_last.last_val")
_P3 = _phantom(-3, _SYNTH_TEXT, _NO_STR, "text_last.last_ts_us")
#: one conversation's phantom turns as rows: −1 always; −2 and −3 are null,
#: and compacted away, when their context is absent
_PHANTOMS = (
    f"inline(array_compact(array({_P1}, "
    f"IF(lat_last.last_ts_us IS NOT NULL, {_P2}, NULL), "
    f"IF(text_last.last_ts_us < {_TS_N}, {_P3}, NULL))))"
)


def seam_phantoms(old_stats: DataFrame) -> DataFrame:
    """Synthesize per-conversation phantom turns from finest-tier stats.

    ``old_stats``: the existing finest-tier sufficient-statistics frame
    (aggregate_tier output; the persisted tier table works — finalize keeps
    the stats columns). Every conversation in it gets its phantoms, so a
    caller prunes it to the conversations (or hash ranges) the delta
    touches; phantoms of a conversation with no delta turns yield no channel
    row once phantom-origin rows are dropped.

    Returns rows in TRANSCRIPT_SCHEMA shape: (conv_id, turn_idx, role, text,
    tool, ts) with turn_idx ∈ {−1, −2, −3}:

    * −1 — the last old turn: its ts, tool flag, and (if it carried text) a
      synthetic text of the recorded length (only ``length(text)`` feeds any
      channel; content is irrelevant by construction);
    * −2 — the second-to-last turn's timestamp (latency lag-2 context);
    * −3 — the last non-null-text turn, when that is not turn n.

    One ``groupBy("conv_id")`` over the stats yields all three: each
    conversation's aggregate row becomes an array of phantom structs, null
    where the −2/−3 context is absent, and ``inline`` over its compacted
    form turns it into rows. The aggregate is planned and run once, with one
    scan of ``old_stats``. The expressions are SQL text, so the driver
    builds the frame in two DataFrame steps and few py4j calls.
    """
    return (
        old_stats.groupBy("conv_id")
        .agg(
            F.expr(_last_of("tool_cadence", "tool_last")),
            F.expr(_last_of("inter_turn_latency", "lat_last")),
            F.expr(_last_of("text_len", "text_last")),
        )
        .selectExpr("conv_id", _PHANTOMS)
    )


def merge_partial_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two partial sufficient-statistics frames of the SAME tier.

    Rows with the same (conv_id, channel, bucket_us) — one partial from the
    already-aggregated past, one from a delta — combine associatively:
    :func:`~.features.merge_stats` with NO boundary zero-crossing term (see
    module docstring). Buckets present in only one side pass through
    bit-unchanged.
    """
    return (
        a.unionByName(b)
        .groupBy("conv_id", "channel", "bucket_us")
        .agg(*merge_stats())
    )


def delta_tier_stats(old_stats: DataFrame, delta_turns: DataFrame, tier: str) -> DataFrame:
    """Finest-tier sufficient statistics of the delta WITH correct seam
    context: phantoms of every ``old_stats`` conversation provide the
    window-lag values, then phantom-origin channel rows (turn_idx < 0) are
    dropped before aggregation. The delta feeds the plan once, through the
    channel pass."""
    turns = delta_turns.select(*TRANSCRIPT_SCHEMA.names)
    full = seam_phantoms(old_stats).union(turns)
    channels = derive_channels(full).filter(F.col("turn_idx") >= 0)
    return aggregate_tier(channels, tier)


def incremental_cascade(
    old_1m_stats: DataFrame,
    delta_turns: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
) -> dict[str, DataFrame]:
    """Refresh the cascade for an append: {tier: finalized features frame},
    bit-identical to a full recompute over old∪delta.

    ``old_1m_stats`` must be the finest fixed tier's stats frame. Every
    conversation in it gets seam phantoms, so pass only the conversations
    (or hash ranges) the delta touches when the rest is large. The delta's
    stats merge into it, and ``cascade_from_stats`` derives every coarser
    tier, calendar tiers included. jobs/rollup.py runs the same composition
    restricted to the delta-affected conv_id hash ranges and replaces their
    ``tier=<T>/part=<K>/`` directories whole, all of them in one
    dynamic-overwrite write."""
    if not tiers:
        return {}
    finest = finest_tier(tiers)
    merged = merge_partial_stats(
        old_1m_stats, delta_tier_stats(old_1m_stats, delta_turns, finest)
    )
    return cascade_from_stats(merged, tiers)
