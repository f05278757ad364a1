"""Rolling tier-window features (round-4, second half): the driver face of
:func:`~..operators.rollup.rolling_merge` — trailing 24h windows merged from
1h sufficient statistics, never from raw rescans.

The oracle is deliberately INDEPENDENT of the merge algebra: DuckDB joins
each present end-bucket to the raw rows of its 24-bucket range and counts
zero crossings from consecutive raw pairs directly (a pair counts iff both
rows' buckets lie in the window).  The driver's bitwise hash equality
therefore proves the engine's windowed stats algebra — including the
Σboundary − first(boundary) zero-crossing window term — against raw-pair
semantics, not against itself.

Exactness follows the package contract (queries/__init__.py): all stats are
exact integers; w_mean/w_std are the pinned q01 finalize tree (m = s1/n,
q = s2/n, var = q − m·m clamped at 0, std = √var) with DuckDB's s2 cast via
split_dbl and Spark's via its single-rounding decimal→double cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.features import aggregate_tier, pinned_features
from ..operators.matrix import FEATURES, wide_rolling_matrix
from ..operators.rollup import rolling_merge
from .events import HOUR_US, _base
from .sqlexact import split_dbl

_C_SQL = """
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
"""

# trailing window width in 1h buckets (24 buckets = one day); the deviation
# channel x = c − 100.00 units re-centers the all-positive fixture values so
# zero crossings are non-trivial (q02's convention)
ROLL_WIDTH = 24
_DEV_CENTS = 10_000


def q78_rolling_features_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24h rolling features per (conv, present 1h end-bucket) via the
    rolling_merge operator: n, Σx, zero crossings, min/max of the deviation
    channel x = c − 100.00 over the trailing 24 one-hour buckets, plus the
    pinned mean/std finalize. The events form a one-channel frame
    (``turn_idx`` numbers each user's events in (ts, event_id) order) that
    :func:`~..operators.features.aggregate_tier` aggregates, as in q80.

    Scale shape: base lag window, 1h hash agg, boundary lag window, and the
    RANGE rolling frame all cluster under hash(conv) — a single exchange,
    no Python, and each output row reads ≤ 24 tier rows regardless of how
    many raw rows the day held.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ch = (
        _base(spark, sf_dir)
        .withColumn("x", F.col("c") - F.lit(_DEV_CENTS))
        .withColumn("turn_idx", F.row_number().over(w))
        .withColumn("prev_x", F.lag("x").over(w))
        .withColumn("prev_ts_us", F.lag("ts_us").over(w))
        .selectExpr(
            "user_id as conv_id", "'value_dev' as channel", "turn_idx",
            "ts_us", "x", "prev_x", "prev_ts_us",
        )
    )
    r = rolling_merge(aggregate_tier(ch, "1h"), "1h", ROLL_WIDTH)
    feats = pinned_features(
        *(F.col(c) for c in ("n", "s1", "s2", "min_raw", "max_raw", "zc")),
        F.lit(1.0),
    )
    return r.select(
        "conv_id",
        "bucket_us",
        "n",
        "s1",
        "zc",
        F.col("min_raw").alias("min_x"),
        F.col("max_raw").alias("max_x"),
        feats["f_mean"].alias("w_mean"),
        feats["f_std"].alias("w_std"),
    )


_SPAN_US = (ROLL_WIDTH - 1) * HOUR_US

_Q78_SQL = f"""
WITH c AS ({_C_SQL}), nb AS (
  SELECT user_id, ts_us,
         c - {_DEV_CENTS} AS x,
         lag(c - {_DEV_CENTS}) OVER w AS prev_x,
         lag(ts_us) OVER w AS prev_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), ends AS (
  SELECT DISTINCT user_id, ts_us - ts_us % {HOUR_US} AS e FROM nb
), j AS (
  SELECT ends.user_id, ends.e, nb.x, nb.prev_x, nb.prev_ts
  FROM ends JOIN nb ON nb.user_id = ends.user_id
   AND nb.ts_us - nb.ts_us % {HOUR_US} BETWEEN ends.e - {_SPAN_US} AND ends.e
), g AS (
  SELECT user_id AS conv_id, e AS bucket_us,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         SUM(CAST(x AS HUGEINT) * x) AS s2,
         CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                        AND prev_ts - prev_ts % {HOUR_US} >= e - {_SPAN_US}
                        AND (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                          * (CASE WHEN prev_x < 0 THEN -1 ELSE 1 END) < 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS zc,
         CAST(MIN(x) AS BIGINT) AS min_x,
         CAST(MAX(x) AS BIGINT) AS max_x
  FROM j GROUP BY 1, 2
)
SELECT conv_id, bucket_us, n, s1, zc, min_x, max_x,
       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS w_mean,
       sqrt(CASE WHEN {split_dbl("s2")} / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) < 0
            THEN 0.0
            ELSE {split_dbl("s2")} / CAST(n AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            END) AS w_std
FROM g
"""


# --- q80: the wide rolling matrix (the jobs/features.py --rolling product
# surface) as a driver-checkable query --------------------------------------

#: channels the q80 matrix transposes; the divisor column documents the unit
#: each channel finalizes in (value_dev is already in cents → u = 1; the
#: latency channel is µs reported in seconds → u = 1e6, applied by
#: finalize_features/unit_divisor because the channel carries the transcript
#: contract name "inter_turn_latency")
Q80_CHANNELS = {"value_dev": 1.0, "inter_turn_latency": 1e6}


def q80_rolling_wide_matrix_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-facing product surface end-to-end: a TWO-channel wide
    rolling feature matrix over the events stream — one row per (conv,
    present 1h end-bucket of either channel), 16 cells
    ``{channel}__{feature}`` over the trailing 24 buckets, produced by
    :func:`~..operators.matrix.wide_rolling_matrix` (aggregate_tier →
    rolling_merge → finalize → conditional-agg transpose, all clustered
    under one hash(conv) exchange).

    Channel derivation mirrors operators/channels.derive_channels on the
    events fixture: ``value_dev`` = cents − 100.00 (q78's deviation
    channel, never null) and ``inter_turn_latency`` = µs since the previous
    event (null at each conversation's first event — so its cells exercise
    the matrix's NULL contract: NULL = channel absent in the END bucket).

    The oracle is independent of the merge/transpose algebra: per channel it
    joins each present end-bucket to the raw rows of its 24-bucket range
    (q78's raw-pair zero-crossing semantics), applies the pinned finalize
    tree with the channel's unit divisor, and LEFT JOINs the two channel
    frames onto the union of present end-buckets.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = (
        _base(spark, sf_dir)
        .withColumn("turn_idx", F.row_number().over(w))
        .withColumn("x_dev", F.col("c") - F.lit(_DEV_CENTS))
        .withColumn("prev_dev", F.lag("x_dev").over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn("lat", F.col("ts_us") - F.lag("ts_us").over(w))
        .withColumn(
            "prev_lat", F.lag("ts_us", 1).over(w) - F.lag("ts_us", 2).over(w)
        )
        .withColumn(
            "prev_lat_ts",
            F.when(
                F.lag("ts_us", 2).over(w).isNotNull(), F.lag("ts_us", 1).over(w)
            ),
        )
    )
    ch = d.selectExpr(
        "user_id as conv_id",
        "turn_idx",
        "ts_us",
        "stack(2,"
        " 'value_dev', x_dev, prev_dev, prev_ts,"
        " 'inter_turn_latency', lat, prev_lat, prev_lat_ts"
        ") as (channel, x, prev_x, prev_ts_us)",
    ).filter(F.col("x").isNotNull())
    m = wide_rolling_matrix(ch, "1h", ROLL_WIDTH, channels=Q80_CHANNELS)
    cells = [f"{c}__{f}" for c in Q80_CHANNELS for f in FEATURES]
    return m.select(
        "conv_id", F.unix_micros("bucket_start").alias("bucket_us"), *cells
    )


def _q80_channel_sql(tag: str, src: str, u: str) -> str:
    """Per-channel rolled + finalized CTEs (``ends_{tag}``/``g_{tag}``/
    ``f_{tag}``): q78's independent range-join oracle, then the pinned
    finalize tree with unit divisor ``u`` — op order written to match
    finalize_features verbatim."""
    nd = "CAST(n AS DOUBLE)"
    m = f"({split_dbl('s1')} / {nd})"
    qq = f"({split_dbl('s2')} / {nd})"
    var = f"CASE WHEN {qq} - {m} * {m} < 0 THEN 0.0 ELSE {qq} - {m} * {m} END"
    return f"""ends_{tag} AS (
  SELECT DISTINCT user_id, ts_us - ts_us % {HOUR_US} AS e FROM {src}
), g_{tag} AS (
  SELECT en.user_id, en.e,
         COUNT(*) AS n,
         CAST(SUM(s.x) AS HUGEINT) AS s1,
         SUM(CAST(s.x AS HUGEINT) * s.x) AS s2,
         CAST(MIN(s.x) AS BIGINT) AS mn,
         CAST(MAX(s.x) AS BIGINT) AS mx,
         CAST(SUM(CASE WHEN s.prev_ts IS NOT NULL
                        AND s.prev_ts - s.prev_ts % {HOUR_US} >= en.e - {_SPAN_US}
                        AND (CASE WHEN s.x < 0 THEN -1 ELSE 1 END)
                          * (CASE WHEN s.prev_x < 0 THEN -1 ELSE 1 END) < 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS zc
  FROM ends_{tag} en JOIN {src} s ON s.user_id = en.user_id
   AND s.ts_us - s.ts_us % {HOUR_US} BETWEEN en.e - {_SPAN_US} AND en.e
  GROUP BY 1, 2
), f_{tag} AS (
  SELECT user_id, e, n,
         {m} / {u} AS f_mean,
         sqrt({var}) / {u} AS f_std,
         sqrt({qq}) / {u} AS f_rms,
         CAST(mn AS DOUBLE) / {u} AS f_min,
         CAST(mx AS DOUBLE) / {u} AS f_max,
         zc AS f_zero_crossings,
         {split_dbl('s2')} / ({u} * {u}) AS f_energy
  FROM g_{tag}
)"""


_Q80_CELLS = ",\n       ".join(
    f"f_{tag}.{f} AS {ch}__{f}"
    for tag, ch in (("v", "value_dev"), ("l", "inter_turn_latency"))
    for f in FEATURES
)

_Q80_SQL = f"""
WITH c AS ({_C_SQL}), sv AS (
  SELECT user_id, ts_us,
         c - {_DEV_CENTS} AS x,
         lag(c - {_DEV_CENTS}) OVER w AS prev_x,
         lag(ts_us) OVER w AS prev_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sl AS (
  SELECT * FROM (
    SELECT user_id, ts_us,
           ts_us - lag(ts_us) OVER w AS x,
           lag(ts_us, 1) OVER w - lag(ts_us, 2) OVER w AS prev_x,
           CASE WHEN lag(ts_us, 2) OVER w IS NOT NULL
                THEN lag(ts_us, 1) OVER w END AS prev_ts
    FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
  ) WHERE x IS NOT NULL
), {_q80_channel_sql('v', 'sv', '1.0')}, {_q80_channel_sql('l', 'sl', '1000000.0')},
ends AS (
  SELECT user_id, e FROM ends_v UNION SELECT user_id, e FROM ends_l
)
SELECT ends.user_id AS conv_id, ends.e AS bucket_us,
       {_Q80_CELLS}
FROM ends
LEFT JOIN f_v ON f_v.user_id = ends.user_id AND f_v.e = ends.e
LEFT JOIN f_l ON f_l.user_id = ends.user_id AND f_l.e = ends.e
"""


QUERIES = {
    "q78_rolling_features_24h": q78_rolling_features_24h,
    "q80_rolling_wide_matrix_24h": q80_rolling_wide_matrix_24h,
}

ORACLE_SQL = {
    "q78_rolling_features_24h": _Q78_SQL,
    "q80_rolling_wide_matrix_24h": _Q80_SQL,
}
