"""Signal-analysis queries over the ``events`` fixture (round-3 additions).

Classic per-series analytics on top of the tier algebra — time-weighted
average (the TimescaleDB continuous-aggregate staple for irregular samples),
lag-1 autocorrelation, exact-twiddle DFT bins (the oracle-able subset of the
frequency-domain feature canon; the full PSD lives in
``operators/spectral.py`` with a numpy-bitwise pytest gate), z-score
anomaly detection against the 1h tier, higher moments / robust statistics
(q51–q54), EWMA smoothing (q55, recursive-CTE oracle), heartbeat liveness
coverage (q56), LTTB downsampling (q57, scalar-oracle pytest gate) and the
mergeable base-2 percentile sketch (q60).

All follow the package's exact-integer bridging contract: every
cross-engine aggregate is an exact integer (cent BIGINTs, widened to
decimal(38,0)/HUGEINT before any product that could overflow int64 at
production scale), and every emitted double is produced by a *pinned*
IEEE-754 op sequence written identically in Spark and DuckDB — so the
driver's value-hash matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .events import DAY_US, HOUR_US, _base, _bucket
from .sqlexact import split_dbl


def _dec(col):
    """Widen an exact integer column to decimal(38,0) (DuckDB: HUGEINT)
    BEFORE multiplying — products of cent-scale values exceed int64 once a
    series passes ~10⁵ points, and the widened algebra stays exact to 10³⁸."""
    return col.cast("decimal(38,0)")


# --- q43: time-weighted average, 1h tier -------------------------------------


def q43_time_weighted_avg_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted average per (conv, 1h bucket) — the
    irregular-sampling replacement for the plain mean: each consecutive
    in-bucket pair contributes ``(c_i + c_{i+1})·Δt / 2`` to the integral,
    and the bucket's TWA is ``integral / observed span``.

    Exactness: the integral numerator ``Σ (c_i+c_{i+1})·Δt`` and the span
    ``Σ Δt`` are exact integers (decimal-widened products); the single
    division ``num / (2·span)`` is the one pinned double op.  Pairs follow
    q40's pair-in-bucket convention (both endpoints in the bucket; within a
    conversation ordered by ts a bucket's samples are contiguous, so the
    pair span telescopes to last−first).

    Scale shape: one window (lag over the conv ordering) + one hash agg,
    both partitioned on conv_id — a single shuffle.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = (
        _base(spark, sf_dir)
        .withColumn("prev_c", F.lag("c").over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .filter(
            F.col("prev_ts").isNotNull()
            & (_bucket(F.col("prev_ts"), HOUR_US) == _bucket(F.col("ts_us"), HOUR_US))
        )
    )
    dt = F.col("ts_us") - F.col("prev_ts")
    num = F.sum(_dec(F.col("prev_c") + F.col("c")) * _dec(dt))
    span = F.sum(dt)
    return (
        d.groupBy(
            F.col("user_id").alias("conv_id"),
            _bucket(F.col("ts_us"), HOUR_US).alias("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            span.alias("span_us"),
            (num.cast("double") / _dec(span * 2).cast("double")).alias("twa_cents"),
        )
        .filter(F.col("span_us") > 0)
    )


_Q43_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, ts_us, c,
         lag(c) OVER w AS prev_c,
         lag(ts_us) OVER w AS prev_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), pairs AS (
  SELECT user_id,
         ts_us - ts_us % {HOUR_US} AS bucket_us,
         ts_us - prev_ts AS dt,
         prev_c, c
  FROM lagged
  WHERE prev_ts IS NOT NULL
    AND prev_ts - prev_ts % {HOUR_US} = ts_us - ts_us % {HOUR_US}
)
SELECT user_id AS conv_id, bucket_us,
       COUNT(*) AS n_pairs,
       CAST(SUM(dt) AS BIGINT) AS span_us,
       {split_dbl("SUM(CAST(prev_c + c AS HUGEINT) * CAST(dt AS HUGEINT))")}
         / CAST(CAST(SUM(dt) AS HUGEINT) * 2 AS DOUBLE) AS twa_cents
FROM pairs
GROUP BY 1, 2
HAVING SUM(dt) > 0
"""


# --- q44: lag-1 autocorrelation per conversation -----------------------------


def q44_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample lag-1 autocorrelation of each conversation's signal:
    ``r1 = Σ(x_i−x̄)(x_{i−1}−x̄) / Σ(x_i−x̄)²`` — the standard burstiness /
    smoothness feature for irregular event series.

    Exactness trick: both sides are scaled by n² so every term is an exact
    integer — ``num·n² = n²·Σx_ix_{i−1} − n·s1·(sh+st) + p·s1²`` and
    ``den·n² = n·(n·s2 − s1²)`` (s1/s2 the sufficient stats, sh/st the
    head/tail sums over the n−1 pairs, p = n−1) — leaving a SINGLE pinned
    double division.  Decimal(38,0) holds the n²-scaled products to ~10⁶
    points × cent values ~10⁸ with headroom.

    Scale shape: one window + one hash agg on conv_id — a single shuffle.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = _base(spark, sf_dir).withColumn("prev_c", F.lag("c").over(w))
    has_prev = F.col("prev_c").isNotNull()
    g = d.groupBy(F.col("user_id").alias("conv_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(_dec(F.col("c")) * _dec(F.col("c"))).alias("s2"),
        F.sum(F.when(has_prev, _dec(F.col("prev_c")) * _dec(F.col("c")))).alias("sxy"),
        F.sum(F.when(has_prev, F.col("prev_c"))).alias("sh"),
        F.sum(F.when(has_prev, F.col("c"))).alias("st"),
    )
    n = _dec(F.col("n"))
    s1 = _dec(F.col("s1"))
    p = _dec(F.col("n") - 1)
    num = n * n * F.col("sxy") - n * s1 * _dec(F.col("sh") + F.col("st")) + p * s1 * s1
    den = n * (n * F.col("s2") - s1 * s1)
    return (
        g.filter((F.col("n") >= 3) & (den != 0))
        .select(
            "conv_id",
            "n",
            (num.cast("double") / den.cast("double")).alias("r1"),
        )
    )


_Q44_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, c, lag(c) OVER w AS prev_c
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), g AS (
  SELECT user_id AS conv_id,
         COUNT(*) AS n,
         SUM(c) AS s1,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
         SUM(CASE WHEN prev_c IS NOT NULL
                  THEN CAST(prev_c AS HUGEINT) * CAST(c AS HUGEINT) END) AS sxy,
         SUM(CASE WHEN prev_c IS NOT NULL THEN prev_c END) AS sh,
         SUM(CASE WHEN prev_c IS NOT NULL THEN c END) AS st
  FROM lagged GROUP BY 1
)
SELECT conv_id, n,
       {split_dbl('''CAST(n AS HUGEINT) * n * sxy
              - CAST(n AS HUGEINT) * s1 * (sh + st)
              + CAST(n - 1 AS HUGEINT) * s1 * s1''')}
         / {split_dbl('''CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2
              - CAST(s1 AS HUGEINT) * s1)''')} AS r1
FROM g
WHERE n >= 3
  AND CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2
        - CAST(s1 AS HUGEINT) * s1) <> 0
"""


# --- q45: exact-twiddle DFT bins per (conv, 1h bucket) -----------------------


def q45_spectral_bins_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain features with EXACT arithmetic: the per-bucket DFT
    bins whose twiddle factors are rational — k = 0 (DC), k = n/2 (Nyquist,
    weights ±1) and k = n/4 (quadrature, weights ∈ {±1, ±i, 0}) — computed
    as signed integer sums over the bucket's samples in (ts, event_id)
    order, then squared into band powers.  This is the cross-engine
    oracle-able subset of the frequency-domain canon (Figo et al. 2010 §3.2);
    the full PSD / spectral entropy / dominant frequency live in
    ``operators/spectral.py`` (vectorized pandas UDF, numpy-bitwise pytest
    gate) because arbitrary-angle twiddles are transcendental and libm ULPs
    differ across engines.

    Scale shape: one row_number window + one hash agg on (conv, bucket) —
    a single shuffle; the powers are post-aggregation scalar expressions.
    """
    w = Window.partitionBy("user_id", "bucket_us").orderBy("ts_us", "event_id")
    d = (
        _base(spark, sf_dir)
        .withColumn("bucket_us", _bucket(F.col("ts_us"), HOUR_US))
        .withColumn("i", F.row_number().over(w) - 1)
    )
    m2 = F.pmod(F.col("i"), F.lit(2))
    m4 = F.pmod(F.col("i"), F.lit(4))
    c = F.col("c")
    g = d.groupBy(F.col("user_id").alias("conv_id"), "bucket_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s_dc"),
        F.sum(F.when(m2 == 0, c).otherwise(-c)).alias("nyq"),
        F.sum(F.when(m4 == 0, c).when(m4 == 2, -c).otherwise(F.lit(0))).alias("qre"),
        F.sum(F.when(m4 == 1, -c).when(m4 == 3, c).otherwise(F.lit(0))).alias("qim"),
    )
    sq = lambda col: _dec(col) * _dec(col)  # noqa: E731
    return g.select(
        "conv_id",
        "bucket_us",
        "n",
        sq(F.col("s_dc")).cast("double").alias("power_dc"),
        sq(F.col("nyq")).cast("double").alias("power_nyquist"),
        (sq(F.col("qre")) + sq(F.col("qim"))).cast("double").alias("power_quarter"),
    )


_Q45_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS bucket_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), idx AS MATERIALIZED (
  SELECT user_id, bucket_us, c,
         row_number() OVER (PARTITION BY user_id, bucket_us
                            ORDER BY ts_us, event_id) - 1 AS i
  FROM c
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         COUNT(*) AS n,
         SUM(c) AS s_dc,
         SUM(CASE WHEN i % 2 = 0 THEN c ELSE -c END) AS nyq,
         SUM(CASE WHEN i % 4 = 0 THEN c WHEN i % 4 = 2 THEN -c ELSE 0 END) AS qre,
         SUM(CASE WHEN i % 4 = 1 THEN -c WHEN i % 4 = 3 THEN c ELSE 0 END) AS qim
  FROM idx GROUP BY 1, 2
)
SELECT conv_id, bucket_us, n,
       {split_dbl("CAST(s_dc AS HUGEINT) * CAST(s_dc AS HUGEINT)")} AS power_dc,
       {split_dbl("CAST(nyq AS HUGEINT) * CAST(nyq AS HUGEINT)")} AS power_nyquist,
       {split_dbl('''CAST(qre AS HUGEINT) * CAST(qre AS HUGEINT)
            + CAST(qim AS HUGEINT) * CAST(qim AS HUGEINT)''')} AS power_quarter
FROM g
"""


# --- q46: z-score anomalies vs the 1h tier -----------------------------------


def q46_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous stalls: inter-turn gaps more than 3 population standard
    deviations from the conversation's own mean gap — the "this conversation
    hung here" detector, run against the same per-conv gap series the
    latency tiers roll up.  (Per-bucket VALUE z-scores are structurally
    empty on this corpus: a bounded-uniform signal caps |z| ≈ 1.7, while
    gap series are heavy-tailed and genuinely trip the 3σ rule.)

    Exactness: the threshold test is decided ENTIRELY in exact integer
    space — ``(g·n − s1)² > 9·(n·s2 − s1²)`` (both sides decimal-widened) —
    so no float boundary case can disagree across engines; the reported
    ``z = (g·n − s1) / √(n·s2 − s1²)`` is a pinned two-op double sequence
    (division + hardware sqrt, both correctly rounded IEEE).

    Scale shape: one lag window + one hash agg + one equi-join, all keyed
    on conv_id — the agg side arrives pre-partitioned, so the join costs
    no extra shuffle beyond the window's.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    b = (
        _base(spark, sf_dir)
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    g = b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").alias("s1"),
        F.sum(_dec(F.col("gap_us")) * _dec(F.col("gap_us"))).alias("s2"),
    )
    j = b.join(g, ["user_id"])
    dev = _dec(F.col("gap_us")) * _dec(F.col("n_gaps")) - _dec(F.col("s1"))
    var_n2 = _dec(F.col("n_gaps")) * F.col("s2") - _dec(F.col("s1")) * _dec(
        F.col("s1")
    )
    return (
        j.filter((F.col("n_gaps") >= 3) & (var_n2 > 0) & (dev * dev > var_n2 * 9))
        .select(
            F.col("user_id").alias("conv_id"),
            "ts_us",
            "event_id",
            "gap_us",
            "n_gaps",
            (dev.cast("double") / F.sqrt(var_n2.cast("double"))).alias("z"),
        )
    )


_Q46_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
), gaps AS (
  SELECT * FROM c WHERE gap_us IS NOT NULL
), g AS (
  SELECT user_id,
         COUNT(*) AS n_gaps,
         SUM(gap_us) AS s1,
         SUM(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT)) AS s2
  FROM gaps GROUP BY 1
)
SELECT gaps.user_id AS conv_id, gaps.ts_us, gaps.event_id, gaps.gap_us, g.n_gaps,
       {split_dbl("CAST(gaps.gap_us AS HUGEINT) * g.n_gaps - s1")}
         / sqrt({split_dbl('''CAST(g.n_gaps AS HUGEINT) * s2
                     - CAST(s1 AS HUGEINT) * s1''')}) AS z
FROM gaps JOIN g ON gaps.user_id = g.user_id
WHERE g.n_gaps >= 3
  AND CAST(g.n_gaps AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 > 0
  AND (CAST(gaps.gap_us AS HUGEINT) * g.n_gaps - s1)
        * (CAST(gaps.gap_us AS HUGEINT) * g.n_gaps - s1)
        > (CAST(g.n_gaps AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) * 9
"""


# --- q47: full-spectrum periodogram, fixed-point-bridged oracle ---------------


def spectral_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-precision one-sided periodogram features per conversation via
    ``operators/spectral.py`` (numpy rfft inside Arrow-batched
    applyInPandas).  The float surface users consume; gated in
    tests/test_spectral.py (independent naive-DFT oracle at rtol 1e-9 +
    bitwise partition invariance)."""
    from ..operators.spectral import spectral_features

    ch = _base(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit("value").alias("channel"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts_us", "event_id"))
        .alias("turn_idx"),
        F.col("c").alias("x"),
    )
    return spectral_features(ch)


def q47_spectral_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable face of the full-spectrum periodogram (upgraded from
    a rows-only entry in round 3): the SAME Arrow/applyInPandas FFT pipeline
    as ``spectral_full`` — this query's plan IS that plan — with the float
    features bridged to fixed-point BIGINTs so a *differently-computed*
    DuckDB oracle (naive O(n·k) DFT in SQL, no FFT) can match them exactly:

    * ``dominant_k`` — the argmax bin index is already an exact integer;
    * ``log_energy_e4`` / ``entropy_e4`` / ``centroid_e4`` — value·10⁴
      rounded half-away-from-zero (Spark ``round`` on doubles and DuckDB
      ``round`` share that convention).

    Why 10⁻⁴ bridging is sound here and nowhere else: the FFT and the naive
    DFT are different summation ALGORITHMS, so their doubles differ at
    ~1e-12 relative — six orders of magnitude inside the 0.5·10⁻⁴ grid — and
    the fixtures are frozen files, so agreement is a deterministic fact of
    the data checked at sf0.001 and sf0.01 in tests/test_driver_contract.py,
    not a probabilistic hope.  ``ln(energy)`` (not raw energy, which spans
    ~10¹³ and would swamp a fixed grid) keeps the comparison relative.  The
    unbridged doubles remain available via ``spectral_full`` and keep their
    rtol-1e-9 + partition-invariance pytest gate.
    """
    full = spectral_full(spark, sf_dir)
    e4 = lambda col: F.round(col * F.lit(1e4), 0).cast("long")  # noqa: E731
    return full.select(
        "conv_id",
        "channel",
        "n",
        "dominant_k",
        F.when(
            F.col("spectral_energy") > 0, e4(F.log(F.col("spectral_energy")))
        ).alias("log_energy_e4"),
        e4(F.col("spectral_entropy")).alias("entropy_e4"),
        e4(F.col("spectral_centroid")).alias("centroid_e4"),
    )


_Q47_SQL = """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), idx AS MATERIALIZED (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, c,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM c
), convs AS (
  SELECT conv_id, MAX(n) AS n FROM idx GROUP BY 1
), kk AS (
  SELECT conv_id, n, UNNEST(range(1, n // 2 + 1)) AS k FROM convs
), bins AS (
  SELECT kk.conv_id, kk.n, kk.k,
         SUM(idx.c * cos(2 * pi() * kk.k * idx.i / kk.n)) AS re,
         SUM(idx.c * sin(-2 * pi() * kk.k * idx.i / kk.n)) AS im
  FROM kk JOIN idx ON idx.conv_id = kk.conv_id
  GROUP BY 1, 2, 3
), psd AS (
  SELECT conv_id, n, k, (re * re + im * im) / n AS p FROM bins
), tot AS (
  SELECT conv_id, n, SUM(p) AS total, MAX(p) AS maxp FROM psd GROUP BY 1, 2
), feat AS (
  SELECT psd.conv_id, tot.n,
         MIN(CASE WHEN psd.p = tot.maxp THEN psd.k END) AS dominant_k,
         SUM(CASE WHEN psd.p > 0 AND tot.total > 0
                  THEN -(psd.p / tot.total) * ln(psd.p / tot.total) END) AS entropy,
         SUM(CASE WHEN tot.total > 0
                  THEN psd.k * (psd.p / tot.total) END) AS centroid,
         MAX(tot.total) AS total
  FROM psd JOIN tot ON psd.conv_id = tot.conv_id
  GROUP BY 1, 2
)
SELECT convs.conv_id, 'value' AS channel, CAST(convs.n AS BIGINT) AS n,
       CAST(COALESCE(CASE WHEN feat.total > 0 THEN feat.dominant_k END, 0)
            AS BIGINT) AS dominant_k,
       CASE WHEN feat.total > 0
            THEN CAST(round(ln(feat.total) * 10000.0, 0) AS BIGINT)
       END AS log_energy_e4,
       CAST(round(COALESCE(CASE WHEN feat.total > 0 THEN feat.entropy END, 0.0)
                  * 10000.0, 0) AS BIGINT) AS entropy_e4,
       CAST(round(COALESCE(CASE WHEN feat.total > 0 THEN feat.centroid END, 0.0)
                  * 10000.0, 0) AS BIGINT) AS centroid_e4
FROM convs LEFT JOIN feat ON feat.conv_id = convs.conv_id
"""


# --- q48: cross-channel Pearson correlation per (conv, 1d bucket) ------------


def q48_cross_channel_corr_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between two derived channels of one series —
    the signal value (cents) and the inter-event latency (µs) — per
    (conversation, 1d bucket).  This is the cross-axis correlation feature
    of the motion-feature canon (Figo et al. 2010 §3.1, corr(x, y) between
    accelerometer axes) applied to the transcript-derived channel pair: it
    separates "long pauses co-occur with large values" conversations from
    anti-correlated ones.

    Pairs follow q43's pair-in-bucket convention (an event contributes iff
    its predecessor is in the same bucket; x = current value, y = gap to
    predecessor).  All six sufficient stats (n, Σx, Σy, Σxy, Σx², Σy²) are
    exact integers, widened to decimal(38,0)/HUGEINT before any product, so
    ``num = n·Σxy − Σx·Σy`` and the two variance terms are exact on both
    engines; the finalize is the pinned sequence
    ``num→double / (sqrt(varx→double) · sqrt(vary→double))``.

    Scale shape: one lag window + one hash agg, both keyed on conv — a
    single shuffle, no Python.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = (
        _base(spark, sf_dir)
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .filter(
            F.col("prev_ts").isNotNull()
            & (_bucket(F.col("prev_ts"), DAY_US) == _bucket(F.col("ts_us"), DAY_US))
        )
        .withColumn("dt", F.col("ts_us") - F.col("prev_ts"))
    )
    x, y = F.col("c"), F.col("dt")
    g = d.groupBy(
        F.col("user_id").alias("conv_id"),
        _bucket(F.col("ts_us"), DAY_US).alias("bucket_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(_dec(x) * _dec(y)).alias("sxy"),
        F.sum(_dec(x) * _dec(x)).alias("sxx"),
        F.sum(_dec(y) * _dec(y)).alias("syy"),
    )
    n = _dec(F.col("n_pairs"))
    num = n * F.col("sxy") - _dec(F.col("sx")) * _dec(F.col("sy"))
    varx = n * F.col("sxx") - _dec(F.col("sx")) * _dec(F.col("sx"))
    vary = n * F.col("syy") - _dec(F.col("sy")) * _dec(F.col("sy"))
    return g.filter((F.col("n_pairs") >= 3) & (varx > 0) & (vary > 0)).select(
        "conv_id",
        "bucket_us",
        "n_pairs",
        (
            num.cast("double")
            / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
        ).alias("corr_value_gap"),
    )


_Q48_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, ts_us, c, lag(ts_us) OVER w AS prev_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), pairs AS (
  SELECT user_id,
         ts_us - ts_us % {DAY_US} AS bucket_us,
         c AS x,
         ts_us - prev_ts AS y
  FROM lagged
  WHERE prev_ts IS NOT NULL
    AND prev_ts - prev_ts % {DAY_US} = ts_us - ts_us % {DAY_US}
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         COUNT(*) AS n_pairs,
         SUM(x) AS sx,
         SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT conv_id, bucket_us, n_pairs,
       {split_dbl("CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy")}
         / (sqrt({split_dbl("CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx")})
            * sqrt({split_dbl("CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy")})) AS corr_value_gap
FROM g
WHERE n_pairs >= 3
  AND CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
  AND CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
"""


# --- q49: OLS trend slope per (conv, 1h bucket) -------------------------------


def q49_trend_slope_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend slope of the value channel within each
    (conversation, 1h bucket): ``β = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)`` —
    the drift/trend feature of the rollup canon (is this conversation's
    signal rising or falling inside the window?).

    ``t`` is measured relative to the bucket start (slope is shift-
    invariant; the smaller magnitudes keep every product well inside
    decimal(38,0)/HUGEINT: t_rel ≤ 3.6e9 µs, so n·Σt² ≤ ~1e29 at 10⁵
    points/bucket).  All five sufficient stats are exact integers; the
    finalize is the single pinned double division.  Units: cents per µs.

    Scale shape: one hash agg keyed (conv, bucket) — a single shuffle,
    no window, no Python.
    """
    d = _base(spark, sf_dir).select(
        "user_id",
        _bucket(F.col("ts_us"), HOUR_US).alias("bucket_us"),
        (F.col("ts_us") - _bucket(F.col("ts_us"), HOUR_US)).alias("t"),
        "c",
    )
    t, y = F.col("t"), F.col("c")
    g = d.groupBy(F.col("user_id").alias("conv_id"), "bucket_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("st"),
        F.sum(y).alias("sy"),
        F.sum(_dec(t) * _dec(y)).alias("sty"),
        F.sum(_dec(t) * _dec(t)).alias("stt"),
    )
    n = _dec(F.col("n"))
    num = n * F.col("sty") - _dec(F.col("st")) * _dec(F.col("sy"))
    den = n * F.col("stt") - _dec(F.col("st")) * _dec(F.col("st"))
    return g.filter((F.col("n") >= 3) & (den > 0)).select(
        "conv_id",
        "bucket_us",
        "n",
        (num.cast("double") / den.cast("double")).alias("slope_cents_per_us"),
    )


_Q49_SQL = f"""
WITH c AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS bucket_us,
         epoch_us(ts) % {HOUR_US} AS t,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         COUNT(*) AS n,
         SUM(t) AS st,
         SUM(c) AS sy,
         SUM(CAST(t AS HUGEINT) * CAST(c AS HUGEINT)) AS sty,
         SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS stt
  FROM c GROUP BY 1, 2
)
SELECT conv_id, bucket_us, n,
       {split_dbl("CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy")}
         / {split_dbl("CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st")}
         AS slope_cents_per_us
FROM g
WHERE n >= 3
  AND CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st > 0
"""


# --- q51: skewness + excess kurtosis per (conv, 1d bucket) -------------------


def q51_moments_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth standardized moments per (conv, 1d bucket) — skewness and
    excess kurtosis, the distribution-shape features of the time-domain canon
    (Figo et al. 2010 §3.1) that A1–A7 don't cover.

    Exactness: the n-scaled central moments are exact integers in the
    sufficient stats s1..s4 —
    ``M2 = n·s2 − s1²``, ``M3 = n²·s3 − 3n·s1·s2 + 2s1³``,
    ``M4 = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴`` —
    and the scale factors cancel exactly in the standardized forms:
    ``g1 = m3/m2^{3/2} = M3/M2^{3/2}`` and ``g2 = m4/m2² − 3 = M4/M2² − 3``,
    leaving pinned double sequences (correctly-rounded decimal→double casts,
    hardware sqrt, one division, one subtraction) mirrored in the oracle.

    Headroom (the BITWISE envelope, which is tighter than mere
    non-overflow): the binding constraint is not decimal(38,0)/HUGEINT
    capacity (that allows ``n·c_max`` up to ~2.4×10⁹) but the oracle's
    ``split_dbl`` exact-cast bridge, which is faithful only for
    ``|M| < 2¹⁰¹ ≈ 2.5×10³⁰`` — with M4's terms up to ``6·(n·c_max)⁴`` and
    worst-case intermediate sums ~14×, that means ``n·c_max ≲ 3×10⁷``
    conservatively, i.e. ~600 turns per (conv, 1d) bucket at cent scale
    5×10⁴. Beyond it the two engines may first disagree in the last double
    ULP (the oracle's split cast rounds twice where Spark's decimal→double
    rounds once), and on actual overflow they DIVERGE structurally: Spark's
    decimal aggregate nulls, DuckDB's HUGEINT errors. Denser signals roll
    up at finer tiers first (1h: 600 turns/bucket = one turn every 6 s),
    where the envelope comfortably holds; the Spark-side result alone
    remains exact to the decimal38 bound.

    Scale shape: ONE hash agg on (conv, bucket) with map-side partials —
    a single shuffle; the moment algebra is post-aggregation scalar math.
    """
    c = F.col("c")
    g = (
        _base(spark, sf_dir)
        .groupBy(
            F.col("user_id").alias("conv_id"),
            _bucket(F.col("ts_us"), DAY_US).alias("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(_dec(c) * _dec(c)).alias("s2"),
            F.sum(_dec(c) * _dec(c) * _dec(c)).alias("s3"),
            F.sum(_dec(c) * _dec(c) * _dec(c) * _dec(c)).alias("s4"),
        )
    )
    n = _dec(F.col("n"))
    s1 = _dec(F.col("s1"))
    m2 = n * F.col("s2") - s1 * s1
    m3 = n * n * F.col("s3") - n * s1 * F.col("s2") * 3 + s1 * s1 * s1 * 2
    m4 = (
        n * n * n * F.col("s4")
        - n * n * s1 * F.col("s3") * 4
        + n * s1 * s1 * F.col("s2") * 6
        - s1 * s1 * s1 * s1 * 3
    )
    m2d = m2.cast("double")
    return g.filter((F.col("n") >= 3) & (m2 > 0)).select(
        "conv_id",
        "bucket_us",
        "n",
        (m3.cast("double") / (F.sqrt(m2d) * m2d)).alias("skewness"),
        (m4.cast("double") / (m2d * m2d) - F.lit(3.0)).alias("kurtosis_excess"),
    )


_Q51_SQL = f"""
WITH c AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(ts) % {DAY_US} AS bucket_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         COUNT(*) AS n,
         SUM(c) AS s1,
         SUM(CAST(c AS HUGEINT) * c) AS s2,
         SUM(CAST(c AS HUGEINT) * c * c) AS s3,
         SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
  FROM c GROUP BY 1, 2
), m AS (
  SELECT conv_id, bucket_us, n,
         CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2,
         CAST(n AS HUGEINT) * n * s3
           - CAST(n AS HUGEINT) * s1 * s2 * 3
           + CAST(s1 AS HUGEINT) * s1 * s1 * 2 AS m3,
         CAST(n AS HUGEINT) * n * n * s4
           - CAST(n AS HUGEINT) * n * s1 * s3 * 4
           + CAST(n AS HUGEINT) * s1 * s1 * s2 * 6
           - CAST(s1 AS HUGEINT) * s1 * s1 * s1 * 3 AS m4
  FROM g
)
SELECT conv_id, bucket_us, n,
       {split_dbl("m3")} / (sqrt({split_dbl("m2")}) * {split_dbl("m2")})
         AS skewness,
       {split_dbl("m4")} / ({split_dbl("m2")} * {split_dbl("m2")}) - 3.0
         AS kurtosis_excess
FROM m
WHERE n >= 3 AND m2 > 0
"""


# --- q52: exact median / IQR of values per (conv, 1h bucket) ------------------


def q52_value_median_iqr_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 and interquartile range of the value channel per
    (conv, 1h bucket) — median and IQR are the outlier-robust location/spread
    features of the time-domain canon (Figo et al. 2010 §3.1), complementing
    the moment-based A1–A4.

    Same pinned linear-interpolation machinery as q41 (rank window + one
    hash agg), partitioned per bucket.  Quantile fractions 0.25/0.5/0.75 are
    exact binary, so ``idx = (n−1)·p`` is computed exactly in both engines;
    the IQR subtraction is one further correctly-rounded double op mirrored
    in the oracle.

    Scale shape: one rank window + one hash agg on (conv, bucket) — a
    single shuffle; per-group sort cost is bounded by bucket cardinality
    (the same bound the tier algebra already assumes).
    """
    d = _base(spark, sf_dir).withColumn(
        "bucket_us", _bucket(F.col("ts_us"), HOUR_US)
    )
    wrank = Window.partitionBy("user_id", "bucket_us").orderBy(
        "c", "ts_us", "event_id"
    )
    r = d.select(
        "user_id",
        "bucket_us",
        "c",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "bucket_us"))
        .alias("n"),
    )

    def pick(p: float):
        idx = (F.col("n") - 1).cast("double") * F.lit(p)
        lo = F.floor(idx).cast("long")
        x_lo = F.max(F.when(F.col("rn") == lo + 1, F.col("c")))
        x_hi = F.max(F.when(F.col("rn") == lo + 2, F.col("c")))
        return x_lo.cast("double") + (
            F.coalesce(x_hi, x_lo).cast("double") - x_lo.cast("double")
        ) * (F.max(idx) - F.max(lo.cast("double")))

    g = r.groupBy(F.col("user_id").alias("conv_id"), "bucket_us").agg(
        F.max("n").alias("n"),
        pick(0.25).alias("p25_cents"),
        pick(0.5).alias("median_cents"),
        pick(0.75).alias("p75_cents"),
    )
    return g.select(
        "conv_id",
        "bucket_us",
        "n",
        "p25_cents",
        "median_cents",
        "p75_cents",
        (F.col("p75_cents") - F.col("p25_cents")).alias("iqr_cents"),
    )


def _q52_pick(p: str, val: str = "c") -> str:
    lo = f"CAST(floor(CAST(n - 1 AS DOUBLE) * {p}) AS BIGINT)"
    x_lo = f"MAX(CASE WHEN rn = {lo} + 1 THEN {val} END)"
    x_hi = f"MAX(CASE WHEN rn = {lo} + 2 THEN {val} END)"
    return (
        f"CAST({x_lo} AS DOUBLE)"
        f" + (CAST(COALESCE({x_hi}, {x_lo}) AS DOUBLE) - CAST({x_lo} AS DOUBLE))"
        f" * (MAX(CAST(n - 1 AS DOUBLE) * {p}) - MAX(floor(CAST(n - 1 AS DOUBLE) * {p})))"
    )


_Q52_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS bucket_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), r AS (
  SELECT user_id, bucket_us, c,
         row_number() OVER (PARTITION BY user_id, bucket_us
                            ORDER BY c, ts_us, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, bucket_us) AS n
  FROM c
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         MAX(n) AS n,
         {_q52_pick("0.25")} AS p25_cents,
         {_q52_pick("0.5")} AS median_cents,
         {_q52_pick("0.75")} AS p75_cents
  FROM r GROUP BY 1, 2
)
SELECT conv_id, bucket_us, n, p25_cents, median_cents, p75_cents,
       p75_cents - p25_cents AS iqr_cents
FROM g
"""


# --- q53: waveform length (total variation) per (conv, 1h bucket) -------------


def q53_waveform_length_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform length — ``Σ|Δc|`` over consecutive in-bucket samples — the
    cumulative-variation feature of the motion/EMG time-domain canon (a
    complexity measure combining amplitude and frequency in one number),
    plus the mean absolute change ``WL / pairs``.

    Exactness: WL is an exact BIGINT (abs of int differences, summed); the
    single division is the one pinned double op.  Pairs follow q40/q43's
    pair-in-bucket convention (both endpoints in the bucket).

    Scale shape: one lag window + one hash agg, both partitioned on
    conv_id — a single shuffle.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = (
        _base(spark, sf_dir)
        .withColumn("prev_c", F.lag("c").over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .filter(
            F.col("prev_ts").isNotNull()
            & (_bucket(F.col("prev_ts"), HOUR_US) == _bucket(F.col("ts_us"), HOUR_US))
        )
    )
    g = d.groupBy(
        F.col("user_id").alias("conv_id"),
        _bucket(F.col("ts_us"), HOUR_US).alias("bucket_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.abs(F.col("c") - F.col("prev_c"))).alias("wl_cents"),
    )
    return g.select(
        "conv_id",
        "bucket_us",
        "n_pairs",
        "wl_cents",
        (
            F.col("wl_cents").cast("double") / F.col("n_pairs").cast("double")
        ).alias("mean_abs_change"),
    )


_Q53_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, ts_us, c,
         lag(c) OVER w AS prev_c,
         lag(ts_us) OVER w AS prev_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), pairs AS (
  SELECT user_id,
         ts_us - ts_us % {HOUR_US} AS bucket_us,
         abs(c - prev_c) AS adc
  FROM lagged
  WHERE prev_ts IS NOT NULL
    AND prev_ts - prev_ts % {HOUR_US} = ts_us - ts_us % {HOUR_US}
)
SELECT user_id AS conv_id, bucket_us,
       COUNT(*) AS n_pairs,
       CAST(SUM(adc) AS BIGINT) AS wl_cents,
       CAST(SUM(adc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_abs_change
FROM pairs
GROUP BY 1, 2
"""


# --- q54: median absolute deviation per conversation --------------------------


def q54_mad_per_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — ``median(|c − median(c)|)`` per
    conversation — the robust-spread feature of the time-domain canon
    (Figo et al. 2010 §3.1), immune to the stall outliers that inflate
    stddev.  Inherently two-phase: the deviation channel only exists once
    the median is known.

    Exactness: cent values are exact in double (≪ 2⁵³), the interpolated
    median is the q41/q52 pinned sequence, ``|c − med|`` is one
    correctly-rounded subtraction + exact abs, and the second median ranks
    doubles (identical total order in both engines) through the same pinned
    interpolation.

    Scale shape: two rank windows + one equi-join, ALL partitioned on
    conv_id — the join and second window reuse the first window's
    partitioning, so the whole query is one logical repartitioning by
    conversation.
    """
    base = _base(spark, sf_dir)

    def ipick(val, over):
        idx = (F.col("n") - 1).cast("double") * F.lit(0.5)
        lo = F.floor(idx).cast("long")
        x_lo = F.max(F.when(F.col(over) == lo + 1, val))
        x_hi = F.max(F.when(F.col(over) == lo + 2, val))
        return x_lo.cast("double") + (
            F.coalesce(x_hi, x_lo).cast("double") - x_lo.cast("double")
        ) * (F.max(idx) - F.max(lo.cast("double")))

    w1 = Window.partitionBy("user_id").orderBy("c", "ts_us", "event_id")
    r1 = base.select(
        "user_id",
        "c",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    med = r1.groupBy("user_id").agg(
        F.max("n").alias("n"), ipick(F.col("c"), "rn").alias("median_cents")
    )
    d = base.join(med, ["user_id"]).withColumn(
        "dev", F.abs(F.col("c").cast("double") - F.col("median_cents"))
    )
    w2 = Window.partitionBy("user_id").orderBy("dev", "ts_us", "event_id")
    r2 = d.select(
        "user_id",
        "n",
        "median_cents",
        "dev",
        F.row_number().over(w2).alias("rn2"),
    )
    return (
        r2.groupBy(F.col("user_id").alias("conv_id"))
        .agg(
            F.max("n").alias("n"),
            F.max("median_cents").alias("median_cents"),
            ipick(F.col("dev"), "rn2").alias("mad_cents"),
        )
    )


_Q54_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), r1 AS (
  SELECT user_id, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c, ts_us, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM c
), med AS (
  SELECT user_id, MAX(n) AS n,
         {_q52_pick("0.5")} AS median_cents
  FROM r1 GROUP BY 1
), d AS (
  SELECT c.user_id, med.n, med.median_cents,
         abs(CAST(c.c AS DOUBLE) - med.median_cents) AS dev,
         row_number() OVER (PARTITION BY c.user_id
                            ORDER BY abs(CAST(c.c AS DOUBLE) - med.median_cents),
                                     c.ts_us, c.event_id) AS rn2
  FROM c JOIN med USING (user_id)
)
SELECT user_id AS conv_id, MAX(n) AS n, MAX(median_cents) AS median_cents,
       {_q52_pick("0.5", val="dev").replace("rn =", "rn2 =")} AS mad_cents
FROM d GROUP BY 1
"""


# --- q55: EWMA smoothing per conversation ------------------------------------

EWMA_ALPHA = 0.25  # dyadic: α, 1−α and α+(1−α)=1 are all exact in binary64


def q55_ewma_value(
    spark: SparkSession, sf_dir: str, alpha: float = EWMA_ALPHA
) -> DataFrame:
    """Exponentially weighted moving average of each conversation's signal —
    the classic streaming smoother (InfluxDB ``exponential_moving_average``,
    PromQL-adjacent): ``y_i = (1−α)·y_{i−1} + α·x_i``, ``y_0 = x_0`` under
    the stable (ts, event_id) ordering.  One row out per event.

    A linear recurrence is the one feature-family the tier algebra cannot
    express (each output depends on the whole prefix), so this is a
    deliberate Arrow-vectorized ``applyInPandas`` stage: pandas'
    ``ewm(adjust=False).mean()`` runs the recurrence in C over each
    conversation — one Arrow batch per group, zero per-row Python.

    Exactness (why the driver hash matches a DuckDB *recursive CTE*): with
    dyadic α both engines evaluate the identical IEEE-754 sequence
    ``fl(fl((1−α)·y) + fl(α·x))`` — pandas ewm's trailing division is by
    ``(1−α)+α = 1.0`` exactly, a no-op — verified bitwise over 5k random
    steps against an explicit numpy loop on both engines.

    Scale shape: one hash exchange on conv_id, then embarrassingly parallel
    per-conversation kernels; group state is one float — a 10¹²-turn table
    streams through in Arrow batches with nothing resident but the groups
    in flight.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    one_minus = 1.0 - alpha
    schema = StructType(
        [
            StructField("conv_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ewma_c", DoubleType()),
        ]
    )

    def _ewma(pdf):
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        out = pdf[["user_id", "event_id"]].rename(columns={"user_id": "conv_id"})
        out["ewma_c"] = (
            pdf["c"].astype("float64").ewm(alpha=alpha, adjust=False).mean()
        )
        # guard the exactness contract: pandas' trailing division must be
        # by exactly 1.0 or the recurrence no longer mirrors the oracle
        assert one_minus + alpha == 1.0, "alpha must make (1-α)+α exact"
        return out

    return (
        _base(spark, sf_dir)
        .filter(F.col("c").isNotNull())
        .select("user_id", "event_id", "ts_us", "c")
        .groupBy("user_id")
        .applyInPandas(_ewma, schema)
    )


def _q55_sql(alpha: float = EWMA_ALPHA) -> str:
    return f"""
WITH RECURSIVE c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
  WHERE round(value * 100, 0) IS NOT NULL
), r AS (
  SELECT user_id, event_id, rn, CAST(c AS DOUBLE) AS ewma_c
  FROM c WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn,
         r.ewma_c * {1.0 - alpha!r} + CAST(s.c AS DOUBLE) * {alpha!r}
  FROM r JOIN c s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id AS conv_id, event_id, ewma_c FROM r
"""


_Q55_SQL = _q55_sql()


# --- q56: heartbeat liveness coverage, 1h tier --------------------------------

HEARTBEAT_US = 300_000_000  # each event asserts liveness for 5 minutes


def q56_live_coverage_1h(
    spark: SparkSession, sf_dir: str, lifetime_us: int = HEARTBEAT_US
) -> DataFrame:
    """Heartbeat/uptime aggregate (TimescaleDB ``heartbeat_agg`` face): each
    event covers ``[ts, ts+lifetime)``; per (conv, 1h bucket) emit the µs of
    the bucket covered by the UNION of its events' intervals (clipped to the
    event's own bucket — no cross-bucket carry, documented deviation) plus
    the uptime ratio.

    Interval union without exploding: under the (ts, event_id) ordering an
    event's *novel* contribution is ``max(0, end_i − max(ts_i, reach_i))``
    where ``reach_i`` is the running max of prior clipped ends — a single
    window max over preceding rows.  Everything is exact integer µs; the
    only double is the final pinned division by the bucket span.

    Scale shape: one window + one hash agg, both keyed on (conv, bucket) —
    a single shuffle, since the window key equals the agg key.
    """
    b = _base(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_us",
        _bucket(F.col("ts_us"), HOUR_US).alias("bucket_us"),
    )
    w = Window.partitionBy("user_id", "bucket_us").orderBy("ts_us", "event_id")
    end = F.least(
        F.col("ts_us") + F.lit(lifetime_us), F.col("bucket_us") + F.lit(HOUR_US)
    )
    d = b.withColumn("end_us", end).withColumn(
        "reach",
        F.max("end_us").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    contrib = F.greatest(
        F.col("end_us")
        - F.greatest(F.col("ts_us"), F.coalesce(F.col("reach"), F.col("ts_us"))),
        F.lit(0).cast("long"),
    )
    return (
        d.groupBy(
            F.col("user_id").alias("conv_id"),
            F.col("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_heartbeats"),
            F.sum(contrib).alias("coverage_us"),
            (F.sum(contrib).cast("double") / F.lit(float(HOUR_US))).alias(
                "uptime_ratio"
            ),
        )
    )


def _q56_sql(lifetime_us: int = HEARTBEAT_US) -> str:
    return f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS bucket_us
  FROM events
), e AS (
  SELECT user_id, event_id, ts_us, bucket_us,
         least(ts_us + {lifetime_us}, bucket_us + {HOUR_US}) AS end_us
  FROM c
), r AS (
  SELECT user_id, bucket_us, ts_us, end_us,
         max(end_us) OVER (PARTITION BY user_id, bucket_us
                           ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS reach
  FROM e
)
SELECT user_id AS conv_id, bucket_us,
       COUNT(*) AS n_heartbeats,
       CAST(SUM(greatest(end_us - greatest(ts_us, coalesce(reach, ts_us)), 0))
            AS BIGINT) AS coverage_us,
       CAST(SUM(greatest(end_us - greatest(ts_us, coalesce(reach, ts_us)), 0))
            AS DOUBLE) / {float(HOUR_US)!r} AS uptime_ratio
FROM r
GROUP BY 1, 2
"""


_Q56_SQL = _q56_sql()


# --- q61: interpolated time-weighted average, 1h tier --------------------------


def q61_interpolated_twa_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-interpolated TWA per (conv, 1h bucket) — TimescaleDB's
    ``interpolated_average``: unlike q43 (which integrates only between
    in-bucket samples), the integral runs over the FULL bucket span wherever
    the series brackets it, with values at bucket edges linearly
    interpolated from the straddling pair; buckets with no samples that lie
    inside a long gap get a whole-bucket integral from that one pair.  No
    extrapolation before a conversation's first or after its last sample.

    Why this can still hash bitwise despite float interpolation: per bucket
    there is at most ONE head segment (the unique pair entering the bucket's
    first sample), ONE tail segment (the unique pair leaving its last) and
    ONE full-span segment (the unique pair jumping it) — so no float SUM
    over a data-dependent order ever happens.  Only the interior trapezoids
    (many per bucket) are summed, and those use q43's exact-integer algebra.
    The final combine is the pinned sequence
    ``((head + interior) + tail) + full`` followed by one division; every
    edge value is the pinned expression
    ``c0 + (c1−c0)·((t−t0)/(t1−t0))`` evaluated identically in DuckDB.

    Scale shape: one exchange on conv_id (lag window), a bounded explode —
    one row per bucket boundary crossed, i.e. OUTPUT-sized, the same rows a
    gap-fill would emit — and one hash agg.
    """
    H = HOUR_US
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        _base(spark, sf_dir)
        .select(
            "user_id",
            "event_id",
            F.col("ts_us").alias("t1"),
            F.col("c").alias("c1"),
            F.lag("ts_us").over(w).alias("t0"),
            F.lag("c").over(w).alias("c0"),
        )
        .filter(F.col("t0").isNotNull())
        .withColumn("b0", _bucket(F.col("t0"), H))
        .withColumn("b1", _bucket(F.col("t1"), H))
    )

    # interior pairs: q43's exact-integer trapezoid, 2x-integral form
    interior = (
        pairs.filter(F.col("b0") == F.col("b1"))
        .groupBy("user_id", F.col("b0").alias("bucket_us"))
        .agg(
            (
                F.sum(_dec(F.col("c0") + F.col("c1")) * _dec(F.col("t1") - F.col("t0")))
            ).alias("interior2")
        )
        .select("user_id", "bucket_us",
                F.col("interior2").cast("double").alias("v2"),
                F.lit("interior").alias("kind"))
    )

    # crossing pairs: explode at each bucket boundary they pass
    dt = (F.col("t1") - F.col("t0")).cast("double")

    def _v(t):  # pinned interpolation expression (mirrored in SQL verbatim)
        return F.col("c0").cast("double") + (F.col("c1") - F.col("c0")).cast(
            "double"
        ) * ((t - F.col("t0")).cast("double") / dt)

    # ALL crossing segments from one explode — tail of b0, full buckets
    # strictly between, head of b1 — so the pairs frame is scanned once for
    # the crossing kinds (plus once for the interiors), not once per kind
    def _seg(bucket, v2, kind):
        return F.struct(
            bucket.cast("long").alias("bucket_us"),
            v2.alias("v2"),
            F.lit(kind).alias("kind"),
        )

    crossing = (
        pairs.filter(F.col("b0") != F.col("b1"))
        .withColumn("bounds", F.sequence(F.col("b0") + H, F.col("b1"), F.lit(H)))
        .select(
            "user_id",
            F.explode(
                F.concat(
                    F.array(
                        _seg(
                            F.col("b0"),
                            (F.col("c0").cast("double") + _v(F.col("b0") + H))
                            * (F.col("b0") + H - F.col("t0")).cast("double"),
                            "tail",
                        ),
                        _seg(
                            F.col("b1"),
                            (_v(F.col("b1")) + F.col("c1").cast("double"))
                            * (F.col("t1") - F.col("b1")).cast("double"),
                            "head",
                        ),
                    ),
                    F.transform(
                        F.expr("slice(bounds, 1, size(bounds) - 1)"),
                        lambda bs: _seg(
                            bs, (_v(bs) + _v(bs + H)) * F.lit(float(H)), "full"
                        ),
                    ),
                )
            ).alias("seg"),
        )
        .select("user_id", "seg.bucket_us", "seg.v2", "seg.kind")
    )

    segs = interior.unionByName(crossing)
    pick = lambda k: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("kind") == k, F.col("v2"))), F.lit(0.0)
    )
    return (
        segs.groupBy(F.col("user_id").alias("conv_id"), "bucket_us")
        .agg(
            (
                (
                    (pick("head") + pick("interior")) + pick("tail")
                ) + pick("full")
            ).alias("twa2")
        )
        .select(
            "conv_id",
            "bucket_us",
            (F.col("twa2") / F.lit(float(2 * H))).alias("itwa_cents"),
        )
    )


_Q61_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), pairs AS (
  SELECT user_id,
         lag(ts_us) OVER w AS t0, lag(c) OVER w AS c0,
         ts_us AS t1, c AS c1
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), p AS (
  SELECT *, t0 - t0 % {HOUR_US} AS b0, t1 - t1 % {HOUR_US} AS b1
  FROM pairs WHERE t0 IS NOT NULL
), interior AS (
  SELECT user_id, b0 AS bucket_us,
         {split_dbl("SUM(CAST(c0 + c1 AS HUGEINT) * CAST(t1 - t0 AS HUGEINT))")}
           AS v2,
         'interior' AS kind
  FROM p WHERE b0 = b1 GROUP BY 1, 2
), x AS (
  SELECT * FROM p WHERE b0 <> b1
), tail AS (
  SELECT user_id, b0 AS bucket_us,
         (CAST(c0 AS DOUBLE)
          + (CAST(c0 AS DOUBLE) + CAST(c1 - c0 AS DOUBLE)
             * (CAST(b0 + {HOUR_US} - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))))
         * CAST(b0 + {HOUR_US} - t0 AS DOUBLE) AS v2,
         'tail' AS kind
  FROM x
), head AS (
  SELECT user_id, b1 AS bucket_us,
         ((CAST(c0 AS DOUBLE) + CAST(c1 - c0 AS DOUBLE)
           * (CAST(b1 - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)))
          + CAST(c1 AS DOUBLE))
         * CAST(t1 - b1 AS DOUBLE) AS v2,
         'head' AS kind
  FROM x
), fullb AS (
  SELECT user_id, bs AS bucket_us,
         ((CAST(c0 AS DOUBLE) + CAST(c1 - c0 AS DOUBLE)
           * (CAST(bs - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE)))
          + (CAST(c0 AS DOUBLE) + CAST(c1 - c0 AS DOUBLE)
             * (CAST(bs + {HOUR_US} - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))))
         * {float(HOUR_US)!r} AS v2,
         'full' AS kind
  FROM x, LATERAL unnest(range(b0 + {HOUR_US}, b1, {HOUR_US})) AS u(bs)
), segs AS (
  SELECT * FROM interior UNION ALL SELECT * FROM tail
  UNION ALL SELECT * FROM head UNION ALL SELECT * FROM fullb
)
SELECT user_id AS conv_id, bucket_us,
       (((coalesce(MAX(CASE WHEN kind = 'head' THEN v2 END), 0.0)
          + coalesce(MAX(CASE WHEN kind = 'interior' THEN v2 END), 0.0))
         + coalesce(MAX(CASE WHEN kind = 'tail' THEN v2 END), 0.0))
        + coalesce(MAX(CASE WHEN kind = 'full' THEN v2 END), 0.0))
       / {float(2 * HOUR_US)!r} AS itwa_cents
FROM segs
GROUP BY 1, 2
"""


# --- q60: mergeable percentile sketch (base-2 log histogram) -------------------


def q60_percentile_sketch_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable percentile sketch per (conv, 1h bucket) — the TimescaleDB
    ``percentile_agg``/UDDSketch face at γ=2: a log-width histogram whose
    bucket is the value's binary exponent, counts summable across tiers
    (1d sketch = Σ 1h sketches; gated in test_sketch.py), with a p50
    estimate of relative error ≤ 2× read off the cumulative counts.

    Exactness: the bucket index is computed WITHOUT floating log —
    ``length(binary-string(|c|)) − 1`` = floor(log2|c|) exactly, in both
    engines (Spark ``conv(x,10,2)``, DuckDB ``bin(x)``; zero gets bucket
    −1).  The p50 estimate ``1.5·2^b`` is a dyadic double, exact in both.

    Scale shape: one explicit exchange on (conv, bucket) serves the
    3-key hash agg (subset-clustering rule) and both windows — no second
    shuffle; sketch width is ≤64 rows per group regardless of data volume,
    which is WHY a log histogram is the at-scale percentile story: state
    is O(log range), not O(n), and merges are count additions.
    """
    e = _base(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"),
        _bucket(F.col("ts_us"), HOUR_US).alias("bucket_us"),
        "c",
    )
    lb = (
        F.when(F.col("c") == 0, F.lit(-1))
        .otherwise(F.length(F.conv(F.abs(F.col("c")).cast("string"), 10, 2)) - 1)
        .cast("int")
    )
    sk = (
        e.repartition("conv_id", "bucket_us")
        .groupBy("conv_id", "bucket_us", lb.alias("log2_bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grp = Window.partitionBy("conv_id", "bucket_us")
    cum = (
        grp.orderBy("log2_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sk = (
        sk.withColumn("cum", F.sum("cnt").over(cum))
        .withColumn("n", F.sum("cnt").over(grp))
        .withColumn(
            "p50_bucket",
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n"), F.col("log2_bucket"))
            ).over(grp),
        )
    )
    return sk.select(
        "conv_id",
        "bucket_us",
        "log2_bucket",
        "cnt",
        "n",
        (F.lit(1.5) * F.pow(F.lit(2.0), F.col("p50_bucket"))).alias("p50_est"),
    )


_Q60_SQL = f"""
WITH e AS (
  SELECT user_id AS conv_id,
         epoch_us(ts) - epoch_us(ts) % {HOUR_US} AS bucket_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), sk AS (
  SELECT conv_id, bucket_us,
         CASE WHEN c = 0 THEN -1
              ELSE CAST(length(bin(abs(c))) - 1 AS INTEGER) END AS log2_bucket,
         COUNT(*) AS cnt
  FROM e
  GROUP BY 1, 2, 3
), w AS (
  SELECT conv_id, bucket_us, log2_bucket, CAST(cnt AS BIGINT) AS cnt,
         SUM(cnt) OVER (PARTITION BY conv_id, bucket_us ORDER BY log2_bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY conv_id, bucket_us) AS n
  FROM sk
)
SELECT conv_id, bucket_us, log2_bucket, cnt, CAST(n AS BIGINT) AS n,
       1.5 * power(2.0, MIN(CASE WHEN cum * 2 >= n THEN log2_bucket END)
                        OVER (PARTITION BY conv_id, bucket_us)) AS p50_est
FROM w
"""


# --- q57: LTTB shape-preserving downsample ------------------------------------

LTTB_THRESHOLD = 50


def q57_lttb_downsample(
    spark: SparkSession, sf_dir: str, threshold: int = LTTB_THRESHOLD
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample per conversation (the
    TimescaleDB ``lttb`` hyperfunction): keep ``threshold`` of n points,
    preserving visual shape — endpoints always kept, each interior bucket
    contributing its largest-triangle point (kernels/lttb.py).

    Driver oracle (upgraded from rows-only in round 3): the selection
    recurrence — each bucket's pick depends on the previous pick — is not
    expressible as one SQL aggregate, but ``threshold`` is a constant, so
    ``_q57_sql`` UNROLLS the loop into threshold−2 chained argmax CTE
    stages.  Bitwise equality is achievable because the kernel's float
    contract (kernels/lttb.py docstring) is replayable in SQL: the bucket
    means are exact-integer sums (< 2⁵³, so any summation order is exact)
    followed by ONE pinned division, and the triangle-area expression is
    written with the identical IEEE op order on both sides, so every
    comparison sees bit-identical doubles.  tests/test_lttb.py additionally
    gates the kernel against the independent scalar oracle (oracle/lttb.py)
    and the structural invariants (endpoints, count, subset-of-input,
    partition invariance).

    Scale shape: one hash exchange on conv_id, then per-conversation Arrow
    batches; the kernel's loop is O(threshold) — bounded by the OUTPUT — so
    a 10¹²-turn table streams through with per-group state of one index.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from ..kernels.lttb import lttb_select

    schema = StructType(
        [
            StructField("conv_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("c", LongType()),
        ]
    )

    def _lttb(pdf):
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        idx = lttb_select(
            pdf["ts_us"].to_numpy("int64"), pdf["c"].to_numpy("int64"), threshold
        )
        out = pdf.iloc[idx][["user_id", "event_id", "ts_us", "c"]]
        return out.rename(columns={"user_id": "conv_id"})

    return (
        _base(spark, sf_dir)
        .select("user_id", "event_id", "ts_us", "c")
        .groupBy("user_id")
        .applyInPandas(_lttb, schema)
    )


def _q57_sql(threshold: int = LTTB_THRESHOLD) -> str:
    """Exact DuckDB mirror of q57: the LTTB recurrence unrolled into
    ``threshold − 2`` chained argmax stages (see q57's docstring for why the
    doubles match bitwise).  Conversations with n ≤ threshold are returned
    whole, mirroring the kernel's early-out."""
    w = threshold - 2  # number of interior buckets
    area = (
        "abs((p.px - {ax}) * (b.yf - p.py) - (p.px - b.tf) * ({ay} - p.py))"
    )
    stages = []
    for i in range(w):
        prev = "p0" if i == 0 else f"s{i}"
        if i + 1 < w:
            anchor_src = f"JOIN avgs a ON a.conv_id = b.conv_id AND a.b = {i + 1}"
            ax, ay = "a.ax", "a.ay"
        else:
            anchor_src = "JOIN lastpt a ON a.conv_id = b.conv_id"
            ax, ay = "a.ax", "a.ay"
        stages.append(
            f"""s{i + 1} AS MATERIALIZED (
  SELECT conv_id, pj, px, py FROM (
    SELECT b.conv_id, b.j AS pj, b.tf AS px, b.yf AS py,
           row_number() OVER (
             PARTITION BY b.conv_id
             ORDER BY {area.format(ax=ax, ay=ay)} DESC, b.j ASC
           ) AS rn
    FROM bkt b
    JOIN {prev} p ON p.conv_id = b.conv_id
    {anchor_src}
    WHERE b.b = {i}
  ) WHERE rn = 1
)"""
        )
    stage_sql = ",\n".join(stages)
    picks_union = "\nUNION ALL\n".join(
        f"SELECT conv_id, pj FROM s{i + 1}" for i in range(w)
    )
    return f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), idx AS MATERIALIZED (
  SELECT user_id AS conv_id, event_id, ts_us, c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) - 1 AS j,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         MIN(ts_us) OVER (PARTITION BY user_id) AS t0
  FROM c
), big AS MATERIALIZED (
  SELECT conv_id, event_id, ts_us, c, j, n,
         CAST(ts_us - t0 AS DOUBLE) AS tf,
         CAST(c AS DOUBLE) AS yf
  FROM idx WHERE n > {threshold}
), bkt AS MATERIALIZED (
  -- interior rows tagged with their bucket id via the kernel's exact
  -- integer floor-division bounds: bounds[i] = 1 + (i * (n-2)) // {w}
  SELECT big.*, t.i AS b
  FROM big, UNNEST(range(0, {w})) AS t(i)
  WHERE big.j >= 1 + (t.i * (big.n - 2)) // {w}
    AND big.j < 1 + ((t.i + 1) * (big.n - 2)) // {w}
), avgs AS MATERIALIZED (
  -- bucket means: exact-integer sums (< 2^53) + one pinned division
  SELECT conv_id, b,
         SUM(tf) / COUNT(*) AS ax,
         SUM(yf) / COUNT(*) AS ay
  FROM bkt GROUP BY 1, 2
), lastpt AS MATERIALIZED (
  SELECT conv_id, tf AS ax, yf AS ay FROM big WHERE j = n - 1
), p0 AS MATERIALIZED (
  SELECT conv_id, j AS pj, tf AS px, yf AS py FROM big WHERE j = 0
),
{stage_sql},
picks AS (
  SELECT conv_id, pj FROM p0
  UNION ALL
  {picks_union}
  UNION ALL
  SELECT conv_id, j AS pj FROM big WHERE j = n - 1
)
SELECT big.conv_id, big.event_id, big.ts_us, big.c
FROM picks JOIN big ON big.conv_id = picks.conv_id AND big.j = picks.pj
UNION ALL
SELECT conv_id, event_id, ts_us, c FROM idx WHERE n <= {threshold}
"""


_Q57_SQL = _q57_sql()


# --- q62: Hjorth parameters per (conv, 1d bucket) ----------------------------


def q62_hjorth_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hjorth parameters — activity, mobility, complexity — per (conv, 1d
    bucket): the classic three-number time-domain characterization of a
    signal (Hjorth 1970, EEG canon; adopted by the motion/HAR feature
    literature alongside A1–A7). Activity = population var(x); mobility =
    √(var(Δx)/var(x)); complexity = mobility(Δx)/mobility(x) =
    √(var(Δ²x)/var(Δx)) / mobility.

    Exactness: all three n-scaled second moments are exact integers —
    ``M2x = n·Σx² − (Σx)²`` over the bucket's n samples, ``M2d`` over its
    n1 in-bucket consecutive differences, ``M2dd`` over its n2 in-bucket
    second differences (``x − 2·prev + prev2``, both lags in-bucket) — and
    the emitted doubles are pinned sequences on exact-ratio arguments:
    activity = M2x/n², mobility = √((M2d·n²)/(M2x·n1²)), complexity =
    √((M2dd·n1²)/(M2d·n2²)) / mobility — each argument ONE division of two
    exact integers, mirrored literally in the oracle.  split_dbl fidelity
    (|value| < 2¹⁰¹) holds to ~10⁵ samples per (conv, 1d) bucket at cent
    scale (M2d·n² ≤ 4·c²·n1²·n² ≈ 4·10²⁸).

    Scale shape: one lag window (two lags share it) + one hash agg, both
    keyed on conv — a single shuffle, no Python.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    b = lambda col: _bucket(col, DAY_US)  # noqa: E731
    d = (
        _base(spark, sf_dir)
        .withColumn("prev", F.lag("c").over(w))
        .withColumn("prev2", F.lag("c", 2).over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn("prev2_ts", F.lag("ts_us", 2).over(w))
    )
    in1 = F.col("prev_ts").isNotNull() & (b(F.col("prev_ts")) == b(F.col("ts_us")))
    in2 = in1 & F.col("prev2_ts").isNotNull() & (
        b(F.col("prev2_ts")) == b(F.col("ts_us"))
    )
    dx = F.col("c") - F.col("prev")
    ddx = F.col("c") - F.col("prev") * 2 + F.col("prev2")
    g = d.groupBy(
        F.col("user_id").alias("conv_id"), b(F.col("ts_us")).alias("bucket_us")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(_dec(F.col("c")) * _dec(F.col("c"))).alias("s2"),
        F.sum(F.when(in1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(in1, dx)).alias("d1"),
        F.sum(F.when(in1, _dec(dx) * _dec(dx))).alias("d2"),
        F.sum(F.when(in2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(in2, ddx)).alias("e1"),
        F.sum(F.when(in2, _dec(ddx) * _dec(ddx))).alias("e2"),
    )
    n, n1, n2 = _dec(F.col("n")), _dec(F.col("n1")), _dec(F.col("n2"))
    m2x = n * F.col("s2") - _dec(F.col("s1")) * _dec(F.col("s1"))
    m2d = n1 * F.col("d2") - _dec(F.col("d1")) * _dec(F.col("d1"))
    m2dd = n2 * F.col("e2") - _dec(F.col("e1")) * _dec(F.col("e1"))
    activity = m2x.cast("double") / (n * n).cast("double")
    mobility = F.sqrt((m2d * n * n).cast("double") / (m2x * n1 * n1).cast("double"))
    complexity = (
        F.sqrt((m2dd * n1 * n1).cast("double") / (m2d * n2 * n2).cast("double"))
        / mobility
    )
    return g.filter((F.col("n2") >= 1) & (m2x > 0) & (m2d > 0)).select(
        "conv_id",
        "bucket_us",
        "n",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        activity.alias("activity"),
        mobility.alias("mobility"),
        complexity.alias("complexity"),
    )


_Q62_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, ts_us, c,
         lag(c) OVER w AS prev,
         lag(c, 2) OVER w AS prev2,
         lag(ts_us) OVER w AS prev_ts,
         lag(ts_us, 2) OVER w AS prev2_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), tagged AS (
  SELECT user_id,
         ts_us - ts_us % {DAY_US} AS bucket_us,
         c, prev, prev2,
         (prev_ts IS NOT NULL
          AND prev_ts - prev_ts % {DAY_US} = ts_us - ts_us % {DAY_US}) AS in1,
         (prev_ts IS NOT NULL
          AND prev_ts - prev_ts % {DAY_US} = ts_us - ts_us % {DAY_US}
          AND prev2_ts IS NOT NULL
          AND prev2_ts - prev2_ts % {DAY_US} = ts_us - ts_us % {DAY_US}) AS in2
  FROM lagged
), g AS (
  SELECT user_id AS conv_id, bucket_us,
         COUNT(*) AS n,
         SUM(c) AS s1,
         SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
         SUM(CASE WHEN in1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN in1 THEN c - prev END) AS d1,
         SUM(CASE WHEN in1 THEN CAST(c - prev AS HUGEINT)
                            * CAST(c - prev AS HUGEINT) END) AS d2,
         SUM(CASE WHEN in2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN in2 THEN c - prev * 2 + prev2 END) AS e1,
         SUM(CASE WHEN in2 THEN CAST(c - prev * 2 + prev2 AS HUGEINT)
                            * CAST(c - prev * 2 + prev2 AS HUGEINT) END) AS e2
  FROM tagged GROUP BY 1, 2
), m AS (
  SELECT conv_id, bucket_us, n, n1, n2,
         CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2x,
         CAST(n1 AS HUGEINT) * d2 - CAST(d1 AS HUGEINT) * d1 AS m2d,
         CAST(n2 AS HUGEINT) * e2 - CAST(e1 AS HUGEINT) * e1 AS m2dd
  FROM g
)
SELECT conv_id, bucket_us, n,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       {split_dbl("m2x")} / {split_dbl("CAST(n AS HUGEINT) * n")} AS activity,
       sqrt({split_dbl("m2d * n * n")}
            / {split_dbl("m2x * n1 * n1")}) AS mobility,
       sqrt({split_dbl("m2dd * n1 * n1")}
            / {split_dbl("m2d * n2 * n2")})
         / sqrt({split_dbl("m2d * n * n")}
                / {split_dbl("m2x * n1 * n1")}) AS complexity
FROM m
WHERE n2 >= 1 AND m2x > 0 AND m2d > 0
"""


# --- q63: EMG count features (SSC, WAMP, MYOP) per (conv, 1h bucket) ----------

WAMP_EPS_CENTS = 2000  # |Δ| > 20.00 value units counts as a Willison event
MYOP_EPS_CENTS = 5000  # |x| > 50.00 value units counts as "active"


def q63_ssc_wamp_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMG-canon count features per (conv, 1h bucket) — slope sign changes
    (SSC: interior points where the signal turns, ``(x−prev)·(x−next) > 0``
    with both neighbors in-bucket), Willison amplitude (WAMP: consecutive
    in-bucket pairs with ``|Δ| >`` threshold) and myopulse rate (MYOP:
    fraction of samples above an amplitude threshold) — the remaining
    members of the classic time-domain set q53 (waveform length) belongs to.

    Exactness: all three are exact integer counts (products of cent deltas
    peak at ~4·10⁸ ≪ int64, no widening needed); the only double is MYOP's
    rate, one pinned division.  Thresholds are module constants — part of
    the feature definition, mirrored into the oracle at build time.

    Scale shape: one window (lag+lead share it) + one hash agg on conv —
    a single shuffle, no Python.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    b = lambda col: _bucket(col, HOUR_US)  # noqa: E731
    d = (
        _base(spark, sf_dir)
        .withColumn("prev", F.lag("c").over(w))
        .withColumn("nxt", F.lead("c").over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn("nxt_ts", F.lead("ts_us").over(w))
    )
    in_prev = F.col("prev_ts").isNotNull() & (
        b(F.col("prev_ts")) == b(F.col("ts_us"))
    )
    in_next = F.col("nxt_ts").isNotNull() & (b(F.col("nxt_ts")) == b(F.col("ts_us")))
    ssc_hit = in_prev & in_next & (
        (F.col("c") - F.col("prev")) * (F.col("c") - F.col("nxt")) > 0
    )
    wamp_hit = in_prev & (
        F.abs(F.col("c") - F.col("prev")) > F.lit(WAMP_EPS_CENTS)
    )
    myop_hit = F.abs(F.col("c")) > F.lit(MYOP_EPS_CENTS)
    g = d.groupBy(
        F.col("user_id").alias("conv_id"), b(F.col("ts_us")).alias("bucket_us")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(in_prev.cast("long")).alias("n_pairs"),
        F.sum(ssc_hit.cast("long")).alias("ssc"),
        F.sum(wamp_hit.cast("long")).alias("wamp"),
        F.sum(myop_hit.cast("long")).alias("myop"),
    )
    return g.select(
        "conv_id",
        "bucket_us",
        "n",
        "n_pairs",
        "ssc",
        "wamp",
        "myop",
        (F.col("myop").cast("double") / F.col("n").cast("double")).alias(
            "myop_rate"
        ),
    )


_Q63_SQL = f"""
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), lagged AS (
  SELECT user_id, ts_us, c,
         lag(c) OVER w AS prev,
         lead(c) OVER w AS nxt,
         lag(ts_us) OVER w AS prev_ts,
         lead(ts_us) OVER w AS nxt_ts
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), tagged AS (
  SELECT user_id,
         ts_us - ts_us % {HOUR_US} AS bucket_us,
         c, prev, nxt,
         (prev_ts IS NOT NULL
          AND prev_ts - prev_ts % {HOUR_US} = ts_us - ts_us % {HOUR_US}) AS in_prev,
         (nxt_ts IS NOT NULL
          AND nxt_ts - nxt_ts % {HOUR_US} = ts_us - ts_us % {HOUR_US}) AS in_next
  FROM lagged
)
SELECT user_id AS conv_id, bucket_us,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN in_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN in_prev AND in_next
                      AND (c - prev) * (c - nxt) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS ssc,
       CAST(SUM(CASE WHEN in_prev AND abs(c - prev) > {WAMP_EPS_CENTS}
                THEN 1 ELSE 0 END) AS BIGINT) AS wamp,
       CAST(SUM(CASE WHEN abs(c) > {MYOP_EPS_CENTS} THEN 1 ELSE 0 END)
            AS BIGINT) AS myop,
       CAST(SUM(CASE WHEN abs(c) > {MYOP_EPS_CENTS} THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS myop_rate
FROM tagged
GROUP BY 1, 2
"""


QUERIES = {
    "q43_time_weighted_avg_1h": q43_time_weighted_avg_1h,
    "q44_autocorr_lag1": q44_autocorr_lag1,
    "q45_spectral_bins_1h": q45_spectral_bins_1h,
    "q46_zscore_anomalies": q46_zscore_anomalies,
    "q47_spectral_full": q47_spectral_full,
    "q48_cross_channel_corr_1d": q48_cross_channel_corr_1d,
    "q49_trend_slope_1h": q49_trend_slope_1h,
    "q51_moments_1d": q51_moments_1d,
    "q52_value_median_iqr_1h": q52_value_median_iqr_1h,
    "q53_waveform_length_1h": q53_waveform_length_1h,
    "q54_mad_per_conv": q54_mad_per_conv,
    "q55_ewma_value": q55_ewma_value,
    "q56_live_coverage_1h": q56_live_coverage_1h,
    "q57_lttb_downsample": q57_lttb_downsample,
    "q60_percentile_sketch_1h": q60_percentile_sketch_1h,
    "q61_interpolated_twa_1h": q61_interpolated_twa_1h,
    "q62_hjorth_1d": q62_hjorth_1d,
    "q63_ssc_wamp_1h": q63_ssc_wamp_1h,
}

ORACLE_SQL = {
    "q43_time_weighted_avg_1h": _Q43_SQL,
    "q44_autocorr_lag1": _Q44_SQL,
    "q45_spectral_bins_1h": _Q45_SQL,
    "q46_zscore_anomalies": _Q46_SQL,
    "q47_spectral_full": _Q47_SQL,
    "q48_cross_channel_corr_1d": _Q48_SQL,
    "q49_trend_slope_1h": _Q49_SQL,
    "q51_moments_1d": _Q51_SQL,
    "q52_value_median_iqr_1h": _Q52_SQL,
    "q53_waveform_length_1h": _Q53_SQL,
    "q54_mad_per_conv": _Q54_SQL,
    "q55_ewma_value": _Q55_SQL,
    "q56_live_coverage_1h": _Q56_SQL,
    "q57_lttb_downsample": _Q57_SQL,
    "q60_percentile_sketch_1h": _Q60_SQL,
    "q61_interpolated_twa_1h": _Q61_SQL,
    "q62_hjorth_1d": _Q62_SQL,
    "q63_ssc_wamp_1h": _Q63_SQL,
}
