"""Similarity-search / embedding queries over ``embeddings``, plus MinHash-LSH
near-dup over ``documents``.  Since round 4 EVERY query here is SQL-oracled:
the MinHash/SimHash hashes are md5-hex based (cross-engine deterministic), so
even the signature pipelines are hash-compared by the driver, and pytest
additionally compares the verified LSH output against the exact-Jaccard
oracle q25.

Embeddings are bridged to exact integers by quantizing each float32 component
to 1e-4 (q = round(v·10⁴) as BIGINT): dot products and norms are then exact
integer sums in any engine at any parallelism, and the derived cosine is a
pinned int→double expression that matches bitwise across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sqlexact import split_dbl
from .text import _docs, _shingles, _with_tokens

QUANT = 10_000
TOPK = 10

# MinHash/LSH parameters: 32 permutations in 16 bands of 2 rows — band match
# probability s² per band gives ≈99% recall at Jaccard 0.5 and ≈1-8e-8 at 0.8
MINHASH_PERMS = 32
LSH_BAND_ROWS = 2

# Cross-engine deterministic hashing (round 4 — closes the last two
# rows-only driver checks): both Spark and DuckDB emit lowercase-hex md5,
# so int(md5(s)[:k], 16) is the SAME integer in both engines — unlike
# xxhash64, which DuckDB lacks.  The MinHash permutation family is then a
# classic universal hash over the 28-bit base value, h_p = (A_p·h + B_p)
# mod (2³¹−1), with A_p/B_p themselves md5-derived literals baked into
# BOTH the Spark expressions and the oracle SQL — one md5 per gram, and
# 32 int64-native multiply-mod ops instead of 32 md5 calls.
_MERSENNE31 = (1 << 31) - 1


def _md5_int(s: str, k: int) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:k], 16)


#: per-permutation universal-hash constants (A odd to be invertible mod 2³¹−1)
_PERM_AB = [
    (_md5_int(f"minhash-a-{p}", 7) | 1, _md5_int(f"minhash-b-{p}", 7))
    for p in range(MINHASH_PERMS)
]


def _h_hex(col, k: int):
    """int(md5(col)[:k], 16) as a Spark column (k ≤ 15 keeps it in int64)."""
    return F.conv(F.substring(F.md5(col), 1, k), 16, 10).cast("long")


def _h_hex_sql(expr: str, k: int) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, {k})) AS BIGINT)"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan, hash-spread across the session's parallelism.

    The explicit repartition matters for CPU-heavy narrow expressions: the
    fixture table is ONE parquet file → ONE scan partition, and the
    signature/dot expressions downstream are interpreted higher-order
    functions (64 per-row 64-dim dots for LSH banding), so without the
    spread every branch evaluates them single-threaded — measured 7–11 s →
    ~2 s for q34's candidate stage at sf0.1/local[32]. At deployment scale
    the same guard holds for any small-but-expression-hot dimension table
    that arrives in fewer files than cores; the shuffle it costs is one
    pass over the (small) vector table."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition("vec_id")


def _quantized(df: DataFrame) -> DataFrame:
    # floor(x + 0.5) instead of round(): DuckDB rounds doubles half-even,
    # Spark half-away — floor of the identical double is engine-independent
    q = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * QUANT + F.lit(0.5)).cast("long"),
    )
    return df.withColumn("q", q)


def _dot(a, b):
    """Exact integer dot product of two array<long> columns via Spark's
    higher-order functions.

    Measured alternative, rejected: unrolling ``Σᵢ a[i]·b[i]`` into 64
    explicit ``getItem`` terms keeps the arithmetic in whole-stage codegen
    (HOFs are interpreted: one boxed lambda call per element plus a zipped
    array allocation per pair), but Catalyst's OPTIMIZER time on the
    resulting trees dominates everything it saves — q26 went 0.4 s → 6.7 s
    of pure planning, and q34 (64 banded dots) never finished planning.
    The HOF form keeps the logical tree one node per dot; its interpreted
    evaluation is ~2.7 s of q34's 8 s at sf0.1 while the candidate
    join+distinct (inherent) is the rest."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


# --- q26: brute-force cosine top-k (ANN baseline) ----------------------------


def q26_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vec_id=0 by cosine over quantized embeddings.

    Brute force IS the baseline contract (SURVEY-extension: similarity
    search); the broadcast of the single query vector makes the scan
    embarrassingly parallel — the scale path is q31's LSH bucketing.

    Ranking is by the cosine itself (desc, vec_id tiebreak): the cosine is a
    pinned int→double expression over exact integer dot/norms, so both
    engines order identical doubles — deterministic and engine-identical.
    """
    e = _quantized(_emb(spark, sf_dir))
    qvec = e.filter(F.col("vec_id") == 0).select(F.col("q").alias("qv"))
    d = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qvec))
    d = d.select(
        "vec_id",
        "label",
        _dot(F.col("q"), F.col("qv")).alias("dot_q"),
        _dot(F.col("q"), F.col("q")).alias("na_q"),
        _dot(F.col("qv"), F.col("qv")).alias("nb_q"),
    )
    cos = F.col("dot_q").cast("double") / (
        F.sqrt(F.col("na_q").cast("double")) * F.sqrt(F.col("nb_q").cast("double"))
    )
    return (
        d.withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", "dot_q", "cosine")
    )


_Q26_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
prod AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)
                  * CAST(floor(CAST(q.qe[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS BIGINT) AS dot_q,
         CAST(SUM(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)
                  * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS BIGINT) AS na_q,
         CAST(SUM(CAST(floor(CAST(q.qe[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)
                  * CAST(floor(CAST(q.qe[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS BIGINT) AS nb_q
  FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
  WHERE e.vec_id != 0
  GROUP BY 1, 2
)
SELECT vec_id, label, dot_q,
       CAST(dot_q AS DOUBLE)
         / (sqrt(CAST(na_q AS DOUBLE)) * sqrt(CAST(nb_q AS DOUBLE))) AS cosine
FROM prod
ORDER BY cosine DESC, vec_id ASC LIMIT {TOPK}
"""


# --- q27: per-label centroid components (vectorized column math) -------------


def q27_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(_emb(spark, sf_dir))
    return (
        e.select("label", F.posexplode("q").alias("i", "qv"))
        .groupBy("label", "i")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qv").alias("sum_q"))
    )


_Q27_SQL = f"""
SELECT label, i - 1 AS i, COUNT(*) AS n,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS BIGINT) AS sum_q
FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
GROUP BY 1, 2
"""


# --- q28: MinHash + LSH near-dup candidates (rows-only driver check) ---------


def q28_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = None
) -> DataFrame:
    """Scale-path near-dup detection: shingle → 32-perm MinHash → 16 LSH
    bands of 2 rows → band-bucket join → exact Jaccard verify on candidates.

    Fully SQL-oracled since round 4: the base hash is int(md5(gram)[:7],16)
    and the permutations are the literal universal-hash family _PERM_AB —
    both reproducible verbatim in DuckDB, so the ENTIRE pipeline (signature
    mins, band keys, bucket cap, candidate join, exact verify) is mirrored
    in _q28_sql() and hash-compared by the driver.  tests/test_text_dedup.py
    additionally asserts the verified output equals the brute-force q25
    pairs above the threshold.

    Pipeline-order contract: run exact dedup (q21) FIRST so byte-identical
    documents collapse before LSH; each band bucket is then capped at its
    LSH_BUCKET_CAP smallest doc_ids (same hot-bucket bound as
    lsh_candidate_pairs — candidates stay sub-quadratic even on an
    adversarially duplicate-heavy corpus, tests/test_lsh_cap.py).
    """
    from .text import JACCARD_THRESHOLD

    g = _shingles(_with_tokens(_docs(spark, sf_dir)))
    # minhash signature: one md5 per gram (h = 28-bit base value), then for
    # each permutation p, min over grams of (A_p·h + B_p) mod (2³¹−1) — all
    # 32 permutations as separate min-aggregate expressions over ONE hash
    # agg (the q29 SimHash pattern): zero row amplification, one shuffle of
    # #gram rows with map-side partials, and the per-perm work is a single
    # int64 multiply-mod (A_p < 2²⁸, h < 2²⁸ ⇒ product < 2⁵⁶, no overflow)
    h = _h_hex(F.col("gram"), 7)
    g = g.withColumn("h", h)
    sig = g.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MERSENNE31)).alias(
                f"mh{p}"
            )
            for p, (a, b) in enumerate(_PERM_AB)
        ]
    )
    # LSH: band key = md5-hash of the band's LSH_BAND_ROWS signature slots,
    # stacked to (doc_id, band, bkey) rows — #docs × #bands, tiny
    n_bands = MINHASH_PERMS // LSH_BAND_ROWS
    band_keys = [
        _h_hex(
            F.concat_ws(
                "|",
                F.lit(b),
                *[F.col(f"mh{b * LSH_BAND_ROWS + r}") for r in range(LSH_BAND_ROWS)],
            ),
            15,
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    stack = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    band = (
        sig.select("doc_id", *band_keys)
        .selectExpr(
            "doc_id", f"stack({n_bands}, {stack}) as (band, bkey)"
        )
    )
    cap = LSH_BUCKET_CAP if bucket_cap is None else int(bucket_cap)
    wcap = Window.partitionBy("band", "bkey").orderBy("doc_id")
    band = (
        band.withColumn("rnk", F.row_number().over(wcap))
        .filter(F.col("rnk") <= F.lit(cap))
        .drop("rnk")
    )
    a = band.alias("a")
    b = band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact-Jaccard verification restricted to candidates
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = g.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = g.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_grams", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_grams", "nb"), "doc_b")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    )
    return j.select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")


def _q28_sql() -> str:
    """The q28 pipeline mirrored verbatim in DuckDB: same md5-hex base hash,
    same _PERM_AB universal-hash literals, same band keys, same bucket cap,
    same exact-Jaccard verify — the driver's hash equality checks the WHOLE
    LSH pipeline, not just its verified output."""
    from .text import JACCARD_THRESHOLD

    n_bands = MINHASH_PERMS // LSH_BAND_ROWS
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE31}) AS mh{p}"
        for p, (a, b) in enumerate(_PERM_AB)
    )
    bkeys = ",\n         ".join(
        _h_hex_sql(
            "concat_ws('|', "
            + ", ".join(
                [str(b)]
                + [f"mh{b * LSH_BAND_ROWS + r}" for r in range(LSH_BAND_ROWS)]
            )
            + ")",
            15,
        )
        + f" AS bk{b}"
        for b in range(n_bands)
    )
    stack = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bk{b} AS bkey FROM bandkeys"
        for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, gram
  FROM toks, UNNEST(list_transform(range(1, greatest(len(t) - 1, 1)),
                    i -> array_to_string(t[i:i+2], ' '))) AS u(gram)
), hashed AS (
  SELECT doc_id, gram, {_h_hex_sql("gram", 7)} AS h FROM grams
), sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY 1
), bandkeys AS (
  SELECT doc_id,
         {bkeys}
  FROM sig
), band AS (
  {stack}
), capped AS (
  SELECT doc_id, band, bkey FROM (
    SELECT doc_id, band, bkey,
           row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rnk
    FROM band
  ) WHERE rnk <= {LSH_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_inter,
       sa.n_grams + sb.n_grams - n_inter AS n_union,
       CAST(n_inter AS DOUBLE)
         / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE)
      / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


# --- q29: SimHash document fingerprints (rows-only) --------------------------


SIMHASH_BITS = 60


def q29_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit token SimHash per document: bit j of the signature is the sign
    of Σ_tokens count·(±1) where ± is bit j of int(md5(token)[:15], 16).
    Near-dup docs land at small Hamming distance (tests/test_text_dedup.py
    asserts the separation against the exact-Jaccard pairs).  Fully
    SQL-oracled since round 4: the md5-hex hash is reproducible verbatim in
    DuckDB (60 bits so the signature stays a non-negative BIGINT in both
    engines — no sign-bit special case).

    All 60 bit-sums are aggregate EXPRESSIONS in one hash aggregation (with
    map-side partials) rather than an explode over j∈[0,60) — the earlier
    formulation amplified the token frame 60× through a shuffle; this one
    shuffles only (doc_id, tok) rows and packs the signature in a single
    narrow select. Integer sums ⇒ result is identical at any parallelism."""
    toks = (
        _with_tokens(_docs(spark, sf_dir))
        .select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", _h_hex(F.col("tok"), 15))
    )
    bit_sums = [
        F.sum(
            (F.shiftrightunsigned("h", j).bitwiseAND(F.lit(1)) * 2 - 1) * F.col("cnt")
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for j in range(SIMHASH_BITS):
        b = (F.col(f"s{j}") > 0).cast("long") * F.lit(1 << j)
        sig = b if sig is None else sig + b
    return sums.select("doc_id", sig.alias("simhash60"))


def _q29_sql() -> str:
    bit_sums = ",\n         ".join(
        f"SUM((((h >> {j}) & 1) * 2 - 1) * cnt) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = "\n         + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
), h AS (
  SELECT doc_id, cnt, {_h_hex_sql("tok", 15)} AS h FROM toks
), s AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY 1
)
SELECT doc_id,
       {sig} AS simhash60
FROM s
"""


# --- q30: embedding-cosine near-duplicate pairs ------------------------------

COS_THRESHOLD = 0.4


def q30_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.4 over quantized embeddings — the BRUTE-FORCE
    oracle for embedding near-dup (O(n²) self-join; fine at fixture scale).
    The 100 TB scale path is q34_embedding_lsh_pairs: multi-band hyperplane
    LSH buckets → bucket self-join → exact verify restricted to candidates.
    Exact-integer dots → pinned cosine → bitwise SQL parity."""
    e = _quantized(_emb(spark, sf_dir)).select(
        "vec_id", "q", _dot(F.col("q"), F.col("q")).alias("nq")
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", _dot(F.col("qa"), F.col("qb")).alias("dot_q"), "na", "nb"
    )
    cos = F.col("dot_q").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(COS_THRESHOLD))
        .select("vec_a", "vec_b", "dot_q", "cosine")
    )


_QUANT_SQL = f"CAST(floor(CAST(embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)"
_Q30_SQL = f"""
WITH quant AS (
  SELECT vec_id,
         CAST(SUM({_QUANT_SQL} * {_QUANT_SQL}) AS BIGINT) AS nq
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
  GROUP BY 1
), dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(SUM(CAST(floor(CAST(a.embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)
                  * CAST(floor(CAST(b.embedding[i] AS DOUBLE) * {QUANT} + 0.5) AS BIGINT))
              AS BIGINT) AS dot_q
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id,
       UNNEST(range(1, len(a.embedding) + 1)) AS t(i)
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, dot_q,
       CAST(dot_q AS DOUBLE)
         / (sqrt(CAST(qa.nq AS DOUBLE)) * sqrt(CAST(qb.nq AS DOUBLE))) AS cosine
FROM dots
JOIN quant qa ON qa.vec_id = vec_a
JOIN quant qb ON qb.vec_id = vec_b
WHERE CAST(dot_q AS DOUBLE)
      / (sqrt(CAST(qa.nq AS DOUBLE)) * sqrt(CAST(qb.nq AS DOUBLE)))
      >= {COS_THRESHOLD}
"""


# --- q31: LSH-bucketed ANN (the scale path for q26) --------------------------

# deterministic ±1 hyperplanes, embedded as literals in BOTH engines
def _planes() -> list[list[int]]:
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(1234))
    return (rng.integers(0, 2, size=(4, 64)) * 2 - 1).tolist()


_PLANES = _planes()


def q31_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 4-bit bucket per vector; candidates = bucket of
    query vec 0; rank candidates by exact integer dot. The bucket join
    replaces the all-pairs scan at scale (O(n/2⁴) candidates per query)."""
    e = _quantized(_emb(spark, sf_dir))
    bucket = None
    for p, plane in enumerate(_PLANES):
        arr = F.array(*[F.lit(int(v)) for v in plane])
        d = _dot(F.col("q"), arr)
        bit = (d >= 0).cast("long") * F.lit(1 << p)
        bucket = bit if bucket is None else bucket + bit
    e = e.withColumn("bucket", bucket)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("qv"), F.col("bucket").alias("qbucket")
    )
    cand = e.filter(F.col("vec_id") != 0).join(
        F.broadcast(qv), F.col("bucket") == F.col("qbucket")
    )
    return (
        cand.select(
            "vec_id", "label", "bucket", _dot(F.col("q"), F.col("qv")).alias("dot_q")
        )
        .orderBy(F.desc("dot_q"), F.asc("vec_id"))
        .limit(TOPK)
    )


def _planes_sql() -> str:
    rows = ",\n    ".join(
        f"({p}, {list(plane)})" for p, plane in enumerate(_PLANES)
    )
    return f"(VALUES\n    {rows}) AS planes(p, vec)"


_Q31_SQL = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), buckets AS (
  SELECT q.vec_id, q.label, q.qv,
         CAST(SUM(CASE WHEN (
             SELECT SUM(q.qv[i] * planes.vec[i])
             FROM UNNEST(range(1, 65)) AS t(i)
           ) >= 0 THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS bucket
  FROM q, {_planes_sql()}
  GROUP BY 1, 2, 3
), qb AS (
  SELECT qv AS query_v, bucket AS qbucket FROM buckets WHERE vec_id = 0
)
SELECT b.vec_id, b.label, b.bucket,
       CAST((SELECT SUM(b.qv[i] * qb.query_v[i])
             FROM UNNEST(range(1, 65)) AS t(i)) AS BIGINT) AS dot_q
FROM buckets b, qb
WHERE b.vec_id != 0 AND b.bucket = qb.qbucket
ORDER BY dot_q DESC, vec_id ASC LIMIT {TOPK}
"""


# --- q34: LSH-bucketed embedding near-dup PAIRS (the scale path for q30) -----

# 16 bands × 4 random-hyperplane bits. P(bit agrees) = 1 − θ/π; at the
# cosine-0.4 threshold (θ ≈ 1.159 rad) p ≈ 0.631, band match p⁴ ≈ 0.158,
# recall over 16 bands ≈ 1 − (1 − p⁴)¹⁶ ≈ 0.94 — and higher for the
# closer-than-threshold pairs that dominate real dedup output.
PAIR_BANDS = 16
PAIR_BAND_BITS = 4


from functools import lru_cache


@lru_cache(maxsize=8)
def _pair_planes(
    bands: int = PAIR_BANDS, band_bits: int = PAIR_BAND_BITS
) -> tuple:
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(987654321))
    planes = (rng.integers(0, 2, size=(bands, band_bits, 64)) * 2 - 1).tolist()
    return tuple(tuple(tuple(r) for r in band) for band in planes)


def _band_keys(
    qcol, bands: int = PAIR_BANDS, band_bits: int = PAIR_BAND_BITS
) -> F.Column:
    """array<struct<band,bkey>>: per band, the ``band_bits`` sign bits of the
    quantized vector against that band's hyperplanes, packed into one integer
    key. Pure narrow expressions — signatures need NO shuffle; the only
    exchanges in the pipeline are the bucket self-join and candidate verify."""
    planes = _pair_planes(bands, band_bits)
    entries = []
    for band in range(bands):
        key = None
        for r in range(band_bits):
            arr = F.array(*[F.lit(int(v)) for v in planes[band][r]])
            bit = (_dot(qcol, arr) >= 0).cast("long") * F.lit(1 << r)
            key = bit if key is None else key + bit
        entries.append(
            F.struct(F.lit(band).alias("band"), key.alias("bkey"))
        )
    return F.array(*entries)


# Hot-bucket bound: a (band, bkey) bucket with d members yields O(d²)
# candidate pairs, and a duplicate-heavy corpus — precisely what near-dup
# dedup targets — can put thousands of near-identical vectors in ONE bucket,
# turning the self-join quadratic in the worst key. Each bucket therefore
# keeps only its LSH_BUCKET_CAP smallest vec_ids (deterministic, and exactly
# mirrored by a QUALIFY in the SQL oracle), bounding candidates at
# buckets × C(cap, 2). Recall statement: members beyond the cap lose THIS
# bucket's candidacy but usually pair via their other bands; the intended
# pipeline runs exact dedup (q21) FIRST so identical-content clusters
# collapse to one representative before LSH — the cap then only fires on
# adversarial hash pileups, not on real near-dup workloads. The cap is far
# above the fixture's max bucket size at every SF, so fixture outputs are
# unchanged (pytest-gated in tests/test_lsh_cap.py).
LSH_BUCKET_CAP = 256


def lsh_candidate_pairs(
    e: DataFrame,
    bands: int = PAIR_BANDS,
    band_bits: int = PAIR_BAND_BITS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """(vec_a, vec_b) candidate pairs sharing ≥1 (band, key) bucket, each
    bucket capped at its ``bucket_cap`` smallest vec_ids (see LSH_BUCKET_CAP).

    Exposed separately so banding *selectivity* (candidates ≪ n²/2) can be
    measured at a production parameterization directly, instead of argued
    from the collision-probability math in q34's docstring."""
    sig = e.select(
        "vec_id", F.explode(_band_keys(F.col("q"), bands, band_bits)).alias("bk")
    ).select("vec_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    # The cap's row_number window partitions on the SAME (band, bkey) key the
    # self-join shuffles on, so Catalyst reuses one exchange — the bound
    # costs a sort within partitions, not an extra shuffle.
    wcap = Window.partitionBy("band", "bkey").orderBy("vec_id")
    sig = (
        sig.withColumn("rnk", F.row_number().over(wcap))
        .filter(F.col("rnk") <= F.lit(int(bucket_cap)))
        .drop("rnk")
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def q34_embedding_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COS_THRESHOLD,
    bands: int = PAIR_BANDS,
    band_bits: int = PAIR_BAND_BITS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Scale path for q30: embedding near-dup PAIRS without the O(n²) join.

    Pipeline-order contract: run exact dedup (q21's md5-groupBy shape)
    FIRST, so identical vectors collapse to one representative before LSH —
    then the per-bucket ``bucket_cap`` (see LSH_BUCKET_CAP) is a safety
    bound against adversarial hash pileups, not a recall cost.

    Candidates = vectors sharing any (band, 4-bit hyperplane key) bucket;
    verification = exact integer dot restricted to candidates, same pinned
    cosine + threshold as q30, so the output is a deterministic subset of
    q30's pairs (recall ≈ 0.94 by banding theory; pytest asserts ≥ 0.9 on
    the fixture). At 100 TB the bucket self-join shuffles only (vec_id,
    band, key) triples and the full vectors are joined back for candidate
    pairs only — q28's candidate→verify shape applied to embeddings.

    Selectivity regime (be honest about the math): a random pair matches a
    4-bit band with prob 0.5⁴, so over 16 bands ~64 % of ALL pairs become
    candidates — at the fixture's cos ≥ 0.4 threshold the filter is weak
    and the pass costs nearly as much as brute force. That is a property of
    the threshold, not the shape: at production near-dup thresholds
    (cos ≥ 0.8 ⇒ p_bit ≈ 0.80, p_band ≈ 0.41, random ≈ 0.06) the same
    16×4 banding passes <7 % of random pairs at >99.97 % recall. The
    fixture (max pair cosine ≈ 0.5) exercises the candidate→verify
    CORRECTNESS contract; ``threshold``/``bands``/``band_bits`` are the
    deployment tuning surface; at the production regime (threshold=0.8,
    8 bands × 8 bits) ``lsh_candidate_pairs`` measured 73,207 candidates of
    1,999,000 pairs at sf0.1 (COVERAGE.md, round-3 item 2)."""
    e = _quantized(_emb(spark, sf_dir)).select(
        "vec_id", "q", _dot(F.col("q"), F.col("q")).alias("nq")
    )
    cand = lsh_candidate_pairs(e, bands, band_bits, bucket_cap)
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("nq").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("nq").alias("nb"))
    pairs = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", _dot(F.col("qa"), F.col("qb")).alias("dot_q"), "na", "nb")
    )
    cos = F.col("dot_q").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("vec_a", "vec_b", "dot_q", "cosine")
    )


def _pair_planes_sql(
    bands: int = PAIR_BANDS, band_bits: int = PAIR_BAND_BITS
) -> str:
    planes = _pair_planes(bands, band_bits)
    rows = ",\n    ".join(
        f"({band}, {r}, {list(planes[band][r])})"
        for band in range(bands)
        for r in range(band_bits)
    )
    return f"(VALUES\n    {rows}) AS planes(band, r, vec)"


def _q34_sql(
    threshold: float = COS_THRESHOLD,
    bands: int = PAIR_BANDS,
    band_bits: int = PAIR_BAND_BITS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> str:
    """DuckDB mirror of q34 at any banding parameterization — the literal
    hyperplanes are regenerated for (bands, band_bits) on both sides, so the
    tuned variant (q37) is driver-checked with a full SQL oracle too.  The
    ``capped`` CTE mirrors lsh_candidate_pairs' hot-bucket bound exactly
    (same rank-by-vec_id-within-bucket rule)."""
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), norms AS (
  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nq
  FROM q, UNNEST(range(1, 65)) AS t(i) GROUP BY 1
), bits AS (
  SELECT q.vec_id, planes.band,
         CAST(SUM(CASE WHEN (
             SELECT SUM(q.qv[i] * planes.vec[i])
             FROM UNNEST(range(1, 65)) AS t(i)
           ) >= 0 THEN 1 << planes.r ELSE 0 END) AS BIGINT) AS bkey
  FROM q, {_pair_planes_sql(bands, band_bits)}
  GROUP BY 1, 2
), capped AS (
  SELECT vec_id, band, bkey FROM (
    SELECT vec_id, band, bkey,
           row_number() OVER (PARTITION BY band, bkey ORDER BY vec_id) AS rnk
    FROM bits
  ) WHERE rnk <= {int(bucket_cap)}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
), dots AS (
  SELECT cand.vec_a, cand.vec_b,
         CAST(SUM(qa.qv[i] * qb.qv[i]) AS BIGINT) AS dot_q
  FROM cand
  JOIN q qa ON qa.vec_id = cand.vec_a
  JOIN q qb ON qb.vec_id = cand.vec_b,
       UNNEST(range(1, 65)) AS t(i)
  GROUP BY 1, 2
)
SELECT d.vec_a, d.vec_b, d.dot_q,
       CAST(d.dot_q AS DOUBLE)
         / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.vec_a
JOIN norms nb ON nb.vec_id = d.vec_b
WHERE CAST(d.dot_q AS DOUBLE)
      / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE)))
      >= {threshold}
"""


_Q34_SQL = _q34_sql()

# production-tuned LSH variant (q37): higher-selectivity 8x8 banding at a
# tighter threshold; same plan shape, driver-checked with its own oracle
TUNED_THRESHOLD = 0.45
TUNED_BANDS = 8
TUNED_BAND_BITS = 8


def q37_embedding_lsh_pairs_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q34 at the production-style tuning (threshold 0.45, 8 bands x 8 bits):
    exercises the banding parameter surface end-to-end against a regenerated
    SQL oracle — candidates are ~20x more selective than the fixture default
    (measured with ``lsh_candidate_pairs``) and the exact-verify step makes the
    output deterministic regardless of banding recall."""
    return q34_embedding_lsh_pairs(
        spark,
        sf_dir,
        threshold=TUNED_THRESHOLD,
        bands=TUNED_BANDS,
        band_bits=TUNED_BAND_BITS,
    )


_Q37_SQL = _q34_sql(TUNED_THRESHOLD, TUNED_BANDS, TUNED_BAND_BITS)



# --- q36: IVF-bucketed ANN (coarse quantizer + probe, the other scale path) --

IVF_NPROBE = 2


def _centroid_stats(e: DataFrame, label_col: str) -> DataFrame:
    """Exact-integer centroid sufficient stats (c_label, sv, cn, ns) grouped
    by ``label_col``: sv = per-dimension Σq (array), cn = member count,
    ns = ‖sv‖² as decimal(38,0). The square is taken AFTER the decimal cast —
    (v*v) in LONG overflows once a per-dimension label sum exceeds ~3.04e9
    (~300k vectors/label at QUANT=10⁴), exactly the at-scale regime; the
    DuckDB oracle's HUGEINT multiply is the same cast-then-multiply order."""
    dec = lambda v: v.cast("decimal(38,0)")  # noqa: E731
    return (
        e.select(F.col(label_col).alias("c_label"), F.posexplode("q").alias("i", "qi"))
        .groupBy("c_label", "i")
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("cn"))
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))), lambda x: x["s"]
            ).alias("sv"),
            F.max("cn").alias("cn"),
        )
        .withColumn(
            "ns",
            F.aggregate(
                F.transform("sv", lambda v: dec(v) * dec(v)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, v: acc + v,
            ),
        )
        .select("c_label", "sv", "cn", "ns")
    )


def _ivf_assign(e: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Rank centroids per vector by the pinned distance surrogate
    f = (ns/n − 2·v·s)/n (≡ ‖v−s/n‖² − ‖v‖², exact-int inputs, 3 double
    ops) and keep ranks ≤ ``nprobe``; ties break on c_label."""
    from pyspark.sql import Window

    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "q",
        "c_label",
        (
            (F.col("ns").cast("double") / F.col("cn").cast("double")
             - F.lit(2.0) * _dot(F.col("q"), F.col("sv")).cast("double"))
            / F.col("cn").cast("double")
        ).alias("f"),
    )
    w = Window.partitionBy("vec_id").orderBy("f", "c_label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "label", "q", "c_label", "rn")
    )


def q36_ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer → inverted lists → probe → exact rank.

    The default coarse quantizer is the per-label mean in quantized-integer
    space (deterministic, no iterative training, so the DuckDB oracle can
    mirror it exactly). ``lloyd_iters > 0`` refines it with that many Lloyd
    iterations ENTIRELY in exact integer space: assignment uses the pinned
    surrogate f = (ns/n − 2·v·s)/n (‖v‖² is per-vector constant and dropped),
    new centroids are integer sufficient stats of the assigned vectors, and
    ties break on c_label — so the trained quantizer is still deterministic
    and bitwise-reproducible at any parallelism (pytest gates its recall vs
    the q26 brute force; the driver oracle covers the lloyd_iters=0 default).
    Empty clusters simply drop out, as in standard Lloyd.

    At scale: centroid table is tiny (L×(64+2) values) → broadcast; each
    Lloyd pass is the standard O(n·L·d) dense scan as one narrow
    crossJoin+aggregate; the tiny per-iteration centroid table is
    materialized eagerly (the same aggregate-to-driver-size step every
    distributed k-means takes per iteration). Inverted lists are just an
    assigned-label column, so the probe is a broadcast semi-join.
    """
    e = _quantized(_emb(spark, sf_dir))
    cent = _centroid_stats(e, "label")
    for _ in range(int(lloyd_iters)):
        assign1 = _ivf_assign(e, cent, 1).select("vec_id", "c_label")
        cent = _centroid_stats(
            e.join(assign1, "vec_id").withColumnRenamed("c_label", "cl"), "cl"
        )
        cent = cent.localCheckpoint(eager=True)  # keep the DAG linear per pass
    assigned = _ivf_assign(e, cent, nprobe)
    probes = (
        assigned.filter(F.col("vec_id") == 0)
        .select(F.col("c_label").alias("probe_label"))
    )
    qvec = (
        assigned.filter((F.col("vec_id") == 0) & (F.col("rn") == 1))
        .select(F.col("q").alias("qv"))
    )
    cand = (
        assigned.filter((F.col("vec_id") != 0) & (F.col("rn") == 1))
        .join(F.broadcast(probes), F.col("c_label") == F.col("probe_label"), "semi")
        .crossJoin(F.broadcast(qvec))
    )
    d = cand.select(
        "vec_id",
        "label",
        "c_label",
        _dot(F.col("q"), F.col("qv")).alias("dot_q"),
        _dot(F.col("q"), F.col("q")).alias("na_q"),
        _dot(F.col("qv"), F.col("qv")).alias("nb_q"),
    )
    cos = F.col("dot_q").cast("double") / (
        F.sqrt(F.col("na_q").cast("double")) * F.sqrt(F.col("nb_q").cast("double"))
    )
    return (
        d.withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", "c_label", "dot_q", "cosine")
    )


_Q36_SQL = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), cent AS (
  SELECT label AS c_label, i,
         CAST(SUM(qv[i]) AS BIGINT) AS s, COUNT(*) AS cn
  FROM q, UNNEST(range(1, 65)) AS t(i)
  GROUP BY 1, 2
), centagg AS (
  SELECT c_label, MAX(cn) AS cn,
         SUM(CAST(s AS HUGEINT) * s) AS ns
  FROM cent GROUP BY 1
), dots AS (
  SELECT q.vec_id, q.label, c.c_label,
         CAST(SUM(q.qv[c.i] * c.s) AS BIGINT) AS dot
  FROM q CROSS JOIN cent c
  GROUP BY 1, 2, 3
), scored AS (
  SELECT d.vec_id, d.label, d.c_label,
         ({split_dbl("ca.ns")} / CAST(ca.cn AS DOUBLE)
          - 2.0 * CAST(d.dot AS DOUBLE)) / CAST(ca.cn AS DOUBLE) AS f
  FROM dots d JOIN centagg ca ON ca.c_label = d.c_label
), assigned AS (
  SELECT vec_id, label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f, c_label) AS rn
  FROM scored
), probes AS (
  SELECT c_label AS probe_label FROM assigned
  WHERE vec_id = 0 AND rn <= {IVF_NPROBE}
), cand AS (
  SELECT a.vec_id, a.label, a.c_label
  FROM assigned a
  WHERE a.vec_id != 0 AND a.rn = 1
    AND a.c_label IN (SELECT probe_label FROM probes)
), ranked AS (
  SELECT c.vec_id, c.label, c.c_label,
         CAST((SELECT SUM(qa.qv[i] * qb.qv[i])
               FROM UNNEST(range(1, 65)) AS t(i)) AS BIGINT) AS dot_q,
         CAST((SELECT SUM(qa.qv[i] * qa.qv[i])
               FROM UNNEST(range(1, 65)) AS t(i)) AS BIGINT) AS na_q,
         CAST((SELECT SUM(qb.qv[i] * qb.qv[i])
               FROM UNNEST(range(1, 65)) AS t(i)) AS BIGINT) AS nb_q
  FROM cand c
  JOIN q qa ON qa.vec_id = c.vec_id
  JOIN q qb ON qb.vec_id = 0
)
SELECT vec_id, label, c_label, dot_q,
       CAST(dot_q AS DOUBLE)
         / (sqrt(CAST(na_q AS DOUBLE)) * sqrt(CAST(nb_q AS DOUBLE))) AS cosine
FROM ranked
ORDER BY cosine DESC, vec_id ASC LIMIT {TOPK}
"""


QUERIES = {
    "q26_ann_cosine_topk": q26_ann_cosine_topk,
    "q27_label_centroids": q27_label_centroids,
    "q28_minhash_lsh_pairs": q28_minhash_lsh_pairs,
    "q29_simhash_docs": q29_simhash_docs,
    "q30_embedding_near_dup": q30_embedding_near_dup,
    "q31_ann_lsh_topk": q31_ann_lsh_topk,
    "q34_embedding_lsh_pairs": q34_embedding_lsh_pairs,
    "q36_ann_ivf_topk": q36_ann_ivf_topk,
    "q37_embedding_lsh_pairs_tuned": q37_embedding_lsh_pairs_tuned,
}

ORACLE_SQL = {
    "q26_ann_cosine_topk": _Q26_SQL,
    "q27_label_centroids": _Q27_SQL,
    # q28/q29 gained full oracles in round 4: the md5-hex base hash and the
    # _PERM_AB universal-hash literals reproduce verbatim in DuckDB, so the
    # whole MinHash/SimHash pipelines are hash-compared, closing the last
    # two rows-only driver checks.
    "q28_minhash_lsh_pairs": _q28_sql(),
    "q29_simhash_docs": _q29_sql(),
    "q30_embedding_near_dup": _Q30_SQL,
    "q31_ann_lsh_topk": _Q31_SQL,
    "q34_embedding_lsh_pairs": _Q34_SQL,
    "q36_ann_ivf_topk": _Q36_SQL,
    "q37_embedding_lsh_pairs_tuned": _Q37_SQL,
}
