"""Driver-mimic harness: every queries() entry vs its oracle_sql() on DuckDB,
compared EXACTLY (ints/strings/bools exact; doubles bitwise — the package's
exact-integer bridging contract makes that possible).

Runs at sf0.001 for speed; the driver repeats this at sf0.01.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], bool):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


_NAMES = sorted(set(entrymod.queries()) & set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_duckdb(spark, sf_dir, duck, name):
    got = _canon(entrymod.queries()[name](spark, sf_dir).toPandas())
    want = _canon(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows vs {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        # Driver-faithful dtype gate: the driver hashes values *with* their
        # dtype, so a Spark int64 vs DuckDB HUGEINT→float64 (or any
        # int-vs-float family mismatch) fails its hash even when every value
        # is equal.  This is exactly how q53 shipped driver-red in round 3 —
        # make that class of bug fail here, pre-commit.
        fam = lambda k: "num_int" if k in "iu" else ("num_flt" if k == "f" else k)
        assert fam(a.dtype.kind) == fam(b.dtype.kind), (
            f"{name}.{c}: dtype family mismatch spark={a.dtype} duckdb={b.dtype} "
            "(driver hash compares dtypes — CAST the oracle column, e.g. "
            "CAST(SUM(x) AS BIGINT))"
        )
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = a.astype(np.float64)
            b = b.astype(np.float64)
            both_nan = np.isnan(a) & np.isnan(b)
            bad = ~((a == b) | both_nan)  # bitwise double equality
        else:
            av = pd.Series(a).astype(object)
            bv = pd.Series(b).astype(object)
            bad = ~(
                (av.values == bv.values) | (av.isna().values & bv.isna().values)
            )
        assert not bad.any(), (
            f"{name}.{c}: {bad.sum()} mismatches; "
            f"spark={a[bad][:3]} duckdb={b[bad][:3]}"
        )


def test_q55_q56_nondefault_params_match_duckdb(spark, sf_dir, duck):
    """The tuning surface is an argument, not an edit (q37 pattern): a
    non-default EWMA α and heartbeat lifetime regenerate the oracle SQL and
    still match bitwise."""
    from features_engineering_of_motion_data_spark.queries.signal import (
        _q55_sql,
        _q56_sql,
        q55_ewma_value,
        q56_live_coverage_1h,
    )

    cases = [
        (q55_ewma_value(spark, sf_dir, alpha=0.5), _q55_sql(0.5)),
        (q56_live_coverage_1h(spark, sf_dir, lifetime_us=60_000_000),
         _q56_sql(60_000_000)),
    ]
    for got_df, sql in cases:
        got = _canon(got_df.toPandas())
        want = _canon(duck.execute(sql).df())
        assert list(got.columns) == list(want.columns)
        assert len(got) == len(want)
        for c in got.columns:
            a, b = got[c].to_numpy(), want[c].to_numpy()
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                a, b = a.astype(np.float64), b.astype(np.float64)
                assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
            else:
                assert (pd.Series(a).astype(object).values
                        == pd.Series(b).astype(object).values).all(), c


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "f_mean" in df.columns


def test_registry_rotation_complete():
    """The explicit _ORDER rotation list IS the driver execution order:
    exact set equality with the registry (a query added without a rotation
    slot fails here, loudly), every query oracle-backed, and the round-6
    rotation: the 31 queries with no green row in CORRECTNESS_r05.json come
    first, inside the driver's 50-query correctness window."""
    from features_engineering_of_motion_data_spark.queries import _ORDER

    qs = entrymod.queries()
    assert set(_ORDER) == set(qs), (
        f"rotation drift: only-in-_ORDER={set(_ORDER) - set(qs)}, "
        f"missing-from-_ORDER={set(qs) - set(_ORDER)}"
    )
    assert list(qs) == list(_ORDER)
    assert list(entrymod.oracle_sql()) == list(_ORDER)
    window = set(list(qs)[:50])
    assert set(_ORDER[:31]) <= window
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_r05.json"), encoding="utf-8") as f:
        r05 = json.load(f)
    green = {q for q, row in r05.items() if row["hash_match"] and not row["err"]}
    assert set(_ORDER[:31]) == set(qs) - green


def test_q70_sax_nonvacuous_at_driver_scale(spark):
    """q70's 1d grain exists because 1h buckets rarely reach the 4-sample PAA
    minimum below sf0.1 (COVERAGE.md); guard that at the driver's own sf0.01
    the query emits a non-trivial SAX-word population, so the oracle
    comparison can never vacuously pass on near-empty output (measured:
    845 rows at sf0.01, 81 at sf0.001)."""
    from features_engineering_of_motion_data_spark.queries.shape import (
        q70_paa_sax_1d,
    )

    sf001 = os.path.join(TESTDATA, "sf0.01")
    assert q70_paa_sax_1d(spark, sf001).count() >= 100
