"""Shared pytest fixtures: one SparkSession per test session, deterministic
transcript fixtures written once to tests/data/ (gitignored)."""

from __future__ import annotations

import datetime
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from features_engineering_of_motion_data_spark.fixtures import (  # noqa: E402
    ensure_transcripts_parquet,
    generate_transcripts,
)
from features_engineering_of_motion_data_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="pytest", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tiny_path() -> str:
    return ensure_transcripts_parquet("tiny")


@pytest.fixture(scope="session")
def small_path() -> str:
    return ensure_transcripts_parquet("small")


@pytest.fixture(scope="session")
def tiny_pdf(tiny_path) -> pd.DataFrame:
    return pd.read_parquet(tiny_path)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # override with SPARK_GRAFT_TEST_SF=sf0.01 to run the driver-mimic
    # contract at the driver's own scale
    return os.path.join(TESTDATA, os.environ.get("SPARK_GRAFT_TEST_SF", "sf0.001"))


@pytest.fixture()
def seam_turns(spark):
    """Old turns of five hand-built conversations, one incremental-seam case
    each, from 2024-01-01T00:00:00Z: a single turn, a last turn with text, a
    null-text last turn, a tool call as last turn, and one ("absent") that
    the tests leave out of the delta. Turns span several 1m buckets."""
    from features_engineering_of_motion_data_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [  # (conv_id, turn_idx, role, text, tool, seconds after t0)
        ("one", 0, "user", "hello", None, 10),
        ("text_last", 0, "user", "ab", None, 0),
        ("text_last", 1, "assistant", "abc", None, 70),
        ("text_last", 2, "user", "abcdefg", None, 150),
        ("null_last", 0, "user", "ab", None, 0),
        ("null_last", 1, "assistant", "abcd", None, 65),
        ("null_last", 2, "user", None, None, 200),
        ("tool_last", 0, "user", "abc", None, 5),
        ("tool_last", 1, "assistant", "x", "search", 100),
        ("absent", 0, "user", "abc", None, 0),
        ("absent", 1, "assistant", "abcd", "search", 30),
    ]
    return spark.createDataFrame(
        [(c, i, r, t, tool, t0 + datetime.timedelta(seconds=s))
         for c, i, r, t, tool, s in rows],
        TRANSCRIPT_SCHEMA,
    )
