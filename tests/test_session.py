"""session.get_spark's host-derived defaults and its reuse of a running session."""

from __future__ import annotations

from features_engineering_of_motion_data_spark.session import (
    default_driver_memory,
    get_spark,
)


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_memory(tmp_path):
    """Half of MemTotal in MiB, capped at 16g; 16g when unreadable."""
    assert default_driver_memory(_meminfo(tmp_path, 16_456_384)) == "8035m"
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024 * 1024)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
    (tmp_path / "garbled").write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "16384m"


def test_get_spark_leaves_active_session_untouched(spark):
    """A job calling get_spark() in-process runs on its caller's session as
    configured; the defaults are not re-applied over the caller's settings."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert get_spark().conf.get("spark.sql.shuffle.partitions") == "4"
