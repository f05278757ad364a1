"""Inputs, operations and output checks of the three benchmark workloads.

Every workload drives a shipped job in-process through its public
``run(parse_args([...]))`` and checks the files the job wrote against
``oracle/features.py`` (an engine-independent numpy oracle) outside the timed
span.  Inputs come from ``fixtures.generate_transcripts(preset, seed)`` and
are written as several parquet files with pinned mtimes, so one seed always
gives the same bytes and the same snapshot ids.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracle.features as orc
from features_engineering_of_motion_data_spark.fixtures import generate_transcripts
from features_engineering_of_motion_data_spark.sources.checkpoints import load_manifest
from jobs import features as features_job
from jobs import rollup as rollup_job

TIERS = ("1m", "1h", "1d")
#: ranges of the rollup job. At the small preset, 4 ranges keep the split the
#: 16-range default has at the 2M-turn bench preset: a fifth to a quarter of
#: the wall in the stage, most of the rest in the serial range loop
NUM_PARTS = "4"
INPUT_FILES = 8
DELTA_FILES = 2
#: refresh: set-up rolls up each conversation's first BASE_FRAC of turns;
#: every operation appends the turns up to DELTA_FRAC
BASE_FRAC, DELTA_FRAC = 0.97, 0.98
#: mtime given to every input file (2024-01-01T00:00:00Z): the snapshot id
#: hashes (path, size, mtime), so pinning it makes ids repeat across runs
PINNED_MTIME = 1_704_067_200

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
INT_COLS = ["n", "s1", "min_raw", "max_raw", "zc", "first_ts_us", "last_ts_us",
            "first_val", "last_val", "f_zero_crossings"]
FLOAT_COLS = ["f_mean", "f_std", "f_rms", "f_min", "f_max", "f_energy"]
KEYS = ["conv_id", "channel", "bucket_us"]


class CheckFailed(Exception):
    """An operation's output differs from the oracle."""


def write_parquet_files(df: pd.DataFrame, dest: str, n_files: int, prefix: str) -> list[str]:
    """Write ``df`` as ``n_files`` row slices with pinned mtimes."""
    os.makedirs(dest, exist_ok=True)
    table = pa.Table.from_pandas(
        df.assign(ts=df["ts"].astype("datetime64[us]")), schema=SCHEMA, preserve_index=False
    )
    step = -(-len(df) // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(dest, f"{prefix}-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        os.utime(p, (PINNED_MTIME, PINNED_MTIME))
        paths.append(p)
    return paths


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def _sorted_oracle(tiers: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    return {
        t: df.sort_values(KEYS, kind="mergesort").reset_index(drop=True)
        for t, df in tiers.items()
    }


def _read_output(path: str, keys: list[str]) -> pd.DataFrame:
    """An output dir as pandas, ``bucket_start`` as epoch µs in ``bucket_us``."""
    table = pq.read_table(path)
    df = table.drop_columns(["bucket_start"]).to_pandas()
    df["bucket_us"] = table.column("bucket_start").cast(pa.int64()).to_numpy()
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def check_tiers(output: str, want: dict[str, pd.DataFrame]) -> int:
    """Compare every tier dir under ``output`` with the oracle, bit for bit.
    Returns the number of points on disk."""
    points = 0
    for tier, exp in want.items():
        got = _read_output(os.path.join(output, f"tier={tier}"), KEYS)
        if len(got) != len(exp):
            raise CheckFailed(f"tier {tier}: {len(got)} rows, oracle has {len(exp)}")
        for c in KEYS + INT_COLS:
            if not np.array_equal(got[c].to_numpy(), exp[c].to_numpy().astype(got[c].dtype)):
                raise CheckFailed(f"tier {tier}: column {c} differs from the oracle")
        if [int(v) for v in got["s2"]] != [int(v) for v in exp["s2"]]:
            raise CheckFailed(f"tier {tier}: column s2 differs from the oracle")
        for c in FLOAT_COLS:
            if not np.array_equal(got[c].to_numpy(), exp[c].to_numpy()):
                raise CheckFailed(f"tier {tier}: column {c} differs bitwise from the oracle")
        points += len(got)
    return points


def wide_oracle(long: pd.DataFrame) -> pd.DataFrame:
    """Pivot the oracle's long tier table to the matrix layout
    ``(conv_id, bucket_us) x {channel}__{feature}``, as float64."""
    from features_engineering_of_motion_data_spark.operators.matrix import (
        FEATURES,
        matrix_columns,
    )

    wide = long.pivot(index=["conv_id", "bucket_us"], columns="channel", values=list(FEATURES))
    wide.columns = [f"{ch}__{f}" for f, ch in wide.columns]
    wide = wide.reindex(columns=matrix_columns()).astype("float64").reset_index()
    return wide.sort_values(["conv_id", "bucket_us"], kind="mergesort").reset_index(drop=True)


def check_matrix(path: str, want: pd.DataFrame) -> int:
    got = _read_output(path, ["conv_id", "bucket_us"])
    if len(got) != len(want):
        raise CheckFailed(f"matrix: {len(got)} rows, oracle has {len(want)}")
    for c in want.columns:
        a = got[c].to_numpy() if c in ("conv_id", "bucket_us") else got[c].to_numpy("float64", na_value=np.nan)
        if not np.array_equal(a, want[c].to_numpy(), equal_nan=c not in ("conv_id", "bucket_us")):
            raise CheckFailed(f"matrix: column {c} differs from the oracle")
    return len(got)


def _rollup(inp: str, out: str, *extra: str) -> int:
    return rollup_job.run(rollup_job.parse_args(
        ["--input", inp, "--output", out, "--tiers", ",".join(TIERS), "--num-parts", NUM_PARTS,
         *extra]
    ))


class Workload:
    """One benchmark workload: ``setup`` once, then per operation
    ``prepare`` (untimed), ``op`` (timed) and ``check`` (untimed)."""

    name = ""

    def __init__(self, work: str, preset: str, seed: int):
        self.work = work
        self.preset = preset
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.output = os.path.join(work, "output")

    def make_inputs(self) -> dict:
        """Generate the corpus, write it and compute the oracle. Returns the
        corpus size for the run context."""
        df = generate_transcripts(self.preset, self.seed)
        shutil.rmtree(self.input, ignore_errors=True)
        self._write_inputs(df)
        return {
            "turns": int(len(df)),
            "conversations": int(df["conv_id"].nunique()),
            "files": len(os.listdir(self.input)),
            "bytes": dir_bytes(self.input),
        }

    def _write_inputs(self, df: pd.DataFrame) -> None:
        write_parquet_files(df, self.input, INPUT_FILES, "turns")
        self.want = self.oracle(df)

    def oracle(self, df: pd.DataFrame):
        """What a correct operation writes, from the oracle."""
        return _sorted_oracle(orc.all_tiers(df))

    def setup(self, spark) -> None:
        """Workload state beyond the inputs (nothing by default)."""

    def prepare(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)

    def op(self) -> int:
        raise NotImplementedError

    def check(self) -> int:
        """Raise CheckFailed on a wrong output; return the points written."""
        raise NotImplementedError

    def corrupt(self) -> None:
        """Self-test hook: damage one output file so ``check`` must fail."""
        for root, _dirs, files in os.walk(self.output):
            for f in sorted(files):
                if f.endswith(".parquet") and "tier=" in root:
                    with open(os.path.join(root, f), "r+b") as fh:
                        fh.truncate(16)
                    return


class Backfill(Workload):
    name = "backfill"

    def op(self) -> int:
        return _rollup(self.input, self.output)

    def check(self) -> int:
        return check_tiers(self.output, self.want)


class Refresh(Workload):
    """Base rollup of each conversation's first 97% of turns during set-up;
    every operation restores that base, appends the next 1% of every
    conversation as new files and runs ``--incremental``."""

    name = "refresh"

    def _write_inputs(self, df: pd.DataFrame) -> None:
        last = df.groupby("conv_id")["turn_idx"].transform("max") + 1
        base = df["turn_idx"] < np.floor(last * BASE_FRAC)
        grown = df["turn_idx"] < np.floor(last * DELTA_FRAC)
        write_parquet_files(df[base], self.input, INPUT_FILES, "turns")
        self.delta_src = os.path.join(self.work, "delta")
        shutil.rmtree(self.delta_src, ignore_errors=True)
        self.delta_files = write_parquet_files(df[grown & ~base], self.delta_src, DELTA_FILES, "delta")
        self.delta_turns = int((grown & ~base).sum())
        self.want = self.oracle(df[grown])

    def setup(self, spark) -> None:
        self.base_output = os.path.join(self.work, "base_output")
        shutil.rmtree(self.base_output, ignore_errors=True)
        rc = _rollup(self.input, self.base_output)
        if rc != 0:
            raise RuntimeError(f"base rollup returned {rc}")

    def prepare(self) -> None:
        shutil.rmtree(self.output, ignore_errors=True)
        shutil.copytree(self.base_output, self.output)
        for src in self.delta_files:
            dst = os.path.join(self.input, os.path.basename(src))
            shutil.copyfile(src, dst)
            os.utime(dst, (PINNED_MTIME, PINNED_MTIME))

    def op(self) -> int:
        return _rollup(self.input, self.output, "--incremental")

    def snapshot_id(self) -> str:
        with open(os.path.join(self.output, "_input_manifest.json"), encoding="utf-8") as f:
            return json.load(f)["snapshot_id"]

    def check(self) -> int:
        check_tiers(self.output, self.want)
        # points written by this refresh: its own lineage records, which the
        # full-output check above has just vouched for
        snap = self.snapshot_id()
        recs = load_manifest(os.path.join(self.output, "_ckpt.jsonl"))
        mine = [r for r in recs if r["snapshot_id"] == snap]
        if sum(r["rows_in"] for r in mine) != self.delta_turns:
            raise CheckFailed("refresh lineage does not account for every appended turn")
        return sum(sum(r["points_out"].values()) for r in mine)


class Matrix(Workload):
    name = "matrix"
    tier = "1h"

    def oracle(self, df: pd.DataFrame):
        return wide_oracle(orc.tier_features(orc.derive_channels(orc.dedup(df)), self.tier))

    def op(self) -> int:
        return features_job.run(features_job.parse_args(
            ["--input", self.input, "--output", self.output, "--tier", self.tier]
        ))

    def check(self) -> int:
        return check_matrix(os.path.join(self.output, f"tier={self.tier}"), self.want)


WORKLOADS = {w.name: w for w in (Backfill, Refresh, Matrix)}
