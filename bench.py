#!/usr/bin/env python
"""Benchmark harness (BASELINE.md M7; driver contract).

Measures the engine's headline workload — rolled-up feature points/sec per
retention tier on the deterministic bench-scale synthetic transcripts
(~2M turns, incl. one 100k-turn hot conversation) — plus representative
fixture queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {...per-stage sec...}, "sf": ..., "points_per_sec": {...},
   "feature_points": {...}, "cpus": N}

Stage timings are min-of-N with the stages interleaved across rounds
(SPARK_GRAFT_BENCH_REPS, default 3): this host shows 10×+ minute-scale
throttling windows, so a single sample can land entirely inside one (the
round-1 rollup_1h 40.7 s anomaly); interleaving makes drift hit all stages
equally and the min approximates the unthrottled time.

Scaling-efficiency evidence (N vs 4N cores) is produced separately by
BENCH/run_scaling.py, which runs the cascade in fresh taskset-pinned child
JVMs per core count (it does not call this file).

The run is quiet-window GATED (round-4 verdict item 2): before anything
starts, the engine-free register-only control (BENCH/freq_control.py) is
sampled against its recorded quiet-window best, and the bench waits (bounded)
for >=90 % host speed; the pre/post control readings are embedded in the
output JSON (``freq_control_ops_per_core``) so the artifact carries its own
host-speed evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark import StorageLevel
from pyspark.sql import functions as F

from features_engineering_of_motion_data_spark.fixtures import (
    ensure_transcripts_parquet,
)
from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.features import (
    aggregate_tier,
    finalize_features,
)
from features_engineering_of_motion_data_spark.operators.rollup import rollup_merge
from features_engineering_of_motion_data_spark.session import get_spark
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the cores this process may run on, as perfbench counts them; a larger
# local[N] only oversubscribes them
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
SCALE = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "bench")
BENCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")


def _force(df) -> int:
    """Action that runs the full plan and returns the row count."""
    return df.select(F.count(F.lit(1)).alias("n")).collect()[0]["n"]


def _freq_gate() -> dict:
    """Quiet-window gate (round-4 verdict item 2): the committed bench
    artifact must carry its own host-speed evidence, not rely on after-the-
    fact attribution.  Samples the engine-free register-only control
    (BENCH/freq_control.py's pinned worker) and, if the host is running
    below 90 % of its recorded quiet-window best, waits — bounded by
    SPARK_GRAFT_BENCH_QUIET_TIMEOUT (default 900 s) — for a quiet window
    before letting the bench start.  Returns the control readings so they
    are embedded in the bench JSON itself.
    """
    info: dict = {"quiet_best": None, "pre_samples": [], "pre_ratio": None,
                  "gated": False}
    try:
        sys.path.insert(0, BENCH_DIR)
        from freq_control import measure

        with open(os.path.join(BENCH_DIR, "freq_control.json")) as f:
            bests = json.load(f)["best_ops_per_core"]
        best = float(bests["1"])
    except Exception as e:  # no control record yet — run ungated, say so
        info["error"] = f"{type(e).__name__}: {e}"
        return info
    info["quiet_best"] = round(best)
    timeout = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_TIMEOUT", "900"))
    t0 = time.time()
    while True:
        r = measure(1, 3.0)
        info["pre_samples"].append(round(r))
        info["pre_ratio"] = round(r / best, 3)
        if r >= 0.9 * best:
            info["gated"] = True
            break
        if time.time() - t0 > timeout:
            break  # proceed anyway; the artifact shows the ratio
        time.sleep(30)
    # All-core reading: the bench runs local[CPUS], whose speed is set by the
    # ALL-core clock, not the 1-core turbo the gate above samples — on this
    # host the two diverge (r4: 1-core control 0.94+ of quiet best while
    # local[32] walls ran 1.3x r3's). One K=CPUS sample, ratioed against its
    # own recorded quiet best when present, makes that divergence visible
    # inside the artifact instead of needing after-the-fact attribution.
    try:
        k = min(CPUS, os.cpu_count() or CPUS)
        r = measure(k, 3.0)
        info["pre_allcore"] = {"k": k, "ops_per_core": round(r)}
        if str(k) in bests:
            info["pre_allcore"]["ratio"] = round(r / float(bests[str(k)]), 3)
    except Exception as e:
        info["pre_allcore_error"] = f"{type(e).__name__}: {e}"
    return info


def _freq_post(info: dict) -> dict:
    """One control sample after the bench: a run bracketed by two >=0.9
    readings is evidenced quiet end-to-end."""
    try:
        from freq_control import measure

        r = measure(1, 3.0)
        info["post_sample"] = round(r)
        if info.get("quiet_best"):
            info["post_ratio"] = round(r / info["quiet_best"], 3)
        pre_all = info.get("pre_allcore")
        if pre_all:
            k = pre_all["k"]
            r = measure(k, 3.0)
            info["post_allcore"] = {"k": k, "ops_per_core": round(r)}
            if "ratio" in pre_all and pre_all["ops_per_core"]:
                best_k = pre_all["ops_per_core"] / pre_all["ratio"]
                info["post_allcore"]["ratio"] = round(r / best_k, 3)
    except Exception as e:
        info["post_error"] = f"{type(e).__name__}: {e}"
    return info


def main() -> None:
    freq = _freq_gate()
    transcripts_path = ensure_transcripts_parquet(SCALE)
    # shuffle_partitions defaults to 4 waves/core (see session.py: measured
    # ~20% CPU cut on the cascade vs the old 1-wave layout)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench")
    timings: dict[str, float] = {}
    points: dict[str, int] = {}

    # --- headline: tier cascade on bench transcripts -------------------------
    turns = read_transcripts(spark, transcripts_path)
    channels = derive_channels(turns)

    # warmup: run the full operator pipeline on a slice so codegen/JIT and
    # parquet footer caching don't pollute the steady-state measurement
    _force(aggregate_tier(derive_channels(turns.limit(100_000)), "1m"))

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for _ in range(reps):
        t0 = time.perf_counter()
        stats_1m = aggregate_tier(channels, "1m").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        points["rollup_1m"] = _force(finalize_features(stats_1m))
        timings["rollup_1m"] = min(
            timings.get("rollup_1m", float("inf")), time.perf_counter() - t0
        )

        t0 = time.perf_counter()
        stats_1h = rollup_merge(stats_1m, "1h").persist(StorageLevel.MEMORY_AND_DISK)
        points["rollup_1h"] = _force(finalize_features(stats_1h))
        timings["rollup_1h"] = min(
            timings.get("rollup_1h", float("inf")), time.perf_counter() - t0
        )

        t0 = time.perf_counter()
        stats_1d = rollup_merge(stats_1h, "1d")
        points["rollup_1d"] = _force(finalize_features(stats_1d))
        timings["rollup_1d"] = min(
            timings.get("rollup_1d", float("inf")), time.perf_counter() - t0
        )

        stats_1m.unpersist()
        stats_1h.unpersist()

        # the model-facing product surface: wide {channel}__{feature} matrix,
        # single-exchange conditional aggregation (operators/matrix.py)
        from features_engineering_of_motion_data_spark.operators.matrix import (
            wide_tier_matrix,
        )

        t0 = time.perf_counter()
        points["feature_matrix_1m"] = _force(wide_tier_matrix(channels, "1m"))
        timings["feature_matrix_1m"] = min(
            timings.get("feature_matrix_1m", float("inf")),
            time.perf_counter() - t0,
        )

    # --- headline at 4x: full staged cascade on the 8.3M-turn corpus ---------
    # The 2M-turn corpus is overhead-bound at 32 cores (~30 ms tasks); the
    # 4x corpus amortizes per-task fixed cost and is the faithful proxy for
    # the 10^12-turn north rule. Same staged shape as jobs/rollup.py and the
    # scaling child: 1m aggregated once and persisted, 1h/1d merged from it.
    if os.environ.get("SPARK_GRAFT_BENCH_4X", "1") != "0":
        turns_4x = read_transcripts(spark, ensure_transcripts_parquet("bench4x"))
        ch_4x = derive_channels(turns_4x)
        for _ in range(max(1, reps - 1)):
            t0 = time.perf_counter()
            s1m = aggregate_tier(ch_4x, "1m").persist(StorageLevel.MEMORY_AND_DISK)
            n = _force(finalize_features(s1m))
            s1h = rollup_merge(s1m, "1h").persist(StorageLevel.MEMORY_AND_DISK)
            n += _force(finalize_features(s1h))
            n += _force(finalize_features(rollup_merge(s1h, "1d")))
            timings["rollup_cascade_4x"] = min(
                timings.get("rollup_cascade_4x", float("inf")),
                time.perf_counter() - t0,
            )
            points["rollup_cascade_4x"] = n
            s1m.unpersist()
            s1h.unpersist()

    # --- incremental refresh (append-only continuous aggregate) --------------
    # setup outside timing: 99/1 split per conv, old finest-tier stats
    # persisted (the state a production deployment already has on disk);
    # timed: delta aggregation + partial merge + full cascade re-derivation.
    from pyspark.sql import Window

    from features_engineering_of_motion_data_spark.operators.incremental import (
        delta_tier_stats,
        merge_partial_stats,
    )
    from features_engineering_of_motion_data_spark.operators.rollup import (
        cascade_from_stats,
    )

    w = Window.partitionBy("conv_id")
    tagged = turns.withColumn(
        "_d", F.col("turn_idx") > (F.max("turn_idx").over(w) * 0.99).cast("int")
    )
    old_1m = aggregate_tier(
        derive_channels(tagged.filter(~F.col("_d")).drop("_d")), "1m"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _force(old_1m)
    delta = tagged.filter(F.col("_d")).drop("_d").persist(StorageLevel.MEMORY_AND_DISK)
    delta_rows = delta.count()
    for _ in range(reps):
        t0 = time.perf_counter()
        merged = merge_partial_stats(
            old_1m, delta_tier_stats(old_1m, delta, "1m")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        inc = cascade_from_stats(merged, ("1m", "1h", "1d"))
        points["refresh_1pct"] = sum(_force(df) for df in inc.values())
        timings["refresh_1pct"] = min(
            timings.get("refresh_1pct", float("inf")), time.perf_counter() - t0
        )
        merged.unpersist()
    points["refresh_1pct_delta_rows"] = delta_rows
    old_1m.unpersist()
    delta.unpersist()

    # --- representative fixture queries at SF_DIR ----------------------------
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = (
        "q01_tier_features_1h",
        "q02_zero_crossings_1d",
        "q06_sessionize",
        "q11_pricing_summary",
        "q25_ngram_jaccard_pairs",
        "q26_ann_cosine_topk",
        "q28_minhash_lsh_pairs",
        "q34_embedding_lsh_pairs",
        "q38_gapfill_linear_1h",
        # round-3 signal analytics: q43 = the exact-integer single-shuffle
        # shape, q47 = the Arrow/pandas-UDF FFT path (the one deliberate
        # Python stage — times the per-group rfft + Arrow transfer)
        "q43_time_weighted_avg_1h",
        "q47_spectral_full",
        # round-4 shape block representatives: q66 = the shared-lag-window +
        # hash-agg shape (AR(2) Yule-Walker), q65 = the two-level
        # (bin -> bucket) aggregation shape
        "q65_histogram_diversity_1h",
        "q66_ar2_yule_walker",
        # detection block representative: q77 = the ordered-prefix +
        # exact-integer argmax selection shape (CUSUM changepoint)
        "q77_cusum_changepoint",
        # round-5 product surfaces: q80 = the wide rolling matrix (tier agg →
        # RANGE rolling merge → conditional-agg transpose, one exchange),
        # q81 = the archive codec round-trip (applyInPandas encode +
        # mapInPandas decode — the Arrow/numpy codec path under load)
        "q80_rolling_wide_matrix_24h",
        "q81_archive_roundtrip_1h",
    )
    # q34 at the PRODUCTION parameterization (cos >= 0.8, 8 bands x 8 bits):
    # the fixture default (cos >= 0.4, 16x4) is banding's worst regime and
    # exists for the correctness contract; this entry measures the
    # selectivity the q34 docstring claims for deployed thresholds. q36 =
    # the IVF ANN scale path.
    from features_engineering_of_motion_data_spark.queries.vector import (
        q34_embedding_lsh_pairs,
        q36_ann_ivf_topk,
    )

    extra = {
        "q34_lsh_pairs_cos08": lambda s, d: q34_embedding_lsh_pairs(
            s, d, threshold=0.8, bands=8, band_bits=8
        ),
        "q36_ann_ivf_topk": q36_ann_ivf_topk,
    }
    # interleaved min-of-3: round 3 recorded a +18% q28 move that round 4
    # needed to re-measure (VERDICT item 7) — a third interleaved rep gives
    # every query one more chance to land in a quiet window on this
    # throttling host, at ~25 s total cost
    for _ in range(3):
        for name in names:
            t0 = time.perf_counter()
            points[name] = _force(qs[name](spark, SF_DIR))
            timings[name] = min(
                timings.get(name, float("inf")), time.perf_counter() - t0
            )
        for name, fn in extra.items():
            t0 = time.perf_counter()
            points[name] = _force(fn(spark, SF_DIR))
            timings[name] = min(
                timings.get(name, float("inf")), time.perf_counter() - t0
            )

    # measured banding selectivity (candidates <= n(n-1)/2), both regimes —
    # the at-scale argument for q34 as a number, not a derivation
    from features_engineering_of_motion_data_spark.queries.vector import (
        _emb,
        _quantized,
        lsh_candidate_pairs,
    )

    e = _quantized(_emb(spark, SF_DIR)).select("vec_id", "q")
    n_vec = e.count()
    lsh_candidates = {
        "n_vectors": n_vec,
        "all_pairs": n_vec * (n_vec - 1) // 2,
        "cand_16x4_fixture": _force(lsh_candidate_pairs(e, 16, 4)),
        "cand_8x8_production": _force(lsh_candidate_pairs(e, 8, 8)),
    }

    total = sum(timings.values())
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_bench_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "bench_scale": SCALE,
        "feature_points": points,
        "lsh_candidates": lsh_candidates,
        # engine-free host-speed control bracketing this run (ops/s/core of
        # BENCH/freq_control.py's register-only loop vs its quiet-window
        # best); pre_ratio/post_ratio ~1.0 = measured in a quiet window
        "freq_control_ops_per_core": _freq_post(freq),
        "points_per_sec": {
            t: round(points[t] / timings[t], 1)
            for t in ("rollup_1m", "rollup_1h", "rollup_1d", "rollup_cascade_4x")
            if t in timings
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
