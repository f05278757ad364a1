"""Full-spectrum periodogram features vs an independent naive-DFT oracle.

FFT floats are algorithm-dependent, so the value gate is rtol 1e-9 against
an O(n²) explicitly-summed DFT written from the definition (genuinely
independent of numpy's FFT); the BITWISE gate is partitioning invariance —
the operator must be a pure function of each group's content.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from features_engineering_of_motion_data_spark.operators.channels import (
    derive_channels,
)
from features_engineering_of_motion_data_spark.operators.spectral import (
    spectral_features,
    spectral_kernel,
)
from features_engineering_of_motion_data_spark.sources.transcripts import (
    read_transcripts,
)


def _naive_dft_features(xs: np.ndarray):
    """Periodogram features from the DFT definition — explicit complex sums,
    no FFT: X_k = Σ_j x_j · e^{-2πi·jk/n}."""
    n = len(xs)
    x = xs.astype(np.float64)
    feats = []
    for k in range(1, n // 2 + 1):
        ang = -2.0 * math.pi * k * np.arange(n) / n
        re = float(np.dot(x, np.cos(ang)))
        im = float(np.dot(x, np.sin(ang)))
        feats.append((re * re + im * im) / n)
    psd = np.array(feats)
    if len(psd) == 0 or psd.sum() == 0:
        return 0.0, 0.0, 0, 0.0, 0.0
    total = float(psd.sum())
    k = int(np.argmax(psd))
    p = psd / total
    nz = p[p > 0]
    entropy = float(-np.sum(nz * np.log(nz)))
    centroid = float(np.sum(np.arange(1, len(psd) + 1) * p))
    return total, entropy, k + 1, float(psd[k]), centroid


def test_kernel_matches_naive_dft():
    rng = np.random.default_rng(7)
    for n in (1, 2, 3, 8, 13, 64, 257):
        xs = rng.integers(-5000, 5000, size=n).astype(np.int64)
        got = spectral_kernel(xs)
        want = _naive_dft_features(xs)
        assert got[2] == want[2], f"n={n}: dominant bin {got[2]} vs {want[2]}"
        for g, w, name in zip(
            (got[0], got[1], got[3], got[4]),
            (want[0], want[1], want[3], want[4]),
            ("energy", "entropy", "power", "centroid"),
        ):
            assert g == pytest.approx(w, rel=1e-9, abs=1e-9), f"n={n} {name}"


def test_kernel_edge_cases():
    # constant signal → zero non-DC energy by the documented convention
    assert spectral_kernel(np.full(16, 42, dtype=np.int64)) == (0.0, 0.0, 0, 0.0, 0.0)
    # pure alternating signal → all power in the Nyquist bin
    xs = np.tile([100, -100], 8).astype(np.int64)
    energy, entropy, k, power, centroid = spectral_kernel(xs)
    assert k == 8 and entropy == pytest.approx(0.0, abs=1e-12)
    assert power == pytest.approx(energy)
    assert centroid == pytest.approx(8.0)


def test_spectral_operator_matches_kernel_and_is_partition_invariant(
    spark, tiny_path
):
    channels = derive_channels(read_transcripts(spark, tiny_path))
    out = spectral_features(channels).toPandas()
    assert len(out) > 0

    # independent recomputation per group from the collected channel frame
    pdf = channels.select("conv_id", "channel", "turn_idx", "x").toPandas()
    for (conv, chan), g in pdf.groupby(["conv_id", "channel"]):
        xs = g.sort_values("turn_idx", kind="mergesort")["x"].to_numpy(np.int64)
        want = spectral_kernel(xs)
        row = out[(out.conv_id == conv) & (out.channel == chan)]
        assert len(row) == 1
        got = (
            float(row.spectral_energy.iloc[0]),
            float(row.spectral_entropy.iloc[0]),
            int(row.dominant_k.iloc[0]),
            float(row.dominant_power.iloc[0]),
            float(row.spectral_centroid.iloc[0]),
        )
        assert got == want, f"{conv}/{chan}"  # bitwise: same kernel, sorted input

    # partitioning invariance, bitwise
    out2 = (
        spectral_features(channels.repartition(13))
        .toPandas()
        .sort_values(["conv_id", "channel"], kind="mergesort")
        .reset_index(drop=True)
    )
    out1 = out.sort_values(["conv_id", "channel"], kind="mergesort").reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(out1, out2)
