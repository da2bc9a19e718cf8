"""Ports of reference tests/test_spectral.py to the Spark engine."""

import numpy as np
import pytest

from periodicity_spark.sources.synthetic import constant, sine
from periodicity_spark.spectral.gls import GLS, default_freq_grid, gls_periodogram
from periodicity_spark.spectral.periodogram_ops import period_at_highest_peak


def test_gls_default_frequency_grid(spark):
    # reference tests/test_spectral.py:7-24: 26 samples, dt=0.1, baseline 2.5
    ts = constant(spark, n=26, dt=0.1)
    grid = default_freq_grid(ts, n=1.0).orderBy("frequency").collect()
    freq = np.array([r["frequency"] for r in grid])
    f0 = 1 / 2.5
    fs = 10.0
    assert sorted(freq) == list(freq)
    assert freq[0] == f0 / 2
    assert np.round(freq[-1], 6) == fs / 2
    assert np.max(np.abs(np.diff(freq) - f0)) < 1e-10


def test_can_find_periods(spark):
    # reference tests/test_spectral.py:27-31: sin(2π·t/10), t=0..99 → 10.0
    s = sine(spark, n=100, period=10.0)
    pg = gls_periodogram(s)
    row = period_at_highest_peak(pg).collect()[0]
    assert row["period"] == pytest.approx(10.0, abs=1e-9)


def test_gls_matches_numpy_oracle(spark):
    """Differential test: distributed GLS power vs a literal NumPy
    transliteration of reference spectral.py:99-132 (O(N·F) direct sums)."""
    rng = np.random.default_rng(42)
    n = 80
    t = np.sort(rng.uniform(0, 50, n))
    y = np.sin(2 * np.pi * t / 7.0) + 0.3 * rng.standard_normal(n)

    import pandas as pd

    ts = spark.createDataFrame(
        pd.DataFrame({"series_id": "s", "time": t, "value": y})
    )
    fmin, df_, nf = 0.01, 0.002, 120
    freqs = fmin + df_ * np.arange(nf)
    grid = spark.createDataFrame(pd.DataFrame({"frequency": freqs}))
    got = (
        gls_periodogram(ts, freq_grid=grid)
        .orderBy("frequency")
        .toPandas()["power"]
        .to_numpy()
    )

    # NumPy oracle — direct O(N·F) Zechmeister-Kürster sums
    w = np.ones(n) / n
    yc = y - np.dot(w, y)
    YY = np.dot(w, yc**2)
    power = np.empty(nf)
    for j, f in enumerate(freqs):
        th = 2 * np.pi * f * t
        S, C = np.dot(w, np.sin(th)), np.dot(w, np.cos(th))
        S2, C2 = np.dot(w, np.sin(2 * th)), np.dot(w, np.cos(2 * th))
        Sh, Ch = np.dot(w * yc, np.sin(th)), np.dot(w * yc, np.cos(th))
        tan2wt = (S2 - 2 * S * C) / (C2 - (C * C - S * S))
        C2w = 1 / np.sqrt(1 + tan2wt**2)
        S2w = tan2wt * C2w
        Cw = np.sqrt(0.5) * np.sqrt(1 + C2w)
        Sw = np.sqrt(0.5) * np.sign(S2w) * np.sqrt(1 - C2w)
        YC = Ch * Cw + Sh * Sw
        YS = Sh * Cw - Ch * Sw
        CC = 0.5 * (1 + C2 * C2w + S2 * S2w) - (C * Cw + S * Sw) ** 2
        SS = 0.5 * (1 - C2 * C2w - S2 * S2w) - (S * Cw - C * Sw) ** 2
        power[j] = (YC * YC / CC + YS * YS / SS) / YY
    assert np.allclose(got, power, rtol=1e-9, atol=1e-12)


def test_gls_psd_and_window(spark):
    s = sine(spark, n=64, period=8.0)
    gls = GLS(fmin=0.02, fmax=0.45, n=5.0)
    pg = gls(s).collect()
    assert len(pg) > 10
    win = gls.window(s)
    assert win.count() == len(pg)


def test_gls_rejects_lone_or_inverted_bounds():
    """An explicit grid needs both bounds in order: a lone fmin or fmax
    would silently fall back to the per-series default grid, and
    fmin > fmax would build an empty one."""
    for kw in ({"fmin": 0.1}, {"fmax": 0.4}, {"fmin": 0.5, "fmax": 0.1}):
        with pytest.raises(ValueError):
            GLS(**kw)
    GLS(fmin=0.1, fmax=0.1)
    GLS()


def test_gls_degenerate_series_yield_null_not_crash(spark):
    """A constant-value series has YY = 0; under Spark 4 ANSI mode a plain
    division would raise DIVIDE_BY_ZERO at collect. The reference's numpy
    gives 0/0 -> NaN (spectral.py:113-132 with nan-propagation); this
    engine's convention is NaN->NULL, so power must come back NULL."""
    from pyspark.sql import functions as F

    from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid

    const = spark.createDataFrame(
        [("s", float(i), 5.0) for i in range(30)], ["series_id", "time", "value"]
    )
    grid = uniform_freq_grid(spark, 0.05, 0.015625, 16)
    out = gls_periodogram(const, freq_grid=grid).collect()  # must not raise
    assert len(out) == 16
    assert all(r["power"] is None for r in out)

    # mixed with a healthy series: the healthy one is unaffected
    import math

    healthy = spark.createDataFrame(
        [("h", float(i), math.sin(0.5 * i)) for i in range(30)],
        ["series_id", "time", "value"],
    )
    both = gls_periodogram(const.union(healthy), freq_grid=grid)
    h = both.filter(F.col("series_id") == "h").collect()
    assert len(h) == 16 and all(r["power"] is not None for r in h)
