"""Per-series O(N log N) GLS path (Press & Rybicki 1989 FFT extirpolation),
the reference's own algorithm for dense grids (its _trig_sum,
spectral.py:11-40, implements the same published algorithm; this is an
independent implementation from the paper / Numerical Recipes description).

One plan: ``gls_periodogram_fast`` is one ``grouped_apply`` stage, each
series extirpolated whole in one Python task. It costs O((N+F)·log) per
series against the distributed exact path's O(N·F) codegen work
(spectral.gls); the caller picks the algorithm, the engine does not.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.session import grouped_apply, prune_zip_importers
from periodicity_spark.spectral.gls import gls_power_np


def _spread_extirpolate(t: np.ndarray, w: np.ndarray, nfft: int, df: float, fmin: float):
    """Scatter weighted samples onto a 2^k regular grid with 4-point Lagrange
    extirpolation; returns the complex grid whose IFFT gives the trig sums
    S_j = Σ wᵢ sin(2π f_j tᵢ), C_j = Σ wᵢ cos(2π f_j tᵢ) for f_j = fmin + j·df.
    """
    tmin = t.min()
    # fold the fmin offset into the weights as a phase rotation
    cw = w * np.exp(2j * np.pi * fmin * (t - tmin))
    # fractional grid positions (periodic in nfft)
    pos = ((t - tmin) * nfft * df) % nfft
    grid = np.zeros(nfft, dtype=complex)
    exact = pos == np.floor(pos)
    np.add.at(grid, pos[exact].astype(int) % nfft, cw[exact])
    pos_f = pos[~exact]
    cw_f = cw[~exact]
    if len(pos_f):
        base = np.clip(np.floor(pos_f).astype(int) - 1, 0, nfft - 4)
        # 4-point Lagrange basis at offsets 0..3 around each sample
        for k in range(4):
            idx = base + k
            num = np.ones(len(pos_f))
            den = 1.0
            for m in range(4):
                if m == k:
                    continue
                num *= pos_f - (base + m)
                den *= k - m
            np.add.at(grid, idx % nfft, cw_f * num / den)
    fft = np.fft.ifft(grid) * nfft
    return fft, tmin


def trig_sums_fast(t, w, df, nf, fmin, oversample=16):
    """→ (S, C) arrays over the nf-point grid.

    ``oversample`` sets the extirpolation grid density; 4-point Lagrange
    error falls as h⁴, so each doubling of the grid cuts the power error
    ~16× (measured: 3.6e-4 at nfft=1024 → 1.7e-6 at 4096 on a 130-sample
    year-baseline series). 16 keeps max power error ≲1e-4 at the cost of a
    2^k grid ≈ 16·nf complex doubles per series."""
    nfft = 1 << int(max(nf * oversample, 16) - 1).bit_length()
    fft, tmin = _spread_extirpolate(np.asarray(t, float), np.asarray(w, float), nfft, df, fmin)
    vals = fft[:nf]
    if tmin != 0:
        freqs = fmin + df * np.arange(nf)
        vals = vals * np.exp(2j * np.pi * tmin * freqs)
    return vals.imag, vals.real


def gls_power_fast(t, y, fmin, df, nf, fit_mean=True, err=None):
    """Per-series GLS power via extirpolated trig sums and the shared
    Zechmeister-Kürster finish (gls.gls_power_np)."""
    t = np.asarray(t, float)
    y = np.asarray(y, float)
    w = np.ones(len(y)) if err is None else np.asarray(err, float) ** -2.0
    w = w / w.sum()
    ybar = np.dot(w, y) if fit_mean else 0.0
    yc = y - ybar
    yy = np.dot(w, yc**2)
    Sh, Ch = trig_sums_fast(t, w * yc, df, nf, fmin)
    S2, C2 = trig_sums_fast(t, w, 2 * df, nf, 2 * fmin)
    S, C = trig_sums_fast(t, w, df, nf, fmin) if fit_mean else (None, None)
    return gls_power_np(S, C, S2, C2, Sh, Ch, fit_mean) / yy


def gls_periodogram_fast(
    ts: DataFrame, fmin: float, df: float, nf: int, fit_mean: bool = True,
    min_count: int = 3,
) -> DataFrame:
    """Per-series Arrow UDF around gls_power_fast → pg rows. Series with
    fewer than ``min_count`` samples are dropped (same contract as
    gls_periodogram's min_count)."""
    fm, d, n, fmean = float(fmin), float(df), int(nf), fit_mean
    mc = max(int(min_count), 3)

    def _per_group(pdf):
        prune_zip_importers()
        import numpy as np
        import pandas as pd
        from periodicity_spark.spectral.fast import gls_power_fast as gpf

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        if len(y) < mc:
            return pd.DataFrame(columns=["series_id", "frequency", "power"])
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "frequency": fm + d * np.arange(n),
                "power": gpf(t, y, fm, d, n, fit_mean=fmean),
            }
        )

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_group,
        "series_id string, frequency double, power double",
    )
