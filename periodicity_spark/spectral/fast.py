"""Per-series O(N log N) GLS path (Press & Rybicki 1989 FFT extirpolation),
plus the engine-level strategy pick between it and the distributed exact
path — mirroring the reference's own algorithmic choice (its _trig_sum,
spectral.py:11-40, implements the same published algorithm; this is an
independent implementation from the paper / Numerical Recipes description).

When to use which (gls_auto): the distributed path costs O(N·F) work spread
over the cluster with everything in codegen; the fast path costs
O((N+F)·log) per series but runs in Python per series. Dense grids on long
single series → fast path; many short series (the 100 TB sharded case) →
distributed path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.session import ensure_worker_imports, prune_zip_importers
from periodicity_spark.spectral.gls import gls_periodogram


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
    """Per-series GLS power via extirpolated trig sums (Zechmeister-Kürster
    finish identical to the distributed path)."""
    t = np.asarray(t, float)
    y = np.asarray(y, float)
    w = np.ones(len(y)) if err is None else np.asarray(err, float) ** -2.0
    w = w / w.sum()
    ybar = np.dot(w, y) if fit_mean else 0.0
    yc = y - ybar
    yy = np.dot(w, yc**2)
    Sh, Ch = trig_sums_fast(t, w * yc, df, nf, fmin)
    S2, C2 = trig_sums_fast(t, w, 2 * df, nf, 2 * fmin)
    if fit_mean:
        S, C = trig_sums_fast(t, w, df, nf, fmin)
        tan2wt = (S2 - 2 * S * C) / (C2 - (C * C - S * S))
    else:
        S = C = 0.0
        tan2wt = S2 / C2
    C2w = 1 / np.sqrt(1 + tan2wt**2)
    S2w = tan2wt * C2w
    Cw = np.sqrt(0.5) * np.sqrt(1 + C2w)
    Sw = np.sqrt(0.5) * np.sign(S2w) * np.sqrt(1 - C2w)
    YC = Ch * Cw + Sh * Sw
    YS = Sh * Cw - Ch * Sw
    CC = 0.5 * (1 + C2 * C2w + S2 * S2w)
    SS = 0.5 * (1 - C2 * C2w - S2 * S2w)
    if fit_mean:
        CC = CC - (C * Cw + S * Sw) ** 2
        SS = SS - (S * Cw - C * Sw) ** 2
    return (YC * YC / CC + YS * YS / SS) / yy


def gls_periodogram_fast(
    ts: DataFrame, fmin: float, df: float, nf: int, fit_mean: bool = True,
    min_count: int = 3, grid_chunks: int = 1,
) -> DataFrame:
    """Per-series Arrow UDF around gls_power_fast → pg rows. Series with
    fewer than ``min_count`` samples are dropped (same contract as
    gls_periodogram's min_count).

    ``grid_chunks`` > 1 shards the frequency grid: the samples are
    replicated to (series, chunk) groups and each task extirpolates only its
    sub-grid, so ONE giant series parallelizes across the cluster instead of
    serializing in a single Python task. The trade is grid_chunks× shuffle
    volume of the sample set for grid_chunks× wall-clock parallelism — the
    right trade when the series is the long axis (the single-10⁸-point-series
    case PLANS.md flags). Chunk trig sums are exact per sub-grid; only the
    extirpolation mesh differs, so sharded output matches unsharded to the
    extirpolation tolerance (~1e-5)."""
    ensure_worker_imports(ts.sparkSession)
    fm, d, n, fmean = float(fmin), float(df), int(nf), fit_mean
    mc = max(int(min_count), 3)
    nc = max(int(grid_chunks), 1)
    csize = -(-n // nc)  # ceil

    def _per_group(pdf):
        prune_zip_importers()
        import pandas as pd
        from periodicity_spark.spectral.fast import gls_power_fast as gpf

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        if len(y) < mc:
            return pd.DataFrame(columns=["series_id", "frequency", "power"])
        c = int(pdf["_chunk"].iloc[0]) if "_chunk" in pdf else 0
        j0 = c * csize
        nf_c = min(csize, n - j0)
        power = gpf(t, y, fm + d * j0, d, nf_c, fit_mean=fmean)
        import numpy as np

        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "frequency": fm + d * (j0 + np.arange(nf_c)),
                "power": power,
            }
        )

    src = ts.filter(F.col("value").isNotNull())
    if nc == 1:
        # bucketed grouping amortizes per-series Arrow overhead over many
        # small series; the giant-series case is what grid_chunks is for
        from periodicity_spark.session import grouped_apply

        return grouped_apply(
            src, _per_group, "series_id string, frequency double, power double"
        )
    chunks = ts.sparkSession.range(nc).select(F.col("id").cast("int").alias("_chunk"))
    return (
        src.crossJoin(F.broadcast(chunks))
        .groupBy("series_id", "_chunk")
        .applyInPandas(_per_group, "series_id string, frequency double, power double")
    )


def gls_auto(
    ts: DataFrame,
    fmin: float,
    df: float,
    nf: int,
    fit_mean: bool = True,
    avg_points_threshold: int = 4096,
    target_tasks: int | None = None,
) -> DataFrame:
    """Strategy pick (the engine-level analog of the reference's conv-vs-FFT
    choice, timefrequency.py:212-218): long series × dense grid → per-series
    O(N log N) UDF; many short series → distributed O(N·F) codegen path.
    On the fast path, when there are fewer series than would fill the
    cluster, the frequency grid is sharded (grid_chunks) so even a single
    series fans out across tasks.

    ``target_tasks`` pins the fan-out explicitly; the default (None) derives
    it from the session's defaultParallelism, which is environment-dependent
    BY DESIGN — chunking changes the task layout only, never the values
    (each grid chunk is an independent exact computation), so the same query
    returns identical numbers on a laptop and a 1000-executor cluster. Pin
    it when reproducible STAGE GRAPHS (e.g. plan-diffing across machines)
    matter."""
    stats = ts.groupBy("series_id").agg(F.count("value").alias("n")).agg(
        F.avg("n").alias("avg_n"),
        F.max("n").alias("max_n"),
        F.count(F.lit(1)).alias("n_series"),
    ).collect()[0]
    avg_n = stats["avg_n"] or 0
    max_n = stats["max_n"] or 0
    n_series = stats["n_series"] or 0
    if avg_n * nf > avg_points_threshold * 64 and avg_n > avg_points_threshold:
        if target_tasks is None:
            target_tasks = ts.sparkSession.sparkContext.defaultParallelism * 2
        want = -(-target_tasks // max(n_series, 1))  # ceil
        chunks = max(1, min(want, 32, nf // 256))
        return gls_periodogram_fast(ts, fmin, df, nf, fit_mean, grid_chunks=chunks)
    from periodicity_spark.spectral.gls import gls_arrow, uniform_freq_grid

    grid = uniform_freq_grid(ts.sparkSession, fmin, df, nf)
    # many-short-series regime on a global grid: the per-series Arrow
    # kernel is the exact strategy of choice (differential ≤5e-11 vs the
    # crossJoin aggregate, measured ~40% faster at sf0.1 — see
    # gls_arrow's docstring). Its per-task memory is TWO F×N float64 trig
    # matrices for the WORST series, so the route is gated on max_n (not
    # avg_n — one giant series hiding among short ones must not OOM a
    # worker) × nf staying under ~16M cells (~256 MB); beyond that the
    # streaming crossJoin aggregate computes the same numbers in bounded
    # memory
    if max_n * nf <= 16_000_000:
        return gls_arrow(ts, grid, fit_mean=fit_mean)
    return gls_periodogram(ts, freq_grid=grid, fit_mean=fit_mean)
