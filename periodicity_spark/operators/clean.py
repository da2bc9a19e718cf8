"""Missing-data repair, FIR smoothing, and noise estimation (SURVEY.md §2.5).

All native window expressions. The reference uses scipy/ndimage kernels
(core.py:369-457) — those have exact bounded-window formulations because FIR
kernels are finite.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def _series_w():
    return Window.partitionBy("series_id").orderBy("time")


def ewma(ts: DataFrame, halflife: float = 1.0) -> DataFrame:
    """Exponentially-weighted moving average for IRREGULAR sampling:
    ewma_i = Σ_{t_j ≤ t_i} v_j·e^{−λ(t_i−t_j)} / Σ e^{−λ(t_i−t_j)},
    λ = ln2/halflife — the decay follows elapsed TIME, not sample count
    (pandas ewm(times=...) semantics; the reference's FIR smooth,
    core.py:369-457, assumes a regular grid).

    → (series_id, time, value, ewma).

    Computed with the O(N) recurrence s_i = v_i + e^{−λΔt}·s_{i−1}
    (normalizer likewise) inside a bucketed Arrow kernel — an exact
    algebraic rewrite of the weighted sum. One narrow shuffle on the
    bucket key; cost linear in series length."""
    from periodicity_spark.session import grouped_apply

    lam = math.log(2.0) / float(halflife)

    def _per_series(g):
        import numpy as np

        g = g.sort_values("time")
        t = g["time"].to_numpy(dtype=float)
        v = g["value"].to_numpy(dtype=float)
        out = np.empty(len(v))
        s = 0.0
        n = 0.0
        prev_t = None
        for i in range(len(v)):
            decay = 1.0 if prev_t is None else math.exp(-lam * (t[i] - prev_t))
            s = v[i] + decay * s
            n = 1.0 + decay * n
            out[i] = s / n
            prev_t = t[i]
        g = g[["series_id", "time", "value"]].copy()
        g["ewma"] = out
        return g

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, time double, value double, ewma double",
    )


def interpolate_na(ts: DataFrame, method: str = "linear", **kwargs) -> DataFrame:
    """Fill NULL values (reference interpolate_na, core.py:664-701).

    methods: constant(k=0.0) / ffill / bfill / linear / random(mu, sd, seed).
    'linear' interpolates over the time coordinate and leaves leading/trailing
    NULLs (xarray interpolate_na semantics). 'mirror' (gap-local reflection)
    is sequential index arithmetic → see mirror_fill_udf below.
    """
    v = F.col("value")
    if method == "constant":
        k = float(kwargs.get("k", 0.0))
        return ts.fillna(k, subset=["value"])
    if method == "ffill":
        filled = F.last("value", ignorenulls=True).over(
            _series_w().rowsBetween(Window.unboundedPreceding, 0)
        )
        return ts.withColumn("value", filled)
    if method == "bfill":
        filled = F.first("value", ignorenulls=True).over(
            _series_w().rowsBetween(0, Window.unboundedFollowing)
        )
        return ts.withColumn("value", filled)
    if method == "linear":
        pw = _series_w().rowsBetween(Window.unboundedPreceding, 0)
        nw = _series_w().rowsBetween(0, Window.unboundedFollowing)
        pt = F.last(F.when(v.isNotNull(), F.col("time")), ignorenulls=True).over(pw)
        pv = F.last("value", ignorenulls=True).over(pw)
        nt = F.first(F.when(v.isNotNull(), F.col("time")), ignorenulls=True).over(nw)
        nv = F.first("value", ignorenulls=True).over(nw)
        blend = F.when(v.isNotNull(), v).when(
            pt.isNotNull() & nt.isNotNull(),
            pv + (nv - pv) * (F.col("time") - pt) / (nt - pt),
        )
        return ts.withColumn("value", blend)
    if method == "random":
        mu = kwargs.get("mu")
        sd = kwargs.get("sd")
        seed = kwargs.get("random_seed", 42)
        if mu is None or sd is None:
            raise ValueError("random fill on DataFrames requires explicit mu and sd")
        fill = F.lit(float(mu)) + F.lit(float(sd)) * F.randn(int(seed))
        return ts.withColumn("value", F.coalesce(v, fill))
    raise ValueError(f"unknown method {method!r}")


def _mirror_pad_rows(ts: DataFrame, k: int) -> DataFrame:
    """k mirrored rows each side (ndimage mode='mirror': edge sample not
    duplicated), tagged _pad=1; original rows tagged _pad=0."""
    w = _series_w()
    wn = Window.partitionBy("series_id")
    df = (
        ts.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_t0", F.min("time").over(wn))
        .withColumn("_t1", F.max("time").over(wn))
    )
    left = df.filter((F.col("_rn") >= 2) & (F.col("_rn") <= k + 1)).select(
        "series_id", (2 * F.col("_t0") - F.col("time")).alias("time"), "value", F.lit(1).alias("_pad")
    )
    right = df.filter(
        (F.col("_rn") <= F.col("_n") - 1) & (F.col("_rn") >= F.col("_n") - k)
    ).select(
        "series_id", (2 * F.col("_t1") - F.col("time")).alias("time"), "value", F.lit(1).alias("_pad")
    )
    mid = ts.select("series_id", "time", "value", F.lit(0).alias("_pad"))
    return mid.unionByName(left).unionByName(right)


def convolve(ts: DataFrame, kernel: list[float], mode: str = "mirror") -> DataFrame:
    """FIR filter with edge handling (reference convolve, core.py:442-457,
    ndimage.convolve mode='mirror').

    Native formulation: mirror-pad k rows per side (union of window-derived
    rows), then the dot product is Σⱼ kernel[j]·lead(value, c−j) — one
    WindowExec, no UDF. ndimage.convolve flips the kernel (true convolution);
    we flip here so asymmetric kernels match.
    """
    n = len(kernel)
    c = n // 2
    flipped = list(reversed([float(x) for x in kernel]))
    padded = _mirror_pad_rows(ts, max(c, n - 1 - c))
    w = _series_w()
    expr: Column = F.lit(0.0)
    for j, coef in enumerate(flipped):
        off = j - c
        if off == 0:
            term = F.col("value")
        elif off > 0:
            term = F.lead("value", off).over(w)
        else:
            term = F.lag("value", -off).over(w)
        expr = expr + F.lit(coef) * term
    return (
        padded.withColumn("_sm", expr)
        .filter(F.col("_pad") == 0)
        .select("series_id", "time", F.col("_sm").alias("value"))
    )


def smooth(ts: DataFrame, width: float, kernel: str = "gaussian") -> DataFrame:
    """Low-pass FIR (reference smooth, core.py:401-440):
    gaussian → ndimage.gaussian_filter (σ=width, truncate=4, mode=reflect);
    boxcar → width taps (half-weight edges when width is even);
    triangle → (1..half+1..1)/sum.
    """
    if kernel == "gaussian":
        sigma = float(width)
        radius = int(4.0 * sigma + 0.5)
        xs = [math.exp(-0.5 * (i / sigma) ** 2) for i in range(-radius, radius + 1)]
        s = sum(xs)
        taps = [x / s for x in xs]
        return _convolve_reflect(ts, taps)
    if kernel == "boxcar":
        width = int(width)
        if width % 2 == 0:
            taps = [1.0 / width] * (width + 1)
            taps[0] /= 2
            taps[-1] /= 2
        else:
            taps = [1.0 / width] * width
        return convolve(ts, taps)
    if kernel == "triangle":
        half = int(width // 2)
        ramp = list(range(1, half + 2)) + list(range(half, 0, -1))
        s = float(sum(ramp))
        return convolve(ts, [x / s for x in ramp])
    raise ValueError(f"Kernel type '{kernel}' is unknown.")


def _convolve_reflect(ts: DataFrame, kernel: list[float]) -> DataFrame:
    """Same as convolve() but ndimage mode='reflect' (edge sample duplicated)
    — what gaussian_filter uses. Implemented by clamping out-of-range taps
    onto mirrored in-range rows via reflected padding that includes the edge.
    For simplicity (and since gaussian radii are small), generate k reflect
    rows per side: positions 1..k mirrored to the outside including the edge
    sample."""
    k = len(kernel) // 2
    w = _series_w()
    wn = Window.partitionBy("series_id")
    df = (
        ts.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_t0", F.min("time").over(wn))
        .withColumn("_t1", F.max("time").over(wn))
    )
    # reflect (edge included): row i (1-based) maps to time t0 − (t_i − t0) − eps·i
    # we only need correct ordering + values, the pad rows are dropped after.
    left = df.filter(F.col("_rn") <= k).select(
        "series_id",
        (2 * F.col("_t0") - F.col("time") - (F.col("_t1") - F.col("_t0")) * F.lit(1e-12)).alias("time"),
        "value",
        F.lit(1).alias("_pad"),
    )
    right = df.filter(F.col("_rn") >= F.col("_n") - k + 1).select(
        "series_id",
        (2 * F.col("_t1") - F.col("time") + (F.col("_t1") - F.col("_t0")) * F.lit(1e-12)).alias("time"),
        "value",
        F.lit(1).alias("_pad"),
    )
    mid = ts.select("series_id", "time", "value", F.lit(0).alias("_pad"))
    padded = mid.unionByName(left).unionByName(right)
    flipped = list(reversed(kernel))
    c = len(kernel) // 2
    expr: Column = F.lit(0.0)
    for j, coef in enumerate(flipped):
        off = j - c
        if off == 0:
            term = F.col("value")
        elif off > 0:
            term = F.lead("value", off).over(w)
        else:
            term = F.lag("value", -off).over(w)
        expr = expr + F.lit(coef) * term
    return (
        padded.withColumn("_sm", expr)
        .filter(F.col("_pad") == 0)
        .select("series_id", "time", F.col("_sm").alias("value"))
    )


def rolling_median3_residual(ts: DataFrame) -> DataFrame:
    """value − median_filter(value, 3) (reference estimate_noise first step,
    core.py:384; ndimage mode=reflect ⇒ edges use the duplicated edge sample,
    so edge median = median(x0, x0, x1))."""
    w = _series_w()
    prev = F.coalesce(F.lag("value").over(w), F.col("value"))
    nxt = F.coalesce(F.lead("value").over(w), F.col("value"))
    v = F.col("value")
    med3 = F.greatest(F.least(prev, v), F.least(F.greatest(prev, v), nxt))
    return ts.select("series_id", "time", (v - med3).alias("value"))


def robust_noise_np(v, sigma: float = 3.0, n_iter: int = 3):
    """NumPy kernel of the robust noise estimate: median3-residual (reflect
    edges, NULL neighbors coalesced to the center value, matching the window
    formulation's F.coalesce(F.lag(...), value)) → n_iter k-sigma clip →
    std/0.893421 (reference core.py:369-399). Returns None when the series
    yields no estimate (empty / constant → empty kept set), mirroring the
    distributed twin where the stats aggregate emits no row. Shared by
    estimate_noise_local and the fused wps.denoise kernel — the math lives
    once."""
    import numpy as np

    v = np.asarray(v, dtype=float)
    if len(v) == 0:
        return None
    prev = np.concatenate(([np.nan], v[:-1]))
    nxt = np.concatenate((v[1:], [np.nan]))
    prev = np.where(np.isnan(prev), v, prev)
    nxt = np.where(np.isnan(nxt), v, nxt)
    med3 = np.maximum(np.minimum(prev, v), np.minimum(np.maximum(prev, v), nxt))
    r = v - med3
    r = r[~np.isnan(r)]
    if len(r) == 0:
        return None
    kept = r
    sd = 0.0
    for _ in range(int(n_iter)):
        if len(kept) == 0:
            return None
        mu, sd = float(np.mean(kept)), float(np.std(kept))
        kept = r[np.abs(r - mu) < float(sigma) * sd]
    return sd / 0.893421


def estimate_noise_local(
    ts: DataFrame, sigma: float = 3.0, n_iter: int = 3
) -> DataFrame:
    """Single-pass Arrow twin of estimate_noise: the median3 residual AND the
    whole sigma-clip iteration run per series inside one bucketed kernel
    (grouped_apply), so the operator is ONE scan + one narrow shuffle — no
    driver loop, no residual cache to spill at 100 TB. Same math as the
    distributed version (reference core.py:369-399); differential-tested
    against it. Returns (series_id, noise)."""
    from periodicity_spark.session import grouped_apply

    sg, ni = float(sigma), int(n_iter)

    def _per_series(pdf):
        import pandas as pd

        from periodicity_spark.operators.clean import robust_noise_np

        pdf = pdf.sort_values("time")
        noise = robust_noise_np(pdf["value"].to_numpy(dtype=float), sg, ni)
        if noise is None:
            return None
        return pd.DataFrame(
            {"series_id": [pdf["series_id"].iloc[0]], "noise": [noise]}
        )

    return grouped_apply(ts, _per_series, "series_id string, noise double")


def estimate_noise(ts: DataFrame, sigma: float = 3.0, n_iter: int = 3) -> DataFrame:
    """k-sigma-clipped std of the median-filter residual, ÷0.893421
    (reference core.py:369-399). The clip loop is a driver loop of n_iter
    cheap aggregate jobs over the cached residual — each job is one shuffle.
    Returns (series_id, noise). For the one-pass kernel form (no driver
    loop, no cache) see estimate_noise_local."""
    residue = rolling_median3_residual(ts).withColumnRenamed("value", "_r")
    residue = residue.filter(F.col("_r").isNotNull())
    residue.cache()
    try:
        kept = residue
        stats = None
        for _ in range(n_iter):
            # reference: stats over the kept set, re-clip over the FULL residue
            stats = kept.groupBy("series_id").agg(
                F.avg("_r").alias("_mu"), F.stddev_pop("_r").alias("_sd")
            )
            stats.cache().count()
            kept = (
                residue.join(F.broadcast(stats), "series_id")
                .filter(F.abs(F.col("_r") - F.col("_mu")) < F.lit(sigma) * F.col("_sd"))
                .select("series_id", "time", "_r")
            )
        return stats.select(
            "series_id", (F.col("_sd") / F.lit(0.893421)).alias("noise")
        )
    finally:
        residue.unpersist()


def butterworth(
    ts: DataFrame,
    fmin: float | None = None,
    fmax: float | None = None,
    order: int = 5,
) -> DataFrame:
    """Zero-phase IIR Butterworth band/low/high-pass (reference
    core.py:776-807). Inherently recursive → per-series Arrow UDF around the
    NumPy design in operators/iir.py; parallel across series only."""
    if fmin is None and fmax is None:
        raise ValueError("At least one of 'fmin' and 'fmax' must be given!")
    lo, hi, ordn = fmin, fmax, order

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.operators.iir import butter_sos, sosfiltfilt

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        try:
            nyq = 0.5 / float(np.median(np.diff(t))) if len(t) > 1 else 0.0
            # butter_sos raises (scipy's contract) when a cutoff falls at or
            # beyond this series' Nyquist; in a many-series distributed run
            # one under-sampled series must not kill the job — its rows come
            # back with NULL values (the engine's negative-path convention)
            if lo is not None and hi is None:
                sos = butter_sos(ordn, lo / nyq, "highpass")
            elif lo is None and hi is not None:
                sos = butter_sos(ordn, hi / nyq, "lowpass")
            else:
                sos = butter_sos(ordn, [lo / nyq, hi / nyq], "bandpass")
            y = sosfiltfilt(sos, x)
        except (ValueError, ZeroDivisionError):
            y = np.full(len(t), np.nan)
        return pd.DataFrame({"series_id": pdf["series_id"].iloc[0], "time": t, "value": y})

    from periodicity_spark.session import grouped_apply

    # coarse hash buckets (not per-series groups): the per-group Arrow
    # transfer cost dominated the short per-series IIR kernels at high
    # series cardinality — same rationale as find_peaks_prominence
    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, time double, value double",
    )


def acf_period_quality(ts: DataFrame, p_min: float, p_max: float) -> DataFrame:
    """Band-pass → ACF → (smooth) → best peak by prominence → damped-cosine
    least-squares fit → quality factor (reference core.py:809-853).
    → (series_id, best_period, height, quality). The whole pipeline runs
    per series in one Arrow UDF (each step is sequential on a short ACF)."""
    pmin_, pmax_ = float(p_min), float(p_max)

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.operators.iir import butter_sos, sosfiltfilt, nelder_mead

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        empty = pd.DataFrame(columns=["series_id", "best_period", "height", "quality"])
        if len(t) < 16:
            return empty
        dt = float(np.median(np.diff(t)))
        if not (dt > 0):
            # duplicate-timestamp-dominated series: no sampling rate exists
            return empty
        nyq = 0.5 / dt
        lo = (1.0 / pmax_) / nyq
        hi = min(0.999, (1.0 / pmin_) / nyq)
        if lo >= hi:
            # the search band lies at/above this series' Nyquist — no period
            # in [p_min, p_max] is resolvable from this sampling; same
            # no-result contract as the too-short-series case above
            return empty
        wn = [max(1e-6, lo), hi]
        y = sosfiltfilt(butter_sos(5, wn, "bandpass"), x)
        # ACF via FFT (reference core.py:578-608)
        ml = int(np.searchsorted(t - t[0], 2 * pmax_))
        ml = min(max(ml, 2), len(y))
        nfft = int(2.0 * len(y))
        psd = np.abs(np.fft.rfft(y - y.mean(), n=nfft)) ** 2
        ryy = np.fft.irfft(psd)[:ml]
        if ryy[0] == 0:
            return empty
        ryy = ryy / ryy[0]
        lags = (t - t[0])[:ml]
        if pmax_ >= 20:
            width = int(pmax_ // 10)
            if width >= 2:
                if width % 2 == 0:
                    kern = np.full(width + 1, 1.0 / width)
                    kern[0] /= 2
                    kern[-1] /= 2
                else:
                    kern = np.full(width, 1.0 / width)
                k = len(kern) // 2
                padded = np.concatenate([ryy[1:k+1][::-1], ryy, ryy[-k-1:-1][::-1]])
                ryy = np.convolve(padded, kern, mode="valid")[: len(lags)]
                mx = np.abs(ryy).max()
                if mx > 0:
                    ryy = ryy / mx
        # peaks + prominences
        mid = ryy[1:-1]
        pk = np.where((mid > ryy[:-2]) & (mid > ryy[2:]))[0] + 1
        if len(pk) == 0:
            return empty
        proms = np.empty(len(pk))
        for j, p in enumerate(pk):
            i = p - 1
            lmin = ryy[p]
            while i >= 0 and ryy[i] <= ryy[p]:
                lmin = min(lmin, ryy[i]); i -= 1
            i = p + 1
            rmin = ryy[p]
            while i < len(ryy) and ryy[i] <= ryy[p]:
                rmin = min(rmin, ryy[i]); i += 1
            proms[j] = ryy[p] - max(lmin, rmin)
        best = pk[np.argmax(proms)]
        best_per = lags[best]
        height = proms.max()
        tau_max = 20 * pmax_ / best_per
        def rss(params):
            aa, tt = np.exp(params[0]), np.exp(params[1])
            model = aa * np.exp(-lags / tt) * np.cos(2 * np.pi * lags / best_per)
            return float(np.sum(np.square(ryy - model)))
        (log_amp, log_tau), _ = nelder_mead(rss, [0.0, np.log(best_per * 2)])
        tau = min(np.exp(log_tau), tau_max)
        quality = (tau / best_per) * (ml * height / rss([log_amp, np.log(tau)]))
        return pd.DataFrame(
            {"series_id": [pdf["series_id"].iloc[0]], "best_period": [best_per],
             "height": [height], "quality": [quality]}
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, best_period double, height double, quality double",
    )


def mirror_fill(ts: DataFrame) -> DataFrame:
    """interpolate_na(method='mirror') (reference core.py:680-698): each NULL
    run is filled by reflecting the neighboring samples into the gap from
    both sides; odd-length centers average their filled neighbors. Gap-local
    positional index arithmetic → per-series Arrow UDF."""

    def _per_series(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("time")
        v = pdf["value"].to_numpy(float).copy()
        isnull = np.isnan(v)
        ids = np.where(np.diff(isnull))[0] + 1
        if isnull[0]:
            ids = np.concatenate([[0], ids])
        n_gaps = len(ids) // 2
        for i in range(n_gaps):
            start, end = ids[2 * i], ids[2 * i + 1]
            gap = end - start
            left_ids = np.arange(start, start + gap // 2)
            right_ids = np.arange(end - gap // 2, end)
            lsrc = 2 * start - left_ids - 1
            rsrc = 2 * end - right_ids - 1
            ok_l = (lsrc >= 0) & (lsrc < len(v))
            ok_r = (rsrc >= 0) & (rsrc < len(v))
            v[left_ids[ok_l]] = v[lsrc[ok_l]]
            v[right_ids[ok_r]] = v[rsrc[ok_r]]
            if gap % 2 == 1:
                center = (start + end - 1) // 2
                if 0 < center < len(v) - 1:
                    v[center] = 0.5 * (v[center - 1] + v[center + 1])
        return pd.DataFrame(
            {"series_id": pdf["series_id"].iloc[0], "time": pdf["time"], "value": v}
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(ts, _per_series, "series_id string, time double, value double")
