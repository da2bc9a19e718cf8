"""Wavelet Power Spectrum + downstream aggregates, Spark-first
(reference timefrequency.py:170-318).

The CWT itself is a per-series Arrow UDF (FFT kernel); everything
downstream — COI masking, scale-averaged and global spectra, the composite
spectrum — is native DataFrame algebra over the long TF rows, exactly the
kind of reduction Spark does well at scale (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from periodicity_spark.operators.acf import acf_fft
from periodicity_spark.operators.resample import fill_gaps, interp_linear

SQRT2 = 2.0 ** 0.5


def wps(
    ts: DataFrame, periods: list[float], B: float = 2.0, C: float = 1.0,
    with_coefs: bool = False,
) -> DataFrame:
    """→ TF rows (series_id, time, frequency, power, spectrum [, re, im,
    scale]): Morlet CWT per (series, scale); spectrum = power/scale
    (bias-corrected, reference timefrequency.py:224-232). Mean-subtracted
    input, sampling assumed uniform per series (median_dt used as dt, like
    the reference). ``with_coefs`` keeps the complex coefficients for
    reconstruct()."""
    plist = [float(p) for p in periods]
    CC = float(C)
    BB = float(B)
    wc = with_coefs
    cols = "series_id string, time double, frequency double, power double, spectrum double"
    if with_coefs:
        cols += ", re double, im double, scale double"

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.timefrequency.kernels import cwt_morlet

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        base_cols = ["series_id", "time", "frequency", "power", "spectrum"]
        if len(t) < 4:
            return pd.DataFrame(
                columns=base_cols + (["re", "im", "scale"] if wc else [])
            )
        dt = float(np.median(np.diff(t)))
        pers = np.asarray(plist)
        coefs = cwt_morlet(x - x.mean(), dt, pers, B=BB, C=CC)
        power = np.abs(coefs) ** 2
        scales = CC * pers / dt  # sample-unit scales (reference line 210)
        spectrum = power / scales[:, None]
        n = len(t)
        k = len(pers)
        data = {
            "series_id": pdf["series_id"].iloc[0],
            "time": np.tile(t, k),
            "frequency": np.repeat(1.0 / pers, n),
            "power": power.ravel(),
            "spectrum": spectrum.ravel(),
        }
        if wc:
            data["re"] = coefs.real.ravel()
            data["im"] = coefs.imag.ravel()
            data["scale"] = np.repeat(scales, n)
        return pd.DataFrame(data)

    from periodicity_spark.session import grouped_apply

    # coarse hash buckets: per-series Arrow group overhead dominates short
    # CWT kernels at high series cardinality (see session.grouped_apply)
    return grouped_apply(
        ts.filter(F.col("value").isNotNull()), _per_series, cols
    )


def reconstruct(tf_with_coefs: DataFrame, B: float = 2.0) -> DataFrame:
    """Inverse CWT by summing coefficients over scales
    (reference reconstruct(), timefrequency.py:162-167):
    x(t) ≈ (1/ψ(0)) Σ_s Re[W(s,t)]/√s — pure native aggregation over the
    coef-carrying TF rows; ψ(0) = (πB)^(-1/2) for the cmor family.
    → ts rows (series_id, time, value)."""
    import math

    psi0 = (math.pi * B) ** -0.5
    return (
        tf_with_coefs.groupBy("series_id", "time")
        .agg(F.sum(F.col("re") / F.sqrt(F.col("scale"))).alias("_rsum"))
        .select("series_id", "time", (F.col("_rsum") / F.lit(psi0)).alias("value"))
    )


def denoise(
    ts: DataFrame, sigma: float | None = None, detrend: bool = False,
    wavelet: str = "db4",
) -> DataFrame:
    """Wavelet-shrinkage denoising (reference denoise(),
    timefrequency.py:151-159): periodized wavedec in the requested
    orthogonal family (haar/db1/db2/db3/db4/sym4 — the reference forwards
    ``wavelet`` to pywt) → soft-threshold σ√(2 ln N) on the detail
    coefficients → waverec, via the package's own DWT
    (timefrequency/kernels.py). σ defaults to the per-series robust
    noise estimate (operators.clean.estimate_noise), broadcast-joined so the
    two passes stay one job. The shrinkage itself is whole-series sequential
    → bucketed Arrow stage (grouped_apply). → (series_id, time, value)."""
    from periodicity_spark.session import grouped_apply

    base = ts.filter(F.col("value").isNotNull()).select("series_id", "time", "value")
    det = bool(detrend)
    fixed = None if sigma is None else float(sigma)
    wav = str(wavelet)
    from periodicity_spark.timefrequency.kernels import WAVELET_FILTERS
    if wav not in WAVELET_FILTERS:  # fail at plan time, not inside executors
        raise ValueError(
            f"unknown wavelet {wav!r}; available: {sorted(WAVELET_FILTERS)}"
        )

    # σ default: the robust noise estimate runs INSIDE the same per-series
    # kernel as the shrinkage (both are whole-series-local), so the operator
    # is ONE scan + ONE bucketed shuffle total. The r5 shape ran
    # estimate_noise_local as a second Arrow stage and broadcast-joined it
    # back — a second full shuffle of every series for a per-series scalar
    # the shrinkage kernel can compute in place. A series the estimator
    # can't score (constant / too short) gets σ=0 and passes through
    # unshrunk, same as the old LEFT-join + 0-fallback.
    def _per_series(pdf):
        import pandas as pd

        from periodicity_spark.operators.clean import robust_noise_np
        from periodicity_spark.timefrequency.kernels import denoise_dwt

        pdf = pdf.sort_values("time")
        v = pdf["value"].to_numpy(dtype=float)
        sg = fixed if fixed is not None else (robust_noise_np(v) or 0.0)
        y = denoise_dwt(v, float(sg), detrend=det, wavelet=wav)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "time": pdf["time"].to_numpy(dtype=float),
                "value": y,
            }
        )

    return grouped_apply(base, _per_series, "series_id string, time double, value double")


def with_coi_mask(tf: DataFrame) -> DataFrame:
    """Adds ``in_coi``: √2·period < min(t − tmin, tmax − t)
    (reference mask_coi, timefrequency.py:256-262). Pure column predicate
    over per-series time bounds taken in a window, so ``tf`` is evaluated
    once: joining ``tf`` to an aggregate of itself would run its whole
    subtree (the CWT kernel, for ``wps`` output) twice."""
    w = Window.partitionBy("series_id")
    t0 = F.min("time").over(w)
    t1 = F.max("time").over(w)
    period = 1.0 / F.col("frequency")
    return tf.withColumn(
        "in_coi",
        F.lit(SQRT2) * period < F.least(F.col("time") - t0, t1 - F.col("time")),
    )


def sav(
    tf: DataFrame,
    pmin: float | None = None,
    pmax: float | None = None,
    masked: bool = False,
) -> DataFrame:
    """Scale-averaged spectrum → ts rows (series_id, time, value)
    (reference sav/masked_sav, timefrequency.py:264-280)."""
    df = with_coi_mask(tf) if masked else tf
    period = 1.0 / F.col("frequency")
    if pmin is not None:
        df = df.filter(period >= pmin)
    if pmax is not None:
        df = df.filter(period <= pmax)
    if masked:
        df = df.filter(F.col("in_coi"))
    return df.groupBy("series_id", "time").agg(F.avg("spectrum").alias("value"))


def gwps(
    tf: DataFrame,
    tmin: float | None = None,
    tmax: float | None = None,
    masked: bool = False,
) -> DataFrame:
    """Global wavelet power spectrum → pg rows (series_id, frequency, power)
    (reference gwps/masked_gwps, timefrequency.py:282-298)."""
    df = with_coi_mask(tf) if masked else tf
    if tmin is not None:
        df = df.filter(F.col("time") >= tmin)
    if tmax is not None:
        df = df.filter(F.col("time") <= tmax)
    if masked:
        df = df.filter(F.col("in_coi"))
    return df.groupBy("series_id", "frequency").agg(F.avg("spectrum").alias("power"))


def composite_spectrum(ts: DataFrame, periods: list[float]) -> DataFrame:
    """GWPS (max-normalized) × ACF linearly interpolated onto the period grid
    (reference CompositeSpectrum, timefrequency.py:305-318) — the as-of-join
    showcase: the np.interp at line 317 becomes interp_linear.
    → (series_id, period, power)."""
    tf = wps(ts, periods)
    g = gwps(tf)
    gmax = g.groupBy("series_id").agg(F.max("power").alias("_gmax"))
    gnorm = g.join(F.broadcast(gmax), "series_id").select(
        "series_id",
        (1.0 / F.col("frequency")).alias("period"),
        # try_divide: an (all-zero-power) degenerate spectrum has _gmax = 0
        # — the normalized value is undefined (NULL), not a stage abort
        F.try_divide(F.col("power"), F.col("_gmax")).alias("_gn"),
    )
    ryy = acf_fft(fill_gaps(ts))
    probe = gnorm.select("series_id", F.col("period").alias("time"))
    acf_on_periods = interp_linear(
        ryy.select("series_id", F.col("lag").alias("time"), F.col("acf").alias("value")),
        probe,
    ).select("series_id", F.col("time").alias("period"), F.col("value").alias("_acf"))
    return (
        gnorm.join(acf_on_periods, ["series_id", "period"])
        .select("series_id", "period", (F.col("_gn") * F.col("_acf")).alias("power"))
    )
