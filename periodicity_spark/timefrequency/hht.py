"""Hilbert-Huang Transform, Spark-first (reference timefrequency.py:14-148).

Decompose (EMD per series, Arrow UDF) → per-mode instantaneous frequency and
amplitude (sequential kernel, UDF) → then NATIVE: the reference's
scatter-add `_spectrogram` (timefrequency.py:91-98) is a width_bucket-style
bin assignment + groupBy(series, time, bin).sum(amp), and the mode sum
(line 147) is the same aggregation — one shuffle for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.decomposition.emd import emd_modes


def instantaneous(modes: DataFrame, method: str = "DQ", norm_type: str = "spline",
                  norm_iter: int = 10, smooth_width: float | None = None) -> DataFrame:
    """Per-(series, mode) instantaneous frequency/amplitude rows:
    → (series_id, mode, time, freq, amp)."""
    m = method.upper()
    nt = norm_type.lower()
    ni = norm_iter
    sw = smooth_width

    def _per_mode(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.timefrequency.kernels import instant_freq_amp

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        if not np.any(x) or len(t) < 4:
            return pd.DataFrame(columns=["series_id", "mode", "time", "freq", "amp"])
        freq, amp = instant_freq_amp(t, x, method=m, norm_type=nt, norm_iter=ni)
        if sw is not None:
            # gaussian smoothing of freq/amp (reference timefrequency.py:137-139)
            radius = int(4.0 * sw + 0.5)
            g = np.exp(-0.5 * (np.arange(-radius, radius + 1) / sw) ** 2)
            g /= g.sum()
            pad = lambda a: np.concatenate([a[:radius][::-1], a, a[-radius:][::-1]])
            freq = np.convolve(pad(freq), g, mode="valid")
            amp = np.convolve(pad(amp), g, mode="valid")
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "mode": int(pdf["mode"].iloc[0]),
                "time": t,
                "freq": freq,
                "amp": amp,
            }
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        modes,
        _per_mode,
        "series_id string, mode int, time double, freq double, amp double",
        group_cols=("series_id", "mode"),
    )


def hht(
    ts: DataFrame,
    frequencies: list[float],
    method: str = "DQ",
    norm_type: str = "spline",
    norm_iter: int = 10,
    smooth_width: float | None = None,
    modes: DataFrame | None = None,
) -> DataFrame:
    """→ TF rows (series_id, time, frequency, power): amplitude scattered
    onto the frequency grid, summed over modes. ``modes`` allows a pluggable
    decomposition (reference's emd=callable hook, timefrequency.py:30-34) —
    pass any (series_id, mode, time, value) DataFrame (e.g. CEEMDAN output).
    """
    spark = ts.sparkSession
    grid = sorted(float(f) for f in frequencies)
    if modes is None:
        modes = emd_modes(ts)
    inst = instantaneous(modes, method, norm_type, norm_iter, smooth_width)

    # the reference's scatter (timefrequency.py:95-97): bin index =
    # clip(searchsorted(grid, freq), 0, n-1); first and last grid rows are
    # zeroed → equivalently, drop contributions landing on the edge bins.
    grid_df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(grid)], "bin int, frequency double"
    )
    n_bins = len(grid)
    # searchsorted(grid, f) == count of grid points < f (left insertion) —
    # one higher-order filter over the broadcast grid literal
    garr = F.array(*[F.lit(f) for f in grid])
    conds = F.size(F.filter(garr, lambda g: g < F.col("freq")))
    bin_idx = F.least(F.greatest(conds, F.lit(0)), F.lit(n_bins - 1))
    binned = inst.withColumn("bin", bin_idx).filter(
        (F.col("bin") > 0) & (F.col("bin") < n_bins - 1)
    )
    out = (
        binned.groupBy("series_id", "time", "bin")
        .agg(F.sum("amp").alias("power"))
        .join(F.broadcast(grid_df), "bin")
        .select("series_id", "time", "frequency", "power")
    )
    return out


def marginal_spectrum(tf: DataFrame) -> DataFrame:
    """Hilbert marginal spectrum: sum over time → (series_id, frequency, power)."""
    return tf.groupBy("series_id", "frequency").agg(F.sum("power").alias("power"))
