"""Ordered per-series window operators (SURVEY.md §2.5) — the heart of the
engine. The reference does these with array indexing; here every one is a
Window.partitionBy("series_id").orderBy(...) expression, so Catalyst fuses
chains sharing the same window spec into one SortExec + one WindowExec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from periodicity_spark.functions.expressions import (
    derivative as derivative_expr,
    is_peak_candidate,
    sessionize,
    zero_crossing_flag,
)


def roll_time(ts: DataFrame, width: float = 1.0) -> DataFrame:
    """Trailing TIME-window statistics: for every sample, mean/min/max/count
    of the values in (time − width, time] of its own series — the
    irregular-sampling rolling window (the reference's positional roll,
    core.py:262-264, assumes regular sampling; this is its time-based
    generalization). rangeBetween keeps the whole thing one WindowExec:
    one shuffle + one sort per series partition, streaming frame — no
    self-join, no explode.

    → (series_id, time, value, roll_mean, roll_min, roll_max, roll_n).

    The SQL frame form is used because the PySpark rangeBetween API only
    accepts integral boundaries; SQL RANGE supports fractional offsets on
    a double ordering column."""
    wd = float(width)
    frame = (
        "OVER (PARTITION BY series_id ORDER BY time "
        f"RANGE BETWEEN {wd!r} PRECEDING AND CURRENT ROW)"
    )
    return ts.select(
        "series_id",
        "time",
        "value",
        F.expr(f"avg(value) {frame}").alias("roll_mean"),
        F.expr(f"min(value) {frame}").alias("roll_min"),
        F.expr(f"max(value) {frame}").alias("roll_max"),
        F.expr(f"count(value) {frame}").alias("roll_n"),
    )


def derivative(ts: DataFrame) -> DataFrame:
    """Centered finite-difference d/dt (reference core.py:524-526)."""
    return ts.select("series_id", "time", derivative_expr().alias("value"))


def teo(ts: DataFrame) -> DataFrame:
    """Teager Energy Operator ẏ² − y·ÿ (reference core.py:528-535):
    composition of two derivative windows; both reuse the same sort."""
    d1 = derivative_expr("value", "time")
    step1 = ts.select("series_id", "time", F.col("value"), d1.alias("d1"))
    d2 = derivative_expr("d1", "time")
    return step1.select(
        "series_id",
        "time",
        (F.col("d1") * F.col("d1") - F.col("value") * d2).alias("value"),
    )


def find_peaks(ts: DataFrame, value: str = "value", include_edges: bool = False) -> DataFrame:
    """Local maxima rows (reference core.py:283-317, scipy strict-neighbor
    semantics for non-plateau data). Prominences: see ``find_peaks_prominence``.
    """
    return (
        ts.withColumn("_is_peak", is_peak_candidate(value, include_edges=include_edges))
        .filter(F.col("_is_peak"))
        .drop("_is_peak")
    )


def find_dips(ts: DataFrame, value: str = "value", include_edges: bool = False) -> DataFrame:
    """reference core.py:319-339: dips = −(−x).find_peaks()"""
    neg = ts.withColumn(value, -F.col(value))
    return find_peaks(neg, value, include_edges).withColumn(value, -F.col(value))


def peak_prominences(x):
    """Strict interior local maxima of the float array ``x`` and their
    scipy-style prominences: walk out from each peak to the nearest higher
    sample (or the edge) on either side; the prominence is the peak's
    height above the higher of the two valley minima. → (peak indices,
    prominences). Sequential per series, so it runs inside Arrow kernels:
    ``find_peaks_prominence`` and ``psort_by_prominence`` import it in their
    closures (``grouped_apply`` ships the package to the workers)."""
    import numpy as np

    n = len(x)
    mid = x[1:-1]
    peaks = np.where((mid > x[:-2]) & (mid > x[2:]))[0] + 1
    proms = np.empty(len(peaks))
    for j, p in enumerate(peaks):
        # left: min between p and previous higher sample (or edge)
        i = p - 1
        left_min = x[p]
        while i >= 0 and x[i] <= x[p]:
            left_min = min(left_min, x[i])
            i -= 1
        i = p + 1
        right_min = x[p]
        while i < n and x[i] <= x[p]:
            right_min = min(right_min, x[i])
            i += 1
        proms[j] = x[p] - max(left_min, right_min)
    return peaks, proms


def find_peaks_prominence(ts: DataFrame, order_col: str = "time", value: str = "value") -> DataFrame:
    """Peaks with exact scipy-style prominences (reference attaches
    ``prominences`` attrs, core.py:283-317). The prominence scan
    (``peak_prominences``) is sequential → Arrow-batched kernel per series,
    grouped in coarse hash buckets (session.grouped_apply) so the ~1 ms
    per-group Arrow transfer cost is paid per bucket, not per series — with
    millions of small series (the 100 TB shape, and 7k series already at
    sf0.1) the per-series grouping overhead dominated the kernel itself.
    Output one row per peak: (series_id, <order_col>, <value>, prominence).
    """
    from periodicity_spark.session import grouped_apply

    out_schema = f"series_id string, {order_col} double, {value} double, prominence double"

    def _per_series(pdf):
        import pandas as pd
        from periodicity_spark.operators.windows import peak_prominences

        pdf = pdf.sort_values(order_col)
        x = pdf[value].to_numpy(dtype=float)
        t = pdf[order_col].to_numpy(dtype=float)
        if len(x) < 3:
            return pd.DataFrame(columns=["series_id", order_col, value, "prominence"])
        peaks, proms = peak_prominences(x)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                order_col: t[peaks],
                value: x[peaks],
                "prominence": proms,
            }
        )

    return grouped_apply(ts, _per_series, out_schema)


def find_zero_crossings(ts: DataFrame) -> DataFrame:
    """Rows where the sign flips vs the previous row (reference core.py:341-367)."""
    return (
        ts.withColumn("_zc", zero_crossing_flag())
        .filter(F.col("_zc"))
        .drop("_zc")
    )


def split(ts: DataFrame, max_gap: float | None = None) -> DataFrame:
    """Sessionization: add ``segment`` id, breaking where Δt > max_gap
    (reference split(), core.py:619-627; default 1.5·median_dt)."""
    if max_gap is None:
        from periodicity_spark.functions.stats import series_stats

        med = series_stats(ts).select("series_id", (1.5 * F.col("median_dt")).alias("_gap"))
        ts = ts.join(F.broadcast(med), "series_id")
        gap = F.col("_gap")
        out = ts.withColumn("segment", sessionize(gap)).drop("_gap")
        return out
    return ts.withColumn("segment", sessionize(float(max_gap)))


def pad_reflect(ts: DataFrame, pad_width_rows: int) -> DataFrame:
    """np.pad(..., mode="reflect") on both time and values
    (reference core.py:726-739): mirror the first/last k interior rows around
    the edge points. Generates 2k extra rows per series via windows + union —
    no driver loop."""
    w = Window.partitionBy("series_id").orderBy("time")
    wn = Window.partitionBy("series_id")
    df = ts.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    t0 = F.first("time").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    edges = df.withColumn("_t0", F.min("time").over(wn)).withColumn("_t1", F.max("time").over(wn))
    left = (
        edges.filter((F.col("_rn") >= 2) & (F.col("_rn") <= pad_width_rows + 1))
        .select(
            "series_id",
            (2 * F.col("_t0") - F.col("time")).alias("time"),
            "value",
        )
    )
    right = (
        edges.filter(F.col("_rn") >= F.col("_n") - pad_width_rows)
        .filter(F.col("_rn") <= F.col("_n") - 1)
        .select(
            "series_id",
            (2 * F.col("_t1") - F.col("time")).alias("time"),
            "value",
        )
    )
    return left.unionByName(ts.select("series_id", "time", "value")).unionByName(right)


def get_envelope(ts: DataFrame, pad_width: int = 2) -> DataFrame:
    """Upper/lower cubic-spline envelopes through padded extrema
    (reference get_envelope, core.py:741-774; invariant test
    tests/test_core.py:37-48). Spline interpolation is global per series →
    Arrow UDF over the decomposition kernels. → (series_id, time, upper, lower)."""
    pw = pad_width

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.decomposition.kernels import (
            _padded_anchor,
            cubic_spline,
            find_extrema_idx,
        )

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        peaks, dips = find_extrema_idx(x)
        if len(peaks) < max(pw, 2) or len(dips) < max(pw, 2):
            return pd.DataFrame(columns=["series_id", "time", "upper", "lower"])
        pt, pv = _padded_anchor(t, x, peaks, max(pw, 2))
        dt_, dv = _padded_anchor(t, x, dips, max(pw, 2))
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "time": t,
                "upper": cubic_spline(pt, pv, t),
                "lower": cubic_spline(dt_, dv, t),
            }
        )

    from periodicity_spark.session import grouped_apply

    # coarse hash buckets: per-series Arrow group overhead dominates the
    # short spline kernels at high series cardinality (session.grouped_apply)
    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, time double, upper double, lower double",
    )
