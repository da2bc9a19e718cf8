"""Operations on periodogram (pg) DataFrames: peak ranking and best-period
extraction (reference core.py:938-978). ``period`` is always the derived
column 1/frequency — generated, never stored (reference core.py:874-876).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _peak_rows(pg: DataFrame) -> DataFrame:
    """Interior local maxima of power over the frequency order (scipy
    find_peaks strict-neighbor semantics, reference core.py:283-317)."""
    w = Window.partitionBy("series_id").orderBy("frequency")
    p = F.col("power")
    prev, nxt = F.lag("power").over(w), F.lead("power").over(w)
    return pg.withColumn("_prev", prev).withColumn("_next", nxt).filter(
        F.col("_prev").isNotNull()
        & F.col("_next").isNotNull()
        & (p > F.col("_prev"))
        & (p > F.col("_next"))
    ).drop("_prev", "_next")


def find_peaks_pg(pg: DataFrame) -> DataFrame:
    return _peak_rows(pg).select(
        "series_id",
        "frequency",
        (1.0 / F.col("frequency")).alias("period"),
        "power",
    )


def period_at_highest_peak(pg: DataFrame) -> DataFrame:
    """→ (series_id, period): period of the tallest interior peak
    (reference core.py:952-955). One aggregate over the peak rows."""
    return (
        _peak_rows(pg)
        .groupBy("series_id")
        .agg(F.max_by(1.0 / F.col("frequency"), F.col("power")).alias("period"))
    )


def psort_by_peak(pg: DataFrame, k: int | None = None) -> DataFrame:
    """Peak periods ranked by height (reference core.py:944-946); optional
    top-k via rank filter (no global sort at scale)."""
    w = Window.partitionBy("series_id").orderBy(F.desc("power"))
    ranked = _peak_rows(pg).withColumn("rank", F.row_number().over(w))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(
        "series_id", "rank", (1.0 / F.col("frequency")).alias("period"), "power"
    )


def periods_at_half_max(pg: DataFrame) -> DataFrame:
    """FWHM of the tallest peak (reference core.py:963-978): crossing points
    of power − height/2 nearest the peak on each side, reported as periods.
    Native: one join of the pg rows against the per-series peak row + two
    conditional aggregates over the crossing flags."""
    best = (
        _peak_rows(pg)
        .groupBy("series_id")
        .agg(
            F.max_by("frequency", "power").alias("_fpeak"),
            F.max("power").alias("_ppeak"),
        )
    )
    w = Window.partitionBy("series_id").orderBy("frequency")
    df = pg.join(F.broadcast(best), "series_id").withColumn(
        "_rel", F.col("power") - F.col("_ppeak") / 2
    )
    sign_flip = F.lag(F.signum(F.col("_rel"))).over(w).isNotNull() & (
        F.signum(F.col("_rel")) != F.lag(F.signum(F.col("_rel"))).over(w)
    )
    crossings = df.withColumn("_flip", sign_flip).filter(F.col("_flip"))
    return crossings.groupBy("series_id").agg(
        (
            1.0
            / F.min(F.when(F.col("frequency") > F.col("_fpeak"), F.col("frequency")))
        ).alias("lower_period"),
        (
            1.0
            / F.max(F.when(F.col("frequency") <= F.col("_fpeak"), F.col("frequency")))
        ).alias("upper_period"),
    )


def psort_by_prominence(pg: DataFrame, k: int | None = None) -> DataFrame:
    """Peak periods ranked by scipy-style prominence instead of height
    (reference core.py:948-950) — prominence separates genuine spectral
    structure from shoulders on a tall peak. The prominence walk is linear
    per series (Arrow kernel, find_peaks_prominence).
    → (series_id, rank, period, power, prominence).

    With ``k`` given, the ranking happens INSIDE the kernel: the kernel
    already holds the whole series, so ranking there removes the post-kernel
    row_number exchange+sort entirely and the kernel emits k rows per series
    instead of every peak (~10× fewer Arrow rows out). The in-kernel order —
    prominence DESC (NaN first, Spark's desc-NaN rule), frequency ASC — is
    the row_number window's exact ordering on the same float64s, so the
    selected rows and ranks are bit-identical (differential-pinned in
    tests/test_spectral_extras.py against the windowed formulation).
    A negative ``k`` raises ValueError."""
    if k is None:
        from periodicity_spark.operators.windows import find_peaks_prominence

        peaks = find_peaks_prominence(pg, order_col="frequency", value="power")
        w = Window.partitionBy("series_id").orderBy(
            F.desc("prominence"), F.asc("frequency")
        )
        ranked = peaks.withColumn("rank", F.row_number().over(w))
        return ranked.select(
            "series_id",
            "rank",
            (1.0 / F.col("frequency")).alias("period"),
            "power",
            "prominence",
        )

    from periodicity_spark.session import grouped_apply

    kk = int(k)
    if kk < 0:
        # the windowed formulation (rank <= k) keeps no rows for k < 0,
        # while the kernel's order[:k] would keep all but the last -k
        raise ValueError(f"psort_by_prominence k must be >= 0, got {k}")
    out_schema = (
        "series_id string, rank int, frequency double, power double,"
        " prominence double"
    )

    # the peak/prominence walk is find_peaks_prominence's own
    # (operators.windows.peak_prominences; bit-identity pinned by
    # differential test)
    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.operators.windows import peak_prominences

        cols = ["series_id", "rank", "frequency", "power", "prominence"]
        pdf = pdf.sort_values("frequency")
        x = pdf["power"].to_numpy(dtype=float)
        f = pdf["frequency"].to_numpy(dtype=float)
        if len(x) < 3:
            return pd.DataFrame(columns=cols)
        peaks, proms = peak_prominences(x)
        if not len(peaks):
            return pd.DataFrame(columns=cols)
        # row_number over (prominence DESC, frequency ASC): negated
        # prominence ascending = prominence descending on the identical
        # float64s; a NaN prominence maps to -inf so it ranks FIRST, matching
        # Spark's desc ordering where NaN is greater than any value (numpy
        # would otherwise sort -NaN last). lexsort's primary key is the LAST
        # array; frequency (unique per series) breaks prominence ties.
        key = np.where(np.isnan(proms), -np.inf, -proms)
        order = np.lexsort((f[peaks], key))[:kk]
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "rank": np.arange(1, len(order) + 1, dtype="int32"),
                "frequency": f[peaks][order],
                "power": x[peaks][order],
                "prominence": proms[order],
            }
        )

    ranked = grouped_apply(pg, _per_series, out_schema)
    return ranked.select(
        "series_id",
        "rank",
        (1.0 / F.col("frequency")).alias("period"),
        "power",
        "prominence",
    )


def period_at_highest_prominence(pg: DataFrame) -> DataFrame:
    """→ (series_id, period): period of the most prominent peak
    (reference core.py:957-961)."""
    return psort_by_prominence(pg, k=1).select("series_id", "period")
