"""Streaming GLS: the flagship periodogram as a Structured Streaming
aggregation (SURVEY §2.8 operator × §2.11 streaming surface).

The Lomb-Scargle normal equations are built from SUMS over samples — so the
periodogram state is mergeable and the whole operator streams: each
micro-batch folds its events into per-(series, frequency) running trig
sums; the power formula is a stateless finish over the drained aggregate.

Two-pass structure of the batch operator (stats pass → centered trig pass,
spectral.gls.gls_periodogram) cannot stream — joining two streaming
aggregates is unsupported, and the mean isn't known mid-stream. Instead the
streaming aggregate keeps RAW (uncentered) moments and the finish centers
algebraically:

    S  = Σsinθ/n                 Sh = (Σy·sinθ − ȳ·Σsinθ)/n
    C  = Σcosθ/n                 Ch = (Σy·cosθ − ȳ·Σcosθ)/n
    S2 = Σsin2θ/n  C2 = Σcos2θ/n  YY = Σy²/n − ȳ²   (ȳ = Σy/n)

which equal the batch operator's normalized centered sums exactly (up to
float re-association; the differential test pins ≤1e-9 and the 6-dp
contract rounding is identical).

State size: (series × grid) rows of 9 doubles — bounded by key cardinality,
never by stream length. Complete output mode: a periodogram is a running
summary, every emission is the spectrum-so-far. The grid side is a STATIC
broadcast (stream-static join), double angles derive from sinθ/cosθ
(2sc, 1−2s²) exactly as the batch plan does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TWO_PI = 6.283185307179586

# 2024-01-01T00:00:00Z in epoch microseconds / µs per day — the same
# day-axis origin the batch ingestion uses (sources/ingest.py)
EPOCH_US = 1704067200000000
DAY_US = 86400000000.0


def stream_gls_sums(events: DataFrame, freq_grid: DataFrame) -> DataFrame:
    """events: streaming (series_id, ts timestamp, value); freq_grid:
    static (frequency). → streaming aggregate (series_id, frequency, n,
    sy, syy, s1, c1, s2, c2, sh, ch) in complete mode."""
    base = events.filter(F.col("value").isNotNull()).select(
        "series_id",
        ((F.unix_micros("ts") - F.lit(EPOCH_US)) / F.lit(DAY_US)).alias("time"),
        F.col("value").cast("double").alias("value"),
    )
    # Stateless repartition before the N×F expansion: a micro-batch read
    # from a single file is one task, which would serialize the grid
    # crossJoin + 2·N·F transcendentals + partial aggregation onto one
    # core. scan_parallel cannot probe a streaming frame, so it always
    # floors one; on a wide source the extra exchange moves raw events
    # once, far cheaper than the expansion it parallelizes.
    from periodicity_spark.session import scan_parallel

    base = scan_parallel(base)
    joined = base.crossJoin(F.broadcast(freq_grid))
    theta = F.lit(TWO_PI) * F.col("frequency") * F.col("time")
    proj = joined.select(
        "series_id",
        "frequency",
        "value",
        F.sin(theta).alias("_s"),
        F.cos(theta).alias("_c"),
    )
    y, s, c = F.col("value"), F.col("_s"), F.col("_c")
    return proj.groupBy("series_id", "frequency").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(s).alias("s1"),
        F.sum(c).alias("c1"),
        F.sum(2 * s * c).alias("s2"),
        F.sum(1 - 2 * s * s).alias("c2"),
        F.sum(y * s).alias("sh"),
        F.sum(y * c).alias("ch"),
    )


def gls_power_from_sums(
    sums: DataFrame, min_count: int | None = None, fit_mean: bool = True
) -> DataFrame:
    """Stateless finish over the drained raw-moment aggregate →
    (series_id, frequency, power): the algebraically centred sums (module
    docstring) under the batch operator's own finish,
    ``spectral.gls.gls_power_sql`` — so the try_divide convention
    (degenerate series → NULL power) is identical by construction."""
    from periodicity_spark.spectral.gls import gls_power_sql

    if min_count is not None:
        sums = sums.filter(F.col("n") >= int(min_count))
    return (
        sums.selectExpr("*", "sy / n AS ybar")
        .selectExpr(
            "series_id",
            "frequency",
            "s1 / n AS S",
            "c1 / n AS C",
            "s2 / n AS S2",
            "c2 / n AS C2",
            "(sh - ybar * s1) / n AS Sh",
            "(ch - ybar * c1) / n AS Ch",
            "syy / n - ybar * ybar AS YY",
        )
        .selectExpr(
            "series_id", "frequency", f"{gls_power_sql(fit_mean)} AS power"
        )
    )
