"""Resampling: downsample (binned agg), fill_gaps, interp (as-of join), pad.
SURVEY.md §2.4/§2.5 mappings of reference core.py:629-715.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from periodicity_spark.functions.stats import series_stats


def downsample(ts: DataFrame, dt: float, agg: Column | None = None) -> DataFrame:
    """Binned aggregation onto a uniform grid (reference core.py:629-634).

    Reference semantics, reproduced exactly: L = len(arange(tmin, tmax, dt))
    equal-width right-closed bins over [tmin, tmax] (pandas.cut style, lowest
    point included in bin 0), output time label = tmin + k·dt (the arange
    labels), empty bins dropped. Default aggregator nanmean → F.avg; custom
    aggregators: any Column over "value" (reference accepts func=...)."""
    if agg is None:
        agg = F.avg("value")
    # only the time bounds are needed — one inline aggregate, not the full
    # series_stats (which costs three passes); zero-baseline series dropped
    # (undefined bins)
    stats = (
        ts.groupBy("series_id")
        .agg(F.min("time").alias("tmin"), F.max("time").alias("tmax"))
        .filter(F.col("tmax") > F.col("tmin"))
    )
    b = ts.join(F.broadcast(stats), "series_id")
    # bucket arithmetic as one SQL string parsed JVM-side (the Column build
    # cost ~490 py4j round-trips per plan, guide §5); structured to parse to
    # exactly the former Column trees — optimizedPlan-diffed on every
    # downsample-consuming declared query
    dt_lit = f"{float(dt)!r}D"
    nbins = f"cast(ceil((tmax - tmin) / {dt_lit}) as int)"
    width = f"((tmax - tmin) / {nbins})"
    bucket = f"cast(greatest(ceil((time - tmin) / {width}) - 1, 0) as bigint)"
    return (
        b.groupBy("series_id", F.expr(f"{bucket} AS bucket"), F.col("tmin"))
        .agg(agg.alias("value"))
        .filter(F.col("value").isNotNull())
        .selectExpr(
            "series_id",
            f"tmin + bucket * {dt_lit} AS time",
            "value",
        )
    )


def fill_gaps(ts: DataFrame, dt: float | None = None, gap_factor: float = 1.2) -> DataFrame:
    """Insert NULL-valued timestamps inside gaps larger than gap_factor·dt
    (reference core.py:703-715): the reference walks each gap inserting
    tᵢ+dt, tᵢ+2dt, … while the remaining distance to tᵢ₊₁ exceeds 1.2·dt,
    i.e. k = floor((G/dt) − gap_factor) + 1 points for a gap of size G.
    Here: one lead() window + sequence/explode — distributed, no driver loop.
    Follow with interpolate_na to repair."""
    if dt is None:
        med = series_stats(ts).select("series_id", F.col("median_dt").alias("_dt"))
        b = ts.join(F.broadcast(med), "series_id")
    else:
        b = ts.withColumn("_dt", F.lit(float(dt)))
    w = Window.partitionBy("series_id").orderBy("time")
    nxt = F.lead("time").over(w)
    n_insert = (
        F.floor((F.col("_next") - F.col("time")) / F.col("_dt") - F.lit(gap_factor)).cast("int")
        + 1
    )
    gaps = (
        b.withColumn("_next", nxt)
        .filter(
            F.col("_next").isNotNull()
            & ((F.col("_next") - F.col("time")) > gap_factor * F.col("_dt"))
        )
        .select(
            "series_id",
            F.explode(F.sequence(F.lit(1), n_insert)).alias("_k"),
            "time",
            "_dt",
        )
        .select(
            "series_id",
            (F.col("time") + F.col("_k") * F.col("_dt")).alias("time"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    return ts.select("series_id", "time", "value").unionByName(gaps)


def _probe_brackets(ts: DataFrame, grid: DataFrame) -> DataFrame:
    """Shared as-of machinery for the probe-grid interpolators: per probe row
    → (_pt, _pv, _nt, _nv) bracketing sample time/value. Union probes with
    samples, one window pass per side (no O(N²) join, one sort per series —
    at scale this is the merge-join formulation of as-of)."""
    if "series_id" not in grid.columns:
        sids = ts.select("series_id").distinct()
        grid = sids.crossJoin(grid)
    probes = grid.select("series_id", F.col("time").cast("double").alias("time")).withColumn(
        "_is_probe", F.lit(1)
    ).withColumn("value", F.lit(None).cast("double"))
    samples = ts.filter(F.col("value").isNotNull()).select(
        "series_id", "time", "value"
    ).withColumn("_is_probe", F.lit(0))
    u = samples.unionByName(probes)
    # order probes after samples at identical time so exact hits take the sample
    w = Window.partitionBy("series_id").orderBy("time", "_is_probe")
    prev_t = F.last(F.when(F.col("_is_probe") == 0, F.col("time")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_v = F.last(F.when(F.col("_is_probe") == 0, F.col("value")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    w2 = Window.partitionBy("series_id").orderBy("time", "_is_probe")
    next_t = F.first(F.when(F.col("_is_probe") == 0, F.col("time")), ignorenulls=True).over(
        w2.rowsBetween(0, Window.unboundedFollowing)
    )
    next_v = F.first(F.when(F.col("_is_probe") == 0, F.col("value")), ignorenulls=True).over(
        w2.rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        u.withColumn("_pt", prev_t)
        .withColumn("_pv", prev_v)
        .withColumn("_nt", next_t)
        .withColumn("_nv", next_v)
        .filter(F.col("_is_probe") == 1)
    )


def interp_linear(ts: DataFrame, grid: DataFrame) -> DataFrame:
    """Linear interpolation onto a new time grid — the as-of-join pattern
    (reference interp(method='linear'), core.py:636-662, and the np.interp
    as-of join in CompositeSpectrum, timefrequency.py:317).

    grid: (series_id, time) or (time) applied to every series. For each probe
    time, blend the bracketing samples linearly; outside the range, clamp to
    the edge value (np.interp semantics)."""
    out = _probe_brackets(ts, grid)
    blend = F.when(F.col("_pt").isNull(), F.col("_nv")).when(
        F.col("_nt").isNull(), F.col("_pv")
    ).when(F.col("_nt") == F.col("_pt"), F.col("_pv")).otherwise(
        F.col("_pv")
        + (F.col("_nv") - F.col("_pv"))
        * (F.col("time") - F.col("_pt"))
        / (F.col("_nt") - F.col("_pt"))
    )
    return out.select("series_id", "time", blend.alias("value"))


def interp_nearest(ts: DataFrame, grid: DataFrame) -> DataFrame:
    """Nearest-sample interpolation (reference interp(method='nearest'),
    core.py:636-662). Ties go to the earlier sample — scipy interp1d
    'nearest' boundary convention; edges clamp like interp_linear."""
    out = _probe_brackets(ts, grid)
    pick = F.when(F.col("_pt").isNull(), F.col("_nv")).when(
        F.col("_nt").isNull(), F.col("_pv")
    ).when(
        (F.col("time") - F.col("_pt")) <= (F.col("_nt") - F.col("time")), F.col("_pv")
    ).otherwise(F.col("_nv"))
    return out.select("series_id", "time", pick.alias("value"))


def interp_zero(ts: DataFrame, grid: DataFrame) -> DataFrame:
    """Zero-order hold (reference interp(method='zero'), core.py:636-662):
    each probe takes the last sample at-or-before it; probes before the
    first sample clamp to it."""
    out = _probe_brackets(ts, grid)
    pick = F.when(F.col("_pt").isNull(), F.col("_nv")).otherwise(F.col("_pv"))
    return out.select("series_id", "time", pick.alias("value"))


def interp_spline(ts: DataFrame, grid: DataFrame, s: float = 0.0) -> DataFrame:
    """Spline interpolation/smoothing onto a probe grid (reference
    interp(method='spline'), core.py:655-658 — splrep/splev, with the
    smoothing condition ``s`` forwarded as in the reference's hht tutorial
    chain interp(..., method='spline', s=noise)).

    s=0 (default) is the engine's own O(N) not-a-knot interpolating
    kernel (decomposition/kernels.py, same one the EMD envelopes use);
    s>0 is the Reinsch natural cubic smoothing spline picking the
    smoothest f with Σ(f(xᵢ)−yᵢ)² = s (FITPACK reaches the same residual
    target by B-spline knot insertion, so interiors differ slightly; the
    s=0 ⇒ interpolation / large-s ⇒ least-squares-line contract is
    identical and pinned by tests).

    Samples and probes union into one bucketed-grouped Arrow UDF (a single
    shuffle; per-series Arrow overhead amortized across the bucket); both
    kernels are banded O(N) solves per series."""
    return _interp_kernel(ts, grid, kind="spline", s=float(s))


def interp_quadratic(ts: DataFrame, grid: DataFrame) -> DataFrame:
    """C¹ quadratic-spline interpolation onto a probe grid (reference
    interp(method='quadratic'), core.py:643 — xarray→interp1d
    kind='quadratic'; here the engine's own midpoint-knot k=2 B-spline
    collocation, banded O(N) per series)."""
    return _interp_kernel(ts, grid, kind="quadratic")


def _interp_kernel(
    ts: DataFrame, grid: DataFrame, kind: str, s: float = 0.0
) -> DataFrame:
    from periodicity_spark.session import grouped_apply

    if "series_id" not in grid.columns:
        # GLOBAL grid: ship the probe times inside the kernel closure (like
        # gls_arrow ships its frequency grid) instead of materializing a
        # |series|×|grid| probe table through distinct + crossJoin + union —
        # that probe side was ~4× the sample volume through the bucket
        # exchange and the Arrow boundary. Every series in ``ts`` still
        # yields |grid| output rows (all-NULL series emit NaN→NULL values),
        # because the group set is taken from the UNFILTERED rows and NULL
        # samples are dropped inside the kernel — ingestion normalizes
        # NaN→NULL (sources/ingest.py), so pandas notna() is equivalent to
        # the JVM isNotNull filter of the union path.
        import numpy as np

        # Bounded eager collect: the closure grid is a driver-memory and
        # per-task-serialization cost, O(|grid|) each — fine for the
        # bounded probe grids every declared query uses, unbounded for a
        # caller-supplied huge grid. Probe with LIMIT n+1 (one cheap
        # bounded job) and fall back to the fully-distributed
        # distinct+crossJoin+union path when the grid exceeds the cap.
        _GRID_CLOSURE_CAP = 100_000
        head = grid.select(
            F.col("time").cast("double").alias("time")
        ).limit(_GRID_CLOSURE_CAP + 1).collect()
        if len(head) > _GRID_CLOSURE_CAP:
            grid = ts.select("series_id").distinct().crossJoin(
                grid.select(F.col("time").cast("double").alias("time"))
            )
            return _interp_kernel(ts, grid, kind, s)
        probe_x = np.asarray([r["time"] for r in head], dtype=float)

        def _per_series_global(pdf):
            import numpy as np
            import pandas as pd
            from periodicity_spark.decomposition.kernels import (
                cubic_spline,
                quadratic_spline,
                smoothing_spline,
            )

            sample = pdf[pdf["value"].notna()].sort_values("time")
            if len(sample) == 0:
                v = np.full(len(probe_x), np.nan)
            else:
                xk = sample["time"].to_numpy(float)
                yk = sample["value"].to_numpy(float)
                if kind == "quadratic":
                    v = quadratic_spline(xk, yk, probe_x)
                elif s > 0:
                    v = smoothing_spline(xk, yk, probe_x, s)
                else:
                    v = cubic_spline(xk, yk, probe_x)
            return pd.DataFrame(
                {"series_id": pdf["series_id"].iloc[0], "time": probe_x, "value": v}
            )

        return grouped_apply(
            ts.select("series_id", "time", "value"),
            _per_series_global,
            "series_id string, time double, value double",
        )
    samples = (
        ts.filter(F.col("value").isNotNull())
        .select("series_id", "time", "value")
        .withColumn("_isp", F.lit(0))
    )
    probes = grid.select(
        "series_id", F.col("time").cast("double").alias("time")
    ).withColumn("value", F.lit(None).cast("double")).withColumn("_isp", F.lit(1))

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.decomposition.kernels import (
            cubic_spline,
            quadratic_spline,
            smoothing_spline,
        )

        probe = pdf[pdf["_isp"] == 1]
        sample = pdf[pdf["_isp"] == 0].sort_values("time")
        if len(probe) == 0:
            return pd.DataFrame(columns=["series_id", "time", "value"])
        x = probe["time"].to_numpy(float)
        if len(sample) == 0:
            v = np.full(len(x), np.nan)
        else:
            xk = sample["time"].to_numpy(float)
            yk = sample["value"].to_numpy(float)
            if kind == "quadratic":
                v = quadratic_spline(xk, yk, x)
            elif s > 0:
                v = smoothing_spline(xk, yk, x, s)
            else:
                v = cubic_spline(xk, yk, x)
        return pd.DataFrame(
            {"series_id": probe["series_id"].iloc[0], "time": x, "value": v}
        )

    return grouped_apply(
        samples.unionByName(probes),
        _per_series,
        "series_id string, time double, value double",
    )


def interp(ts: DataFrame, grid: DataFrame, method: str = "linear", **kwargs) -> DataFrame:
    """Probe-grid interpolation dispatcher (reference interp(),
    core.py:636-662). methods: linear | slinear (alias) | nearest | zero |
    quadratic | spline | cubic (alias). Extra kwargs are forwarded to the
    spline path (``s`` — the splrep smoothing condition), mirroring the
    reference's **kwargs passthrough."""
    m = {
        "linear": interp_linear,
        "slinear": interp_linear,
        "nearest": interp_nearest,
        "zero": interp_zero,
        "quadratic": interp_quadratic,
        "spline": interp_spline,
        "cubic": interp_spline,
    }
    if method not in m:
        raise ValueError(f"unknown interp method: {method!r}")
    if method in ("spline", "cubic"):
        return m[method](ts, grid, **kwargs)
    if kwargs:
        raise TypeError(f"interp method {method!r} takes no extra kwargs: {kwargs}")
    return m[method](ts, grid)


def downsample_tf(tf: DataFrame, dt: float, df_: float) -> DataFrame:
    """2-D rebinning of a TF spectrogram (reference TFSeries.downsample,
    core.py:1129-1163): groupBy on two bucket columns — one shuffle.
    Bucket semantics follow the 1-D downsample (equal-width, right-closed).

    A caller may floor the SOURCE before a narrow expansion into ``tf``
    (fewer bytes through the floor exchange); the floor here then sees
    that repartition in the plan and adds none."""
    from periodicity_spark.session import scan_parallel

    # both aggregation passes consume tf inside its scan tasks; floor the
    # parallelism so a single-row-group source (or a narrow upstream
    # expansion over one) does not serialize them onto one core
    tf = scan_parallel(tf)
    stats = tf.groupBy("series_id").agg(
        F.min("time").alias("_t0"), F.max("time").alias("_t1"),
        F.min("frequency").alias("_f0"), F.max("frequency").alias("_f1"),
    )
    b = tf.join(F.broadcast(stats), "series_id").filter(
        (F.col("_t1") > F.col("_t0")) & (F.col("_f1") > F.col("_f0"))
    )
    nt = F.ceil((F.col("_t1") - F.col("_t0")) / F.lit(dt)).cast("int")
    nf = F.ceil((F.col("_f1") - F.col("_f0")) / F.lit(df_)).cast("int")
    wt = (F.col("_t1") - F.col("_t0")) / nt
    wf = (F.col("_f1") - F.col("_f0")) / nf
    tb = F.greatest(F.ceil((F.col("time") - F.col("_t0")) / wt) - 1, F.lit(0)).cast("long")
    fb = F.greatest(F.ceil((F.col("frequency") - F.col("_f0")) / wf) - 1, F.lit(0)).cast("long")
    return (
        b.groupBy("series_id", tb.alias("_tb"), fb.alias("_fb"), "_t0", "_f0")
        .agg(F.avg("power").alias("power"))
        .select(
            "series_id",
            (F.col("_t0") + F.col("_tb") * F.lit(dt)).alias("time"),
            (F.col("_f0") + F.col("_fb") * F.lit(df_)).alias("frequency"),
            "power",
        )
    )
