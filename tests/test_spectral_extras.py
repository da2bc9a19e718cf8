"""Butterworth / acf_period_quality / FFT family / bootstrap / model tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from periodicity_spark.operators.clean import acf_period_quality, butterworth
from periodicity_spark.spectral.bootstrap import fal, fap, gls_bootstrap_replicates, gls_model
from periodicity_spark.spectral.fft import fft, ifft, psd
from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid


def _df(spark, t, v, sid="s"):
    return spark.createDataFrame(
        pd.DataFrame({"series_id": sid, "time": np.asarray(t, float), "value": np.asarray(v, float)})
    )


def test_butterworth_bandpass(spark):
    t = np.arange(2000, dtype=float)
    x = np.sin(2 * np.pi * 0.01 * t) + np.sin(2 * np.pi * 0.05 * t) + np.sin(2 * np.pi * 0.2 * t)
    out = (
        butterworth(_df(spark, t, x), fmin=0.03, fmax=0.08)
        .orderBy("time")
        .toPandas()["value"]
        .to_numpy()
    )
    sl = slice(200, 1800)
    amp = lambda sig, f: 2 * np.abs(np.dot(sig[sl], np.exp(-2j * np.pi * f * t[sl]))) / len(t[sl])
    assert amp(out, 0.05) == pytest.approx(1.0, abs=0.05)
    assert amp(out, 0.01) < 0.02
    assert amp(out, 0.2) < 0.02


def test_acf_period_quality(spark):
    rng = np.random.default_rng(42)
    t = np.arange(3000, dtype=float)
    x = np.sin(2 * np.pi * t / 60.0) + 0.3 * rng.standard_normal(3000)
    row = acf_period_quality(_df(spark, t, x), p_min=20.0, p_max=120.0).collect()[0]
    assert row["best_period"] == pytest.approx(60.0, rel=0.1)
    assert row["quality"] > 0


def test_fft_psd_ifft_roundtrip(spark):
    t = np.arange(128, dtype=float)
    x = np.sin(2 * np.pi * t / 16.0)
    fs = fft(_df(spark, t, x))
    p = psd(_df(spark, t, x)).toPandas()
    best = p.loc[p["power"].idxmax()]
    assert best["frequency"] == pytest.approx(1.0 / 16.0)
    back = ifft(fs).orderBy("time").toPandas()["value"].to_numpy()
    assert np.allclose(back, x, atol=1e-10)


def test_gls_model_recovers_sinusoid(spark):
    t = np.arange(200, dtype=float)
    x = 3.0 + 2.0 * np.sin(2 * np.pi * t / 25.0 + 0.7)
    grid = spark.createDataFrame(pd.DataFrame({"time": np.linspace(0, 199, 77)}))
    pred = gls_model(_df(spark, t, x), f0=1 / 25.0, new_times=grid).orderBy("time").toPandas()
    expected = 3.0 + 2.0 * np.sin(2 * np.pi * pred["time"].to_numpy() / 25.0 + 0.7)
    assert np.allclose(pred["value"].to_numpy(), expected, atol=1e-6)


def test_bootstrap_fap_fal(spark):
    rng = np.random.default_rng(1)
    t = np.arange(120, dtype=float)
    x = np.sin(2 * np.pi * t / 12.0) + 0.2 * rng.standard_normal(120)
    ts = _df(spark, t, x)
    grid = uniform_freq_grid(spark, 0.02, 0.005, 30)
    reps = gls_bootstrap_replicates(ts, grid, n_bootstraps=24, seed=7)
    assert reps.count() == 24
    pg = gls_periodogram(ts, freq_grid=grid)
    obs = pg.groupBy("series_id").agg(F.max("power").alias("power"))
    # the true periodic signal's peak should beat (almost) all shuffled nulls
    f = fap(reps, obs).collect()[0]["fap"]
    assert f <= 0.1
    lvl = fal(reps, 0.05).collect()[0]["fal"]
    assert 0.0 < lvl < 1.0


def test_psort_by_prominence_separates_shoulder_from_peak(spark):
    """A tall peak with a shoulder and a smaller isolated peak: height
    ranking puts the shoulder 2nd, prominence ranking puts the isolated
    peak 2nd (the whole point of prominence sorting)."""
    import pandas as pd

    from periodicity_spark.spectral.periodogram_ops import (
        period_at_highest_prominence,
        psort_by_peak,
        psort_by_prominence,
    )

    freq = [0.1 * (i + 1) for i in range(12)]
    #                 main peak     shoulder         isolated peak
    power = [0.0, 0.1, 10.0, 8.0, 8.5, 0.2, 0.1, 0.05, 4.0, 0.1, 0.05, 0.0]
    pg = spark.createDataFrame(
        pd.DataFrame({"series_id": "s", "frequency": freq, "power": power})
    )
    by_height = psort_by_peak(pg, k=3).toPandas().sort_values("rank")
    by_prom = psort_by_prominence(pg, k=3).toPandas().sort_values("rank")
    # height rank 2 is the shoulder (power 8.5); prominence rank 2 is the
    # isolated 4.0 peak (shoulder's prominence is only 8.5 - 8.0 = 0.5)
    assert by_height.iloc[1]["power"] == 8.5
    assert by_prom.iloc[1]["power"] == 4.0
    assert by_prom.iloc[2]["power"] == 8.5
    assert by_prom.iloc[2]["prominence"] == pytest.approx(0.5)
    top = period_at_highest_prominence(pg).collect()[0]
    assert top["period"] == pytest.approx(1.0 / 0.3)


def test_psort_fused_topk_matches_windowed_formulation(spark, sf_dir):
    """The k-given fused path (in-kernel lexsort rank) must select the SAME
    rows with the SAME ranks as the former windowed formulation — the
    row_number window over (prominence DESC, frequency ASC) on the
    find_peaks_prominence kernel output — on the real GLS periodogram AND
    on a tie/NaN construction. Bit-equality, not approx: the fused kernel
    runs the verbatim prominence walk and ranks the identical float64s."""
    from pyspark.sql import Window

    import __spark_entry__ as em
    from periodicity_spark.operators.windows import find_peaks_prominence
    from periodicity_spark.spectral.periodogram_ops import psort_by_prominence

    def windowed_reference(pg, k):
        peaks = find_peaks_prominence(pg, order_col="frequency", value="power")
        w = Window.partitionBy("series_id").orderBy(
            F.desc("prominence"), F.asc("frequency")
        )
        ranked = peaks.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        return ranked.select(
            "series_id",
            "rank",
            (1.0 / F.col("frequency")).alias("period"),
            "power",
            "prominence",
        )

    def rows(df):
        return sorted(
            tuple(r) for r in df.collect()
        )

    pg = em._gls_pg(spark, sf_dir)
    assert rows(psort_by_prominence(pg, k=3)) == rows(windowed_reference(pg, 3))

    # ties (two peaks with equal prominence → frequency breaks) and a NaN
    # power (NaN prominence ranks FIRST under Spark's desc ordering)
    freq = [0.1 * (i + 1) for i in range(13)]
    power = [0.0, 5.0, 0.0, 5.0, 0.0, 1.0, 0.0, float("nan"), 0.0, 2.0, 0.0, 3.0, 0.0]
    pgt = spark.createDataFrame(
        pd.DataFrame({"series_id": "t", "frequency": freq, "power": power})
    )
    got = rows(psort_by_prominence(pgt, k=4))
    want = rows(windowed_reference(pgt, 4))
    def _canon(rws):
        return [
            tuple(("NaN" if isinstance(x, float) and x != x else x) for x in r)
            for r in rws
        ]
    assert _canon(got) == _canon(want)


def test_psort_by_prominence_rejects_negative_k(spark):
    """k < 0 raises: the windowed formulation (rank <= k) keeps no rows,
    while the fused kernel's order[:k] would keep all but the last |k|
    peaks. k = 0 keeps none on both."""
    from periodicity_spark.spectral.periodogram_ops import psort_by_prominence

    pg = spark.createDataFrame(
        pd.DataFrame({
            "series_id": "s",
            "frequency": [0.1, 0.2, 0.3, 0.4, 0.5],
            "power": [0.0, 2.0, 0.0, 1.0, 0.0],
        })
    )
    with pytest.raises(ValueError, match="k must be >= 0"):
        psort_by_prominence(pg, k=-1)
    assert psort_by_prominence(pg, k=0).count() == 0
    assert psort_by_prominence(pg, k=2).count() == 2


def test_gls_arrow_matches_crossjoin_path(spark):
    """The Arrow per-series GLS strategy must be numerically identical to
    the distributed crossJoin path (1e-9) with the same NULL pattern, on
    the real events series — including err-weighted, psd, fit_mean=False,
    and min_count variants on a synthetic check."""
    from periodicity_spark.sources.ingest import ts_from_events
    from periodicity_spark.spectral.gls import gls_arrow

    ts = ts_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("value").isNotNull()
    )
    grid = uniform_freq_grid(spark, 0.05, 0.015625, 64)
    a = (
        gls_arrow(ts, grid)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    b = (
        gls_periodogram(ts, freq_grid=grid)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert (a["power"].isna() == b["power"].isna()).all()
    ok = b["power"].notna()
    np.testing.assert_allclose(a["power"][ok], b["power"][ok], atol=1e-9)

    # option parity on a synthetic weighted series
    import numpy as _np

    rng = _np.random.default_rng(7)
    t = _np.sort(rng.uniform(0, 30, 200))
    y = _np.sin(2 * _np.pi * t / 3.0) + 0.1 * rng.standard_normal(200)
    e = rng.uniform(0.05, 0.2, 200)
    sdf = spark.createDataFrame(
        [("s", float(tt), float(yy), float(ee)) for tt, yy, ee in zip(t, y, e)],
        "series_id string, time double, value double, err double",
    )
    for kw in (
        {"err_col": "err"},
        {"psd": True},
        {"fit_mean": False},
        {"min_count": 201},
    ):
        aa = (
            gls_arrow(sdf, grid, **kw)
            .toPandas()
            .sort_values("frequency")
            .reset_index(drop=True)
        )
        bb = (
            gls_periodogram(sdf, freq_grid=grid, **kw)
            .toPandas()
            .sort_values("frequency")
            .reset_index(drop=True)
        )
        assert len(aa) == len(bb), kw
        if len(bb):
            okk = bb["power"].notna()
            assert (aa["power"].isna() == bb["power"].isna()).all(), kw
            np.testing.assert_allclose(
                aa["power"][okk], bb["power"][okk], atol=1e-9, err_msg=str(kw)
            )


def test_gls_strategies_agree_on_dirty_data(spark):
    """NaN values and NULL/NaN errors are missing data in BOTH exact GLS
    strategies — the same series must yield the same powers (and the same
    min_count decision) whichever exact strategy a query runs."""
    import numpy as _np

    from periodicity_spark.spectral.gls import gls_arrow

    rng = _np.random.default_rng(3)
    t = _np.sort(rng.uniform(0, 30, 120))
    y = _np.sin(2 * _np.pi * t / 3.0)
    rows = []
    for i, (tt, yy) in enumerate(zip(t, y)):
        val = float("nan") if i % 17 == 0 else float(yy)
        err = None if i % 23 == 0 else 0.1
        rows.append(("s", float(tt), val, err))
    sdf = spark.createDataFrame(
        rows, "series_id string, time double, value double, err double"
    )
    grid = uniform_freq_grid(spark, 0.05, 0.015625, 32)
    for kw in ({}, {"err_col": "err"}, {"min_count": 113}):
        a = (
            gls_arrow(sdf, grid, **kw)
            .toPandas().sort_values("frequency").reset_index(drop=True)
        )
        b = (
            gls_periodogram(sdf, freq_grid=grid, **kw)
            .toPandas().sort_values("frequency").reset_index(drop=True)
        )
        assert len(a) == len(b), kw
        if len(b):
            assert (a["power"].isna() == b["power"].isna()).all(), kw
            ok = b["power"].notna()
            np.testing.assert_allclose(
                a["power"][ok], b["power"][ok], atol=1e-9, err_msg=str(kw)
            )
            assert b["power"].notna().any(), kw


def test_gls_sql_string_build_plan_identical_to_column_reference(spark):
    """The r10 driver-overhead rewrite builds gls_periodogram's projection,
    six-sum aggregate and power finish as SQL STRINGS parsed JVM-side
    (~1 800 → ~540 py4j round-trips, 0.90 → 0.34 s per warm build). This
    differential re-implements the FORMER Column-object build verbatim —
    with the default plan's int-key recodes, persisted stats side and
    broadcast hints — and asserts the OPTIMIZED plans are byte-identical
    modulo expression ids, for every (psd, fit_mean) branch — plan
    equality implies result equality, to the bit."""
    import re

    import numpy as np
    from pyspark import StorageLevel
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from periodicity_spark.spectral.gls import (
        TWO_PI,
        gls_periodogram,
        uniform_freq_grid,
    )

    rng = np.random.default_rng(5)
    rows = [
        (f"s{i}", float(t), float(np.sin(0.7 * t) + 0.1 * rng.standard_normal()))
        for i in range(3)
        for t in range(40)
    ]
    sdf = spark.createDataFrame(rows, "series_id string, time double, value double")
    grid = uniform_freq_grid(spark, 0.05, 0.015625, 16)

    def column_reference(ts, freq_grid, psd, fit_mean):
        """Verbatim pre-rewrite formulation: Column objects end-to-end.
        → (power frame, its persisted stats side)."""
        ts = ts.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        werr = F.lit(1.0)
        base = ts.withColumn("werr", werr)
        stats = base.groupBy("series_id").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("werr").alias("wsum"),
            F.sum(F.col("werr") * F.col("value")).alias("_swy"),
            F.sum(F.col("werr") * F.col("value") * F.col("value")).alias("_swyy"),
        )
        ybar = (F.col("_swy") / F.col("wsum")) if fit_mean else F.lit(0.0)
        pre = stats.select(
            "series_id",
            "wsum",
            ybar.alias("ybar"),
            (F.col("_swyy") / F.col("wsum") - ybar * ybar).alias("YY"),
        )
        # the default plan: a dense int code per series and per grid point
        # (row_number over a global window), the stats side persisted and
        # broadcast into both of its joins
        pre = pre.withColumn(
            "_code", F.row_number().over(Window.orderBy("series_id"))
        ).persist(StorageLevel.MEMORY_ONLY)
        kgrid = freq_grid.withColumn(
            "_k", F.row_number().over(Window.orderBy("frequency"))
        )
        joined = base.join(F.broadcast(pre), "series_id").crossJoin(
            F.broadcast(kgrid)
        )
        theta = F.lit(TWO_PI) * F.col("frequency") * F.col("time")
        proj = joined.select(
            "_code",
            "_k",
            (F.col("werr") / F.col("wsum")).alias("_w"),
            (F.col("value") - F.col("ybar")).alias("_y"),
            F.sin(theta).alias("_s"),
            F.cos(theta).alias("_c"),
        )
        w, y, s, c = F.col("_w"), F.col("_y"), F.col("_s"), F.col("_c")
        sums = proj.groupBy("_code", "_k").agg(
            F.sum(w * s).alias("S"),
            F.sum(w * c).alias("C"),
            F.sum(w * (2 * s * c)).alias("S2"),
            F.sum(w * (1 - 2 * s * s)).alias("C2"),
            F.sum(w * y * s).alias("Sh"),
            F.sum(w * y * c).alias("Ch"),
        )
        sums = sums.join(
            F.broadcast(pre.select("_code", "wsum", "YY", "series_id")), "_code"
        ).join(F.broadcast(kgrid.select("_k", "frequency")), "_k")
        if fit_mean:
            tan2wt = F.try_divide(
                F.col("S2") - 2 * F.col("S") * F.col("C"),
                F.col("C2") - (F.col("C") * F.col("C") - F.col("S") * F.col("S")),
            )
        else:
            tan2wt = F.try_divide(F.col("S2"), F.col("C2"))
        norm = F.sqrt(1 + tan2wt * tan2wt)
        S2w = tan2wt / norm
        C2w = 1 / norm
        Cw = F.sqrt(F.lit(0.5)) * F.sqrt(1 + C2w)
        Sw = F.sqrt(F.lit(0.5)) * F.signum(S2w) * F.sqrt(1 - C2w)
        YC = F.col("Ch") * Cw + F.col("Sh") * Sw
        YS = F.col("Sh") * Cw - F.col("Ch") * Sw
        CC = 0.5 * (1 + F.col("C2") * C2w + F.col("S2") * S2w)
        SS = 0.5 * (1 - F.col("C2") * C2w - F.col("S2") * S2w)
        if fit_mean:
            CC = CC - (F.col("C") * Cw + F.col("S") * Sw) ** 2
            SS = SS - (F.col("S") * Cw - F.col("C") * Sw) ** 2
        power = F.try_divide(YC * YC, CC) + F.try_divide(YS * YS, SS)
        if psd:
            power = power * (0.5 * F.col("wsum"))
        else:
            power = F.try_divide(power, F.col("YY"))
        return sums.select("series_id", "frequency", power.alias("power")), pre

    def full_plan(df):
        """The ENTIRE optimized plan with ids canonicalized (r11, ADVICE
        r10: the first-line-only comparison left the sin/cos projection
        and the six-sum aggregate uncovered)."""
        s = df._jdf.queryExecution().optimizedPlan().toString()
        # the cached side prints its physical plan, whose exchanges carry
        # per-build plan ids
        return re.sub(r"plan_id=\d+", "plan_id=X", re.sub(r"#\d+", "#X", s))

    # Spark substitutes a cached subtree into EVERY plan that contains it,
    # so the reference's cache entry is dropped before the engine plans:
    # the engine's InMemoryRelation must then come from its own persist.
    for psd in (False, True):
        for fit_mean in (True, False):
            ref, ref_pre = column_reference(sdf, grid, psd, fit_mean)
            ref_plan = full_plan(ref)
            ref_pre.unpersist()
            new = gls_periodogram(
                sdf, freq_grid=grid, psd=psd, fit_mean=fit_mean
            )
            assert ref_plan == full_plan(new), (psd, fit_mean)
