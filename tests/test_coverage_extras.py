"""Tests for the final coverage items: fast GLS path, mirror fill, HHT TEO
method, CWT reconstruct, CEEMDAN postprocessing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from periodicity_spark.decomposition.emd import ceemdan_postprocess, emd_modes
from periodicity_spark.operators.clean import mirror_fill
from periodicity_spark.spectral.fast import gls_periodogram_fast
from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid
from periodicity_spark.timefrequency.hht import hht, marginal_spectrum
from periodicity_spark.timefrequency.wps import reconstruct, wps


def _df(spark, t, v, sid="s"):
    return spark.createDataFrame(
        pd.DataFrame({"series_id": sid, "time": np.asarray(t, float), "value": np.asarray(v, float)})
    )


def test_fast_gls_matches_distributed(spark):
    rng = np.random.default_rng(42)
    t = np.sort(rng.uniform(0, 100, 400))
    y = np.sin(2 * np.pi * t / 7.0) + 0.3 * rng.standard_normal(400)
    ts = _df(spark, t, y)
    fmin, df_, nf = 0.01, 0.002, 200
    fast = (
        gls_periodogram_fast(ts, fmin, df_, nf)
        .orderBy("frequency").toPandas()["power"].to_numpy()
    )
    exact = (
        gls_periodogram(ts, freq_grid=uniform_freq_grid(spark, fmin, df_, nf))
        .orderBy("frequency").toPandas()["power"].to_numpy()
    )
    assert np.abs(fast - exact).max() < 1e-3
    assert np.argmax(fast) == np.argmax(exact)


def test_fast_gls_matches_duckdb_oracle(spark):
    """gls_fast vs the exact SQL_GLS_POWER oracle (DuckDB) at sf0.001 — the
    cross-engine differential for the extirpolation approximation."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    fast = (
        em.queries()["gls_fast"](spark, sf)
        .orderBy("series_id", "frequency")
        .toPandas()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    exact = (
        con.sql(em.oracle_sql()["gls_power"])
        .df()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    fast = fast.reset_index(drop=True)
    assert len(fast) == len(exact)
    assert (fast["series_id"] == exact["series_id"]).all()
    np.testing.assert_allclose(fast["frequency"], exact["frequency"], rtol=0, atol=1e-12)
    # power is pre-rounded to 6 decimals on the Spark side; extirpolation
    # tolerance dominates
    assert np.abs(fast["power"].to_numpy() - exact["power"].to_numpy()).max() < 2e-3


def test_mirror_fill(spark):
    t = np.arange(10, dtype=float)
    v = [1.0, 2.0, 3.0, np.nan, np.nan, np.nan, np.nan, 8.0, 9.0, 10.0]
    out = mirror_fill(_df(spark, t, v)).orderBy("time").toPandas()["value"].tolist()
    # gap [3,7): left half mirrors 3,2← positions, right half mirrors 9,8
    assert not any(np.isnan(out))
    # reference index arithmetic: v[start+i] = v[2·start−(start+i)−1],
    # v[end−1−i] = v[2·end−(end−1−i)−1]
    assert out[3] == 3.0 and out[4] == 2.0  # ← v[2], v[1]
    assert out[5] == 9.0 and out[6] == 8.0  # ← v[8], v[7]


def test_hht_teo_method(spark):
    t = np.arange(600, dtype=float)
    x = np.sin(2 * np.pi * 0.1 * t)
    tf = hht(_df(spark, t, x), list(np.linspace(0, 0.3, 16)), method="TEO")
    m = marginal_spectrum(tf).toPandas()
    best = m.loc[m["power"].idxmax()]
    assert best["frequency"] == pytest.approx(0.1, abs=0.03)


def test_wps_reconstruct_correlates(spark):
    t = np.arange(512, dtype=float)
    x = np.sin(2 * np.pi * t / 16.0)
    periods = list(2.0 ** np.arange(1, 7))  # 2..64 dyadic
    tf = wps(_df(spark, t, x), periods, with_coefs=True)
    rec = reconstruct(tf).orderBy("time").toPandas()["value"].to_numpy()
    # inverse CWT on a coarse dyadic grid reproduces the waveform up to a
    # scale factor — check shape via correlation
    assert np.corrcoef(rec[32:-32], x[32:-32])[0, 1] > 0.95


def test_ceemdan_postprocess(spark):
    t = np.arange(600, dtype=float)
    x = np.sin(2 * np.pi * 0.25 * t) + np.sin(2 * np.pi * 0.03 * t)
    modes = emd_modes(_df(spark, t, x))
    post = ceemdan_postprocess(modes).toPandas()
    assert sorted(post["mode"].unique()) == [0, 1]
    # post-sifted modes still reconstruct the originals closely
    piv = post.pivot_table(index="time", columns="mode", values="value").sort_index()
    hi = np.sin(2 * np.pi * 0.25 * t)
    assert (
        np.linalg.norm((piv[0].to_numpy() - hi)[10:-10]) / np.linalg.norm(hi[10:-10])
        < 0.05
    )


def test_mirror_fill_oracle_cascade_guard():
    """The mirror_fill DuckDB oracle resolves cascaded fills TWO passes deep
    (a gap whose mirror source lies inside another gap). The sequential
    engine kernel cascades arbitrarily deep, so the oracle is only exact
    while the compared data contains no depth-3 chains. This guard asserts
    that domain of validity for the SFs the oracle actually runs at
    (pytest contract sf0.001, driver compare sf0.01) — if the testdata
    generator ever changes, this fails loudly instead of the contract
    mismatching mysteriously. (sf0.1 is bench-only — it HAS depth-3 chains,
    measured 8 — which is why the oracle must never be compared there.)"""
    import duckdb

    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/events.parquet')"
        )
        df = con.execute(
            """
            SELECT user_id::VARCHAR || '/' || event_type AS series_id,
                   (epoch_us(ts) - 1704067200000000)::DOUBLE / 86400000000.0 AS t,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
            FROM events ORDER BY series_id, t
            """
        ).df()
        depth3 = 0
        for _, g in df.groupby("series_id"):
            isnull = np.isnan(g["value"].to_numpy(float))
            nulls = set(np.where(isnull)[0])
            ids = np.where(np.diff(isnull))[0] + 1
            ids = np.concatenate([[0], ids]) if isnull[0] else ids
            runs = [(ids[2 * i], ids[2 * i + 1]) for i in range(len(ids) // 2)]

            def srcs(s, e, n=len(isnull)):
                gap = e - s
                return [
                    *range(max(0, s - gap // 2), s),
                    *range(e + 1, min(n, e + gap // 2 + 1)),
                ]

            for s, e in runs:
                for x in srcs(s, e):
                    if x not in nulls:
                        continue
                    for s2, e2 in runs:
                        if s2 <= x < e2 and any(y in nulls for y in srcs(s2, e2)):
                            depth3 += 1
        assert depth3 == 0, f"sf{sf}: {depth3} depth-3 mirror chains — oracle needs a 3rd pass"


def test_cohort_retention_semantics(spark):
    """Hand-computable cohort fixture: day-0 retention is 1.0 by
    construction for every cohort; a returning user counts once per
    (cohort, offset) even with many events that day; users never mix
    across cohorts."""
    from periodicity_spark.operators.agg import cohort_retention

    rows = [
        # cohort day 0: users 1, 2 — user 1 returns day 1 (twice) and day 3
        (1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00"),
        (1, "2024-01-02 09:00:00"), (1, "2024-01-02 19:00:00"),
        (1, "2024-01-04 09:00:00"),
        # cohort day 2: user 3, returns day 3
        (3, "2024-01-03 08:00:00"), (3, "2024-01-04 08:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    out = {
        (r["cohort"], r["day_offset"]): r
        for r in cohort_retention(ev).collect()
    }
    base = 19723  # days from 1970-01-01 to 2024-01-01
    assert out[(base, 0)]["n_users"] == 2 and out[(base, 0)]["retention"] == 1.0
    assert out[(base, 1)]["n_users"] == 1 and out[(base, 1)]["retention"] == 0.5
    assert out[(base, 3)]["n_users"] == 1
    assert (base, 2) not in out  # nobody from cohort 0 active on day 2
    assert out[(base + 2, 0)]["n_users"] == 1 and out[(base + 2, 0)]["cohort_size"] == 1
    assert out[(base + 2, 1)]["retention"] == 1.0
    assert len(out) == 5
