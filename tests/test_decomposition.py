"""Port of reference tests/test_decomposition.py thresholds + EMD/LMD units."""

import numpy as np
import pandas as pd
import pytest

from periodicity_spark.decomposition.ceemdan import CEEMDAN
from periodicity_spark.decomposition.emd import emd_modes, lmd_modes, orthogonality_matrix
from periodicity_spark.decomposition.kernels import emd
from periodicity_spark.sources.synthetic import sustained_plus_gapped_pure_tones


def test_emd_kernel_pure_and_two_tone():
    t = np.arange(1000, dtype=float)
    x = np.sin(2 * np.pi * 0.065 * t)
    modes, _ = emd(t, x)
    assert len(modes) == 1
    assert np.linalg.norm(modes[0] - x) / np.linalg.norm(x) < 1e-6
    x2 = np.sin(2 * np.pi * 0.25 * t) + np.sin(2 * np.pi * 0.03 * t)
    m2, _ = emd(t, x2)
    assert len(m2) == 2
    hi = np.sin(2 * np.pi * 0.25 * t)
    assert np.linalg.norm((m2[0] - hi)[5:-5]) / np.linalg.norm(hi[5:-5]) < 0.01


def test_emd_modes_spark(spark):
    t = np.arange(500, dtype=float)
    x = np.sin(2 * np.pi * 0.25 * t) + np.sin(2 * np.pi * 0.03 * t)
    df = spark.createDataFrame(pd.DataFrame({"series_id": "s", "time": t, "value": x}))
    out = emd_modes(df).toPandas()
    assert sorted(out["mode"].unique()) == [0, 1]
    orth = orthogonality_matrix(
        emd_modes(df).withColumnRenamed("value", "value")
    ).toPandas()
    offdiag = orth[(orth["mode_i"] == 0) & (orth["mode_j"] == 1)]["corr"].iloc[0]
    assert abs(offdiag) < 0.1  # well-separated tones → nearly orthogonal IMFs


def test_lmd_modes_spark(spark):
    t = np.arange(600, dtype=float)
    # AM-modulated carrier: LMD's home turf
    x = (1.0 + 0.5 * np.sin(2 * np.pi * 0.005 * t)) * np.sin(2 * np.pi * 0.1 * t)
    df = spark.createDataFrame(pd.DataFrame({"series_id": "s", "time": t, "value": x}))
    out = lmd_modes(df, max_modes=1).toPandas()
    assert set(out.columns) == {"series_id", "mode", "time", "amp", "func"}
    pf0 = out[out["mode"] == 0].sort_values("time")
    # the first PF's envelope should track the AM envelope (loose bound:
    # the reference ships no LMD tests at all, SURVEY.md §5)
    env_true = 1.0 + 0.5 * np.sin(2 * np.pi * 0.005 * t)
    amp = pf0["amp"].to_numpy()
    err = np.abs(amp[50:-50] - env_true[50:-50]).mean()
    assert err < 0.25


def test_ceemdan_two_tones_thresholds(spark):
    """reference tests/test_decomposition.py:8-30 thresholds, verbatim."""
    x = sustained_plus_gapped_pure_tones(spark)
    modes = CEEMDAN(ensemble_size=50, random_seed=42)(x).toPandas()
    piv = modes.pivot_table(index="time", columns="mode", values="value").sort_index()
    assert sorted(modes["mode"].unique()) == [0, 1]
    t = np.arange(1000)
    s2 = np.sin(2 * np.pi * 0.065 * t)
    s1 = np.zeros_like(s2)
    s1[500:750] += np.sin(2 * np.pi * 0.255 * np.arange(250))
    imf0, imf1 = piv[0].to_numpy(), piv[1].to_numpy()
    assert np.mean(np.square(imf0[11:490])) < 1e-4
    assert np.mean(np.square(imf0[761:990])) < 1e-4
    assert np.linalg.norm((imf0 - s1)[3:-3]) / np.linalg.norm(s1[3:-3]) < 0.10
    assert np.linalg.norm((imf1 - s2)[3:-3]) / np.linalg.norm(s2[3:-3]) < 0.05
    total = piv.sum(axis=1).to_numpy()
    assert np.linalg.norm(total - (s1 + s2)) / np.linalg.norm(s1 + s2) < 1e-15


def test_ceemdan_rows_equal_driver_kernel(spark):
    """CEEMDAN()(ts) is ceemdan_1d per series, seeded by crc32(series_id):
    the Spark rows equal the kernel run on the driver exactly. Series of
    different lengths, unsorted input, a NULL value (dropped first), a
    constant series and a 3-point series (both decompose to no modes)."""
    import zlib

    from periodicity_spark.decomposition.kernels import ceemdan_1d

    rng = np.random.default_rng(11)
    t_a = np.sort(rng.uniform(0, 100, 160))
    t_b = np.arange(90, dtype=float)
    series = {
        "a": (t_a, np.sin(2 * np.pi * 0.21 * t_a) + 0.4 * np.sin(2 * np.pi * 0.03 * t_a)),
        "b": (t_b, np.sin(2 * np.pi * 0.1 * t_b) + 0.2 * rng.standard_normal(90)),
        "const": (np.arange(40, dtype=float), np.full(40, 2.5)),
        "short": (np.arange(3, dtype=float), np.array([1.0, -1.0, 0.5])),
    }
    rows = [
        (sid, float(ti), float(vi)) for sid, (t, v) in series.items() for ti, vi in zip(t, v)
    ]
    rows.append(("b", 200.0, None))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    ts = spark.createDataFrame(rows, "series_id string, time double, value double")
    kw = dict(ensemble_size=6, random_seed=3, max_modes=3)
    got = CEEMDAN(**kw)(ts).toPandas().sort_values(["series_id", "mode", "time"])

    want = []
    for sid, (t, v) in series.items():
        modes = ceemdan_1d(
            t, v, ensemble_size=6, seed=3, max_modes=3, sid_crc=zlib.crc32(sid.encode())
        )
        want += [
            pd.DataFrame({"series_id": sid, "mode": k, "time": t, "value": m})
            for k, m in enumerate(modes)
        ]
    want = pd.concat(want, ignore_index=True).sort_values(["series_id", "mode", "time"])
    assert set(got["series_id"]) == {"a", "b"}
    assert len(got) == len(want)
    for col in ("series_id", "mode", "time", "value"):
        assert got[col].tolist() == want[col].tolist(), col


def test_ceemdan_builds_without_a_spark_job(spark):
    """Building CEEMDAN()(ts) is a lazy plan: no job runs until an action.
    A one-job control action in the same group proves the listener has
    caught up."""
    import time

    sc = spark.sparkContext
    t = np.arange(8.0)
    ts = spark.createDataFrame(pd.DataFrame({"series_id": "s", "time": t, "value": np.sin(t)}))
    group = "ceemdan_build_no_job"
    sc.setJobGroup(group, "CEEMDAN plan build")
    try:
        CEEMDAN(ensemble_size=4)(ts)
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
        time.sleep(0.1)
    assert len(tracker.getJobIdsForGroup(group)) == 1


def test_ceemdan_rejects_unknown_kwargs():
    """Only emd_iter's tunables pass through; anything else (a misspelling,
    or the removed ``strategy=``) raises when the operator is built."""
    for bad in ({"strategy": "local"}, {"max_iters": 10}, {"theta1": 0.1}):
        with pytest.raises(TypeError):
            CEEMDAN(**bad)
    op = CEEMDAN(max_iter=50, pad_width=3, theta_1=0.1, theta_2=0.6, alpha=0.1)
    assert op.emd_kwargs["max_iter"] == 50


def test_lmd_survives_irregular_gap_short_series():
    """Regression (r6, found by the sf0.1 full audit): a short series whose
    largest extrema gap is huge relative to the median dt derived a
    smoothing window longer than the mirror pad can support — the
    convolution output shrank below n and the (Fc−mu)/env broadcast
    crashed the whole Spark stage. The window is now clamped to 2n−1; the
    amplitude-×-frequency reconstruction identity must still hold."""
    import numpy as np

    from periodicity_spark.decomposition.kernels import lmd

    t = np.array([0.0, 0.01, 0.02, 0.03, 0.04, 5.0, 5.01, 5.02, 5.03, 5.04])
    x = np.array([0.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 0.0])
    pfs, res = lmd(t, x)
    recon = sum(A * F for A, F in pfs) + res
    assert np.abs(recon - x).max() < 1e-12


def test_sift_plumbing_rewrite_bit_identical_to_reference_forms():
    """r10 kernel optimization: _solve_tridiag moved to Python-float
    Thomas, cubic_spline dropped the np.r_ copies and np.diff dispatch,
    _padded_anchor dropped the double reversals, emd_iter swapped
    np.mean(bool) for count/size. Each is an algebraic no-op; this pins
    the whole sift chain bit-exactly against the former formulations."""
    import numpy as np

    from periodicity_spark.decomposition.kernels import (
        _padded_anchor,
        _solve_tridiag,
        cubic_spline,
        emd_iter,
        find_extrema_idx,
    )

    rng = np.random.default_rng(42)
    for n in (4, 5, 8, 13, 47, 300):
        xk = np.sort(rng.uniform(0, 10, n))
        yk = rng.standard_normal(n)
        x = rng.uniform(-1, 11, 25)
        # former cubic_spline body (np.diff / np.r_ forms), verbatim
        h = np.diff(xk)
        r = 6.0 * np.diff(np.diff(yk) / h)
        lo = h[:-1].astype(float).copy()
        dg = 2.0 * (h[:-1] + h[1:])
        up = h[1:].astype(float).copy()
        dg0 = dg[0] + lo[0] * (h[0] + h[1]) / h[1]
        up0 = up[0] - lo[0] * h[0] / h[1]
        dgl = dg[-1] + up[-1] * (h[-2] + h[-1]) / h[-2]
        lol = lo[-1] - up[-1] * h[-1] / h[-2]
        dg[0], up[0], lo[0] = dg0, up0, 0.0
        dg[-1], lo[-1], up[-1] = dgl, lol, 0.0
        Mi_new = _solve_tridiag(lo, dg, up, r)
        Mi_r_forms = _solve_tridiag(np.r_[0.0, lo[1:]], dg, np.r_[up[:-1], 0.0], r)
        np.testing.assert_array_equal(Mi_new, Mi_r_forms)
        # numpy-scalar Thomas (the pre-r10 loop), verbatim
        nn = len(dg)
        c = np.empty(nn)
        d = np.empty(nn)
        c[0] = up[0] / dg[0]
        d[0] = r[0] / dg[0]
        for i in range(1, nn):
            den = dg[i] - lo[i] * c[i - 1]
            c[i] = up[i] / den if i < nn - 1 else 0.0
            d[i] = (r[i] - lo[i] * d[i - 1]) / den
        xs = np.empty(nn)
        xs[-1] = d[-1]
        for i in range(nn - 2, -1, -1):
            xs[i] = d[i] - c[i] * xs[i + 1]
        np.testing.assert_array_equal(Mi_new, xs)
        assert cubic_spline(xk, yk, x).dtype == np.float64

    # _padded_anchor vs the double-reversed construction on a sifted series
    t = np.arange(200, dtype=float) * 0.13
    sig = np.sin(t) + 0.3 * rng.standard_normal(200)
    peaks, _dips = find_extrema_idx(sig)
    for pad in (2, 3):
        at, av = _padded_anchor(t, sig, peaks, pad)
        ti, vi = t[peaks], sig[peaks]
        lt = 2 * t[0] - ti[:pad][::-1]
        lv = vi[:pad][::-1]
        rt = 2 * t[-1] - ti[-pad:][::-1]
        rv = vi[-pad:][::-1]
        at_old = np.concatenate([lt[::-1], ti, rt[::-1]])
        av_old = np.concatenate([lv[::-1], vi, rv[::-1]])
        order = np.argsort(at_old)
        np.testing.assert_array_equal(at, at_old[order])
        np.testing.assert_array_equal(av, av_old[order])

    # emd_iter criterion: count/size ≡ np.mean over bool — spot-check the
    # full mode against a run of the former criterion inline
    from periodicity_spark.decomposition.kernels import emd_sift

    mode_ref = sig.copy()
    for _ in range(2000):
        try:
            mu, sigma, n_ext, n_zero = emd_sift(t, mode_ref, 2)
        except ValueError:
            break
        is_imf = np.mean(sigma > 0.05) < 0.05
        is_imf = is_imf and np.all(sigma < 0.50)
        is_imf = is_imf and abs(n_zero - n_ext) <= 1
        if is_imf:
            break
        mode_ref = mode_ref - mu
    mode_new, mono = emd_iter(t, sig)
    assert not mono
    np.testing.assert_array_equal(mode_new, mode_ref)
