"""GP period inference, Spark-first (reference gp.py:70-337).

Per-series MAP and MCMC run inside Arrow UDFs (the sampler loop is
sequential); the parallelism axes are series and — for the prior pipeline —
the period-ladder, exactly where the reference has none (its ladder loop is
serial, gp.py:131-136).

``make_gaussian_prior_mixture`` re-expresses the reference's closure-returning
prior (gp.py:70-153) as DATA: a mixture-component DataFrame
(series_id, mu, weight) — three rows per ladder rung at {log p, log p/2,
log 2p} weighted by ACF quality — and ``gaussian_prior_density`` evaluates it
on a log-period grid natively (one cross join + sum — no Python in the loop).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.operators.clean import acf_period_quality


def make_gaussian_prior_mixture(
    ts: DataFrame,
    p_min: float,
    periods: list[float],
    fundamental_height: float = 0.8,
    fundamental_width: float = 0.1,
) -> DataFrame:
    """→ (series_id, mu, sd, weight): Gaussian mixture components of the
    log-period prior (reference make_gaussian_prior, gp.py:70-153).
    The ladder of band-pass+ACF quality runs is a union of distributed
    pipelines — each rung an independent acf_period_quality job."""
    fh = fundamental_height
    hh = (1.0 - fh) / 2.0
    fw = fundamental_width
    rungs = None
    for p_max in periods:
        q = acf_period_quality(ts, p_min, p_max).select(
            "series_id",
            "best_period",
            F.greatest(F.col("quality"), F.lit(0.0)).alias("q"),
            F.col("quality").alias("_qraw"),
        )
        rungs = q if rungs is None else rungs.unionByName(q)
    # reference normalization (gp.py:145): weights use clamped q but the
    # denominator is the sum of RAW qualities (negatives included)
    qsum = rungs.groupBy("series_id").agg(F.sum("_qraw").alias("_qsum"))
    comp = rungs.join(F.broadcast(qsum), "series_id").filter(F.col("_qsum") > 0)
    rows = []
    for mult, height in ((1.0, fh), (0.5, hh), (2.0, hh)):
        rows.append(
            comp.select(
                "series_id",
                (F.log(F.col("best_period") * F.lit(mult))).alias("mu"),
                F.lit(fw).alias("sd"),
                (F.col("q") * F.lit(height) / F.col("_qsum")).alias("weight"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def gaussian_prior_density(mixture: DataFrame, log_p_grid: list[float]) -> DataFrame:
    """Evaluate the mixture on a log-period grid, natively:
    → (series_id, log_p, density)."""
    spark = mixture.sparkSession
    grid = spark.createDataFrame([(float(x),) for x in log_p_grid], "log_p double")
    z = (F.col("log_p") - F.col("mu")) / F.col("sd")
    pdf = F.exp(-z * z / 2) / (F.col("sd") * F.lit(math.sqrt(2 * math.pi)))
    return (
        mixture.crossJoin(F.broadcast(grid))
        .groupBy("series_id", "log_p")
        .agg(F.sum(F.col("weight") * pdf).alias("density"))
    )


def _theta0(t, y, err):
    import numpy as np

    from periodicity_spark.gp.kernels import gls_best_period

    sigma = float(np.std(y))
    jitter = float(np.min(err)) ** 2
    n = len(y)
    # seed the period with the engine's own periodogram (multi-modal NLL —
    # a generic sqrt(N)·dt init lands on harmonics)
    init_period = float(gls_best_period(t, y))
    return (
        np.array(
            [
                float(np.mean(y)),
                math.log(max(jitter, 1e-12)),
                2 * math.log(max(sigma, 1e-12)),
                2 * math.log(3 * init_period),
                4.5,
                math.log(init_period),
            ]
        ),
        sigma,
        max(jitter, 1e-12),
        math.log(init_period),
        0.2 * math.log(n),
    )


def gp_map(ts: DataFrame, err_col: str | None = None) -> DataFrame:
    """Per-series MAP fit of the quasi-periodic GP
    (reference minimize(), gp.py:231-244): → (series_id, period_map, nll,
    mean, log_jitter). Nelder-Mead on NLL − log-prior."""
    ec = err_col

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.gp.kernels import gp_nll, qp_log_prior
        from periodicity_spark.operators.iir import nelder_mead

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        err = (
            pdf[ec].to_numpy(float)
            if ec is not None and ec in pdf
            else np.full(len(y), max(1e-3, 0.05 * np.std(y)))
        )
        if len(y) < 12 or np.std(y) == 0:
            return pd.DataFrame(
                columns=["series_id", "period_map", "nll", "mean", "log_jitter"]
            )
        x0, sigma, jitter, init_log_p, sd_p = _theta0(t, y, err)

        def objective(theta):
            lp = qp_log_prior(theta, x0[0], sigma, jitter, init_log_p, sd_p)
            if not np.isfinite(lp):
                return 1e25
            return gp_nll(theta, t, y, err) - lp

        best, fbest = nelder_mead(objective, x0, max_iter=300)
        return pd.DataFrame(
            {
                "series_id": [pdf["series_id"].iloc[0]],
                "period_map": [float(np.exp(best[5]))],
                "nll": [float(fbest)],
                "mean": [float(best[0])],
                "log_jitter": [float(best[1])],
            }
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, period_map double, nll double, mean double, log_jitter double",
    )


def _with_period_prior(src: DataFrame, period_prior: DataFrame | None) -> DataFrame:
    """Attach the per-series data-driven period prior as array columns.

    ``period_prior``: (series_id, log_p, density) — the output of
    gaussian_prior_density over the make_gaussian_prior_mixture components.
    Kernels rebuild the reference's make_ppf empirical inverse CDF from the
    arrays (gp.py:45-67), so the MAP/MCMC period prior comes from the
    ACF-quality mixture instead of the default log-normal."""
    if period_prior is None:
        return src
    pp = (
        period_prior.groupBy("series_id")
        .agg(F.sort_array(F.collect_list(F.struct("log_p", "density"))).alias("_pp"))
        .select(
            "series_id",
            F.transform("_pp", lambda s: F.exp(s["log_p"])).alias("_pp_x"),
            F.transform("_pp", lambda s: s["density"]).alias("_pp_d"),
        )
    )
    return src.join(F.broadcast(pp), "series_id", "left")


def _prior_ppf_from_pdf(pdf):
    """make_ppf over the joined (_pp_x, _pp_d) arrays, or None."""
    import numpy as np

    if "_pp_x" not in pdf.columns:
        return None
    x = pdf["_pp_x"].iloc[0]
    if x is None or len(x) == 0:
        return None
    from periodicity_spark.gp.celerite import make_ppf

    return make_ppf(np.asarray(x, float), np.asarray(pdf["_pp_d"].iloc[0], float))


def celerite_map(
    ts: DataFrame,
    kernel: str = "brownian",
    err_col: str | None = None,
    init: str | float | None = "gls",
    max_iter: int = 300,
    n_starts: int = 1,
    loocv: bool = False,
    period_prior: DataFrame | None = None,
) -> DataFrame:
    """Per-series celerite-style O(N) GP MAP fit (reference CeleriteModeler /
    BrownianGP / HarmonicGP, gp.py:340-538) — the scale path for long series:
    each likelihood evaluation is O(N·J²) via the semiseparable Cholesky in
    gp/celerite.py, so 10⁵-sample light curves fit where the dense O(N³)
    kernel of gp_map() cannot. → (series_id, period_map, nll, mean, sigma,
    jitter).

    ``init``: "gls" seeds the period prior with the engine's own periodogram
    (the reference relies on the caller's init_period); None uses the
    reference default √N·median_dt; a float pins it.

    ``n_starts`` > 1 multi-starts the period coordinate (the NLL is
    multimodal in period) — starts fan out as (series, start) Spark groups
    and reduce by min-NLL, so extra starts cost wall-clock only when the
    cluster is saturated. This is the parallelism the reference's serial
    minimize() loop doesn't have.

    ``loocv=True`` appends the log leave-one-out CV score of the fitted
    model (reference CeleriteModeler.loocv, gp.py:387-396) — O(N²·J) per
    series, a model-comparison diagnostic for moderate N, not a fit-loop
    objective."""
    ec, kern, init_mode, mi, lcv = err_col, kernel, init, max_iter, loocv
    ns = max(int(n_starts), 1)
    # period-coordinate start points, centered on the prior median
    start_us = [50.0] if ns == 1 else [35.0 + 30.0 * i / (ns - 1) for i in range(ns)]

    def _per_group(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.gp.celerite import celerite_map_fit
        from periodicity_spark.gp.kernels import gls_best_period

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        err = (
            pdf[ec].to_numpy(float)
            if ec is not None and ec in pdf
            else np.full(len(y), max(1e-3, 0.05 * np.std(y)))
        )
        cols = ["series_id", "period_map", "nll", "mean", "sigma", "jitter"] + (
            ["loocv"] if lcv else []
        )
        if len(y) < 12 or np.std(y) == 0:
            return pd.DataFrame(columns=cols)
        if init_mode == "gls":
            p0 = float(gls_best_period(t, y))
        else:
            p0 = init_mode  # float or None (reference √N·dt default)
        u0p = float(pdf["_start"].iloc[0]) if "_start" in pdf else None
        params, nll = celerite_map_fit(
            t, y, err, kernel=kern, init_period=p0, max_iter=mi, u0_period=u0p,
            period_ppf=_prior_ppf_from_pdf(pdf),
        )
        out = {
            "series_id": [pdf["series_id"].iloc[0]],
            "period_map": [float(params["period"])],
            "nll": [float(nll)],
            "mean": [float(params["mean"])],
            "sigma": [float(params["sigma"])],
            "jitter": [float(params["jitter"])],
        }
        if lcv:
            from periodicity_spark.gp.celerite import celerite_loocv, params_to_coeffs

            k = params_to_coeffs(kern, params)
            out["loocv"] = [
                celerite_loocv(t, y, err**2 + params["jitter"], k, params["mean"])
            ]
        return pd.DataFrame(out)

    extra = ["loocv"] if loocv else []
    schema = (
        "series_id string, period_map double, nll double, mean double, "
        "sigma double, jitter double"
        + (", loocv double" if loocv else "")
    )
    from periodicity_spark.session import grouped_apply

    src = _with_period_prior(ts.filter(F.col("value").isNotNull()), period_prior)
    if ns == 1:
        return grouped_apply(src, _per_group, schema)
    starts = ts.sparkSession.createDataFrame([(u,) for u in start_us], "_start double")
    fits = grouped_apply(
        src.crossJoin(F.broadcast(starts)),
        _per_group,
        schema,
        group_cols=("series_id", "_start"),
    )
    fields = ["period_map", "mean", "sigma", "jitter"] + extra
    best = fits.groupBy("series_id").agg(
        F.min(F.struct("nll", *fields)).alias("_b")
    )
    return best.select(
        "series_id",
        F.col("_b.period_map").alias("period_map"),
        F.col("_b.nll").alias("nll"),
        *[F.col(f"_b.{c}").alias(c) for c in ["mean", "sigma", "jitter"] + extra],
    )


def celerite_mcmc(
    ts: DataFrame,
    kernel: str = "brownian",
    err_col: str | None = None,
    init: str | float | None = "gls",
    n_walkers: int = 16,
    n_steps: int = 1000,
    burn: int = 200,
    seed: int = 42,
    psd_at=None,
    period_prior: DataFrame | None = None,
    map_max_iter: int = 300,
    return_draws: bool = False,
) -> DataFrame:
    """Per-series posterior sampling of a celerite-family GP (reference
    CeleriteModeler.mcmc, gp.py:428-484) — the scale path for long series:
    every walker step evaluates the O(N·J²) semiseparable NLL, batched
    across the half-ensemble (celerite_nll_batch), so a 10⁵-sample light
    curve samples where the dense O(N³) kernel of gp_mcmc_period(kernel=
    "qp") cannot.

    → (series_id, period_median, period_p16, period_p84, n_draws) by
    default. ``psd_at`` (cyclic frequencies) appends ``psd_median`` — the
    per-frequency posterior-median PSD array (the reference's per-sample
    blobs, gp.py:426,480, reduced to their robust summary).
    ``return_draws=True`` returns the raw posterior instead — one row per
    draw (series_id, draw, period[, psd]) with the per-sample PSD blob as
    an array column, the faithful analogue of the reference's
    (trace, sampler.get_blobs()) pair.

    ``init`` / ``period_prior`` as in celerite_map: "gls" seeds init_period
    with the engine's own periodogram; period_prior attaches the data-driven
    make_gaussian_prior mixture as the period quantile (make_ppf)."""
    ec, kern, init_mode = err_col, kernel, init
    nw, nst, nb, sd, mmi = n_walkers, n_steps, burn, seed, map_max_iter
    freqs = None if psd_at is None else [float(f) for f in psd_at]
    draws = return_draws

    if draws:
        cols = ["series_id", "draw", "period"] + (["psd"] if freqs else [])
        schema = "series_id string, draw int, period double" + (
            ", psd array<double>" if freqs else ""
        )
    else:
        cols = ["series_id", "period_median", "period_p16", "period_p84", "n_draws"] + (
            ["psd_median"] if freqs else []
        )
        schema = (
            "series_id string, period_median double, period_p16 double, "
            "period_p84 double, n_draws long"
            + (", psd_median array<double>" if freqs else "")
        )

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.gp.celerite import celerite_mcmc_sample
        from periodicity_spark.gp.kernels import gls_best_period

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        err = (
            pdf[ec].to_numpy(float)
            if ec is not None and ec in pdf
            else np.full(len(y), max(1e-3, 0.05 * np.std(y)))
        )
        if len(y) < 12 or np.std(y) == 0:
            return pd.DataFrame(columns=cols)
        if init_mode == "gls":
            p0 = float(gls_best_period(t, y))
        else:
            p0 = init_mode  # float or None (reference √N·dt default)
        periods, psds = celerite_mcmc_sample(
            t, y, err, kernel=kern, init_period=p0, n_walkers=nw,
            n_steps=nst, burn=nb, seed=sd,
            psd_at=None if freqs is None else np.asarray(freqs),
            period_ppf=_prior_ppf_from_pdf(pdf), map_max_iter=mmi,
        )
        sid = pdf["series_id"].iloc[0]
        if draws:
            out = {
                "series_id": sid,
                "draw": np.arange(len(periods), dtype="int32"),
                "period": periods,
            }
            if freqs:
                out["psd"] = list(psds)
            return pd.DataFrame(out)
        q16, q50, q84 = np.percentile(periods, [16, 50, 84])
        out = {
            "series_id": [sid],
            "period_median": [float(q50)],
            "period_p16": [float(q16)],
            "period_p84": [float(q84)],
            "n_draws": [len(periods)],
        }
        if freqs:
            out["psd_median"] = [np.median(psds, axis=0).tolist()]
        return pd.DataFrame(out)

    from periodicity_spark.session import grouped_apply

    src = _with_period_prior(ts.filter(F.col("value").isNotNull()), period_prior)
    return grouped_apply(src, _per_series, schema)


def gp_mcmc_period(
    ts: DataFrame,
    n_walkers: int = 16,
    n_steps: int = 200,
    burn: int = 50,
    seed: int = 42,
    err_col: str | None = None,
    kernel: str = "qp",
) -> DataFrame:
    """Per-series posterior period summary via the stretch-move ensemble
    sampler (reference mcmc(), gp.py:259-291): → (series_id, period_median,
    period_p16, period_p84).

    ``kernel``: "qp" is the reference QuasiPeriodicGP — an exact dense
    Cholesky NLL per walker step, O(N³), fine for the ≤few-thousand-sample
    series it targets. "brownian" / "harmonic" route to the celerite
    O(N·J²) sampler (celerite_mcmc) — same output columns, holds for
    10⁵-sample series."""
    if kernel != "qp":
        return celerite_mcmc(
            ts, kernel=kernel, err_col=err_col, n_walkers=n_walkers,
            n_steps=n_steps, burn=burn, seed=seed,
        ).select("series_id", "period_median", "period_p16", "period_p84")
    ec = err_col
    nw, ns, nb, sd = n_walkers, n_steps, burn, seed

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.gp.kernels import ensemble_sampler, gp_nll, qp_log_prior
        from periodicity_spark.operators.iir import nelder_mead

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        y = pdf["value"].to_numpy(float)
        err = (
            pdf[ec].to_numpy(float)
            if ec is not None and ec in pdf
            else np.full(len(y), max(1e-3, 0.05 * np.std(y)))
        )
        cols = ["series_id", "period_median", "period_p16", "period_p84"]
        if len(y) < 12 or np.std(y) == 0:
            return pd.DataFrame(columns=cols)
        x0, sigma, jitter, init_log_p, sd_p = _theta0(t, y, err)

        def log_prob(theta):
            lp = qp_log_prior(theta, x0[0], sigma, jitter, init_log_p, sd_p)
            if not np.isfinite(lp):
                return -np.inf
            return lp - gp_nll(theta, t, y, err)

        def objective(theta):
            v = log_prob(theta)
            return -v if np.isfinite(v) else 1e25

        best, _ = nelder_mead(objective, x0, max_iter=200)
        rng = np.random.default_rng(sd)
        walkers = best + 1e-3 * rng.standard_normal((nw, len(best)))
        chain = ensemble_sampler(log_prob, walkers, ns, rng)
        flat = chain[nb:].reshape(-1, len(best))
        periods = np.exp(flat[:, 5])
        q16, q50, q84 = np.percentile(periods, [16, 50, 84])
        return pd.DataFrame(
            {
                "series_id": [pdf["series_id"].iloc[0]],
                "period_median": [q50],
                "period_p16": [q16],
                "period_p84": [q84],
            }
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, period_median double, period_p16 double, period_p84 double",
    )
