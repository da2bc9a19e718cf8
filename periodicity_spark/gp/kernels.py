"""NumPy quasi-periodic Gaussian-process kernel + sampler.

The reference uses george (HODLR) + emcee (gp.py:156-337); neither library
is in this image, so the same math is implemented directly:

- QP kernel (george's Constant × ExpSquared × ExpSine2 product,
  gp.py:296-310): k(τ) = exp(c)·exp(−τ²/(2ℓ²))·exp(−Γ·sin²(πτ/P)),
  parameter vector [mean, log_jitter, log_c, log_ℓ², Γ, log_P] matching the
  reference's ordering (gp.py:322-331).
- Exact GP log-likelihood via Cholesky (O(N³), fine for the ≤few-thousand
  sample series the reference targets; the distribution axis is series).
- Affine-invariant ensemble sampler, stretch move (Goodman & Weare 2010 —
  the algorithm emcee implements), a=2.
"""

from __future__ import annotations

import numpy as np

LN2PI = np.log(2.0 * np.pi)


def qp_kernel_matrix(t: np.ndarray, log_c: float, log_l2: float, gamma: float, log_p: float) -> np.ndarray:
    tau = t[:, None] - t[None, :]
    l2 = np.exp(log_l2)
    p = np.exp(log_p)
    return (
        np.exp(log_c)
        * np.exp(-0.5 * tau**2 / l2)
        * np.exp(-gamma * np.sin(np.pi * tau / p) ** 2)
    )


def gp_nll(theta: np.ndarray, t: np.ndarray, y: np.ndarray, err: np.ndarray) -> float:
    mean, log_jitter, log_c, log_l2, gamma, log_p = theta
    K = qp_kernel_matrix(t, log_c, log_l2, gamma, log_p)
    K[np.diag_indices_from(K)] += err**2 + np.exp(log_jitter)
    try:
        L = np.linalg.cholesky(K)
    except np.linalg.LinAlgError:
        return 1e25
    r = y - mean
    alpha = np.linalg.solve(L, r)
    nll = 0.5 * np.dot(alpha, alpha) + np.sum(np.log(np.diag(L))) + 0.5 * len(y) * LN2PI
    return float(nll) if np.isfinite(nll) else 1e25


def norm_logpdf(x, mu, sd):
    z = (x - mu) / sd
    return -0.5 * z * z - np.log(sd) - 0.5 * LN2PI


def qp_log_prior(theta, y_mean, y_sigma, jitter, init_log_p, sd_p):
    """reference QuasiPeriodicGP.log_prior (gp.py:322-337)."""
    mean, log_jitter, log_c, log_l2, gamma, log_p = theta
    tau = np.exp(log_l2 / 2)
    period = np.exp(log_p)
    if gamma <= 0:
        return -np.inf
    ratio = tau / period
    if not (1 < ratio < 10):
        return -np.inf
    lp = norm_logpdf(mean, y_mean, y_sigma)
    lp += norm_logpdf(log_jitter, np.log(jitter), 2.0)
    lp += norm_logpdf(log_c, 2 * np.log(y_sigma), 4.0)
    lp += 1 / np.log(100)
    lp += norm_logpdf(np.log(gamma), 1.5, 1.5)
    lp += norm_logpdf(log_p, init_log_p, sd_p)
    return lp


def gls_best_period(t: np.ndarray, y: np.ndarray, n_grid: int = 200) -> float:
    """Quick direct-sum GLS scan (Zechmeister & Kürster 2009 fit-mean finish,
    spectral.gls.gls_power_np) for GP initialization — the engine's own
    periodogram seeds the GP where the reference relies on init_period.

    One frequency at a time keeps memory O(N): the celerite path takes
    10⁵-sample series, where one n_grid×N trig matrix would be 160 MB.
    Non-finite powers are skipped (a bare argmax would return a NaN's
    index)."""
    from periodicity_spark.spectral.gls import gls_power_np

    baseline = t.max() - t.min()
    dtm = float(np.median(np.diff(np.sort(t))))
    fmin, fmax = 2.0 / baseline, 0.5 / dtm
    freqs = np.geomspace(fmin, fmax, n_grid)
    w = np.ones(len(y)) / len(y)
    yc = y - np.dot(w, y)
    yy = np.dot(w, yc**2)
    best_f, best_p = freqs[0], -np.inf
    for f in freqs:
        th = 2 * np.pi * f * t
        s, c = np.sin(th), np.cos(th)
        with np.errstate(divide="ignore", invalid="ignore"):
            p = gls_power_np(
                np.dot(w, s), np.dot(w, c),
                np.dot(w, 2 * s * c), np.dot(w, 1 - 2 * s * s),
                np.dot(w * yc, s), np.dot(w * yc, c),
            ) / yy
        if np.isfinite(p) and p > best_p:
            best_p, best_f = p, f
    return 1.0 / best_f


def ensemble_sampler_batch(log_prob_batch, x0: np.ndarray, n_steps: int, rng, a: float = 2.0):
    """Stretch-move ensemble MCMC with BATCHED likelihood evaluation
    (Goodman & Weare 2010; emcee's red-black parallel update). Each half-step
    proposes half the ensemble at once and calls ``log_prob_batch`` with an
    [n/2, ndim] matrix — pairs with celerite_nll_batch, whose per-eval cost
    drops ~4× when the Python-loop overhead is amortized over the batch.
    x0: [n_walkers, ndim] → chain [n_steps, n_walkers, ndim].

    Proposal/acceptance math matches ensemble_sampler exactly; only the
    evaluation order (batched per half vs per walker) and hence the RNG
    stream differ."""
    n_walkers, ndim = x0.shape
    half = n_walkers // 2
    x = x0.copy()
    lp = np.asarray(log_prob_batch(x), float)
    chain = np.empty((n_steps, n_walkers, ndim))
    for step in range(n_steps):
        for first in (True, False):
            idx = np.arange(half) if first else np.arange(half, n_walkers)
            other = np.arange(half, n_walkers) if first else np.arange(half)
            z = ((a - 1.0) * rng.random(len(idx)) + 1) ** 2 / a
            partners = other[rng.integers(0, len(other), len(idx))]
            proposals = x[partners] + z[:, None] * (x[idx] - x[partners])
            lp_new = np.asarray(log_prob_batch(proposals), float)
            # −inf − −inf (both walker states out of support) is NaN; the
            # comparison below already rejects NaN — just mute the warning
            with np.errstate(invalid="ignore"):
                log_accept = (ndim - 1) * np.log(z) + lp_new - lp[idx]
            acc = np.log(rng.random(len(idx))) < log_accept
            x[idx[acc]] = proposals[acc]
            lp[idx[acc]] = lp_new[acc]
        chain[step] = x
    return chain


def ensemble_sampler(log_prob, x0: np.ndarray, n_steps: int, rng, a: float = 2.0):
    """Stretch-move ensemble MCMC (Goodman & Weare 2010). x0: [n_walkers, ndim].
    → chain [n_steps, n_walkers, ndim]."""
    n_walkers, ndim = x0.shape
    half = n_walkers // 2
    x = x0.copy()
    lp = np.array([log_prob(w) for w in x])
    chain = np.empty((n_steps, n_walkers, ndim))
    for step in range(n_steps):
        for first in (True, False):
            idx = np.arange(half) if first else np.arange(half, n_walkers)
            other = np.arange(half, n_walkers) if first else np.arange(half)
            z = ((a - 1.0) * rng.random(len(idx)) + 1) ** 2 / a
            partners = other[rng.integers(0, len(other), len(idx))]
            proposals = x[partners] + z[:, None] * (x[idx] - x[partners])
            for j, i in enumerate(idx):
                lp_new = log_prob(proposals[j])
                with np.errstate(invalid="ignore"):
                    log_accept = (ndim - 1) * np.log(z[j]) + lp_new - lp[i]
                if np.log(rng.random()) < log_accept:
                    x[i] = proposals[j]
                    lp[i] = lp_new
        chain[step] = x
    return chain
