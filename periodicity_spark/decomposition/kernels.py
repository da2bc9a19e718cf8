"""Pure-NumPy single-series kernels for the decomposition operators.

These are the per-series leaves executed inside Arrow-batched UDFs — the
parts of the reference that are irreducibly sequential (data-dependent
sifting loops, reference decomposition.py:72-91). Everything here is
scipy-free: own not-a-knot cubic spline, own envelope construction.

Algorithms (public literature):
- EMD sifting with Rilling stopping criteria (Rilling, Flandrin, Gonçalves
  2003), matching reference decomposition.py:45-117 semantics: envelopes
  through interior extrema plus 2 mirrored ghost extrema per side, IMF test
  mean(σ>θ₁)<α ∧ all(σ<θ₂) ∧ |n_zero−n_ext|≤1.
- LMD (Smith 2005), matching reference decomposition.py:120-203 semantics.

This module is shipped to executors via ``session.ensure_worker_imports``.
"""

from __future__ import annotations

import numpy as np


def _solve_tridiag(lo: np.ndarray, dg: np.ndarray, up: np.ndarray, rhs: np.ndarray) -> np.ndarray:
    """Thomas algorithm for a tridiagonal system (lo[i] multiplies x[i-1] in
    row i, up[i] multiplies x[i+1]). O(n), no pivoting — all callers build
    diagonally-dominant or totally-positive systems where this is stable.

    Runs on plain Python floats (.tolist()): per-element numpy scalar
    indexing boxes every operand, which dominated the EMD sift loop on
    short series (same effect as _solve_penta_spd). Python float
    arithmetic IS C double arithmetic — bit-identical results."""
    lo = lo.tolist()
    dg = dg.tolist()
    up = up.tolist()
    rhs = rhs.tolist()
    n = len(dg)
    c = [0.0] * n
    d = [0.0] * n
    c[0] = up[0] / dg[0]
    d[0] = rhs[0] / dg[0]
    for i in range(1, n):
        den = dg[i] - lo[i] * c[i - 1]
        c[i] = up[i] / den if i < n - 1 else 0.0
        d[i] = (rhs[i] - lo[i] * d[i - 1]) / den
    # backward sweep in place: d[i] is read before being overwritten and
    # x[i+1] is already final, so reusing d as x is exact
    for i in range(n - 2, -1, -1):
        d[i] = d[i] - c[i] * d[i + 1]
    return np.asarray(d)


def _eval_cubic(xk, yk, M, x):
    """Evaluate the piecewise cubic with knot values yk and second
    derivatives M at probes x; boundary segments extrapolate (splev-like)."""
    n = len(xk)
    # ndarray methods ≡ the np.* wrappers minus the dispatch layer; this
    # evaluator runs twice per sift
    idx = (xk.searchsorted(x) - 1).clip(0, n - 2)
    idx1 = idx + 1
    x0, x1 = xk[idx], xk[idx1]
    hi = x1 - x0
    a = (x1 - x) / hi
    b = (x - x0) / hi
    return (
        a * yk[idx]
        + b * yk[idx1]
        + ((a**3 - a) * M[idx] + (b**3 - b) * M[idx1]) * hi * hi / 6.0
    )


def cubic_spline(xk: np.ndarray, yk: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Not-a-knot cubic spline interpolation, O(n): the two not-a-knot
    corner rows (third-derivative continuity at x1/x_{n-2}) are eliminated
    into the first/last interior rows, leaving a pure tridiagonal Thomas
    solve for the interior second derivatives — the earlier dense
    np.linalg.solve was O(n³)/O(n²) memory and broke down at
    10k+-sample series. Extrapolates with the boundary cubics, like scipy
    splev on an interpolating spline. Falls back to linear for < 4 knots."""
    n = len(xk)
    if n < 2:
        return np.full_like(x, yk[0] if n else np.nan, dtype=float)
    if n < 4:
        return np.interp(x, xk, yk)
    # slicing subtractions ≡ np.diff (same elementwise op, a fraction of the
    # per-call dispatch cost — this runs 100k+ times per sifted series batch)
    h = xk[1:] - xk[:-1]
    # interior rows i=1..n-2:  h[i-1]·M[i-1] + 2(h[i-1]+h[i])·M[i] + h[i]·M[i+1] = r[i]
    d1 = (yk[1:] - yk[:-1]) / h
    r = 6.0 * (d1[1:] - d1[:-1])
    lo = h[:-1].astype(float)
    dg = 2.0 * (h[:-1] + h[1:])
    up = h[1:].astype(float)
    # not-a-knot left:  M0 = ((h0+h1)·M1 − h0·M2) / h1  → fold into row i=1
    dg0 = dg[0] + lo[0] * (h[0] + h[1]) / h[1]
    up0 = up[0] - lo[0] * h[0] / h[1]
    # not-a-knot right: M[n-1] = ((h[-2]+h[-1])·M[n-2] − h[-1]·M[n-3]) / h[-2]
    dgl = dg[-1] + up[-1] * (h[-2] + h[-1]) / h[-2]
    lol = lo[-1] - up[-1] * h[-1] / h[-2]
    dg[0], up[0], lo[0] = dg0, up0, 0.0
    dg[-1], lo[-1], up[-1] = dgl, lol, 0.0
    # lo[0] and up[-1] are already 0.0 (and unused by the Thomas sweeps),
    # so lo/dg/up pass straight through — the former np.r_ copies were the
    # single hottest allocation in the sift profile
    Mi = _solve_tridiag(lo, dg, up, r)
    M = np.empty(n)
    M[1:-1] = Mi
    M[0] = ((h[0] + h[1]) * Mi[0] - h[0] * Mi[1]) / h[1]
    M[-1] = ((h[-2] + h[-1]) * Mi[-1] - h[-1] * Mi[-2]) / h[-2]
    return _eval_cubic(xk, yk, M, x)


def _solve_penta_spd(d0, d1, d2, rhs):
    """Banded LDLᵀ solve for a symmetric positive-definite pentadiagonal
    system. d0 = main diagonal (len n), d1 = first off-diagonal (len n-1),
    d2 = second off-diagonal (len n-2). O(n).

    The recursion runs on plain Python floats (.tolist()): per-element
    numpy scalar indexing boxes every operand, which dominated the
    smoothing-spline bisection (the same 20× effect as the IIR biquad
    fix). Python float arithmetic IS C double arithmetic — bit-identical
    results, asserted by the kernel-contract tests."""
    d0 = d0.tolist() if hasattr(d0, "tolist") else list(d0)
    d1 = d1.tolist() if hasattr(d1, "tolist") else list(d1)
    d2 = d2.tolist() if hasattr(d2, "tolist") else list(d2)
    rhs = rhs.tolist() if hasattr(rhs, "tolist") else list(rhs)
    n = len(d0)
    D = [0.0] * n
    e1 = [0.0] * (n - 1 if n > 1 else 0)
    e2 = [0.0] * (n - 2 if n > 2 else 0)
    z = [0.0] * n
    for i in range(n):
        di = d0[i]
        zi = rhs[i]
        if i >= 1:
            di -= e1[i - 1] ** 2 * D[i - 1]
            zi -= e1[i - 1] * D[i - 1] * z[i - 1]
        if i >= 2:
            di -= e2[i - 2] ** 2 * D[i - 2]
            zi -= e2[i - 2] * D[i - 2] * z[i - 2]
        D[i] = di
        z[i] = zi / di
        if i + 1 < n:
            t = d1[i]
            if i >= 1:
                t -= e2[i - 1] * e1[i - 1] * D[i - 1]
            e1[i] = t / di
        if i + 2 < n:
            e2[i] = d2[i] / di
    x = [0.0] * n
    for i in range(n - 1, -1, -1):
        xi = z[i]
        if i + 1 < n:
            xi -= e1[i] * x[i + 1]
        if i + 2 < n:
            xi -= e2[i] * x[i + 2]
        x[i] = xi
    return np.asarray(x)


def _smoothing_prep(xk: np.ndarray, yk: np.ndarray):
    """λ-independent pieces of the Reinsch system — hoisted so the λ
    bisection in ``smoothing_spline`` pays the band construction once,
    not once per probe solve."""
    h = np.diff(xk).astype(float)
    inv = 1.0 / h
    # Qᵀy: second divided differences, length n-2
    qty = np.diff(np.diff(yk) * inv)
    # R (tridiag, symmetric): diag (h[i-1]+h[i])/3, off h[i]/6
    r0 = (h[:-1] + h[1:]) / 3.0
    r1 = h[1:-1] / 6.0
    # QᵀQ (pentadiag, symmetric) from Q columns (1/h[i-1], -(1/h[i-1]+1/h[i]), 1/h[i])
    a = inv[:-1]
    b = -(inv[:-1] + inv[1:])
    c = inv[1:]
    q0 = a * a + b * b + c * c
    q1 = b[:-1] * a[1:] + c[:-1] * b[1:]
    q2 = c[:-2] * a[2:]
    return (a, b, c, qty, r0, r1, q0, q1, q2)


def _smoothing_fit_prepped(prep, yk: np.ndarray, lam: float):
    """Natural cubic smoothing spline for a FIXED λ (Reinsch 1967 /
    Green-Silverman 1994): minimize Σ(f(xᵢ)−yᵢ)² + λ∫f″². Interior second
    derivatives γ solve (R + λQᵀQ)γ = Qᵀy (symmetric pentadiagonal,
    banded LDLᵀ, O(n)); fitted knot values are u = y − λQγ.
    → (u, M, rss) with M the full second-derivative vector (natural:
    M₀ = M_{n-1} = 0) and rss = Σ(u−y)²."""
    a, b, c, qty, r0, r1, q0, q1, q2 = prep
    n = len(yk)
    gam = _solve_penta_spd(
        r0 + lam * q0,
        (r1 + lam * q1) if n > 3 else np.empty(0),
        lam * q2 if n > 4 else np.empty(0),
        qty,
    )
    # u = y − λ·Qγ
    qg = np.zeros(n)
    qg[:-2] += a * gam
    qg[1:-1] += b * gam
    qg[2:] += c * gam
    u = yk - lam * qg
    M = np.zeros(n)
    M[1:-1] = gam
    return u, M, float(np.sum((lam * qg) ** 2))


def _smoothing_fit(xk: np.ndarray, yk: np.ndarray, lam: float):
    """Single-λ entry point (kept for the kernel-contract differential)."""
    return _smoothing_fit_prepped(_smoothing_prep(xk, yk), yk, lam)


def smoothing_spline(xk: np.ndarray, yk: np.ndarray, x: np.ndarray, s: float) -> np.ndarray:
    """Cubic smoothing spline with an splrep-style smoothing condition
    (reference core.py:655-658 passes ``s`` straight to splrep): among
    natural cubic splines, picks the smoothest f with Σ(f(xᵢ)−yᵢ)² = s
    (Reinsch's formulation — FITPACK reaches the same residual target via
    B-spline knot insertion, so fitted values differ slightly in the
    interior but the contract, s=0 ⇒ interpolation and growing s ⇒ the
    least-squares line, is identical). λ is found by bisection in log-λ
    (each probe is one O(n) banded solve; RSS(λ) is monotone increasing).
    s at or above the straight-line RSS returns the least-squares line."""
    n = len(xk)
    if s <= 0 or n < 4:
        return cubic_spline(xk, yk, x)
    # line-fit ceiling
    A = np.vstack([np.ones(n), xk]).T
    coef, *_ = np.linalg.lstsq(A, yk, rcond=None)
    line_rss = float(np.sum((A @ coef - yk) ** 2))
    if s >= line_rss or line_rss <= 1e-30:
        return coef[0] + coef[1] * np.asarray(x, dtype=float)
    # bracket λ: RSS(λ) monotone ↑, → 0 as λ→0, → line_rss as λ→∞
    # (bands built once; each probe is one banded solve + early exit when
    # the residual target is hit to double precision — the fixed 64-probe
    # loop re-derived the bands every probe and over-resolved λ far past
    # the contract's rel 1e-6)
    prep = _smoothing_prep(xk, yk)
    lo_l, hi_l = 1e-12, 1.0
    while _smoothing_fit_prepped(prep, yk, hi_l)[2] < s and hi_l < 1e18:
        hi_l *= 64.0
    while _smoothing_fit_prepped(prep, yk, lo_l)[2] > s and lo_l > 1e-30:
        lo_l /= 64.0
    for _ in range(64):
        mid = np.sqrt(lo_l * hi_l)
        rss = _smoothing_fit_prepped(prep, yk, mid)[2]
        if abs(rss - s) <= 1e-12 * s:
            lo_l = hi_l = mid
            break
        if rss < s:
            lo_l = mid
        else:
            hi_l = mid
    u, M, _ = _smoothing_fit_prepped(prep, yk, np.sqrt(lo_l * hi_l))
    return _eval_cubic(xk, u, M, x)


def _bspline2_basis(t: np.ndarray, x: np.ndarray):
    """Nonzero degree-2 B-spline basis at each probe: → (span, B) where
    span[i] indexes the knot interval t[span]≤x<t[span+1] (right edge
    clamped) and B[i] = (B_{span-2}(x), B_{span-1}(x), B_{span}(x)) by
    two levels of the Cox-de Boor recursion, vectorized over probes."""
    nb = len(t) - 3  # number of basis functions
    span = np.clip(np.searchsorted(t, x, side="right") - 1, 2, nb - 1)
    # degree 1 from degree 0 on [t[span], t[span+1])
    def w(lo_idx, hi_idx):
        den = t[hi_idx] - t[lo_idx]
        out = np.zeros_like(den, dtype=float)
        np.divide(1.0, den, out=out, where=den > 0)
        return out
    x = np.asarray(x, dtype=float)
    # level 1: B_{span-1,1}, B_{span,1}
    w1a = (t[span + 1] - x) * w(span, span + 1)
    w1b = (x - t[span]) * w(span, span + 1)
    # level 2
    b0 = w1a * (t[span + 1] - x) * w(span - 1, span + 1)
    b2 = w1b * (x - t[span]) * w(span, span + 2)
    b1 = w1a * (x - t[span - 1]) * w(span - 1, span + 1) + w1b * (
        t[span + 2] - x
    ) * w(span, span + 2)
    return span, np.stack([b0, b1, b2], axis=1)


def quadratic_spline(xk: np.ndarray, yk: np.ndarray, x: np.ndarray) -> np.ndarray:
    """C¹ quadratic (k=2) interpolating spline with scipy
    make_interp_spline's default knots for even degree — data-midpoint
    interior knots ((x₁+x₂)/2 … clipped of the outermost pair) — which is
    what xarray/interp1d kind='quadratic' resolves to (reference
    core.py:643 accepts 'quadratic'). Collocation is a banded (≤3
    nonzeros per row) totally-positive system solved without pivoting in
    O(n); evaluation is vectorized Cox-de Boor. Falls back to linear for
    < 3 points.

    Probes OUTSIDE [xk[0], xk[-1]] return NaN — matching the reference
    path (xarray.interp → interp1d kind='quadratic' with NaN fill outside
    the sample range) rather than this package's cubic_spline, which
    extrapolates with the boundary cubic (that matches ITS reference,
    scipy CubicSpline's default extrapolate=True)."""
    n = len(xk)
    xq = np.asarray(x, dtype=float)
    # NaN-mask probes outside the sample range (n >= 2; a 0/1-point series
    # has no range and keeps the constant-fill degenerate behavior)
    oob = (
        (xq < xk[0]) | (xq > xk[-1])
        if n >= 2
        else np.zeros(len(xq), dtype=bool)
    )
    if n < 3:
        if n < 2:
            return np.full_like(xq, yk[0] if n else np.nan, dtype=float)
        out = np.interp(xq, xk, yk)
        out[oob] = np.nan
        return out
    mids = (xk[1:] + xk[:-1]) / 2.0
    t = np.r_[[xk[0]] * 3, mids[1:-1], [xk[-1]] * 3]
    span, B = _bspline2_basis(t, xk)
    # assemble banded collocation: row i touches columns span-2..span;
    # offsets (col − row) stay within [-2, 2] for this knot layout
    d = {off: np.zeros(n) for off in range(-2, 3)}
    for k3 in range(3):
        cols = span - 2 + k3
        offs = cols - np.arange(n)
        for off in range(-2, 3):
            m = offs == off
            d[off][np.where(m)[0]] = B[m, k3]
    # banded LU without pivoting (B-spline collocation with
    # Schoenberg-Whitney-interlaced knots admits it; de Boor 1978)
    l2, l1, d0, u1, u2 = (d[-2].copy(), d[-1].copy(), d[0].copy(), d[1].copy(), d[2].copy())
    rhs = np.asarray(yk, dtype=float).copy()
    for i in range(n - 1):
        piv = d0[i]
        if i + 1 < n and l1[i + 1] != 0.0:
            f = l1[i + 1] / piv
            d0[i + 1] -= f * u1[i]
            if i + 2 < n:
                u1[i + 1] -= f * u2[i]
            rhs[i + 1] -= f * rhs[i]
            l1[i + 1] = 0.0
        if i + 2 < n and l2[i + 2] != 0.0:
            f = l2[i + 2] / piv
            l1[i + 2] -= f * u1[i]
            d0[i + 2] -= f * u2[i]
            rhs[i + 2] -= f * rhs[i]
            l2[i + 2] = 0.0
    c = np.empty(n)
    for i in range(n - 1, -1, -1):
        v = rhs[i]
        if i + 1 < n:
            v -= u1[i] * c[i + 1]
        if i + 2 < n:
            v -= u2[i] * c[i + 2]
        c[i] = v / d0[i]
    xp = np.clip(xq, xk[0], xk[-1])
    span_p, Bp = _bspline2_basis(t, xp)
    out = (
        c[span_p - 2] * Bp[:, 0] + c[span_p - 1] * Bp[:, 1] + c[span_p] * Bp[:, 2]
    )
    out[oob] = np.nan
    return out


def find_extrema_idx(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Interior strict local maxima / minima indices (scipy-find_peaks-like
    for non-plateau data; reference core.py:283-339)."""
    mid = x[1:-1]
    lo_, hi_ = x[:-2], x[2:]
    peaks = ((mid > lo_) & (mid > hi_)).nonzero()[0] + 1
    dips = ((mid < lo_) & (mid < hi_)).nonzero()[0] + 1
    return peaks, dips


def count_zero_crossings(x: np.ndarray) -> int:
    """reference core.py:341-367: sign-bit flips. (np.diff on bool is XOR —
    the explicit != keeps the semantics with one ufunc call.)"""
    sb = np.signbit(x)
    return int(np.count_nonzero(sb[1:] != sb[:-1]))


def _padded_anchor(t, x, idx, pad_width):
    """Anchor points for one envelope: interior extrema + ``pad_width``
    ghost points mirrored about each edge SAMPLE (time reflected oddly about
    t[0]/t[-1], values reflected evenly) — reference sift's
    pad(reflect, reflect_type=["odd", None]) followed by dropping the edge
    samples themselves (decomposition.py:55-60)."""
    ti, vi = t[idx], x[idx]
    # elementwise mirror commutes with reversal, so the former
    # double-reversed lt[::-1]/rt[::-1] blocks are exactly these slices;
    # the argsort stays because ghost/interior times can tie on
    # duplicate-timestamp series and the permutation must not change
    at = np.concatenate([2 * t[0] - ti[:pad_width], ti, 2 * t[-1] - ti[-pad_width:]])
    av = np.concatenate([vi[:pad_width], vi, vi[-pad_width:]])
    order = at.argsort()
    return at[order], av[order]


def _emd_sift_raw(t, x, pad_width=2):
    """emd_sift body without the errstate guard — emd_iter holds ONE
    errstate around its whole loop instead of paying the context-manager
    enter/exit per sift (~200k sifts per ceemdan task batch)."""
    peaks, dips = find_extrema_idx(x)
    n_ext = len(peaks) + len(dips)
    n_zero = count_zero_crossings(x)
    if len(peaks) < pad_width or len(dips) < pad_width:
        raise ValueError("not enough extrema")
    pt, pv = _padded_anchor(t, x, peaks, pad_width)
    dt_, dv = _padded_anchor(t, x, dips, pad_width)
    if len(pt) < 4 or len(dt_) < 4:
        raise ValueError("not enough extrema for interpolation")
    upper = cubic_spline(pt, pv, t)
    lower = cubic_spline(dt_, dv, t)
    mu = (upper + lower) / 2
    amp = (upper - lower) / 2
    sigma = np.abs(mu / amp)
    return mu, sigma, n_ext, n_zero


def emd_sift(t, x, pad_width=2):
    """One sifting pass (reference decomposition.py:45-70):
    → (mu, sigma, n_ext, n_zero). Raises ValueError when too few extrema."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return _emd_sift_raw(t, x, pad_width)


def emd_iter(t, x, max_iter=2000, pad_width=2, theta_1=0.05, theta_2=0.50, alpha=0.05):
    """Sift until IMF criteria or monotonic (reference decomposition.py:72-91).
    → (mode, is_monotonic)."""
    mode = x.copy()
    with np.errstate(divide="ignore", invalid="ignore"):
        for _ in range(max_iter):
            try:
                mu, sigma, n_ext, n_zero = _emd_sift_raw(t, mode, pad_width)
            except ValueError:
                return mode, True
            # count/size ≡ np.mean on a 0/1 bool array (the bool sum is an
            # exact small integer in double), one ufunc cheaper. The
            # leading size check keeps the empty-sigma failure mode the
            # graceful one np.mean had (NaN < alpha is False → keep
            # sifting), not a ZeroDivisionError — practically shielded by
            # the too-few-extrema ValueError, but don't rely on it.
            is_imf = bool(sigma.size) and (
                np.count_nonzero(sigma > theta_1) / sigma.size < alpha
            )
            is_imf = is_imf and np.all(sigma < theta_2)
            is_imf = is_imf and abs(n_zero - n_ext) <= 1
            if is_imf:
                break
            mode = mode - mu
    return mode, False


def emd(t, x, max_modes=None, **kw):
    """Full EMD (reference decomposition.py:93-117): → (modes, residue)."""
    if max_modes is None:
        max_modes = np.inf
    imfs = []
    residue = x.astype(float).copy()
    is_monotonic = len(x) < 4
    while not is_monotonic and len(imfs) < max_modes:
        mode, is_monotonic = emd_iter(t, residue, **kw)
        if not is_monotonic:
            imfs.append(mode)
            residue = residue - mode
    return imfs, residue


def _triangle_kernel(width):
    half = int(width // 2)
    w = np.array(list(range(1, half + 2)) + list(range(half, 0, -1)), float)
    return w / w.sum()


def _smooth_mirror(x, kern):
    k = len(kern) // 2
    if len(x) < 2:
        return x.copy()
    pad_l = x[1 : k + 1][::-1]
    pad_r = x[-k - 1 : -1][::-1]
    padded = np.concatenate([pad_l, x, pad_r])
    return np.convolve(padded, kern[::-1], mode="valid")


def lmd_sift(t, x, dt, smooth_iter=12):
    """One LMD sifting pass (reference decomposition.py:127-163):
    zero-order-hold local mean/envelope from alternating extrema, triangle
    smoothing, resampled to t. → (mu, env). Raises ValueError when too few
    extrema. Assumes uniform sampling (reference uses sig.dt)."""
    peaks, dips = find_extrema_idx(x)
    # reference: peaks include edges, dips don't (decomposition.py:129-131)
    ext_idx = np.sort(np.concatenate([[0, len(x) - 1], peaks, dips])).astype(int)
    ext_idx = np.unique(ext_idx)
    if len(ext_idx) < 3:
        raise ValueError("not enough extrema")
    et, ev = t[ext_idx], x[ext_idx]
    # mid/half-range of consecutive extrema (roll(1) pairs each extremum
    # with its predecessor; first uses the second's value per
    # decomposition.py:143-148)
    mu_e = 0.5 * (np.roll(ev, 1) + ev)
    env_e = 0.5 * np.abs(np.roll(ev, 1) - ev)
    mu_e[0] = mu_e[1]
    env_e[0] = env_e[1]
    # zero-order hold onto the uniform grid (bfill: each grid point takes the
    # value of the next extremum at-or-after it)
    pos = np.searchsorted(et, t, side="left")
    pos = np.clip(pos, 0, len(et) - 1)
    mu_g = mu_e[pos]
    env_g = env_e[pos]
    # triangle smoothing; window from the largest extrema gap — clamped to
    # 2n−1 (odd by construction): the mirror pad reflects at most n−1
    # samples per side, so a larger kernel (irregular sampling: one gap
    # ≫ median dt on a short series) would shrink the convolution output
    # below n and crash the (Fc − mu)/env broadcast downstream
    window = np.max(np.diff(et) / dt) // 3
    window = int(max(3, window + (1 - window % 2)))
    window = min(window, 2 * len(x) - 1)
    kern = _triangle_kernel(window)
    for _ in range(smooth_iter):
        mu_g = _smooth_mirror(mu_g, kern)
        if np.all(np.diff(mu_g)):
            break
    for _ in range(smooth_iter):
        env_g = _smooth_mirror(env_g, kern)
        if np.all(np.diff(env_g)):
            break
    return mu_g, env_g


def lmd(t, x, max_modes=None, max_iter=10, smooth_iter=12, eps=1e-6):
    """Full LMD (reference decomposition.py:165-203): → list of (A, F) pairs
    + residue. Assumes uniform sampling."""
    if max_modes is None:
        max_modes = np.inf
    dt = float(np.median(np.diff(t)))
    pfs = []
    residue = x.astype(float).copy()
    is_monotonic = len(x) < 4
    while not is_monotonic and len(pfs) < max_modes:
        Fc = residue.copy()
        A = np.ones_like(Fc)
        for _ in range(max_iter):
            try:
                mu, env = lmd_sift(t, Fc, dt, smooth_iter)
            except ValueError:
                is_monotonic = True
                break
            with np.errstate(divide="ignore", invalid="ignore"):
                Fc = (Fc - mu) / env
            Fc = np.nan_to_num(Fc, nan=0.0, posinf=0.0, neginf=0.0)
            A = A * env
            if np.max(np.abs(Fc)) - 1.0 < eps:
                break
        if is_monotonic:
            break
        Fc = np.clip(Fc, -1.0, 1.0)
        pfs.append((A, Fc))
        residue = residue - A * Fc
    return pfs, residue


def ceemdan_1d(
    t,
    x,
    epsilon=0.2,
    ensemble_size=50,
    min_energy=0.0,
    seed=0,
    max_modes=None,
    hard_mode_cap=16,
    sid_crc=0,
    **emd_kw,
):
    """Single-series CEEMDAN (reference decomposition.py:210-342), the
    kernel the CEEMDAN operator runs in one bucketed Arrow task per series.
    Realization r of the white-noise ensemble is seeded by
    sid_crc ⊕ seed·2654435761 + r (sid_crc = crc32(series_id) in the
    operator), so a series decomposes the same wherever it runs. A series
    with zero variance or fewer than 4 points has no modes.
    → list of modes (each len(t))."""
    t = np.asarray(t, float)
    x = np.asarray(x, float)
    sigma_x = float(np.std(x))
    if sigma_x == 0 or len(x) < 4:
        return []
    cap = hard_mode_cap if max_modes is None else min(max_modes, hard_mode_cap)
    mm = max_modes if max_modes is not None else hard_mode_cap

    noise_modes = []
    for r in range(ensemble_size):
        rng = np.random.default_rng(
            (sid_crc & 0xFFFFFFFF) ^ (seed * 2654435761 + r) & 0x7FFFFFFF
        )
        noise = rng.standard_normal(len(t))
        nm, _ = emd(t, noise, **emd_kw)
        noise_modes.append(nm)

    residue = x / sigma_x
    modes = []
    k = 0
    while k < cap:
        beta = epsilon * float(np.std(residue))
        acc = np.zeros(len(t))
        for r in range(ensemble_size):
            nm = noise_modes[r]
            if k < len(nm):
                scale = beta / float(np.std(nm[0])) if k == 0 else beta
                noisy = residue + scale * nm[k]
            else:
                noisy = residue
            first, _ = emd(t, noisy, max_modes=1, **emd_kw)
            if first:
                acc += noisy - first[0]
        mu = acc / ensemble_size
        modes.append(residue - mu)
        residue = mu
        k += 1
        if float(np.var(residue)) < min_energy:
            break
        n_residue_modes = len(emd(t, residue, **emd_kw)[0])
        if n_residue_modes == 1:
            if k < mm:
                modes.append(residue.copy())
            break
        if n_residue_modes < 1:
            break
    return [m * sigma_x for m in modes]
