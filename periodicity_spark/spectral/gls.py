"""Generalized Lomb-Scargle periodogram, Spark-first.

Semantics follow the reference GLS (reference spectral.py:43-135, after
Zechmeister & Kürster 2009): heteroscedastic weights, optional floating mean,
PSD or normalized output, default grid df = 1/(n·baseline), fmin = df/2,
fmax = 1/(2·median_dt) (reference spectral.py:88-97).

One plan per algorithm; the caller picks the algorithm:

(a) ``gls_periodogram`` — distributed exact O(N·F). The (series, frequency)
    grid joins the samples on series_id and one shuffle aggregates the six
    Zechmeister-Kürster trig sums; the power finish is pure column math.
    Everything stays in whole-stage codegen and scales over N×F×#series.
    The per-series stats side is broadcast.

(a') ``gls_arrow`` — the same exact sums per series in numpy, inside one
    ``grouped_apply`` stage, over a global grid.

(b) ``spectral.fast.gls_periodogram_fast`` — per-series O(N log N) Press &
    Rybicki (1989) FFT extirpolation (reference spectral.py:11-40), also
    one ``grouped_apply`` stage.

The power finish exists once per runtime: ``gls_power_sql`` for Spark
plans (this module and ``streaming.gls``), ``gls_power_np`` for the numpy
kernels (gls_arrow, gls_periodogram_fast, the GP period seed).

All three return the pg schema (series_id, frequency, power).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from periodicity_spark.functions.stats import series_stats

TWO_PI = 2.0 * math.pi


def default_freq_grid(
    ts: DataFrame, n: float = 5.0, max_frequency: float | None = None
) -> DataFrame:
    """Per-series np.arange(fmin, fmax+df, df) with the reference defaults
    (spectral.py:88-97): df=1/(n·baseline), fmin=df/2, fmax=1/(2·median_dt).

    Implemented as sequence+explode over the per-series stats row — the grid
    is declared, not materialized on the driver.

    max_frequency: optional STRICT upper cutoff on the emitted grid. On a
    uniformly-sampled series the grid's endpoint fmax = 1/(2·dt) IS the
    Nyquist frequency, where the GLS normal equations are singular (SS→0;
    power is 0/0 noise whose sign is decided by floating-point op order).
    Callers that need cross-engine-reproducible output should cap the grid
    strictly below Nyquist here — dropping the degenerate rows BEFORE the
    periodogram computes them — rather than filtering the power table
    afterwards. Default None keeps the full reference grid.
    """
    # arithmetic as SQL strings parsed JVM-side (guide §5; the literal
    # positions mirror Python's reflected operators — 0.5 * col built
    # col * 0.5 — so the trees match the former Column build exactly)
    st = series_stats(ts).selectExpr(
        "series_id",
        f"1.0D / (baseline * {float(n)!r}D) AS df",
        "median_dt",
    )
    # number of points in arange(fmin, fmax+df, df) = ceil((stop-start)/step)
    st = st.selectExpr(
        "series_id",
        "df",
        "df * 0.5D AS fmin",
        "0.5D / median_dt AS fmax",
    ).withColumn(
        "nf", F.expr("cast(ceil((fmax + df - fmin) / df) as int)")
    )
    grid = st.selectExpr(
        "series_id",
        "explode(sequence(0, nf - 1)) AS k",
        "fmin",
        "df",
    ).selectExpr(
        "series_id",
        "fmin + k * df AS frequency",
    )
    if max_frequency is not None:
        grid = grid.filter(f"frequency < {float(max_frequency)!r}D")
    return grid


def _recode_tiny(df: DataFrame, order_col: str, code_col: str) -> DataFrame:
    """Dense integer recode of a TINY side: row_number over a GLOBAL
    (partition-less) window — deterministic and collision-free, unlike a
    64-bit hash. The single-partition funnel this implies is safe ONLY for
    sides that are broadcast anyway (one row per series / per grid point);
    every caller broadcasts the recoded side. Do not point this at a fact
    table."""
    from pyspark.sql import Window

    return df.withColumn(code_col, F.row_number().over(Window.orderBy(order_col)))


def uniform_freq_grid(
    spark: SparkSession, fmin: float, df: float, nf: int
) -> DataFrame:
    """Global grid fmin + k·df, k∈[0, nf) — one row per frequency, no series key."""
    return spark.range(nf).select((F.lit(fmin) + F.col("id") * F.lit(df)).alias("frequency"))


def gls_periodogram(
    ts: DataFrame,
    freq_grid: DataFrame | None = None,
    n: float = 5.0,
    psd: bool = False,
    fit_mean: bool = True,
    err_col: str | None = None,
    min_count: int | None = None,
) -> DataFrame:
    """Distributed exact GLS (path a).

    ts: (series_id, time, value [, err_col]); NULL values are dropped first
    (reference reducers are nan-skipping).
    freq_grid: (frequency) or (series_id, frequency); default reference grid.
    min_count: drop series with fewer samples (spectrally degenerate).

    Scan economy (matters when ts is the 100 TB fact table): exactly TWO
    scans — one stats aggregation producing (wsum, ybar, YY, n) per series
    via the algebraic identity YY = Σw·y²/Σw − ȳ² (no second pass over
    mean-subtracted values), and the main grid-join aggregation. The stats
    side is broadcast; the only big shuffle is the (series, frequency)
    aggregate of the six trig sums.
    """
    # The N×F grid expansion, 2·N·F transcendentals and the partial
    # aggregation all run INSIDE the scan tasks (everything below the first
    # Exchange) — a small single-row-group file would serialize the whole
    # periodogram onto one core (guide §2.5 input skew). Floor the
    # parallelism first; no-op when the scan already has enough partitions.
    # Probe the CALLER'S frame before deriving anything from it: a repeat
    # caller's Dataset keeps its analyzed plan and, if the probe reaches
    # the partition count, its RDD, so no part of the subtree is planned
    # cold again (~0.1-0.3 s per build); the filters below push through
    # the repartition, so the executed plan is unchanged.
    from periodicity_spark.session import scan_parallel

    ts = scan_parallel(ts)

    # NaN-skipping like the reference's np.nan* reducers (core.py:202-260):
    # NaN values and NULL/NaN errors are missing data, dropped from every
    # statistic INCLUDING the min_count sample count — keeping them would
    # poison whole series (NaN sums) or diverge the two exact strategies
    ts = ts.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    if err_col is not None:
        ts = ts.filter(F.col(err_col).isNotNull() & ~F.isnan(err_col))
    werr = (
        F.lit(1.0)
        if err_col is None
        else F.pow(F.col(err_col), F.lit(-2.0))
    )
    base = ts.withColumn("werr", werr)

    # Pass 1 — reference spectral.py:99-107,120 in one aggregation.
    stats = base.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("werr").alias("wsum"),
        F.sum(F.col("werr") * F.col("value")).alias("_swy"),
        F.sum(F.col("werr") * F.col("value") * F.col("value")).alias("_swyy"),
    )
    if min_count is not None:
        stats = stats.filter(F.col("_n") >= min_count)
    ybar = (F.col("_swy") / F.col("wsum")) if fit_mean else F.lit(0.0)
    pre = stats.select(
        "series_id",
        "wsum",
        ybar.alias("ybar"),
        (F.col("_swyy") / F.col("wsum") - ybar * ybar).alias("YY"),
    )

    # Integer aggregate keys (measured ~30% off the whole periodogram at
    # sf0.1): the hot (series, frequency) hash-aggregate probes ~N·F rows,
    # and hashing/comparing a long beats a string series_id. The code is a
    # row_number over the stats side — deterministic and collision-free by
    # construction (unlike a 64-bit hash) — and rides the same "stats side
    # is tiny" assumption as the broadcast hints below.
    pre = _recode_tiny(pre, "series_id", "_code")
    # The one-row-per-series stats table feeds TWO broadcast subtrees
    # (the sample join and the consts power-finish join). Without
    # sharing, each broadcast re-runs the full stats aggregate from
    # its own fact-table scan — 3 fact scans / 11 exchanges in
    # gls_power's AQE-final executed plan at sf0.01, and at 100 TB a
    # redundant fact scan is the whole bill (2 scans / ~7 exchanges
    # with the cache). A NON-eager persist (not localCheckpoint) is
    # the right sharing primitive here: the two broadcast jobs race,
    # the BlockManager's per-block lock makes one compute while the
    # other reads the cached rows, and no serial up-front job is
    # added (an eager checkpoint measured +1.2 s at sf0.1; carrying
    # the constants through the hot N×F aggregate as first()s
    # measured +4.7 s — per-row aggregate-buffer updates scale with
    # N×F, a redundant broadcast subtree only with N). The cache is
    # KB-sized (one short row per series) and LRU-evicted. MEMORY_ONLY
    # keeps the residue RAM-only (no disk blocks accumulate across many
    # distinct GLS plans in a long-lived session); callers that overwrite
    # the SOURCE FILES between identical-plan calls must clearCache() —
    # Spark's CacheManager matches on the logical plan, not file mtime.
    from pyspark import StorageLevel

    pre = pre.persist(StorageLevel.MEMORY_ONLY)
    consts = pre.select("_code", "wsum", "YY", "series_id")

    if freq_grid is None:
        freq_grid = default_freq_grid(ts, n=n)
    joined = base.join(F.broadcast(pre), "series_id")
    # Global grids also swap the double frequency key for the grid row index
    # (the frequency VALUE maps back from the tiny indexed grid afterwards,
    # so output doubles are bit-identical to a frequency-keyed plan).
    index_grid = "series_id" not in freq_grid.columns
    if index_grid:
        freq_grid = _recode_tiny(freq_grid, "frequency", "_k")
        joined = joined.crossJoin(F.broadcast(freq_grid))
        group_keys = ["_code", "_k"]
    else:
        joined = joined.join(freq_grid, "series_id")
        group_keys = ["_code", "frequency"]

    # Project sinθ/cosθ once, derive the double-angle terms algebraically
    # (sin2θ = 2sc, cos2θ = 1−2s²) — halves the transcendental work, which
    # dominates the crossJoin aggregate at scale.
    #
    # The arithmetic here and in the power finish (gls_power_sql) is written
    # as SQL STRINGS parsed JVM-side, not as Column objects: building the
    # same trees through py4j costs one driver round-trip per node (~0.3-1 ms
    # each, ~1 800 per periodogram plan — the r10 simhash lesson, guide
    # §5). The strings are structured to parse to EXACTLY the trees the
    # former Column code built; tests/test_spectral_extras.py pins the
    # optimized-plan equality against a Column-built reference.
    theta = f"{TWO_PI!r}D * frequency * time"
    proj = joined.selectExpr(
        *group_keys,
        "werr / wsum AS _w",
        "value - ybar AS _y",
        f"sin({theta}) AS _s",
        f"cos({theta}) AS _c",
    )
    # NOTE the commuted literal positions (_s * 2, x + 1, ... * 0.5):
    # Python's reflected operators (2 * col → col.__rmul__ → col * 2) put
    # literals on the RIGHT; these strings mirror that so the parse trees
    # match the former Column build node-for-node.
    sums = proj.groupBy(*group_keys).agg(
        F.expr("sum(_w * _s) AS S"),
        F.expr("sum(_w * _c) AS C"),
        F.expr("sum(_w * ((_s * 2) * _c)) AS S2"),
        F.expr("sum(_w * (1 - (_s * 2) * _s)) AS C2"),
        F.expr("sum(_w * _y * _s) AS Sh"),
        F.expr("sum(_w * _y * _c) AS Ch"),
    )

    sums = sums.join(F.broadcast(consts), "_code")
    if index_grid:
        sums = sums.join(
            F.broadcast(freq_grid.select("_k", "frequency")), "_k"
        )

    return sums.selectExpr(
        "series_id", "frequency", f"{gls_power_sql(fit_mean, psd)} AS power"
    )


def gls_power_sql(fit_mean: bool = True, psd: bool = False) -> str:
    """Zechmeister-Kürster power finish as ONE Spark SQL expression over the
    columns S, C, S2, C2 (weighted Σsin, Σcos, Σsin2ωt, Σcos2ωt), Sh, Ch
    (the same over the centred values), YY (weighted variance) and, for
    ``psd``, wsum — a transliteration of reference spectral.py:113-132.
    The finish of every Spark GLS plan: the batch ``gls_periodogram`` and
    the streaming ``streaming.gls.gls_power_from_sums``.

    Every substitution is parenthesized so the parse tree matches the
    former Column build node-for-node — the repeated subterms textually
    duplicate exactly the way reused Column objects duplicated their
    subtrees (tests/test_spectral_extras.py pins the optimized plan)."""
    if fit_mean:
        tan2wt = "try_divide(S2 - (S * 2) * C, C2 - (C * C - S * S))"
    else:
        tan2wt = "try_divide(S2, C2)"
    norm = f"sqrt(({tan2wt}) * ({tan2wt}) + 1)"
    S2w = f"(({tan2wt}) / ({norm}))"
    C2w = f"(1 / ({norm}))"
    Cw = f"(sqrt(0.5D) * sqrt({C2w} + 1))"
    Sw = f"(sqrt(0.5D) * signum({S2w}) * sqrt(1 - {C2w}))"
    YC = f"(Ch * {Cw} + Sh * {Sw})"
    YS = f"(Sh * {Cw} - Ch * {Sw})"
    CC = f"((C2 * {C2w} + 1 + S2 * {S2w}) * 0.5D)"
    SS = f"((1 - C2 * {C2w} - S2 * {S2w}) * 0.5D)"
    if fit_mean:
        CC = f"({CC} - power(C * {Cw} + S * {Sw}, 2))"
        SS = f"({SS} - power(S * {Cw} - C * {Sw}, 2))"
    # try_divide: a spectrally degenerate series (constant values → YY = 0,
    # or a frequency where CC/SS vanish) must yield NULL power, not an ANSI
    # DIVIDE_BY_ZERO crash — the reference's numpy gives 0/0 → NaN there,
    # and this engine's convention is NaN→NULL (sources/ingest.py). For
    # every non-degenerate row try_divide is bit-identical to `/`.
    power = f"(try_divide({YC} * {YC}, {CC}) + try_divide({YS} * {YS}, {SS}))"
    if psd:
        return f"({power} * (wsum * 0.5D))"
    return f"try_divide({power}, YY)"


def gls_power_np(S, C, S2, C2, Sh, Ch, fit_mean=True):
    """Zechmeister-Kürster power finish (reference spectral.py:118-132) from
    the six weighted trig sums over numpy arrays: S, C = Σw·sin, Σw·cos;
    S2, C2 = Σw·sin 2ωt, Σw·cos 2ωt; Sh, Ch = Σw·Y·sin, Σw·Y·cos of the
    centred values. → YC²/CC + YS²/SS, before the 1/YY (or PSD)
    normalization. S and C are unused when not ``fit_mean``. The finish of
    every numpy path: gls_arrow's exact sums, gls_power_fast's extirpolated
    ones and the GP period seed (gp.kernels.gls_best_period)."""
    import numpy as np

    if fit_mean:
        tan2wt = (S2 - 2.0 * S * C) / (C2 - (C * C - S * S))
    else:
        tan2wt = S2 / C2
    nrm = np.sqrt(1.0 + tan2wt * tan2wt)
    S2w = tan2wt / nrm
    C2w = 1.0 / nrm
    Cw = np.sqrt(0.5) * np.sqrt(1.0 + C2w)
    Sw = np.sqrt(0.5) * np.sign(S2w) * np.sqrt(1.0 - C2w)
    YC = Ch * Cw + Sh * Sw
    YS = Sh * Cw - Ch * Sw
    CC = 0.5 * (1.0 + C2 * C2w + S2 * S2w)
    SS = 0.5 * (1.0 - C2 * C2w - S2 * S2w)
    if fit_mean:
        CC = CC - (C * Cw + S * Sw) ** 2
        SS = SS - (S * Cw - C * Sw) ** 2
    return YC * YC / CC + YS * YS / SS


def gls_arrow(
    ts: DataFrame,
    freq_grid: DataFrame,
    psd: bool = False,
    fit_mean: bool = True,
    err_col: str | None = None,
    min_count: int | None = None,
) -> DataFrame:
    """Exact GLS (path a'), per-series Arrow kernel over a GLOBAL grid.

    Same semantics as ``gls_periodogram`` — differential-tested to 1e-9,
    identical NULL pattern (non-finite → NULL where try_divide nulls) —
    but the (series × frequency) expansion and six-sum reduction happen
    inside vectorized numpy per series instead of a |rows|·|grid|-row
    whole-stage-codegen aggregate. Measured at sf0.1/128 freqs: ~2.5 s vs
    ~4.0 s for the crossJoin path (the JVM pays 2·|rows|·|grid|
    transcendentals plus a 10⁸-row hash-aggregate probe; numpy pays the
    same flops SIMD-vectorized with the reduction as a matmul).

    Scale shape: ONE scan, zero shuffles beyond ``grouped_apply``'s
    bucket exchange (hash of series_id — the same key layout the
    crossJoin path shuffles into); the grid is collected to the driver
    (≤ thousands of doubles) and ships inside the kernel closure.
    Per-series grids and giant single series stay on ``gls_periodogram``
    / ``gls_periodogram_fast`` (this path holds one F×N trig matrix per
    series in executor memory: fine for N ≤ ~10⁵ per series, shard above).

    Reference semantics anchor: spectral.py:88-132 (same as path a).
    """
    import numpy as np

    from periodicity_spark.session import grouped_apply

    if "series_id" in freq_grid.columns:
        raise ValueError("gls_arrow requires a global grid; use gls_periodogram")
    freqs = np.asarray(
        [r["frequency"] for r in freq_grid.select("frequency").collect()],
        dtype=np.float64,
    )
    use_err = err_col is not None
    fm = bool(fit_mean)
    want_psd = bool(psd)
    mc = min_count

    def _kern(g):
        import numpy as np
        import pandas as pd
        from periodicity_spark.spectral.gls import gls_power_np

        g = g[g["value"].notna()]
        n = len(g)
        if n == 0 or (mc is not None and n < mc):
            return None
        t = g["time"].to_numpy(np.float64)
        y = g["value"].to_numpy(np.float64)
        werr = g["_werr"].to_numpy(np.float64) if use_err else np.ones(n)
        wsum = werr.sum()
        w = werr / wsum
        ybar = (w * y).sum() if fm else 0.0
        Y = y - ybar
        YY = (w * y * y).sum() - ybar * ybar
        th = (2.0 * np.pi) * freqs[:, None] * t[None, :]
        s = np.sin(th)
        c = np.cos(th)
        S = s @ w
        C = c @ w
        S2 = (2.0 * s * c) @ w
        C2 = (1.0 - 2.0 * s * s) @ w
        wY = w * Y
        Sh = s @ wY
        Ch = c @ wY
        with np.errstate(divide="ignore", invalid="ignore"):
            power = gls_power_np(S, C, S2, C2, Sh, Ch, fm)
            if want_psd:
                power = power * (0.5 * wsum)
            else:
                power = power / YY
        # try_divide parity: non-finite (x/0, 0/0) → NULL
        power = np.where(np.isfinite(power), power, np.nan)
        out = pd.DataFrame(
            {
                "series_id": g["series_id"].iloc[0],
                "frequency": freqs,
                "power": power,
            }
        )
        out["power"] = out["power"].astype(object).where(pd.notna(out["power"]), None)
        return out

    # same NaN-skipping pre-filter as gls_periodogram — the two exact
    # strategies must agree row-for-row on which samples participate
    cols = ts.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    if use_err:
        cols = cols.filter(
            F.col(err_col).isNotNull() & ~F.isnan(err_col)
        ).withColumn("_werr", F.pow(F.col(err_col), F.lit(-2.0)))
    return grouped_apply(
        cols, _kern, "series_id string, frequency double, power double"
    )


class GLS:
    """Configured-callable facade matching the reference API shape
    (reference spectral.py:53-73): ``GLS(fmin, fmax, n, psd)(ts)`` → pg DF.
    No hidden mutable state — results are returned, not cached.

    ``fmin`` and ``fmax`` come together (an explicit global grid) or not at
    all (the per-series reference grid); a lone bound or fmin > fmax raises
    ``ValueError``."""

    def __init__(self, fmin: float | None = None, fmax: float | None = None, n: float = 5.0, psd: bool = False):
        if (fmin is None) != (fmax is None):
            raise ValueError("GLS needs both fmin and fmax, or neither")
        if fmin is not None and fmin > fmax:
            raise ValueError(f"GLS fmin={fmin} exceeds fmax={fmax}")
        self.fmin = fmin
        self.fmax = fmax
        self.n = n
        self.psd = psd

    def __call__(self, ts: DataFrame, err_col: str | None = None, fit_mean: bool = True) -> DataFrame:
        grid = None
        if self.fmin is not None:
            # explicit global bounds, reference-style step from per-series
            # baseline is replaced by an explicit arange over [fmin, fmax]
            spark = ts.sparkSession
            # df from the first series' baseline is data-dependent; for the
            # explicit-bounds API we require the caller to accept n-based
            # density over the union baseline:
            stats = series_stats(ts).agg(F.max("baseline").alias("b")).collect()[0]
            df = 1.0 / (stats["b"] * self.n)
            nf = int(math.ceil((self.fmax + df - self.fmin) / df))
            grid = uniform_freq_grid(spark, self.fmin, df, nf)
        return gls_periodogram(ts, freq_grid=grid, n=self.n, psd=self.psd, fit_mean=fit_mean, err_col=err_col)

    def window(
        self,
        ts: DataFrame,
        freq_grid: DataFrame | None = None,
        min_count: int | None = None,
    ) -> DataFrame:
        """Spectral window (reference spectral.py:165-167): GLS of the
        constant-1 signal with fit_mean=False. An explicit ``freq_grid``
        skips the data-dependent default-grid stats pass."""
        ones = ts.withColumn("value", F.lit(1.0))
        if freq_grid is not None:
            return gls_periodogram(
                ones, freq_grid=freq_grid, psd=self.psd, fit_mean=False,
                min_count=min_count,
            )
        return self(ones, fit_mean=False)
