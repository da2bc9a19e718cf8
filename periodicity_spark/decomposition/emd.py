"""EMD / LMD as Spark operators: per-series Arrow UDFs around the NumPy
kernels (reference decomposition.py:93-117, 185-203). Parallel across
series — the sifting loop itself is inherently sequential (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def emd_modes(
    ts: DataFrame,
    max_modes: int | None = None,
    include_residue: bool = False,
    max_iter: int = 2000,
    pad_width: int = 2,
    theta_1: float = 0.05,
    theta_2: float = 0.50,
    alpha: float = 0.05,
) -> DataFrame:
    """→ modes DF (series_id, mode, time, value); mode −1 is the residue when
    ``include_residue``."""
    mm = max_modes

    def _per_series(pdf):
        import pandas as pd
        from periodicity_spark.decomposition.kernels import emd

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        modes, residue = emd(
            t, x, max_modes=mm, max_iter=max_iter, pad_width=pad_width,
            theta_1=theta_1, theta_2=theta_2, alpha=alpha,
        )
        sid = pdf["series_id"].iloc[0]
        frames = [
            pd.DataFrame({"series_id": sid, "mode": k, "time": t, "value": m})
            for k, m in enumerate(modes)
        ]
        if include_residue:
            frames.append(
                pd.DataFrame({"series_id": sid, "mode": -1, "time": t, "value": residue})
            )
        if not frames:
            return pd.DataFrame(columns=["series_id", "mode", "time", "value"])
        return pd.concat(frames, ignore_index=True)

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, mode int, time double, value double",
    )


def lmd_modes(
    ts: DataFrame, max_modes: int | None = None, max_iter: int = 10,
    smooth_iter: int = 12, eps: float = 1e-6,
) -> DataFrame:
    """Local Mean Decomposition → (series_id, mode, time, amp, func):
    product functions PFₖ = Aₖ·Fₖ (reference returns [A, F] pairs,
    decomposition.py:196)."""
    mm = max_modes

    def _per_series(pdf):
        import pandas as pd
        from periodicity_spark.decomposition.kernels import lmd

        pdf = pdf.sort_values("time")
        t = pdf["time"].to_numpy(float)
        x = pdf["value"].to_numpy(float)
        pfs, _residue = lmd(t, x, max_modes=mm, max_iter=max_iter,
                            smooth_iter=smooth_iter, eps=eps)
        sid = pdf["series_id"].iloc[0]
        frames = [
            pd.DataFrame(
                {"series_id": sid, "mode": k, "time": t, "amp": A, "func": Fc}
            )
            for k, (A, Fc) in enumerate(pfs)
        ]
        if not frames:
            return pd.DataFrame(columns=["series_id", "mode", "time", "amp", "func"])
        return pd.concat(frames, ignore_index=True)

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        ts.filter(F.col("value").isNotNull()),
        _per_series,
        "series_id string, mode int, time double, amp double, func double",
    )


def orthogonality_matrix(modes: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation of modes (reference
    decomposition.py:361-375) — native: self-join on (series_id, time),
    one corr aggregate per (mode_i, mode_j).

    The correlation is spelled covar/(σ·σ) with try_divide rather than
    F.corr: under ANSI mode ``corr`` raises DIVIDE_BY_ZERO when a mode is
    constant within a series (surfaced by the sf0.1 audit — a zero-variance
    lag segment), where the reference's numpy corrcoef yields NaN. The
    engine's NaN→NULL convention therefore wants NULL there, which
    try_divide gives; non-degenerate groups agree with ``corr`` to 1 ulp
    (identical co-moment ratios)."""
    a = modes.select("series_id", "time", F.col("mode").alias("mode_i"), F.col("value").alias("_vi"))
    b = modes.select(
        F.col("series_id").alias("_sid"), F.col("time").alias("_t"),
        F.col("mode").alias("mode_j"), F.col("value").alias("_vj"),
    )
    pair_ok = F.col("_vi").isNotNull() & F.col("_vj").isNotNull()
    return (
        a.join(b, (F.col("series_id") == F.col("_sid")) & (F.col("time") == F.col("_t")))
        .groupBy("series_id", "mode_i", "mode_j")
        .agg(
            F.try_divide(
                F.covar_pop("_vi", "_vj"),
                # corr is PAIRWISE-complete: rows where either side is NULL
                # are excluded from every statistic — stddev_pop(_vi) alone
                # would keep rows whose partner is NULL and skew σ
                F.stddev_pop(F.when(pair_ok, F.col("_vi")))
                * F.stddev_pop(F.when(pair_ok, F.col("_vj"))),
            ).alias("corr")
        )
    )


def ceemdan_postprocess(modes: DataFrame, **emd_kwargs) -> DataFrame:
    """Colominas post-sifting of averaged CEEMDAN modes into proper IMFs
    (reference postprocessing(), decomposition.py:344-359). The whole
    re-sift chain is sequential per series → one Arrow UDF per series, no
    driver loop. Input/output: (series_id, mode, time, value)."""
    kw = dict(emd_kwargs)

    def _per_series(pdf):
        import numpy as np
        import pandas as pd
        from periodicity_spark.decomposition.kernels import emd

        pdf = pdf.sort_values(["mode", "time"])
        t = np.sort(pdf["time"].unique())
        ms = [
            g.sort_values("time")["value"].to_numpy(float)
            for _, g in pdf.groupby("mode", sort=True)
        ]
        if not ms:
            return pd.DataFrame(columns=["series_id", "mode", "time", "value"])
        first, _ = emd(t, ms[0], max_modes=1, **kw)
        ck = first[0] if first else ms[0]
        c_imfs = [ck]
        qk = ms[0] - ck
        for k in range(1, len(ms)):
            Dk = qk + ms[k]
            got, _ = emd(t, Dk, max_modes=1, **kw)
            if got:
                ck = got[0]
            else:
                c_imfs.append(ms[k])
                break
            qk = Dk - ck
            c_imfs.append(ck)
        sid = pdf["series_id"].iloc[0]
        return pd.concat(
            [
                pd.DataFrame({"series_id": sid, "mode": k, "time": t, "value": m})
                for k, m in enumerate(c_imfs)
            ],
            ignore_index=True,
        )

    from periodicity_spark.session import grouped_apply

    return grouped_apply(
        modes, _per_series, "series_id string, mode int, time double, value double"
    )
