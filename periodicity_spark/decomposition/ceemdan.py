"""CEEMDAN as a Spark operator (reference decomposition.py:210-342; Torres
2011, Colominas 2014).

Parallel across series: one bucketed Arrow stage (``session.grouped_apply``)
runs the whole decomposition of each series in the NumPy kernel
``kernels.ceemdan_1d`` — the white-noise ensemble, the per-mode ensemble
average and the stopping tests. ``CEEMDAN(...)(ts)`` is a lazy plan: no
job at build time, no driver loop over modes, nothing cached.

The ensemble axis is not spread over tasks. A (series × realization) plan
needs a driver-synced average and several jobs per mode; on a 4-core box,
with one or two 1,000-point series, it ran 1.4-6× slower than this stage,
and on a noisy one it ran the driver out of heap.

Determinism: noise for (series, realization) is seeded by
crc32(series_id) ⊕ seed·2654435761 + realization — reproducible regardless
of task placement (no driver-side RNG state crosses the wire).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.session import grouped_apply


class CEEMDAN:
    def __init__(
        self,
        epsilon: float = 0.2,
        ensemble_size: int = 50,
        min_energy: float = 0.0,
        random_seed: int | None = None,
        max_modes: int | None = None,
        hard_mode_cap: int = 16,
        **emd_kwargs,
    ):
        """``emd_kwargs``: the sifting tunables of ``kernels.emd_iter``
        (max_iter, pad_width, theta_1, theta_2, alpha); any other name
        raises TypeError here rather than in a Python task at action time."""
        import inspect

        from periodicity_spark.decomposition.kernels import emd_iter

        tunables = list(inspect.signature(emd_iter).parameters)[2:]
        unknown = sorted(set(emd_kwargs) - set(tunables))
        if unknown:
            raise TypeError(
                f"CEEMDAN got unexpected keyword argument(s) {unknown}; "
                f"EMD tunables are {tunables}"
            )
        self.epsilon = epsilon
        self.ensemble_size = ensemble_size
        self.min_energy = min_energy
        self.random_seed = 0 if random_seed is None else int(random_seed)
        self.max_modes = max_modes
        self.hard_mode_cap = hard_mode_cap
        self.emd_kwargs = emd_kwargs

    def __call__(self, ts: DataFrame) -> DataFrame:
        """→ modes DF (series_id, mode, time, value), modes 0..k per series.

        NULL values are dropped first. A series with zero variance or fewer
        than 4 points yields no rows."""
        eps, ens, me = self.epsilon, self.ensemble_size, self.min_energy
        seed, mm, cap = self.random_seed, self.max_modes, self.hard_mode_cap
        emd_kw = dict(self.emd_kwargs)

        def _per_series(pdf):
            import zlib

            import pandas as pd
            from periodicity_spark.decomposition.kernels import ceemdan_1d

            pdf = pdf.sort_values("time")
            sid = pdf["series_id"].iloc[0]
            t = pdf["time"].to_numpy(float)
            modes = ceemdan_1d(
                t,
                pdf["value"].to_numpy(float),
                epsilon=eps,
                ensemble_size=ens,
                min_energy=me,
                seed=seed,
                max_modes=mm,
                hard_mode_cap=cap,
                sid_crc=zlib.crc32(sid.encode()),
                **emd_kw,
            )
            if not modes:
                return pd.DataFrame(columns=["series_id", "mode", "time", "value"])
            return pd.concat(
                [
                    pd.DataFrame(
                        {"series_id": sid, "mode": k, "time": t, "value": m}
                    )
                    for k, m in enumerate(modes)
                ],
                ignore_index=True,
            )

        base = ts.filter(F.col("value").isNotNull()).select("series_id", "time", "value")
        return grouped_apply(
            base, _per_series, "series_id string, mode int, time double, value double"
        )
