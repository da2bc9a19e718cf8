"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operator inventory from SURVEY.md §2 as
(spark, sf_dir) → DataFrame callables over the driver testdata; each has a
DuckDB-runnable ``oracle_sql()`` twin computing the same result with the same
column names. Non-SQL-expressible ops (FFT/UDF kernels, approximate ANN) have
no oracle entry → rows-only check.

Engine-alignment rules used throughout (see periodicity_spark/sources/ingest.py):
- events.ts (TIMESTAMP NANOS) is truncated to integer microseconds on both
  engines; time = (epoch_us − 2024-01-01)/86400e6 days, exact in double.
- final float columns are rounded identically on both sides; intermediate
  arithmetic uses identical IEEE operation order wherever results feed
  comparisons.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from periodicity_spark.operators import agg as ops_agg
from periodicity_spark.operators import clean as ops_clean
from periodicity_spark.operators import resample as ops_resample
from periodicity_spark.operators import transform as ops_transform
from periodicity_spark.operators import windows as ops_windows
from periodicity_spark.operators.acf import acf_fft, acf_lag_grid
from periodicity_spark.phase.pdm import pdm_theta
from periodicity_spark.phase.stringlength import string_length
from periodicity_spark.pipeline import dedup, simsearch, text as text_ops
from periodicity_spark.pipeline import sample as sample_ops
from periodicity_spark.pipeline import sketch as sketch_ops
from periodicity_spark.pipeline.multimodal import extract_features
from periodicity_spark.session import persisted, persisted_lazy, scan_parallel
from periodicity_spark.sources.ingest import (
    events_with_time,
    load_table,
    ts_from_events,
)
from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid
from periodicity_spark.spectral.periodogram_ops import period_at_highest_peak
from periodicity_spark.functions.stats import series_stats

# ---------------------------------------------------------------------------
# shared pieces

# events → ts CTE (DuckDB side). Mirrors ts_from_events exactly.
TS_SQL = """
ts AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         (epoch_us(ts) - 1704067200000000)::DOUBLE / 86400000000.0 AS "time",
         value
  FROM events
)
"""

GLS_NF = 128
GLS_FMIN = 0.05
GLS_DF = 0.015625  # 1/64 — exactly representable, grid bit-identical on both engines
GLS_MIN_N = 8  # series with fewer samples are spectrally degenerate

PERIOD_GRID = [0.5 + 0.25 * j for j in range(20)]
PERIOD_GRID_SQL = "grid AS (SELECT 0.5 + 0.25 * unnest(range(20)) AS period)"


# Memo of the entry DataFrames per (session, sf_dir). DataFrames are
# immutable plan handles — reusing one object across queries caches NOTHING
# about its results (every action still scans parquet); it only skips
# rebuilding the identical unresolved plan over py4j for each of ~45 bench
# queries (~0.1-0.2 s of driver round-trips per build, guide §5), and a
# scan_parallel probe of a memoized frame reuses its Dataset's analyzed
# plan and, when it gets that far, its cached RDD instead of planning the
# subtree cold (~0.1-0.5 s per probe).
_ENTRY_DF_MEMO: dict = {}


def _entry_df(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    from periodicity_spark.session import session_uid

    skey = session_uid(spark)
    full = (skey, sf_dir, name)
    if full not in _ENTRY_DF_MEMO:
        # evict frames belonging to other (possibly dead) sessions so the
        # memo cannot grow past one session's handful of entries
        for old in [k for k in _ENTRY_DF_MEMO if k[0] != skey]:
            _ENTRY_DF_MEMO.pop(old, None)
        _ENTRY_DF_MEMO[full] = builder()
    return _ENTRY_DF_MEMO[full]


def _ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _entry_df(spark, sf_dir, "ts", lambda: ts_from_events(spark, sf_dir))


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized events_with_time — six queries build this identical subtree."""
    return _entry_df(
        spark, sf_dir, "ev", lambda: events_with_time(spark, sf_dir)
    )


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized raw table scan: ``spark.read.parquet`` re-reads the file
    footer on EVERY call (~50-90 ms at sf0.1) — the TPC-H star joins alone
    re-paid that for 3-6 tables per query per rep. Same immutable-plan-
    handle reuse as _ts/_docs/_emb: no results cached, every action still
    scans parquet."""
    def _read():
        if name == "events":
            # events.ts is parquet TIMESTAMP(NANOS); get_spark sets this
            # at session creation, but a caller-built session may not —
            # and the memoized schema would otherwise depend on whether
            # events_with_time (which also sets it) ran first (ADVICE r10:
            # query-order-dependent memoized schema)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return _entry_df(spark, sf_dir, f"tbl:{name}", _read)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw memoized documents scan, not floored. The r11 interleaved A/B
    (floor on/off, fresh-session suites at sf0.1 and sf1 —
    OPTIMIZATION_r11.md §1) showed a floor's full-text shuffle LOSES at
    both SFs for every plain-scan consumer (text_stats 1.5-2.0×,
    repetition_stats, lm_score, cross_dup, leak_split...). The dedup and
    winnow pipelines floor inside (``session.scan_parallel``); the
    consumers whose per-doc CPU below the first exchange measurably
    dominates the floor's shuffle call ``scan_parallel(_docs(...),
    key="doc_id")`` themselves: q_simhash, q_ngram_jaccard, q_domain_cap
    (sf1 wins 1.6×/2.1×/3.2×)."""
    return _tbl(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw memoized embeddings scan, not floored — same policy as
    ``_docs`` (r11 A/B: the floor loses 1.3-2.0× at sf0.1 and ties at sf1
    for every embeddings consumer except the brute-force matmul of
    q_simsearch_topk and the LSH signature UDF of q_simsearch_lsh
    — sf1 raw 22.7 s vs floored 10.4 s — which call
    ``scan_parallel(_emb(...), key="vec_id")``)."""
    return _tbl(spark, sf_dir, "embeddings")


def _money_sum(expr, nd: int = 2):
    """Order-independent rounded money aggregate. A double sum over
    many ~1e4-1e7-magnitude terms carries enough order-dependent
    round-off to flip round(·, nd) at a half-ulp-of-a-cent boundary
    between engines (fuzz seed 7 caught TPC-H Q9 one cent off). The
    per-row double expression is IEEE-identical cross-engine, so summing
    its DECIMAL(38,6) cast is exact and order-independent; the rounded
    result is cast back to double. SQL twin:
    CAST(round(sum(CAST(e AS DECIMAL(38,6))), nd) AS DOUBLE)."""
    return F.round(F.sum(expr.cast("decimal(38,6)")), nd).cast("double")


def _period_grid(spark: SparkSession) -> DataFrame:
    return spark.range(20).select((F.lit(0.5) + F.col("id") * F.lit(0.25)).alias("period"))


# ---------------------------------------------------------------------------
# queries


def q_ts_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = series_stats(_ts(spark, sf_dir))
    return st.select(
        "series_id",
        "n",
        F.round("mean", 6).alias("mean_value"),
        # n=1: Spark's stddev_samp yields NaN where DuckDB yields NULL —
        # shape to NULL so the driver's typed value hash agrees
        F.when(F.col("n") > 1, F.round("std", 6)).alias("std_value"),
        F.col("vmin"),
        F.col("vmax"),
        F.col("tmin"),
        F.col("tmax"),
        F.col("baseline").alias("baseline"),
        F.col("median_dt"),
    )


SQL_TS_STATS = f"""
WITH {TS_SQL},
d AS (
  SELECT series_id, "time" - lag("time") OVER (PARTITION BY series_id ORDER BY "time") AS dt_i
  FROM ts
),
med AS (SELECT series_id, median(dt_i) AS median_dt FROM d WHERE dt_i IS NOT NULL GROUP BY 1)
SELECT t.series_id AS series_id,
       count(*) AS n,
       round(avg(t.value), 6) AS mean_value,
       round(stddev_samp(t.value), 6) AS std_value,
       min(t.value) AS vmin,
       max(t.value) AS vmax,
       min(t."time") AS tmin,
       max(t."time") AS tmax,
       max(t."time") - min(t."time") AS baseline,
       max(med.median_dt) AS median_dt
FROM ts t LEFT JOIN med USING (series_id)
GROUP BY t.series_id
"""
# LEFT JOIN med: a single-sample series has no pairwise dt, so `med` has no
# row for it — an inner join silently dropped the whole series from the
# oracle while the engine (reference-faithfully: median of an empty diff is
# NaN, the series still exists) kept it. Surfaced by the sf1 soak.


def q_roll_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.windows.roll_time — trailing 1-day time-window stats per
    sample (range frame: one WindowExec, no self-join)."""
    out = ops_windows.roll_time(_ts(spark, sf_dir), width=1.0)
    return out.select(
        "series_id",
        "time",
        F.round("roll_mean", 6).alias("roll_mean"),
        F.col("roll_min"),
        F.col("roll_max"),
        F.col("roll_n"),
    )


SQL_ROLL_TIME = f"""
WITH {TS_SQL}
SELECT series_id, "time",
       round(avg(value) OVER w, 6) AS roll_mean,
       min(value) OVER w AS roll_min,
       max(value) OVER w AS roll_max,
       count(value) OVER w AS roll_n
FROM ts
WINDOW w AS (PARTITION BY series_id ORDER BY "time"
             RANGE BETWEEN 1.0 PRECEDING AND CURRENT ROW)
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.clean.ewma — time-decay EWMA (halflife 1 day) via the O(N)
    recurrence in a bucketed Arrow kernel; oracle is the equivalent O(n²)
    weighted-sum self-join."""
    out = ops_clean.ewma(_ts(spark, sf_dir), halflife=1.0)
    return out.select(
        "series_id", "time", "value", F.round("ewma", 6).alias("ewma")
    )


# λ = ln2 / halflife, halflife = 1 day
SQL_EWMA = f"""
WITH {TS_SQL}
SELECT a.series_id AS series_id, a."time" AS "time", a.value AS value,
       round(
         sum(b.value * exp(-0.6931471805599453 * (a."time" - b."time")))
         / sum(exp(-0.6931471805599453 * (a."time" - b."time"))), 6) AS ewma
FROM ts a JOIN ts b
  ON a.series_id = b.series_id AND b."time" <= a."time"
GROUP BY a.series_id, a."time", a.value
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.agg.quantiles — exact per-series p25/p50/p75 (linear
    interpolation), one shuffle, JVM percentile aggregate."""
    out = ops_agg.quantiles(_ts(spark, sf_dir))
    return out.select(
        "series_id",
        "n",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


SQL_VALUE_QUANTILES = f"""
WITH {TS_SQL}
SELECT series_id,
       count(value) AS n,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM ts
GROUP BY 1
"""


def q_downsample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_resample.downsample(_ts(spark, sf_dir), 1.0)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


SQL_DOWNSAMPLE_DAILY = f"""
WITH {TS_SQL},
st AS (SELECT series_id, min("time") AS tmin, max("time") AS tmax FROM ts GROUP BY 1),
b AS (
  SELECT t.series_id, st.tmin,
         greatest(ceil((t."time" - st.tmin) / ((st.tmax - st.tmin) / ceil((st.tmax - st.tmin) / 1.0)::BIGINT)) - 1, 0)::BIGINT AS bucket,
         t.value
  FROM ts t JOIN st USING (series_id)
  WHERE st.tmax > st.tmin
)
SELECT series_id, tmin + bucket * 1.0 AS "time", round(avg(value), 6) AS value
FROM b GROUP BY series_id, tmin, bucket
"""


def q_fold_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    folded = ops_transform.fold(_ts(spark, sf_dir), 1.0)
    return folded.select("series_id", F.col("time").alias("phase"), "value")


SQL_FOLD_PHASE = f"""
WITH {TS_SQL}
SELECT series_id, (("time" / 1.0) % 1 + 1) % 1 AS phase, value FROM ts
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = ops_windows.split(_ts(spark, sf_dir), max_gap=0.25)
    return seg.groupBy("series_id", "segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("t_start"),
        F.max("time").alias("t_end"),
    )


SQL_SESSIONIZE = f"""
WITH {TS_SQL},
g AS (
  SELECT series_id, "time",
         CASE WHEN "time" - lag("time") OVER w > 0.25 THEN 1 ELSE 0 END AS brk
  FROM ts WINDOW w AS (PARTITION BY series_id ORDER BY "time")
),
s AS (
  SELECT series_id, "time",
         sum(brk) OVER (PARTITION BY series_id ORDER BY "time"
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment
  FROM g
)
SELECT series_id, segment::BIGINT AS segment, count(*) AS n,
       min("time") AS t_start, max("time") AS t_end
FROM s GROUP BY 1, 2
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.agg.cohort_retention — the product-analytics cohort
    rollup over the events fact table: cohort = day index (days since
    2024-01-01, via the drift-proof aligned time axis) of each user's
    first event; retention(d) = active-users(cohort, cohort+d) /
    cohort_size. Shape: user-day collapse → user-keyed first-day join →
    tiny (cohort, offset) aggregate + broadcast cohort sizes."""
    from periodicity_spark.operators.agg import cohort_retention

    ev = _ev(spark, sf_dir)
    return cohort_retention(ev, day=F.floor("time"))


SQL_COHORT_RETENTION = """
WITH e AS (
  SELECT user_id,
         floor((epoch_us(ts) - 1704067200000000) / 86400000000.0)::BIGINT AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
act AS (SELECT DISTINCT user_id, day FROM e),
first AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY 1),
j AS (
  SELECT f.cohort, a.day - f.cohort AS day_offset
  FROM act a JOIN first f USING (user_id)
)
SELECT cohort, day_offset, count(*) AS n_users, cohort_size,
       round(count(*)::DOUBLE / cohort_size, 6) AS retention
FROM j JOIN sizes USING (cohort)
GROUP BY cohort, day_offset, cohort_size
"""


def q_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ops_windows.derivative(_ts(spark, sf_dir))
    return d.select("series_id", "time", F.col("value").alias("deriv"))


SQL_DERIVATIVE = f"""
WITH {TS_SQL},
w AS (
  SELECT series_id, "time", value,
         lag(value) OVER win AS vp, lead(value) OVER win AS vn,
         lag("time") OVER win AS tp, lead("time") OVER win AS tn
  FROM ts WINDOW win AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, "time",
       CASE WHEN tp IS NULL THEN (vn - value) / (tn - "time")
            WHEN tn IS NULL THEN (value - vp) / ("time" - tp)
            ELSE (vn - vp) / (tn - tp) END AS deriv
FROM w
"""


def q_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = _ts(spark, sf_dir)
    mu = ts.groupBy("series_id").agg(F.avg("value").alias("_mu"))
    centered = ts.join(F.broadcast(mu), "series_id").select(
        "series_id", "time", (F.col("value") - F.col("_mu")).alias("value")
    )
    zc = ops_windows.find_zero_crossings(centered)
    return zc.groupBy("series_id").agg(F.count(F.lit(1)).alias("n_crossings"))


SQL_ZERO_CROSSINGS = f"""
WITH {TS_SQL},
mu AS (SELECT series_id, avg(value) AS mu FROM ts GROUP BY 1),
c AS (
  SELECT t.series_id, t."time", sign(t.value - mu.mu) AS s
  FROM ts t JOIN mu USING (series_id)
),
f AS (
  SELECT series_id, s, lag(s) OVER (PARTITION BY series_id ORDER BY "time") AS sp
  FROM c
)
SELECT series_id, count(*) AS n_crossings
FROM f WHERE sp IS NOT NULL AND s <> sp GROUP BY 1
"""


def q_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = ops_windows.find_peaks(_ts(spark, sf_dir))
    return p.select("series_id", "time", "value")


SQL_PEAKS = f"""
WITH {TS_SQL},
w AS (
  SELECT series_id, "time", value,
         lag(value) OVER win AS vp, lead(value) OVER win AS vn
  FROM ts WINDOW win AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, "time", value
FROM w WHERE vp IS NOT NULL AND vn IS NOT NULL AND value > vp AND value > vn
"""


def q_top3_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = ops_windows.find_peaks(_ts(spark, sf_dir))
    w = Window.partitionBy("series_id").orderBy(F.desc("value"), F.asc("time"))
    return (
        p.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("series_id", "rank", "time", "value")
    )


SQL_TOP3_PEAKS = f"""
WITH {TS_SQL},
w AS (
  SELECT series_id, "time", value,
         lag(value) OVER win AS vp, lead(value) OVER win AS vn
  FROM ts WINDOW win AS (PARTITION BY series_id ORDER BY "time")
),
pk AS (
  SELECT series_id, "time", value FROM w
  WHERE vp IS NOT NULL AND vn IS NOT NULL AND value > vp AND value > vn
),
r AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY value DESC, "time" ASC) AS rank
  FROM pk
)
SELECT series_id, rank, "time", value FROM r WHERE rank <= 3
"""


def _ts_with_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return ev.select(
        F.concat_ws("/", F.col("user_id"), F.col("event_type")).alias("series_id"),
        F.col("time"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(F.col("value")).alias("value"),
    )


TS_NULLS_SQL = """
ts AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         (epoch_us(ts) - 1704067200000000)::DOUBLE / 86400000000.0 AS "time",
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
  FROM events
)
"""


def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    filled = ops_clean.interpolate_na(_ts_with_nulls(spark, sf_dir), "linear")
    return filled.filter(F.col("value").isNotNull()).select(
        "series_id", "time", "value"
    )


SQL_INTERPOLATE_LINEAR = f"""
WITH {TS_NULLS_SQL},
w AS (
  SELECT series_id, "time", value,
    last_value(CASE WHEN value IS NOT NULL THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    last_value(value IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(CASE WHEN value IS NOT NULL THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
    first_value(value IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM ts
)
SELECT series_id, "time",
       CASE WHEN value IS NOT NULL THEN value
            WHEN pt IS NOT NULL AND nt IS NOT NULL
            THEN pv + (nv - pv) * ("time" - pt) / (nt - pt) END AS value
FROM w
WHERE (CASE WHEN value IS NOT NULL THEN value
            WHEN pt IS NOT NULL AND nt IS NOT NULL
            THEN pv + (nv - pv) * ("time" - pt) / (nt - pt) END) IS NOT NULL
"""


def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    filled = ops_clean.interpolate_na(_ts_with_nulls(spark, sf_dir), "ffill")
    return filled.filter(F.col("value").isNotNull()).select(
        "series_id", "time", "value"
    )


SQL_FFILL = f"""
WITH {TS_NULLS_SQL},
f AS (
  SELECT series_id, "time",
         last_value(value IGNORE NULLS)
           OVER (PARTITION BY series_id ORDER BY "time"
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM ts
)
SELECT series_id, "time", value FROM f WHERE value IS NOT NULL
"""


def q_smooth_boxcar3(spark: SparkSession, sf_dir: str) -> DataFrame:
    sm = ops_clean.smooth(_ts(spark, sf_dir), 3, kernel="boxcar")
    return sm.filter(F.col("value").isNotNull()).select(
        "series_id", "time", "value"
    )


# mirror-edge boxcar(3): lag at the first row mirrors to the 2nd row = lead,
# and symmetrically at the end — coalesce reproduces the pad exactly.
SQL_SMOOTH_BOXCAR3 = f"""
WITH {TS_SQL},
w AS (
  SELECT series_id, "time", value,
         lag(value) OVER win AS vp, lead(value) OVER win AS vn
  FROM ts WINDOW win AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, "time",
       0.0 + (1.0/3.0) * coalesce(vp, vn) + (1.0/3.0) * value + (1.0/3.0) * coalesce(vn, vp) AS value
FROM w
WHERE (0.0 + (1.0/3.0) * coalesce(vp, vn) + (1.0/3.0) * value + (1.0/3.0) * coalesce(vn, vp)) IS NOT NULL
"""


def q_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy("event_type", F.floor(F.col("value") / 25.0).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_HIST = """
SELECT event_type, floor(value / 25.0)::BIGINT AS bucket, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_acf_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = acf_lag_grid(_ts(spark, sf_dir), max_lag=10)
    return a.select("series_id", "lag", F.round("acf", 6).alias("acf"))


SQL_ACF_LAG = f"""
WITH {TS_SQL},
mu AS (SELECT series_id, avg(value) AS mu FROM ts GROUP BY 1),
pos AS (
  SELECT t.series_id,
         row_number() OVER (PARTITION BY t.series_id ORDER BY t."time") - 1 AS pos,
         t.value - mu.mu AS v
  FROM ts t JOIN mu USING (series_id)
),
lags AS (SELECT unnest(range(10)) AS lag),
prods AS (
  SELECT p.series_id, l.lag, sum(p.v * q.v) AS num
  FROM pos p CROSS JOIN lags l
  JOIN pos q ON q.series_id = p.series_id AND q.pos = p.pos + l.lag
  GROUP BY 1, 2
),
den AS (SELECT series_id, num AS den FROM prods WHERE lag = 0)
SELECT p.series_id AS series_id, p.lag::DOUBLE AS lag, round(p.num / d.den, 6) AS acf
FROM prods p JOIN den d USING (series_id)
"""


def q_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    day = F.floor("time").cast("long").alias("day")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id"), day)
        .agg(F.avg("value").alias("_a"))
    )
    b = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id"), day)
        .agg(F.avg("value").alias("_b"))
    )
    j = a.join(b, ["user_id", "day"])
    out = j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.corr("_a", "_b"), 6).alias("corr_click_view"),
    )
    return out.filter(F.col("n_days") >= 3).filter(F.col("corr_click_view").isNotNull())


SQL_DAILY_CORR = """
WITH e AS (
  SELECT user_id, event_type, value,
         floor((epoch_us(ts) - 1704067200000000)::DOUBLE / 86400000000.0)::BIGINT AS day
  FROM events
),
a AS (SELECT user_id, day, avg(value) AS a FROM e WHERE event_type = 'click' GROUP BY 1, 2),
b AS (SELECT user_id, day, avg(value) AS b FROM e WHERE event_type = 'view' GROUP BY 1, 2),
j AS (SELECT a.user_id, a.day, a.a, b.b FROM a JOIN b USING (user_id, day))
SELECT user_id, count(*) AS n_days,
       round(corr(a, b), 6) AS corr_click_view
FROM j GROUP BY 1
HAVING count(*) >= 3 AND corr(a, b) IS NOT NULL
"""


def q_polyfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    fit = ops_agg.polyfit_linear(_ts(spark, sf_dir))
    return fit.select(
        "series_id", F.round("slope", 6).alias("slope"), F.round("intercept", 6).alias("intercept")
    )


SQL_POLYFIT = f"""
WITH {TS_SQL},
s AS (
  SELECT series_id,
         (avg("time" * value) - avg("time") * avg(value))
           / (avg("time" * "time") - avg("time") * avg("time")) AS slope,
         avg(value) AS my, avg("time") AS mt
  FROM ts GROUP BY 1
)
SELECT series_id, round(slope, 6) AS slope, round(my - slope * mt, 6) AS intercept
FROM s
"""


def _gls_pg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gls_power and gls_best_period are two projections of the SAME
    # periodogram — persist it once per (session, sf_dir) so the second
    # query reuses the aggregate instead of recomputing the full grid scan
    # (engine-level memo: periodicity_spark.session.persisted_lazy). LAZY
    # memo deliberately: six queries share this plan, and rebuilding it
    # over py4j only to discard it on a memo hit measured ~0.6 s per call.
    def _build() -> DataFrame:
        grid = uniform_freq_grid(spark, GLS_FMIN, GLS_DF, GLS_NF)
        return gls_periodogram(
            _ts(spark, sf_dir), freq_grid=grid, min_count=GLS_MIN_N
        )

    return persisted_lazy(spark, f"gls_pg:{sf_dir}", _build)


def q_gls_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    pg = _gls_pg(spark, sf_dir)
    return pg.select("series_id", "frequency", F.round("power", 6).alias("power"))


def q_gls_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spectral.gls.gls_arrow — the per-series Arrow GLS strategy on the
    same 128-point grid, against the SAME oracle as gls_power: numpy does
    the (series × freq) expansion + six-sum reduction per series, saving
    the 10⁸-row JVM aggregate (measured ~40% faster at sf0.1). Exactness
    vs the crossJoin path: ≤5e-11, identical NULL pattern (differential
    in tests/test_spectral_extras.py)."""
    from periodicity_spark.spectral.gls import gls_arrow

    ts = _ts(spark, sf_dir)
    grid = uniform_freq_grid(spark, GLS_FMIN, GLS_DF, GLS_NF)
    out = gls_arrow(ts, grid, min_count=GLS_MIN_N)
    return out.select(
        "series_id", "frequency", F.round("power", 6).alias("power")
    )


# sums→power finish shared by every GLS oracle (fit_mean=True normalized
# power; same algebra as spectral/gls.py:165-199). Expects CTEs ``z``
# (series_id, frequency, w, y, s, c) and ``yy2`` (series_id, yyv) upstream.
_GLS_TAIL_SQL = """
sums AS (
  SELECT series_id, frequency,
    sum(w * s) AS s1,
    sum(w * c) AS c1,
    sum(w * (2 * s * c)) AS s2,
    sum(w * (1 - 2 * s * s)) AS c2,
    sum(w * y * s) AS sh,
    sum(w * y * c) AS ch
  FROM z GROUP BY series_id, frequency
),
fin AS (
  SELECT s.series_id, s.frequency, y.yyv,
         (s.s2 - 2 * s.s1 * s.c1) / (s.c2 - (s.c1 * s.c1 - s.s1 * s.s1)) AS t2w,
         s.s1 AS s1, s.c1 AS c1, s.s2 AS s2, s.c2 AS c2, s.sh AS sh, s.ch AS ch
  FROM sums s JOIN yy2 y USING (series_id)
),
pw AS (
  SELECT series_id, frequency,
    (
      pow(ch * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) + sh * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2)
      / (0.5 * (1 + c2 * (1 / sqrt(1 + t2w * t2w)) + s2 * (t2w / sqrt(1 + t2w * t2w)))
         - pow(c1 * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) + s1 * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2))
      +
      pow(sh * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) - ch * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2)
      / (0.5 * (1 - c2 * (1 / sqrt(1 + t2w * t2w)) - s2 * (t2w / sqrt(1 + t2w * t2w)))
         - pow(s1 * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) - c1 * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2))
    ) / yyv AS power
  FROM fin
)
"""


def _gls_sql(select_clause: str, tail: str = "") -> str:
    return f"""
WITH {TS_SQL},
pre AS (
  SELECT series_id, count(*)::DOUBLE AS n,
         sum(value) / sum(1.0) AS ybar,
         sum(value * value) / sum(1.0) - (sum(value) / sum(1.0)) * (sum(value) / sum(1.0)) AS yyv
  FROM ts GROUP BY 1 HAVING count(*) >= {GLS_MIN_N}
),
t2 AS (SELECT ts.* FROM ts JOIN pre USING (series_id)),
yy2 AS (SELECT series_id, yyv FROM pre),
grid AS (SELECT {GLS_FMIN} + {GLS_DF} * unnest(range({GLS_NF})) AS frequency),
z AS (
  SELECT t.series_id, g.frequency, 1.0 / p.n AS w, t.value - p.ybar AS y,
         sin(2 * pi() * g.frequency * t."time") AS s,
         cos(2 * pi() * g.frequency * t."time") AS c
  FROM t2 t JOIN pre p USING (series_id) CROSS JOIN grid g
),
{_GLS_TAIL_SQL}
{select_clause}
{tail}
"""


SQL_GLS_POWER = _gls_sql(
    "SELECT series_id, frequency, round(power, 6) AS power FROM pw"
)

# the UNROUNDED periodogram — the shared base every pw-derived oracle
# (peak sort, FWHM, grid stats) consumes. tools/soak_check.py stages it
# into a temp table ONCE at soak scales: the monolithic CTE re-derives
# the 640M-row trig intermediate per reference to `pw`, whose repeated
# sort/agg spill exceeded the box's disk at sf5 (ENOSPC ×3, round 9).
SQL_GLS_PW = _gls_sql("SELECT series_id, frequency, power FROM pw")

# select-clauses that extend the WITH chain after `pw` — kept alongside
# the monolithic oracle strings so soak_check can re-attach them to the
# staged table as  WITH pw AS (SELECT * FROM pw_t) {clause}
GLS_DERIVED_CLAUSES: dict[str, str] = {}


def _gls_sql_derived(name: str, select_clause: str) -> str:
    GLS_DERIVED_CLAUSES[name] = select_clause
    return _gls_sql(select_clause)


def q_gls_best_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    pg = _gls_pg(spark, sf_dir)
    best = period_at_highest_peak(pg)
    return best.select("series_id", "period")


SQL_GLS_BEST_PERIOD = _gls_sql(
    """
, pk AS (
  SELECT series_id, frequency, power,
         lag(power) OVER w AS pp, lead(power) OVER w AS pn
  FROM pw WINDOW w AS (PARTITION BY series_id ORDER BY frequency)
),
best AS (
  SELECT series_id, frequency,
         row_number() OVER (PARTITION BY series_id ORDER BY power DESC, frequency ASC) AS rn
  FROM pk WHERE pp IS NOT NULL AND pn IS NOT NULL AND power > pp AND power > pn
)
SELECT series_id, 1.0 / frequency AS period FROM best WHERE rn = 1
"""
)


def q_gls_default_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLS on the REFERENCE default grid (spectral.py:88-97): per-series
    df = 1/(5·baseline), fmin = df/2, fmax = 1/(2·median_dt) — the
    data-dependent grid path (spectral/gls.py:default_freq_grid), which the
    fixed-grid queries above never exercise. Daily-downsampled (median_dt=1
    → fmax=0.5) and restricted to user_id ≤ 2 so the per-series grid stays
    oracle-tractable; values rounded 6dp pre-GLS identically on both engines.
    """
    ev = _ev(spark, sf_dir).filter(F.col("user_id") <= 2)
    ts = ev.select(
        F.concat_ws("/", F.col("user_id"), F.col("event_type")).alias("series_id"),
        F.col("time"),
        F.col("value"),
    )
    day = ops_resample.downsample(ts, 1.0).select(
        "series_id", "time", F.round("value", 6).alias("value")
    )
    # the default-grid path reads its input several times (grid stats, GLS
    # stats, the grid join itself) — persist the small downsampled series so
    # the events scan + downsample aggregate run once, not ~6× (plan audit:
    # 12 scans / 44 exchanges unpersisted → 1 scan of events persisted)
    day = persisted(day, f"gdg_day:{sf_dir}")
    # near-Nyquist endpoint exclusion is the engine's documented
    # max_frequency grid parameter (see default_freq_grid): the singular
    # endpoint rows (SS→0, power = 0/0 noise) are dropped BEFORE the
    # periodogram computes them, with a cutoff strictly between grid points
    # so both engines select identical rows
    from periodicity_spark.spectral.gls import default_freq_grid

    grid = default_freq_grid(day, n=5.0, max_frequency=0.4995)
    pg = gls_periodogram(day, freq_grid=grid, min_count=GLS_MIN_N)
    return pg.select(
        "series_id",
        F.round("frequency", 9).alias("frequency"),
        F.round("power", 6).alias("power"),
    )


SQL_GLS_DEFAULT_GRID = f"""
WITH ts0 AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         (epoch_us(ts) - 1704067200000000)::DOUBLE / 86400000000.0 AS "time",
         value
  FROM events WHERE user_id <= 2
),
st0 AS (SELECT series_id, min("time") AS tmin, max("time") AS tmax FROM ts0 GROUP BY 1),
b AS (
  SELECT t.series_id, st0.tmin,
         greatest(ceil((t."time" - st0.tmin) / ((st0.tmax - st0.tmin) / ceil((st0.tmax - st0.tmin) / 1.0)::BIGINT)) - 1, 0)::BIGINT AS bucket,
         t.value
  FROM ts0 t JOIN st0 USING (series_id)
  WHERE st0.tmax > st0.tmin
),
ts AS (
  SELECT series_id, tmin + bucket * 1.0 AS "time", round(avg(value), 6) AS value
  FROM b GROUP BY series_id, tmin, bucket
),
d AS (
  SELECT series_id, "time" - lag("time") OVER (PARTITION BY series_id ORDER BY "time") AS dt_i
  FROM ts
),
med AS (SELECT series_id, median(dt_i) AS median_dt FROM d WHERE dt_i IS NOT NULL GROUP BY 1),
gstat AS (SELECT series_id, max("time") - min("time") AS baseline FROM ts GROUP BY 1),
gp AS (
  SELECT g.series_id,
         1.0 / (g.baseline * 5.0) AS df,
         0.5 * (1.0 / (g.baseline * 5.0)) AS fmin,
         0.5 / m.median_dt AS fmax
  FROM gstat g JOIN med m USING (series_id)
),
grid AS (
  SELECT series_id, fmin + k * df AS frequency
  FROM (
    SELECT series_id, fmin, df,
           unnest(range(ceil((fmax + df - fmin) / df)::BIGINT)) AS k
    FROM gp
  )
),
pre AS (
  SELECT series_id, count(*)::DOUBLE AS n,
         sum(value) / sum(1.0) AS ybar,
         sum(value * value) / sum(1.0) - (sum(value) / sum(1.0)) * (sum(value) / sum(1.0)) AS yyv
  FROM ts GROUP BY 1 HAVING count(*) >= {GLS_MIN_N}
),
yy2 AS (SELECT series_id, yyv FROM pre),
z AS (
  SELECT t.series_id, g.frequency, 1.0 / p.n AS w, t.value - p.ybar AS y,
         sin(2 * pi() * g.frequency * t."time") AS s,
         cos(2 * pi() * g.frequency * t."time") AS c
  FROM ts t JOIN pre p USING (series_id) JOIN grid g USING (series_id)
),
{_GLS_TAIL_SQL}
SELECT series_id, round(frequency, 9) AS frequency, round(power, 6) AS power
FROM pw WHERE frequency < 0.4995
"""


def q_stringlength(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = string_length(_ts(spark, sf_dir), _period_grid(spark))
    return sl.select("series_id", "period", F.round("ell", 6).alias("ell"))


SQL_STRINGLENGTH = f"""
WITH {TS_SQL},
mm AS (SELECT series_id, min(value) AS vmin, max(value) AS vmax FROM ts GROUP BY 1),
m AS (
  SELECT t.series_id, t."time",
         (t.value - mm.vmax) / (2 * (mm.vmax - mm.vmin)) + 0.25 AS mv
  FROM ts t JOIN mm USING (series_id) WHERE mm.vmax > mm.vmin
),
{PERIOD_GRID_SQL},
folded AS (
  SELECT m.series_id, g.period,
         ((m."time" / g.period) % 1 + 1) % 1 AS phi, m.mv
  FROM m CROSS JOIN grid g
),
pairs AS (
  SELECT series_id, period, phi, mv,
         coalesce(lead(mv) OVER w, first_value(mv) OVER wf) AS m2,
         coalesce(lead(phi) OVER w, first_value(phi) OVER wf) AS p2
  FROM folded
  WINDOW w AS (PARTITION BY series_id, period ORDER BY phi, mv),
         wf AS (PARTITION BY series_id, period ORDER BY phi, mv
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT series_id, period,
       round(sum(sqrt((m2 - mv) * (m2 - mv) + (p2 - phi) * (p2 - phi))), 6) AS ell
FROM pairs GROUP BY 1, 2
"""


def q_pdm_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    th = pdm_theta(_ts(spark, sf_dir), _period_grid(spark), nb=5, nc=2)
    return th.select("series_id", "period", F.round("theta", 6).alias("theta"))


SQL_PDM_THETA = f"""
WITH {TS_SQL},
sig AS (SELECT series_id, var_samp(value) AS sigma FROM ts GROUP BY 1),
{PERIOD_GRID_SQL},
covers AS (SELECT unnest(range(2)) AS i),
binned AS (
  SELECT t.series_id, g.period,
         ((floor((((t."time" / g.period) % 1 + 1) % 1) * 10)::BIGINT - c.i) % 10 + 10) % 10 AS bin,
         t.value
  FROM ts t CROSS JOIN grid g CROSS JOIN covers c
),
bstats AS (
  SELECT series_id, period, bin, var_samp(value) AS sj, count(*) AS nj
  FROM binned GROUP BY 1, 2, 3 HAVING count(*) > 1
),
th AS (
  SELECT series_id, period, sum((nj - 1) * sj) / (sum(nj) - count(*)) AS ss
  FROM bstats GROUP BY 1, 2
)
SELECT t.series_id AS series_id, t.period AS period,
       round(t.ss / s.sigma, 6) AS theta
FROM th t JOIN sig s USING (series_id) WHERE s.sigma > 0
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change), adapted to the testdata's
    1995-2001 date range: a pure scan-and-aggregate whose THREE range
    predicates must all reach the parquet scan — the canonical
    pushdown/pruning benchmark."""
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.025)
            & (F.col("l_discount") <= 0.055)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q6 = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.025 AND 0.055
  AND l_quantity < 24
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority), adapted to the testdata schema (no
    o_shippriority column) and date range. Three-table join: customer is
    segment-filtered (~20% of an already small dim — broadcast HINTED),
    orders and lineitem date-filtered and joined with NO hint — at test
    scale AQE promotes orders to a broadcast from its measured size, at
    100 TB the same plan degrades to a shuffle join instead of OOMing a
    forced broadcast. Top-10 by revenue with deterministic (revenue DESC,
    orderkey) tie-break so the result set is unique and hash-comparable."""
    cust = _tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    oc = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(oc, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume), adapted to the testdata's
    1995-2001 date range: the 6-table join shape. All four dimension
    tables (customer, supplier, nation, region) are broadcast — the star
    side of the plan never shuffles; the one big-big join
    (lineitem ⋈ orders) is left unhinted so AQE picks broadcast at test
    scale and degrades to a shuffle join at 100 TB. The c_nationkey =
    s_nationkey "local supplier" predicate rides the supplier broadcast
    join, so no extra exchange is introduced for it."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    asia_nations = (
        rd("nation")
        .join(
            F.broadcast(rd("region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        rd("lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(rd("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(rd("supplier")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


SQL_TPCH_Q5 = """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue), adapted to the testdata's categorical
    p_type (exact 'PROMO', not a prefix) and date range: conditional
    aggregation over a broadcast dim join — the month filter prunes
    lineitem at the scan, part broadcasts, and the CASE folds into one
    whole-stage-codegen aggregate with no second pass."""
    li = _tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _tbl(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(0.0)
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.sum(rev.cast("decimal(38,6)")).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q14 = """
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
             4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the aggregate-of-aggregate max shape with
    tie safety — the revenue view (one quarter of lineitem, grouped by
    supplier) is referenced twice, once for the per-supplier totals and
    once for their max. Both references share an IDENTICAL subplan, so
    Spark reuses the shuffle exchange (ReusedExchange): lineitem is
    scanned and shuffled ONCE even though the view appears twice — the
    100 TB-safe alternative to a correlated re-scan. The 1-row max
    broadcasts into the equality join (ties all survive, per spec), and
    the tiny winner set broadcasts into supplier.

    Output adapted to the testdata's supplier columns (no address/phone):
    (s_suppkey, s_name, total_revenue). Revenue is rounded to 2 decimals
    BEFORE the max comparison on both engines, so the tie comparison is
    on identical representations."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    rev = (
        rd("lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
            # explicit: the supplier join would INFER isnotnull(l_suppkey)
            # into the totals branch only, desynchronizing the two view
            # references' canonical plans and silently killing the
            # ReusedExchange (verified: without this, lineitem is scanned
            # and shuffled twice)
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    winners = rev.join(
        F.broadcast(mx), F.col("total_revenue") == F.col("_mx")
    ).drop("_mx")
    return (
        rd("supplier")
        .join(F.broadcast(winners), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the HAVING-subquery shape. The
    inner aggregate (orders whose total quantity exceeds 300) is computed
    once and broadcast into a LEFT SEMI join against lineitem — the
    having-filtered key set is tiny by construction (top ~1% of orders),
    so the semi-join is map-side at any corpus scale; customer broadcasts.
    Deterministic top-100 by (o_totalprice DESC, o_orderkey)."""
    li = _tbl(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300.0)
        .select("l_orderkey")
    )
    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), adapted to the testdata's
    columns: orders in a 3-month window having at least one lineitem that
    shipped after the order date (the testdata has no commit/receipt
    dates; l_shipdate > o_orderdate is the same correlated-EXISTS shape).
    The EXISTS compiles to ONE left-semi shuffle join on the order key;
    the non-equi date predicate rides the same join, no extra exchange.
    At 100 TB both sides are large, so semi-join-on-key (never a count +
    filter, which would shuffle every lineitem row into an aggregate) is
    the scale plan; the 3-month range prunes the orders scan."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    late_li = rd("lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late_li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the
    LEFT-OUTER-join-then-two-level-aggregate shape, with the priority
    filter standing in for the comment NOT LIKE. Scale plan: orders are
    pre-aggregated to one (custkey, count) row BEFORE the outer join, so
    the join carries |customers| + |custkeys| rows instead of every
    order row — the naive outer-join-then-count shuffles the full orders
    table keyed by customer and resurrects every hot-customer skew; the
    pre-agg gets map-side partial combine for free. The second aggregate
    (distribution over c_count) is a few hundred groups — negligible."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    per_cust = (
        rd("orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("_n"))
    )
    return (
        rd("customer")
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade between two nations by
    ship year. Shape: the two INDEPENDENT nation dimension joins (supplier
    side and customer side both broadcast — the nation pair disjunction
    rides them, no extra exchange) + year() extraction feeding the group
    keys. One big-big lineitem ⋈ orders join, AQE's call."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    n1 = rd("nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = rd("nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = rd("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(rd("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(rd("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(rd("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1, 2, 3
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's supplier share of a
    region's ECONOMY-part market by order year — the conditional-share
    aggregate (sum(case)/sum) over a 7-table star. Part and all dims
    broadcast; the customer-side region restriction and the supplier-side
    nation label come from two independent nation joins."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    cust_nat = (
        rd("nation")
        .join(
            F.broadcast(rd("region").filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("_cn_key"))
    )
    supp_nat = rd("nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("nation")
    )
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    econ_parts = rd("part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        rd("lineitem")
        .join(F.broadcast(econ_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(rd("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("_cn_key"))
        .join(F.broadcast(rd("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nat), F.col("s_nationkey") == F.col("_sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_5", vol)
                    .otherwise(0.0)
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.sum(vol.cast("decimal(38,6)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


SQL_TPCH_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_5'
                           THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                           AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY 1
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item revenue): top-20 customers by revenue lost
    to returns in a quarter. Plan: the l_returnflag='R' filter reaches the
    lineitem scan (pushed), the quarter range prunes orders, customer and
    nation broadcast; the lone big-big join (lineitem ⋈ filtered orders)
    is AQE's call. The final top-20 is TakeOrdered over the per-customer
    aggregate — no global sort."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    orders = rd("orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = rd("lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(rd("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(rd("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lineitems under 20% of
    their part's average quantity, for one brand. The correlated scalar
    subquery is decorrelated into ONE per-part average aggregate joined
    back — at 100 TB the naive re-scan-per-row is impossible, and the
    per-part aggregate gets map-side combine; the brand filter reaches
    the part scan and the tiny filtered part side broadcasts into both
    the threshold build and the final join."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    li = rd("lineitem")
    parts = rd("part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    avg_q = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("_thr"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_q), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


SQL_TPCH_Q17 = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs shape — three
    disjunct (brand, size, quantity) branches spanning the join. The
    part-only conjuncts (brand OR-set, size bound) are implied by the
    disjunction and reach the part scan as pushed filters; part then
    broadcasts and the residual cross-table disjunction evaluates on the
    join output — no fact-table re-scan per branch."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    li = rd("lineitem")
    p = rd("part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            _money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


SQL_TPCH_Q19 = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted to mktsegment in
    place of phone country codes: rich customers (balance above the
    positive-balance mean) with no orders since 1999 — the date bound
    keeps the anti join non-vacuous on this testdata, where every
    customer has SOME order. Shapes covered: scalar
    aggregate subquery (one row, broadcast by construction — computed
    as a 1-row cross join, which Spark plans as BroadcastNestedLoopJoin
    with a single build row) and ANTI join. The anti join's right side
    is pre-projected to the bare distinct key so the shuffle carries
    8-byte keys, not order rows."""
    cust = _tbl(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    buyers = (
        _tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(buyers, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("numcust"),
            _money_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


SQL_TPCH_Q22 = """
SELECT c_mktsegment AS segment, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '1999-01-01')
GROUP BY c_mktsegment
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to this
    schema: lineitem has no l_receiptdate/l_commitdate, so "late" is
    l_shipdate more than 100 days after o_orderdate. The classic shape is
    preserved exactly — for each late lineitem of a finished order,
    EXISTS another supplier's lineitem in the same order AND NOT EXISTS
    another supplier's LATE lineitem in the same order; count per
    supplier, restricted to one nation.

    Decorrelation for scale: the two correlated subqueries over the same
    table become per-order supplier-group statistics — one aggregate to
    (orderkey, suppkey) granularity (map-side combined; carries the
    per-group late-row count so duplicate late lineitems of one supplier
    in one order are counted like the row-granularity original), then
    window counts over orderkey: n_supp>1 ⟺ the EXISTS, n_late_supp=1 ⟺
    the NOT-EXISTS. Lineitem is projected to 3 columns before the
    shuffles; the nation-filtered supplier dim broadcasts at the end
    (can't filter earlier — the EXISTS clauses quantify over ALL
    suppliers of the order). ORDER BY numwait DESC, s_name is a total
    order (names unique), so LIMIT 100 is deterministic."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    lo = (
        rd("lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            rd("orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn(
            "_late",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
            ).cast("int"),
        )
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("_late").alias("_n_late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    per_os = per_os.withColumn("_n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "_n_late_supp", F.sum((F.col("_n_late_rows") > 0).cast("int")).over(w)
    )
    nat_supp = (
        rd("supplier")
        .join(
            rd("nation").filter(F.col("n_name") == "NATION_7"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        per_os.filter(
            (F.col("_n_late_rows") > 0)
            & (F.col("_n_supp") > 1)
            & (F.col("_n_late_supp") == 1)
        )
        .join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_n_late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


SQL_TPCH_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY)
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted to this schema: there is
    no partsupp table, so the supply-price list is derived as
    min(l_extendedprice) per (l_partkey, l_suppkey) — identically in the
    oracle, so the correlated scalar-min shape runs on the same relation.
    For selected parts (size band + type), find the European suppliers
    whose cost equals the per-part REGIONAL minimum (the correlated
    scalar subquery), with supplier/nation dims joined for output.

    Decorrelation for scale: the correlated min re-evaluated per row in
    the original becomes ONE per-part min aggregate over the
    region-filtered supply list, joined back on (partkey, cost-equal) —
    exact double equality is safe because both sides carry the same
    unrounded min. The part filter is pushed to the scan and the
    filtered part + European-supplier dims broadcast into the supply
    list, so the only large shuffle is the (part,supp) aggregate with
    map-side combine. ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    is a total order on this output (one row per part×supplier), so
    LIMIT 100 is deterministic."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    parts = (
        rd("part")
        .filter(F.col("p_size").between(10, 20) & (F.col("p_type") == "PROMO"))
        .select("p_partkey")
    )
    eur_supp = (
        rd("supplier")
        .join(
            rd("nation")
            .join(
                rd("region").filter(F.col("r_name") == "EUROPE"),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply = (
        rd("lineitem")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(eur_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("_cost"))
    )
    min_cost = supply.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("_cost").alias("_min_cost")
    )
    return (
        supply.join(
            min_cost,
            (F.col("l_partkey") == F.col("_pk"))
            & (F.col("_cost") == F.col("_min_cost")),
        )
        .join(F.broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            F.round("_cost", 2).alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


SQL_TPCH_Q2 = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       round(ps_supplycost, 2) AS cost
FROM part, supplier, supply, nation, region
WHERE p_partkey = ps_partkey
  AND s_suppkey = ps_suppkey
  AND p_size BETWEEN 10 AND 20
  AND p_type = 'PROMO'
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(s2.ps_supplycost)
    FROM supply s2, supplier sp, nation n2, region r2
    WHERE s2.ps_partkey = part.p_partkey
      AND sp.s_suppkey = s2.ps_suppkey
      AND sp.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def _supply(spark: SparkSession, sf_dir: str, with_qty: bool = False) -> DataFrame:
    """The partsupp surrogate shared by the adapted Q2/Q9/Q11/Q20: this
    schema has no partsupp table, so the supply-price list is derived
    from lineitem as min(l_extendedprice) per (l_partkey, l_suppkey)
    (optionally + sum(l_quantity) as the availqty surrogate) — computed
    IDENTICALLY in the DuckDB oracles, so the classic correlated shapes
    run over the same relation in both engines. One map-side-combined
    aggregate over a 4-column lineitem projection."""
    cols = ["l_partkey", "l_suppkey", "l_extendedprice"] + (
        ["l_quantity"] if with_qty else []
    )
    aggs = [F.min("l_extendedprice").alias("ps_supplycost")] + (
        [F.sum("l_quantity").alias("ps_availqty")] if with_qty else []
    )
    return (
        _tbl(spark, sf_dir, "lineitem")
        .select(*cols)
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(*aggs)
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit), adapted: part selection by
    p_type = 'ECONOMY' (no p_name LIKE corpus here) and supply cost from
    the shared partsupp surrogate. profit = extprice·(1−disc) −
    cost·qty, grouped by supplier nation × order year.

    Scale shape: the 6-way join keeps exactly two big-side shuffles —
    lineitem⋈supply on (partkey,suppkey) and ⋈orders on orderkey; the
    type-filtered part (pushed to scan), supplier and nation dims all
    broadcast. The nation×year aggregate is map-side combined, output is
    |nations|×|years| rows."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    parts = rd("part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    sn = (
        rd("supplier")
        .join(rd("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    li = rd("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            _supply(spark, sf_dir),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(
            rd("orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            # sum in DECIMAL: a double sum of ~1e7-magnitude profits carries
            # enough order-dependent round-off to flip round(·, 2) at a
            # half-cent boundary between engines (fuzz seed 7 found one row
            # off by exactly 0.01). The per-row double expression is
            # IEEE-identical on both engines; cast to decimal(38,6) and the
            # sum is exact and order-independent, so the rounding agrees.
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        - F.col("ps_supplycost") * F.col("l_quantity")
                    ).cast("decimal(38,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


SQL_TPCH_Q9 = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
)
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           - ps_supplycost * l_quantity AS DECIMAL(38,6))), 2)
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supply ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY 1, 2
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: stock value per part over
    one nation's suppliers, keeping parts whose value exceeds a fraction
    of the nation's total — the HAVING-against-global-scalar shape.
    supply cost/availqty come from the shared partsupp surrogate.

    Scale shape: the nation-filtered supplier dim broadcasts into the
    supply list; per-part aggregate is map-side combined; the global
    total is a 1-row aggregate over the SAME filtered frame, broadcast
    back as a cross join (BroadcastNestedLoopJoin with a single build
    row) — no second scan of lineitem thanks to the shared cached-free
    lineage, and no correlated re-evaluation."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    nat_supp = (
        rd("supplier")
        .join(
            rd("nation").filter(F.col("n_name") == "NATION_7"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    sup = _supply(spark, sf_dir, with_qty=True).join(
        F.broadcast(nat_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    per_part = sup.groupBy("ps_partkey").agg(
        F.sum(
            (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("_value")
    )
    # TPC-H scales the 0.0001 fraction by 1/SF so the predicate keeps
    # selecting at any scale; a fixed fraction goes vacuous as the part
    # count grows, so the scale-invariant form is used: keep parts above
    # 2x the average per-part value
    total = per_part.agg(
        (
            F.sum(F.col("_value").cast("decimal(38,6)")).cast("double")
            * 2.0
            / F.count(F.lit(1))
        ).alias("_thr")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_value") > F.col("_thr"))
        .select("ps_partkey", F.round("_value", 2).alias("value"))
    )


SQL_TPCH_Q11 = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost,
         sum(l_quantity) AS ps_availqty
  FROM lineitem GROUP BY 1, 2
)
SELECT ps_partkey,
       round(CAST(sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE), 2) AS value
FROM supply, supplier, nation
WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY ps_partkey
HAVING CAST(sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) > (
  SELECT CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) * 2.0 / count(*) FROM (
    SELECT CAST(sum(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) AS value
    FROM supply, supplier, nation
    WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'NATION_7'
    GROUP BY ps_partkey))
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority), adapted: lineitem has no
    l_shipmode/l_receiptdate, so the group key is l_returnflag and
    "late" is shipped > 60 days after order date, within one ship year.
    The shape is the classic join + two conditional (CASE) sums.

    Scale shape: the shipdate year range is pushed to the lineitem scan;
    the orderkey equi-join is the one shuffle (the cross-table 60-day
    predicate evaluates on join output); the 2-column aggregate is
    map-side combined to |returnflags| rows."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    li = (
        rd("lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(
            rd("orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi).alias("high_line_count"),
            F.sum(1 - hi).alias("low_line_count"),
        )
    )


SQL_TPCH_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (part/supplier relationship), adapted: the part-supplier
    relation is the distinct (l_partkey, l_suppkey) pairs (partsupp
    surrogate) and the complaint exclusion is suppliers with negative
    balance (no comment text here) — the NOT-IN-subquery shape (safe as
    an anti join: s_suppkey is non-null).

    Scale shape: brand/type/size filters push to the part scan and the
    filtered part broadcasts into the pair list; the excluded-supplier
    set is a filtered dim scan broadcast as an anti join; distinct pairs
    and the count-distinct aggregate are the two shuffles, both on
    bounded-cardinality keys."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    pairs = (
        rd("lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    parts = rd("part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    complained = rd("supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complained),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: suppliers of
    brand-selected parts (p_name text domains differ across datasets) whose availqty surrogate (total quantity ever
    supplied, from the shared supply list) exceeds half the quantity
    they shipped of that part in 1997 — the nested-IN + correlated
    half-sum shape. Pairs with no 1997 shipments drop out in both
    engines (the correlated scalar is NULL → predicate unknown; here the
    inner join to the 1997 aggregate drops them identically).

    Scale shape: the name-filtered part broadcasts into both (part,supp)
    aggregates; those two aggregates shuffle on the same key pair (AQE
    co-plans them); the qualifying supplier-key set is distinct-reduced
    before the final semi join against the nation-filtered supplier dim."""
    rd = lambda t: _tbl(spark, sf_dir, t)  # noqa: E731
    parts = (
        rd("part")
        .filter(F.col("p_brand").like("Brand#1%"))
        .select("p_partkey")
    )
    sup = _supply(spark, sf_dir, with_qty=True).join(
        F.broadcast(parts), F.col("ps_partkey") == F.col("p_partkey")
    )
    q97 = (
        rd("lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("l_partkey").alias("_pk"), F.col("l_suppkey").alias("_sk")
        )
        .agg((F.lit(0.5) * F.sum("l_quantity")).alias("_half97"))
    )
    qualifying = (
        sup.join(
            q97,
            (F.col("ps_partkey") == F.col("_pk"))
            & (F.col("ps_suppkey") == F.col("_sk")),
        )
        .filter(F.col("ps_availqty") > F.col("_half97"))
        .select(F.col("ps_suppkey").alias("_qk"))
        .distinct()
    )
    return (
        rd("supplier")
        .join(
            rd("nation").filter(F.col("n_name") == "NATION_3"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(qualifying, F.col("s_suppkey") == F.col("_qk"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


SQL_TPCH_Q20 = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         sum(l_quantity) AS ps_availqty
  FROM lineitem GROUP BY 1, 2
)
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM supply
    WHERE ps_partkey IN (SELECT p_partkey FROM part
                         WHERE p_brand LIKE 'Brand#1%')
      AND ps_availqty > (
        SELECT 0.5 * sum(l_quantity) FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'))
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_3'
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, pos 1-based,
    centroid, n) — the class-prototype aggregation under semantic
    clustering / SemDeDup-style pipelines. posexplode→groupBy with
    map-side partial aggregation: the shuffle carries only
    labels × dim × partitions rows, never the corpus."""
    emb = _emb(spark, sf_dir)
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy("label", (F.col("pos") + 1).alias("pos"))
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_EMBEDDING_CENTROIDS = """
SELECT label, pos,
       round(avg(v), 6) AS centroid,
       count(*) AS n
FROM (
  SELECT label,
         unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
GROUP BY label, pos
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.embedding.quantize_int8 — symmetric per-vector int8 codes
    in long format (vec_id, pos 1-based, q, scale). One zero-shuffle HOF
    projection; codes are bit-identical cross-engine (double arithmetic
    in fixed op order, round half-away-from-zero on both)."""
    from periodicity_spark.pipeline.embedding import quantize_int8

    qd = quantize_int8(_emb(spark, sf_dir))
    return qd.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.posexplode("qvec").alias("pos0", "q"),
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("q").cast("int"), "scale"
    )


SQL_EMBED_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
  FROM embeddings
)
SELECT vec_id,
       generate_subscripts(embedding, 1) AS pos,
       CASE WHEN scale = 0 THEN 0
            ELSE round(unnest(embedding)::DOUBLE / scale * 127)::INT END AS q,
       round(scale, 6) AS scale
FROM s
-- dirty vectors (NULL, or any NaN/Inf component → non-finite scale) emit
-- ZERO rows, matching the Spark side's posexplode of a NULL qvec
WHERE isfinite(scale)
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            _money_sum(F.col("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENTS_JSON = """
SELECT (json_extract_string(props, '$.k')::INT) % 10 AS k_bucket,
       count(*) AS n,
       round(avg(value), 6) AS avg_value,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS first_doc
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def _mh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the verified near-dup pair list feeds BOTH dedup_minhash and
    # dedup_components — persist it once per (session, sf_dir) so the
    # clustering query reuses the 4.7 s pair derivation instead of
    # re-running the whole shingle→sign→bucket→verify pipeline.
    # persisted_LAZY, not persisted: minhash_near_duplicates eagerly
    # localCheckpoints the shingle table AT CONSTRUCTION, so building the
    # DataFrame just to have the memo discard it on a hit re-paid ~3.4 s
    # of shingling per consumer (measured: dedup_components 5.0→1.7 s)
    from periodicity_spark.session import persisted_lazy

    return persisted_lazy(
        spark,
        f"mh_pairs:{sf_dir}",
        lambda: dedup.minhash_near_duplicates(
            _docs(spark, sf_dir), k=5, n_hashes=16, r=4, threshold=0.4
        ),
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _mh_pairs(spark, sf_dir)
    return pairs.select("d1", "d2", "jaccard")


def q_dedup_minhash_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME minhash pipeline forced onto the verify join's shuffled
    fallback plan (broadcast_arrays=False) — the physical strategy a
    multi-executor cluster takes when the packed shingle corpus exceeds
    executor heaps (pipeline/dedup.py jaccard_verify). Shares the oracle
    with dedup_minhash, so the driver proves hybrid ≡ shuffled
    every round at every SF it runs, not just in a one-off differential."""
    return dedup.minhash_near_duplicates(
        _docs(spark, sf_dir), k=5, n_hashes=16, r=4, threshold=0.4,
        broadcast_arrays=False,
    ).select("d1", "d2", "jaccard")


# minhash oracle mirrors the engine exactly: two 60-bit md5-half ints per
# shingle, 16 2D-affine permutations mod 2^31−1 from the shared constants
_MH_CONSTS = dedup.minhash_perm_consts(16)
_MH_MINS = ",\n".join(
    f"         min(({a} * (s % 2147483647) % 2147483647"
    f" + {b} * (s2 % 2147483647) % 2147483647 + {c}) % 2147483647) AS m{i}"
    for i, (a, b, c) in enumerate(_MH_CONSTS)
)
_MH_BANDS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {j} AS band, md5({cc}) AS sig FROM mh".format(
        j=j,
        cc=" || ',' || ".join(f"m{j * 4 + i}::VARCHAR" for i in range(4)),
    )
    for j in range(4)
)

# shared CTE prefix: documents → verified minhash near-dup pairs (d1, d2,
# jaccard). SQL_DEDUP_MINHASH selects the pairs; SQL_DEDUP_COMPONENTS chains
# a recursive closure on top of the SAME pair derivation.
_SQL_MINHASH_PAIRS_CTES = f"""sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(substr(text, i::INT, 5)), 1, 15))::BIGINT AS s,
         ('0x' || substr(md5(substr(text, i::INT, 5)), 16, 15))::BIGINT AS s2
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
        FROM documents WHERE length(text) >= 5)
),
mh AS (
  SELECT doc_id,
{_MH_MINS}
  FROM sh GROUP BY 1
),
bands AS (
{_MH_BANDS}
),
capped AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.d1, c.d2, count(*) AS n_both
  FROM cand c JOIN sh s1 ON s1.doc_id = c.d1 JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT i.d1 AS d1, i.d2 AS d2,
         i.n_both / (z1.n_sh + z2.n_sh - i.n_both)::DOUBLE AS jaccard
  FROM inter i JOIN sizes z1 ON z1.doc_id = i.d1 JOIN sizes z2 ON z2.doc_id = i.d2
  WHERE i.n_both / (z1.n_sh + z2.n_sh - i.n_both)::DOUBLE >= 0.4
)"""

SQL_DEDUP_MINHASH = f"""
WITH {_SQL_MINHASH_PAIRS_CTES}
SELECT d1, d2, jaccard FROM pairs
"""


def _mh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three queries (dedup_components, dedup_keep, leak_split) consume the
    # SAME component labeling — memoize it per (session, sf_dir) like
    # _mh_pairs. persisted_lazy, not persisted: connected_components runs
    # its label-propagation driver loop AT CONSTRUCTION, so the builder
    # must only fire on a memo miss
    from periodicity_spark.session import persisted_lazy

    return persisted_lazy(
        spark,
        f"mh_comp:{sf_dir}",
        lambda: dedup.connected_components(_mh_pairs(spark, sf_dir)),
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.dedup.connected_components over the verified minhash
    near-dup pairs: every clustered document labeled with its component's
    minimum doc_id — the keep-one-per-cluster grouping stage."""
    return _mh_components(spark, sf_dir)


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.dedup.keep_canonical — the corpus minus non-canonical
    near-duplicates: the end state of the dedup pipeline
    (pairs → components → filtered corpus). Returns the surviving doc ids
    so the oracle compares the keep-set exactly."""
    comp = _mh_components(spark, sf_dir)
    kept = dedup.keep_canonical(_docs(spark, sf_dir), comp)
    return kept.select("doc_id")


SQL_DEDUP_KEEP = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS component_id
  FROM reach GROUP BY a
)
SELECT d.doc_id FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id AND c.doc_id <> c.component_id
WHERE c.doc_id IS NULL
"""


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS component_id
FROM reach GROUP BY a
"""


def q_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.topk.topk_per_key — bounded-shuffle exact top-k: per-key
    local top-k in an Arrow stage BEFORE any exchange, so a hot key's rows
    pre-reduce where they sit (≤ k × partitions candidates per key shuffle,
    independent of corpus size); window row_number only over candidates."""
    from periodicity_spark.operators.topk import topk_per_key

    ev = _tbl(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    return topk_per_key(
        ev.select("event_type", "event_id", "value"),
        ["event_type"],
        "value",
        3,
        tie_cols=["event_id"],
    )


SQL_TOPK_EVENTS = """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
) WHERE rank <= 3
"""


def q_cross_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.dedup.cross_doc_duplication — per-doc fraction of distinct
    token 8-grams shared with at least one other document (the RefinedWeb /
    Dolma duplicated-n-gram filter; Lee et al. 2022). One gram-key shuffle
    (fixed-width md5 keys), map-side-combined doc-frequency aggregate."""
    return dedup.cross_doc_duplication(_docs(spark, sf_dir), n=8)


SQL_CROSS_DUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct([md5(array_to_string(list_slice(toks, i, i + 7), ' '))
                               for i in generate_series(1, len(toks) - 7)])) AS gk
  FROM t WHERE len(toks) >= 8
),
c AS (SELECT gk, count(*) AS ndocs FROM g GROUP BY 1),
p AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
             sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared
      FROM g JOIN c USING (gk) GROUP BY 1)
SELECT t.doc_id, p.n_grams, p.n_shared,
       round(p.n_shared / p.n_grams::DOUBLE, 6) AS cross_dup_frac
FROM t LEFT JOIN p USING (doc_id)
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("en_frac"),
    )


SQL_TEXT_STATS = """
SELECT source, count(*) AS n_docs,
       round(avg(length(text)), 6) AS avg_chars,
       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
       round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6) AS en_frac
FROM documents GROUP BY 1
"""


def q_stopword_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    en = ["the", "and", "of", "to", "a"]
    de = ["der", "die", "und", "das", "ist"]
    return toks.groupBy("doc_id").agg(
        F.sum(F.when(F.col("tok").isin(en), 1).otherwise(0)).alias("en_hits"),
        F.sum(F.when(F.col("tok").isin(de), 1).otherwise(0)).alias("de_hits"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


SQL_STOPWORD_HITS = """
SELECT doc_id,
       sum(CASE WHEN tok IN ('the','and','of','to','a') THEN 1 ELSE 0 END)::BIGINT AS en_hits,
       sum(CASE WHEN tok IN ('der','die','und','das','ist') THEN 1 ELSE 0 END)::BIGINT AS de_hits,
       count(*) AS n_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY 1
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.quality_score — composite length × token-length ×
    stopword heuristic, all native expressions (no Python in the path)."""
    out = text_ops.quality_score(_docs(spark, sf_dir))
    return out.select("doc_id", F.round("quality", 6).alias("quality"))


SQL_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars FROM documents
),
s AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) / len(toks)::DOUBLE AS avg_token_len,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) / len(toks)::DOUBLE AS sw_ratio
  FROM t
)
SELECT doc_id,
       round(
         least(n_tokens / 64.0, 1.0)
         * (CASE WHEN avg_token_len >= 2.5 AND avg_token_len <= 8.0 THEN 1.0 ELSE 0.5 END)
         * least(sw_ratio * 5.0, 1.0),
       6) AS quality
FROM s
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.language_id — stopword-vote n-gram heuristic; argmax
    language with lexicographic tie-break."""
    out = text_ops.language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "predicted_lang", F.round("score", 6).alias("score")
    )


SQL_LANG_ID = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' '))::DOUBLE AS n
  FROM documents
),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) / n AS s_de,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) / n AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','y'], x))) / n AS s_es,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) / n AS s_fr,
    len(list_filter(toks, x -> list_contains(['de','shi','le','zai','he'], x))) / n AS s_zh
  FROM t
)
SELECT doc_id,
       CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang,
       round(greatest(s_de, s_en, s_es, s_fr, s_zh), 6) AS score
FROM s
"""


def q_boilerplate_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.remove_boilerplate — CCNet/RefinedWeb per-source
    frequent-line removal. The testdata's documents carry no newlines, so
    the contract exercises the machinery at the token level (delim=' ':
    a token in ≥60% of a source's docs is 'boilerplate' there) — the
    explode → two combine-friendly counts → broadcast totals → verdict
    join → in-row ordered reconstruction path is identical to the
    newline-delimited production shape."""
    from periodicity_spark.pipeline.text import remove_boilerplate

    docs = _tbl(spark, sf_dir, "documents")
    out = remove_boilerplate(docs, delim=" ", min_doc_frac=0.6, min_docs=2)
    return out.select("doc_id", "text", "n_kept", "n_removed")


SQL_BOILERPLATE_RM = """
WITH lines AS (
  SELECT doc_id, source,
         unnest(string_split(coalesce(text, ''), ' ')) AS line,
         generate_subscripts(string_split(coalesce(text, ''), ' '), 1) AS pos
  FROM documents
),
counts AS (
  SELECT source, line, count(DISTINCT doc_id) AS nd
  FROM lines GROUP BY 1, 2
),
tot AS (SELECT source, count(*) AS ndocs FROM documents GROUP BY 1),
freq AS (
  SELECT counts.source, line
  FROM counts JOIN tot USING (source)
  WHERE nd >= greatest(2, ceil(0.6 * ndocs))
),
flagged AS (
  SELECT l.doc_id, l.pos, l.line, (f.line IS NOT NULL) AS is_freq
  FROM lines l LEFT JOIN freq f ON l.source = f.source AND l.line = f.line
)
SELECT doc_id,
       coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE NOT is_freq), '') AS text,
       count(*) FILTER (WHERE NOT is_freq) AS n_kept,
       count(*) FILTER (WHERE is_freq) AS n_removed
FROM flagged GROUP BY doc_id
"""


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.curate — the full C4/Gopher-style curation verdict
    (language gate × quality floor × length floor × modal-bigram ceiling)
    as ONE projection over ONE scan: the composition that would naively be
    four scans and three doc_id joins."""
    return text_ops.curate(_docs(spark, sf_dir))


SQL_CORPUS_CURATE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
q AS (
  SELECT doc_id,
         round(
           least(len(toks) / 64.0, 1.0)
           * (CASE WHEN (list_sum(list_transform(toks, x -> length(x))) / len(toks)::DOUBLE)
                        BETWEEN 2.5 AND 8.0 THEN 1.0 ELSE 0.5 END)
           * least(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))
                   / len(toks)::DOUBLE * 5.0, 1.0),
         6) AS quality
  FROM t
),
ls AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) / len(toks)::DOUBLE AS s_de,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) / len(toks)::DOUBLE AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','y'], x))) / len(toks)::DOUBLE AS s_es,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) / len(toks)::DOUBLE AS s_fr,
    len(list_filter(toks, x -> list_contains(['de','shi','le','zai','he'], x))) / len(toks)::DOUBLE AS s_zh
  FROM t
),
l AS (
  SELECT doc_id,
         CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS predicted_lang
  FROM ls
),
bg AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS g
  FROM t WHERE len(toks) >= 2
),
b AS (SELECT doc_id, max(c) AS maxc
      FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
s AS (
  SELECT t.doc_id, len(toks)::INT AS n_tokens, quality, predicted_lang,
         round(maxc / (len(toks) - 1)::DOUBLE, 6) AS top_bigram_frac
  FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
  LEFT JOIN b ON b.doc_id = t.doc_id
)
SELECT doc_id,
       (predicted_lang = 'en' AND quality >= 0.3 AND n_tokens >= 16
        AND coalesce(top_bigram_frac <= 0.2, TRUE)) AS keep,
       quality, predicted_lang, n_tokens, top_bigram_frac
FROM s
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.fingerprint — md5 of lowercased whitespace-collapsed
    text: the canonical fuzzy-exact dedup key."""
    return text_ops.fingerprint(_docs(spark, sf_dir))


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.token_counts — whitespace + BPE-ish-regex token
    budgeting per document."""
    return text_ops.token_counts(_docs(spark, sf_dir))


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
FROM documents
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.repetition_stats — Gopher-style repetition quality
    signals (modal-bigram fraction, duplicated-trigram fraction): the
    standard boilerplate/template filter for LLM corpora. Pure per-row
    expressions — one scan, zero shuffles."""
    out = text_ops.repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
        F.round("dup_trigram_frac", 6).alias("dup_trigram_frac"),
    )


SQL_REPETITION = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) AS bg
  FROM t WHERE len(toks) >= 2
),
bc AS (SELECT doc_id, max(c) AS maxc FROM (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1,2) GROUP BY 1),
tri AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in generate_series(1, len(toks)-2)]) AS tg
  FROM t WHERE len(toks) >= 3
),
td AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup
       FROM (SELECT doc_id, tg, count(*) AS c FROM tri GROUP BY 1,2) GROUP BY 1)
SELECT t.doc_id,
       len(toks)::BIGINT AS n_tokens,
       round(len(list_distinct(toks)) / len(toks)::DOUBLE, 6) AS distinct_ratio,
       round(maxc / (len(toks) - 1)::DOUBLE, 6) AS top_bigram_frac,
       round(dup / (len(toks) - 2)::DOUBLE, 6) AS dup_trigram_frac
FROM t LEFT JOIN bc USING (doc_id) LEFT JOIN td USING (doc_id)
"""


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.winnow_fingerprints — winnowing rolling-hash document
    fingerprints (Schleimer et al. 2003), k=5-gram polynomial hashes,
    window-4 minima. One scan, zero shuffles, all codegen."""
    return text_ops.winnow_fingerprints(_docs(spark, sf_dir))


SQL_WINNOW_FP = r"""
WITH t AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s FROM documents
),
h AS (
  SELECT doc_id,
         CASE WHEN length(s) - 4 >= 1 THEN
           list_transform(range(1, length(s) - 3),
             i -> list_reduce(
                    list_transform(range(0, 5), j -> ascii(substr(s, i + j, 1))::BIGINT),
                    (acc, c) -> (acc * 257 + c) % 2147483647))
         ELSE [] END AS hs
  FROM t
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - 3, 1) + 1),
           w -> list_min(list_slice(hs, w, w + 3)))) AS fps
  FROM h WHERE len(hs) >= 1
)
SELECT doc_id, unnest(fps) AS fp FROM w
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.lm_score — CCNet-style statistical LM quality filter:
    add-one-smoothed in-corpus bigram model, mean log-probability per doc.
    Count tables are vocabulary-sized aggregates; scoring is one explode +
    two equi-joins, no Python."""
    out = text_ops.lm_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_logp", 6).alias("avg_logp")
    )


SQL_LM_SCORE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (
  SELECT doc_id,
         unnest(toks[1:len(toks)-1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM t WHERE len(toks) >= 2
),
uc AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
v AS (SELECT count(*) AS v FROM uc),
bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
s AS (
  SELECT doc_id,
         ln((coalesce(c12, 0) + 1) / (coalesce(c1, 0) + v)::DOUBLE) AS lp
  FROM b LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1) CROSS JOIN v
),
agg AS (SELECT doc_id, count(*) AS n, avg(lp) AS avg_lp FROM s GROUP BY 1)
SELECT d.doc_id,
       coalesce(agg.n, 0) AS n_bigrams,
       round(agg.avg_lp, 6) AS avg_logp
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.contamination — eval-vs-train winnowing-fingerprint
    overlap (odd doc_ids = eval, even = train): the benchmark-hygiene
    signal. Fingerprint derivation identical to winnow_fp; overlap is an
    integer fp equi-join."""
    docs = _docs(spark, sf_dir)
    out = text_ops.contamination(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )
    return out.select(
        "doc_id", "n_fp", "n_hit", F.round("contamination", 6).alias("contamination")
    )


SQL_DECONTAMINATE = r"""
WITH t AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s FROM documents
),
h AS (
  SELECT doc_id,
         CASE WHEN length(s) - 4 >= 1 THEN
           list_transform(range(1, length(s) - 3),
             i -> list_reduce(
                    list_transform(range(0, 5), j -> ascii(substr(s, i + j, 1))::BIGINT),
                    (acc, c) -> (acc * 257 + c) % 2147483647))
         ELSE [] END AS hs
  FROM t
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - 3, 1) + 1),
           w -> list_min(list_slice(hs, w, w + 3)))) AS fps
  FROM h WHERE len(hs) >= 1
),
fps AS (SELECT doc_id, unnest(fps) AS fp FROM w)
SELECT e.doc_id,
       count(*) AS n_fp,
       sum(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       round(sum(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
         AS contamination
FROM (SELECT * FROM fps WHERE doc_id % 2 = 1) e
LEFT JOIN (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0) tr USING (fp)
GROUP BY 1
"""


def q_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.text.top_keywords — per-doc tf-idf-style keyword extraction
    ranked entirely in integer space (tf desc, df asc, token asc): exactly
    reproducible cross-engine, no log/float scoring."""
    return text_ops.top_keywords(_docs(spark, sf_dir), k=3)


SQL_TOP_KEYWORDS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf
  FROM toks WHERE token <> '' GROUP BY 1, 2
),
dfx AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.token ASC) AS rank
  FROM tf t JOIN dfx d USING (token)
)
SELECT doc_id, token, tf, df, rank FROM ranked WHERE rank <= 3
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sketch.kmv_distinct — K-Minimum-Values distinct-token
    estimate per source. Deterministic md5 hashing makes the sketch exactly
    SQL-oracle-able (unlike HLL); the two-level min-k merge is the same
    algebra a 1000-executor rollup would use."""
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # no rounding: every value is a pure function of identical IEEE ops on
    # identical operands in both engines, so the doubles are bit-identical
    return sketch_ops.kmv_distinct(toks, "source", "token", k=64)


SQL_KMV_DISTINCT = """
WITH toks AS (
  SELECT source AS "group", unnest(string_split(text, ' ')) AS token
  FROM documents
),
hashed AS (
  SELECT DISTINCT "group",
         ((('0x' || substr(md5(token), 1, 15))::BIGINT)::DOUBLE + 1.0)
           / 1152921504606846976.0 AS h
  FROM toks WHERE token <> ''
),
ranked AS (
  SELECT "group", h,
         row_number() OVER (PARTITION BY "group" ORDER BY h) AS r
  FROM hashed
)
SELECT "group", count(*)::BIGINT AS n_kept,
       max(h) AS kth_hash,
       CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
            ELSE 63.0::DOUBLE / max(h) END AS est_distinct
FROM ranked WHERE r <= 64 GROUP BY 1
"""


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.hash_split — deterministic 90/5/5 train/val/test
    assignment from a salted md5 bucket of doc_id. Pure projection, zero
    shuffle; the split is a property of the key, so it is stable under
    reruns, repartitioning, and late-arriving data."""
    out = sample_ops.hash_split(
        _docs(spark, sf_dir), {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select("doc_id", "split")


SQL_SAMPLE_SPLIT = """
SELECT doc_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || 'split'), 1, 15))::BIGINT
               % 1000000 AS b
      FROM documents)
"""


def q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.dataset_mix — deterministically thin each source so
    the surviving corpus matches a 50/30/20 src0/src1/src2 mixture at the
    largest size the data supports. One tiny per-source count aggregate →
    broadcast rate table → hash filter; the corpus never shuffles."""
    out = sample_ops.dataset_mix(
        _docs(spark, sf_dir), {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return out.select("doc_id", "source")


SQL_DATASET_MIX = """
WITH c AS (
  SELECT source, count(*)::BIGINT AS n,
         (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                      ELSE 0.2 END)::DOUBLE AS w
  FROM documents WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1
),
s AS (SELECT min(n / w) AS scale FROM c),
r AS (SELECT source, floor(w * scale / n * 1000000)::BIGINT AS keep_below
      FROM c, s)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'mix'), 1, 15))::BIGINT
        % 1000000 < keep_below
"""


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.pps_sample — per-domain systematic PPS: walk each
    source in doc_id order accumulating quality weight, take one doc per
    total/k of weight. Deterministic (no RNG), quality-proportional
    inclusion, ≤ k docs per domain; one group-keyed window shuffle. The
    cumsum is an ordered left-to-right double sum — bit-identical to the
    SQL window oracle."""
    out = sample_ops.pps_sample(_docs(spark, sf_dir), k=8)
    return out.select(
        "source", "doc_id", F.round("weight", 6).alias("weight")
    )


SQL_PPS_SAMPLE = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id, source,
         len(toks) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) / len(toks)::DOUBLE AS avg_token_len,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) / len(toks)::DOUBLE AS sw_ratio
  FROM t
),
q AS (
  SELECT doc_id, source,
         least(n_tokens / 64.0, 1.0)
         * (CASE WHEN avg_token_len >= 2.5 AND avg_token_len <= 8.0 THEN 1.0 ELSE 0.5 END)
         * least(sw_ratio * 5.0, 1.0) AS w
  FROM s
)
SELECT source, doc_id, round(w, 6) AS weight
FROM (
  SELECT source, doc_id, w, cum,
         max(cum) OVER (PARTITION BY source) / 8.0 AS step
  FROM (
    SELECT source, doc_id, w,
           sum(w) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM q
  )
)
WHERE floor(cum / step) > floor((cum - w) / step)
"""


def q_uniform_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.uniform_sample_k — exactly-k deterministic uniform
    sample (k smallest salted md5). Compiles to TakeOrderedAndProject:
    per-partition local top-k, driver merge of k × partitions candidates,
    zero corpus shuffle."""
    out = sample_ops.uniform_sample_k(_docs(spark, sf_dir), k=137)
    return out.select("doc_id", "source")


SQL_UNIFORM_SAMPLE_K = """
SELECT doc_id, source FROM documents
ORDER BY md5(doc_id::VARCHAR || 'uk'), doc_id
LIMIT 137
"""


def q_leak_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.leak_safe_split — 90/5/5 split hashed on the
    near-dup COMPONENT representative (minhash pairs → connected
    components), so no duplicate cluster straddles train/test — the
    contamination guard Lee et al. (2022) motivate. Docs outside any
    cluster key on their own id."""
    comp = _mh_components(spark, sf_dir)
    out = sample_ops.leak_safe_split(
        _docs(spark, sf_dir), comp, {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select("doc_id", "split")


SQL_LEAK_SPLIT = f"""
WITH RECURSIVE {_SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS component_id
  FROM reach GROUP BY a
),
keyed AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(coalesce(c.component_id, d.doc_id)::VARCHAR
                             || 'split'), 1, 15))::BIGINT % 1000000 AS b
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.domain_cap — per-domain quota: the 10 highest-
    quality docs per source (quality ties → doc_id ascending; n=10 binds
    at the sf0.01 comparison scale of 25 docs/source). Routed through
    the bounded-shuffle topk_per_key, so a crawl-heavy hot domain
    contributes ≤ n rows per input partition to the shuffle instead of
    its whole history. The quality product is integer-ratio arithmetic in
    identical IEEE op order on both engines — rank boundaries are exact."""
    # floored: the inline quality expression (tokenize + ratio arithmetic
    # per doc) runs below topk_per_key's local pass, single-task on a
    # few-split scan (sf1 interleaved A/B: floored 2.64 s vs raw 8.40 s)
    out = sample_ops.domain_cap(
        scan_parallel(_docs(spark, sf_dir), key="doc_id"), n=10
    )
    return out.select(
        "source", "doc_id", F.round("quality", 6).alias("quality"), "rank"
    )


SQL_DOMAIN_CAP = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id, source,
         len(toks) AS n_tokens,
         list_sum(list_transform(toks, x -> length(x))) / len(toks)::DOUBLE AS avg_token_len,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) / len(toks)::DOUBLE AS sw_ratio
  FROM t
),
q AS (
  SELECT doc_id, source,
         least(n_tokens / 64.0, 1.0)
         * (CASE WHEN avg_token_len >= 2.5 AND avg_token_len <= 8.0 THEN 1.0 ELSE 0.5 END)
         * least(sw_ratio * 5.0, 1.0) AS quality
  FROM s
),
r AS (
  SELECT source, doc_id, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
  FROM q
)
SELECT source, doc_id, round(quality, 6) AS quality, rank
FROM r WHERE rank <= 10
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.scrub_pii — regex redaction of emails / phone
    numbers / IPv4 addresses with <TYPE> placeholders. The corpus is
    synthetic word salad, so each row plants deterministic PII spans first;
    the oracle plants the same spans and must strip them identically.
    Chained regexp_replace: per-row JVM expression, whole-stage codegen."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.ex.org call 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return sample_ops.scrub_pii(docs).select(
        "doc_id", F.col("text").alias("scrubbed")
    )


SQL_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id,
         'u' || doc_id::VARCHAR || '@mail.ex.org call 555-867-' ||
         lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' from 10.0.0.' ||
         (doc_id % 250)::VARCHAR || ' ' || text AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS scrubbed
FROM planted
"""


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.pack_chunks — GPT-style sequence packing: each
    source's documents concatenate in doc_id order into one token stream
    cut every 512 tokens. Implemented as a two-phase distributed prefix sum
    (per-bucket partials → tiny prefix window → broadcast + intra-bucket
    cumsum) so no single task ever scans a whole group; the oracle is the
    equivalent single global window."""
    return sample_ops.pack_chunks(
        _docs(spark, sf_dir), budget=512, bucket_width=64
    )


SQL_PACK_CHUNKS = """
WITH t AS (
  SELECT source AS "group", doc_id AS key,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents
)
SELECT "group", key, n_tokens,
       coalesce(sum(n_tokens) OVER (PARTITION BY "group" ORDER BY key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS "offset",
       (coalesce(sum(n_tokens) OVER (PARTITION BY "group" ORDER BY key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // 512)::BIGINT AS chunk
FROM t
"""


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floored corpus: the probes×corpus cosine projection is pure
    # compute below the rank window's exchange (r11 A/B: the floor wins
    # at sf0.1 — 0.89 vs 0.96 s — and ties at sf1); dim=64 routes the
    # dot/norm arithmetic through the unrolled codegen expressions
    emb = scan_parallel(_emb(spark, sf_dir), key="vec_id")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = simsearch.cosine_topk_bruteforce(emb, probes, k=5, dim=64)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


SQL_SIMSEARCH_TOPK = """
WITH probe AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
z AS (
  SELECT p.qid, e.vec_id,
         unnest(p.qe)::DOUBLE AS qv, unnest(e.embedding)::DOUBLE AS ev
  FROM probe p JOIN embeddings e ON e.vec_id <> p.qid
),
prod AS (
  SELECT qid, vec_id,
         sum(qv * ev) AS dot,
         sqrt(sum(qv * qv)) AS nq,
         sqrt(sum(ev * ev)) AS nv
  FROM z GROUP BY 1, 2
),
ranked AS (
  SELECT qid, vec_id, dot / (nq * nv) AS cosine,
         row_number() OVER (PARTITION BY qid ORDER BY dot / (nq * nv) DESC, vec_id ASC) AS rank
  FROM prod
)
SELECT qid, vec_id, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable 60-bit simhash: per token, bits of bigint(md5[0:15]); per bit,
    # majority vote; engine-portable because md5 is identical everywhere.
    # Floored input: the per-token md5 + 60-vote partial aggregation runs
    # BELOW the per-doc exchange, so a few-split scan serializes it
    # (sf1 interleaved A/B: floored 2.59 s vs raw 4.01 s; sf0.1 cost 0.09 s)
    d = scan_parallel(_docs(spark, sf_dir), key="doc_id")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    h = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("_h"),
    )
    # 60 per-bit vote sums as aggregate COLUMNS of one per-doc aggregate
    # instead of exploding every token row ×60 through a (doc, bit)
    # shuffle (60× the token count — 720M rows at sf1): map-side partial
    # aggregation collapses each scan task to one 60-int row per doc
    # before anything moves, and the bit-vote sums are integers, so the
    # result is bit-identical to the exploded two-level aggregate.
    # one expression STRING parsed JVM-side: 60 Column-object builds via
    # py4j measured ~0.9 s of driver time per call (plan build, not exec)
    fp_expr = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(_h, {k}) & 1) = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN cast(shiftleft(cast(1 as bigint), {k}) as bigint)"
        f" ELSE cast(0 as bigint) END)"
        for k in range(60)
    )
    return h.groupBy("doc_id").agg(F.expr(fp_expr).alias("simhash"))


SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE length(tok) > 0
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h >> b.bit::INT) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM h, (SELECT unnest(range(60)) AS bit) b
),
maj AS (SELECT doc_id, bit, sum(vote) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS simhash
FROM maj GROUP BY 1
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded-Hamming near-dup join over the portable 60-bit simhash:
    # 4 bands × 15 bits; pairs agreeing on ≥1 band, Hamming ≤ 10.
    # (max_hamming > n_bands-1 ⇒ approximate blocking, but the oracle
    # implements the identical banding so results match exactly.)
    fp = q_simhash(spark, sf_dir)
    return dedup.simhash_near_duplicates(
        fp, max_hamming=10, n_bands=4, bits=60, max_bucket=1000
    ).orderBy("d1", "d2")


SQL_SIMHASH_NEARDUP = f"""
WITH fp AS ({SQL_SIMHASH}),
banded AS (
  SELECT doc_id, simhash, b.band::INT AS band,
         (simhash >> (b.band * 15)::INT) & 32767 AS val
  FROM fp, (SELECT unnest(range(4)) AS band) b
),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, val) AS bn FROM banded
  ) WHERE bn <= 1000
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
ORDER BY d1, d2
"""


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup through the LSH scale path (pipeline.
    simsearch.cosine_near_duplicates_lsh): quantization-faithfulness
    audit — the corpus unioned with its int8-quantized reconstruction
    (ids offset by 10⁷), near-dup pairs at cosine ≥ 0.99. Every clean
    vector's quantized twin sits at cosine ≈ 0.99998, so the planted
    pair set is the full corpus — a non-vacuous exactness gate for the
    LSH path (the previous registered query ran the exact O(n²)
    cartesian baseline; that kernel remains as the library function +
    the differential oracle in tests/test_pipeline.py).

    The oracle is the exact all-pairs SQL at the same threshold, so the
    gate asserts LSH-with-verify ≡ exact on this data: at the planted
    cosine, a 16-bit band matches with p≈0.967, and missing all 10 bands
    has probability ≈1e-15 per pair — zero misses even at sf1's 500k
    planted pairs. r=16 keeps mid-similarity cluster pairs (cos≈0.6,
    band rate 0.004) from flooding the candidate join."""
    from periodicity_spark.pipeline import embedding as emb_ops

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb_ops.quantize_int8(emb).filter(F.col("scale").isNotNull())
    dq = q.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(127.0) * F.col("scale")
        ).alias("embedding"),
    )
    # r=24 + min_bands=2, both measured at 500k×64 (round-7 soak):
    # r=16 buckets in dense cluster cores exceeded the max_bucket cap in
    # every band, silently dropping 33/500k twins; r=24 shrinks buckets
    # ~16× (all twins recovered, same wall). min_bands cuts the
    # mid-cosine cluster-pair candidate flood — the sf1 ENOSPC fix: the
    # verify join ships vectors per candidate, so candidate volume IS
    # shuffle volume. At r=24 a cos-0.6 pair matches a band with p≈2.3e-4
    # (P(≥2 of 10) ≈ 2e-6 — ~10⁵ fewer candidates), while a planted twin
    # (cos ≥ 0.9999, band p≈0.91) is missed with P ≈ 7e-9.
    #
    # DATA ASSUMPTION for the exact-equality gate: the corpus has no
    # NON-twin pair with cosine in [0.99, ~0.995]. Right at threshold
    # (cos=0.99, band p≈0.33) a pair is found with P(≥2 of 10)≈0.89 —
    # ~10% per-pair miss, so a near-threshold organic pair would flake
    # the oracle. The driver's generator clusters embeddings at
    # intra-cluster cosines ≈0.6 (observed: at sf0.01, sf0.1 and the sf1
    # soak the ≥0.99 pair set is exactly the planted twins — no organic
    # pair crowds the threshold), and every planted twin sits ≥0.9999
    # where the miss probability is ~7e-9. A future seed/scale whose
    # organic vectors crowd the threshold would need min_bands=1 (cost:
    # candidate flood) or the oracle restricted to planted-twin pairs.
    # materialize the quantize+union subtree ONCE: the LSH pipeline
    # consumes the corpus several times (signatures, both verify sides,
    # the broadcast census), and re-deriving the quantized twins per
    # consumer dominated the sf1 wall (measured 636 s raw vs 72 s
    # checkpointed, same result)
    corpus = emb.unionByName(dq).localCheckpoint(eager=True)
    out = simsearch.cosine_near_duplicates_lsh(
        corpus, threshold=0.99, n_planes=240, bands=10, dim=64,
        min_bands=2,
    )
    return out.select("d1", "d2", F.round("cosine", 6).alias("cosine"))


def q_cosine_neardup_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_cosine_neardup's quantized-twin corpus through the verify join's
    shuffled fallback plan (broadcast_vectors=False) — the strategy a
    cluster takes when the vector relation exceeds executor heaps. Same
    oracle as cosine_neardup: the driver proves the two physical plans
    agree at every SF it runs."""
    from periodicity_spark.pipeline import embedding as emb_ops

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb_ops.quantize_int8(emb).filter(F.col("scale").isNotNull())
    dq = q.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(127.0) * F.col("scale")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(dq).localCheckpoint(eager=True)
    out = simsearch.cosine_near_duplicates_lsh(
        corpus, threshold=0.99, n_planes=240, bands=10, dim=64,
        min_bands=2, broadcast_vectors=False,
    )
    return out.select("d1", "d2", F.round("cosine", 6).alias("cosine"))


SQL_COSINE_NEARDUP = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
quant AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS scale
  FROM base
),
corpus0 AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
              ELSE list_transform(v, x -> round(x / scale * 127) / 127.0 * scale)
         END AS v
  FROM quant WHERE isfinite(scale)
),
-- hoist the norm OUT of the O(n^2) join: computing sqrt(v.v) for both
-- sides per PAIR tripled the all-pairs work (3 dot products/pair); at
-- sf1 that is the difference between ~30 and ~90+ minutes of oracle
corpus AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0
),
p AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT d1, d2, round(cosine, 6) AS cosine
FROM p WHERE cosine >= 0.99
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact word-3-gram Jaccard near-dup join via inverted index with a
    # df ≤ 50 gram cap (applied identically in the oracle — the capped-set
    # Jaccard is the query's semantics, and integer counts divide at the
    # end so values are bit-exact cross-engine)
    # floored: the tokenize + in-row distinct-n-gram transform below the
    # gram exchange is this query's dominant CPU on a few-split scan
    # (sf1 interleaved A/B: floored 11.3 s vs raw 24.2 s; sf0.1 tie)
    return dedup.ngram_jaccard_pairs(
        scan_parallel(_docs(spark, sf_dir), key="doc_id"),
        n=3,
        threshold=0.5,
        max_df=50,
    )


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
        FROM toks WHERE len(tk) >= 3)
),
rare AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM grams
  ) WHERE df <= 50
),
sizes AS (SELECT doc_id, count(*) AS sz FROM rare GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ix
  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, ix::DOUBLE / (s1.sz + s2.sz - ix)::DOUBLE AS jaccard
FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE ix::DOUBLE / (s1.sz + s2.sz - ix)::DOUBLE >= 0.5
"""


# --- no-oracle queries (UDF kernels / approximate algorithms) ---------------


def q_acf_fft(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the zero-padded-FFT autocorrelation equals the direct lagged product
    # sum exactly (up to ~1e-12 FFT roundoff, absorbed by round 6), so the
    # oracle computes the same quantity positionally; lags are reported as
    # time offsets t − tmin, reference core.py:578-608
    a = acf_fft(_ts(spark, sf_dir), max_lag=10)
    return a.select("series_id", "lag", F.round("acf", 6).alias("acf"))


SQL_ACF_FFT = f"""
WITH {TS_SQL},
mu AS (SELECT series_id, avg(value) AS mu FROM ts GROUP BY 1),
pos AS (
  SELECT t.series_id,
         row_number() OVER (PARTITION BY t.series_id ORDER BY t."time") - 1 AS pos,
         t."time" AS tt,
         t.value - mu.mu AS v
  FROM ts t JOIN mu USING (series_id)
),
tmin AS (SELECT series_id, min(tt) AS tmin FROM pos GROUP BY 1),
lags AS (SELECT unnest(range(10)) AS lag),
prods AS (
  SELECT p.series_id, l.lag, sum(p.v * q.v) AS num
  FROM pos p CROSS JOIN lags l
  JOIN pos q ON q.series_id = p.series_id AND q.pos = p.pos + l.lag
  GROUP BY 1, 2
),
den AS (SELECT series_id, num AS den FROM prods WHERE lag = 0),
lt AS (
  SELECT p.series_id, p.pos AS lag, p.tt - tm.tmin AS time_lag
  FROM pos p JOIN tmin tm USING (series_id) WHERE p.pos < 10
)
SELECT p.series_id AS series_id, lt.time_lag AS lag, round(p.num / d.den, 6) AS acf
FROM prods p JOIN den d USING (series_id)
JOIN lt ON lt.series_id = p.series_id AND lt.lag = p.lag
"""


def q_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = ops_windows.find_peaks_prominence(_ts(spark, sf_dir))
    # time passes through the UDF bit-identical to the oracle's arithmetic —
    # rounding would CREATE tie mismatches, so don't
    return p.select(
        "series_id", "time", "value", F.round("prominence", 6).alias("prominence")
    )


# scipy-style prominence, declaratively: for each strict local max, the
# nearest strictly-higher sample bounds each side; prominence = peak − the
# higher of the two interval minima. The peaks×positions join is quadratic
# per series but oracle-only (the engine runs the linear walk in Arrow).
SQL_PEAK_PROMINENCE = f"""
WITH {TS_SQL},
pos AS (
  SELECT series_id, row_number() OVER w - 1 AS pos, "time" AS t, value AS v
  FROM ts WINDOW w AS (PARTITION BY series_id ORDER BY "time")
),
pk AS (
  SELECT series_id, pos, t, v FROM (
    SELECT series_id, pos, t, v, lag(v) OVER w AS pv, lead(v) OVER w AS nv
    FROM pos WINDOW w AS (PARTITION BY series_id ORDER BY pos)
  ) WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv
),
bounds AS (
  SELECT p.series_id, p.pos, p.t, p.v,
         max(q.pos) FILTER (q.pos < p.pos AND q.v > p.v) AS lb,
         min(q.pos) FILTER (q.pos > p.pos AND q.v > p.v) AS rb
  FROM pk p JOIN pos q USING (series_id)
  GROUP BY 1, 2, 3, 4
),
prom AS (
  SELECT b.series_id, b.pos, b.t, b.v,
         min(q.v) FILTER (q.pos >= coalesce(b.lb + 1, 0) AND q.pos <= b.pos) AS lmin,
         min(q.v) FILTER (q.pos >= b.pos AND q.pos <= coalesce(b.rb - 1, 9223372036854775807)) AS rmin
  FROM bounds b JOIN pos q USING (series_id)
  GROUP BY 1, 2, 3, 4, b.lb, b.rb
)
SELECT series_id, t AS "time", v AS value,
       round(v - greatest(lmin, rmin), 6) AS prominence
FROM prom
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.multimodal.audio_features — spectral centroid / rolloff /
    flatness from REAL WAV decode + rfft (Hann window) over synthesized
    tone clips. Rows-only: the FFT is not SQL-expressible; the
    tone-frequency-recovery test in tests/test_multimodal.py certifies
    values."""
    from periodicity_spark.pipeline.multimodal import audio_features, synthesize_media

    d = _docs(spark, sf_dir)
    ids = d.filter(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("media_id"), F.lit("audio").alias("kind")
    )
    out = audio_features(synthesize_media(ids))
    return out.select(
        "media_id",
        "n_samples",
        "sr",
        F.round("rms", 6).alias("rms"),
        F.round("centroid_hz", 3).alias("centroid_hz"),
        F.round("rolloff85_hz", 3).alias("rolloff85_hz"),
        F.round("flatness", 6).alias("flatness"),
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.multimodal.image_dhash — perceptual dHash (decode BMP →
    9×8 box resize → 64 gradient bits) over synthesized images. Rows-only:
    decode+resize is not SQL-expressible; the planted near-dup test
    certifies the banded-Hamming join."""
    from periodicity_spark.pipeline.multimodal import image_dhash, synthesize_media

    d = _docs(spark, sf_dir)
    ids = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"), F.lit("image").alias("kind")
    )
    return image_dhash(synthesize_media(ids))


def q_frame_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.multimodal.sample_frames_by_motion — content-aware frame
    sampling: keep frame 0 + frames whose luma delta vs the last EMITTED
    frame exceeds the threshold. Rows-only (Y4M decode); the scene-change
    plateau test in tests/test_multimodal.py certifies selection."""
    from periodicity_spark.pipeline.multimodal import (
        sample_frames_by_motion,
        synthesize_media,
    )

    d = _docs(spark, sf_dir)
    ids = d.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"), F.lit("video").alias("kind")
    )
    out = sample_frames_by_motion(synthesize_media(ids), threshold=8.0)
    return out.select(
        "media_id",
        "frame_index",
        F.round("t_sec", 6).alias("t_sec"),
        F.round("motion", 6).alias("motion"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL decode for all three modalities: RIFF/WAVE PCM (audio), 24-bpp
    # BMP (image), YUV4MPEG2 (video). Payloads are genuine format bytes
    # built by synthesize_media keyed on doc_id, so the decoded features
    # (sample rate, dimensions, frame rate) are deterministic and the
    # oracle derives them analytically — the parsers must recover exactly
    # what the generators encoded.
    from periodicity_spark.pipeline.multimodal import synthesize_media

    d = _docs(spark, sf_dir)
    ids = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
    )
    feats = extract_features(synthesize_media(ids), n_features=8)
    return feats.select(
        "media_id",
        "kind",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 2), 6).alias("f1"),
        F.round(F.element_at("features", 4), 6).alias("f3"),
    )


# the payloads are synthesized deterministically from media_id, so the oracle
# derives the expected decoded features analytically: image = BMP dims/solid
# green mean, audio = WAV frame count/rate/duration, video = Y4M dims/frame
# rate. An end-to-end check that the real parsers recover exactly what the
# generators encoded.
SQL_MULTIMODAL_FEATURES = """
WITH ids AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind
  FROM documents
)
SELECT media_id, kind,
       round(CASE kind WHEN 'image' THEN (4 + media_id % 5)::DOUBLE
                       WHEN 'audio' THEN 256.0
                       ELSE (8 + 2 * (media_id % 4))::DOUBLE END, 6) AS f0,
       round(CASE kind WHEN 'image' THEN (3 + media_id % 4)::DOUBLE
                       WHEN 'audio' THEN 8000.0
                       ELSE (6 + 2 * (media_id % 3))::DOUBLE END, 6) AS f1,
       round(CASE kind WHEN 'image' THEN ((media_id * 7) % 256)::DOUBLE
                       WHEN 'audio' THEN 0.032
                       ELSE 25.0 END, 6) AS f3
FROM ids
"""


def _media_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
    )


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.multimodal.resize_images — real BMP decode + box-average
    luma thumbnail (8×8), one row per thumbnail pixel. The synthesized
    images are solid-color, so the oracle derives every pixel's luma
    analytically from the media_id-keyed color."""
    from periodicity_spark.pipeline.multimodal import resize_images, synthesize_media

    out = resize_images(synthesize_media(_media_ids(spark, sf_dir)))
    return out.select(
        "media_id", "width", "height", "py", "px",
        F.round("luma", 6).alias("luma"),
    )


SQL_IMAGE_RESIZE = """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0),
px AS (SELECT media_id, r1.range AS py, r2.range AS px FROM ids, range(8) r1, range(8) r2)
SELECT media_id,
       (4 + media_id % 5)::INT AS width,
       (3 + media_id % 4)::INT AS height,
       py::INT AS py, px::INT AS px,
       round(0.299 * (media_id % 256) + 0.587 * ((media_id * 7) % 256)
             + 0.114 * ((media_id * 13) % 256), 6) AS luma
FROM px
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.multimodal.sample_frames — real Y4M decode, every 2nd frame's
    luma stats. Synthesized videos have 4 solid-luma frames at 25 fps, so
    frame means/stds derive analytically."""
    from periodicity_spark.pipeline.multimodal import sample_frames, synthesize_media

    out = sample_frames(synthesize_media(_media_ids(spark, sf_dir)))
    return out.select(
        "media_id", "frame_index",
        F.round("t_sec", 6).alias("t_sec"),
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("std_luma", 6).alias("std_luma"),
    )


SQL_FRAME_SAMPLE = """
WITH vids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 2),
f AS (SELECT media_id, unnest([0, 2]) AS frame_index FROM vids)
SELECT media_id, frame_index::INT AS frame_index,
       round(frame_index / 25.0, 6) AS t_sec,
       round(((media_id * 17 + frame_index * 40) % 256)::DOUBLE, 6) AS mean_luma,
       0.0 AS std_luma
FROM f
"""


def q_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floored corpus: the 24-table signature UDF (ArrowEvalPython over
    # every corpus vector) runs BELOW the first exchange and serializes
    # on a narrow scan — the one gated-floor consumer the sf1 A/B flagged
    # as a regression (22.7 s raw vs 10.4 s floored; sf0.1 pays ~0.4 s)
    emb = scan_parallel(_emb(spark, sf_dir), key="vec_id")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = simsearch.cosine_topk_lsh(emb, probes, k=5, dim=64)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_simsearch_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.simsearch.ann_mllib_lsh — EXPLICIT MLLIB-PARITY CHECK, not
    a recommended scale path: BucketedRandomProjectionLSH over L2-
    normalized vectors (Euclidean LSH is cosine LSH on the unit sphere,
    cos = 1 − d²/2), approxSimilarityJoin candidates exactly re-ranked.
    Geometry-bound ~13× slower than the primary sign-hash path at sf1
    (282 s vs 21 s at 500k×64, equal recall — see ann_mllib_lsh's
    docstring and its call-time warning; ann_topk_auto never routes
    here). Registered to prove the MLlib integration stays correct.
    Rows-only (approximate; recall@10 = 0.997 at the 8-table defaults,
    asserted in tests/test_pipeline.py)."""
    import warnings

    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)  # deliberate parity run
        return simsearch.ann_mllib_lsh(emb, probes, k=5, dim=64)


def q_simsearch_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.simsearch.ann_topk_auto — the ANN strategy pick: corpus
    ≤ 100k rows → exact brute-force (one scan, broadcast probes; exactness
    is free when the scan is cheap), larger → sign-hash multi-table LSH,
    never the geometry-bound MLlib path. At every driver SF the corpus is
    under the crossover, so the route is the exact scan and the oracle is
    simsearch_topk's SQL — the strategy function itself is what's under
    test (the LSH branch's recall is pinned in tests/test_pipeline.py)."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = simsearch.ann_topk_auto(emb, probes, k=5, dim=64)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_simsearch_auto_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_topk_auto with ``brute_force_threshold=0`` — forces the
    router's LSH branch (the >100k-corpus scale path) so it is exercised
    by the DRIVER contract, not only by tests/test_pipeline.py (at every
    driver SF the corpus is under the crossover, so plain simsearch_auto
    always takes the exact scan). The LSH result is approximate, so the
    registered result is a RECALL GATE rather than the top-k rows: one
    row (n_exact, recall_ok) where recall_ok asserts the LSH branch
    recovered ≥95% of the exact brute-force top-5 pairs. The oracle
    computes n_exact from the same SQL top-k and pins recall_ok = true —
    a parameter drift that degrades the LSH branch flips the boolean and
    the driver row goes red.

    n_tables=48 (vs the 24 default): the driver embeddings' generic
    top-k neighbors sit at cosine ≈0.3 (θ≈73°), the hardest LSH regime —
    measured recall@5 at the seeded planes is 24→0.94, 48→0.98 on the
    500-vector sf0.001 corpus and 1.0 at both from sf0.01 up.
    Deterministic (fixed seed, fixed data), so the gate does not flake."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    lsh = simsearch.ann_topk_auto(
        emb, probes, k=5, dim=64, brute_force_threshold=0, n_tables=48
    )
    exact = simsearch.cosine_topk_bruteforce(emb, probes, k=5)
    marked = exact.select("qid", "vec_id").join(
        lsh.select("qid", "vec_id").distinct().withColumn("_h", F.lit(1)),
        ["qid", "vec_id"],
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        (
            F.sum(F.coalesce(F.col("_h"), F.lit(0)))
            >= F.count(F.lit(1)) * F.lit(0.95)
        ).alias("recall_ok"),
    )


SQL_SIMSEARCH_AUTO_LSH = f"""
SELECT count(*)::BIGINT AS n_exact, true AS recall_ok
FROM ({SQL_SIMSEARCH_TOPK})
"""


def q_minhash_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.dedup.minhash_cap_audit at the registered dedup_minhash
    pipeline's exact parameters (k=5, n_hashes=16, r=4, max_bucket=1000):
    one row (capped_buckets, capped_sig_rows, max_bucket_seen). Registered
    so the cap OBSERVABILITY itself is drift-gated — if a data or
    parameter change starts silently capping real buckets, this row's
    hash diverges from the SQL twin (which mirrors the full shingle→
    minhash→band derivation, so it is exact at ANY cap state, not just
    the all-zero one)."""
    out = dedup.minhash_cap_audit(
        _docs(spark, sf_dir), k=5, n_hashes=16, r=4, max_bucket=1000
    )
    return out.select(
        F.col("capped_buckets").cast("long").alias("capped_buckets"),
        F.col("capped_sig_rows").cast("long").alias("capped_sig_rows"),
        F.col("max_bucket_seen").cast("long").alias("max_bucket_seen"),
    )


SQL_MINHASH_CAP_AUDIT = f"""
WITH {_SQL_MINHASH_PAIRS_CTES},
bn AS (SELECT band, sig, count(*) AS _bn FROM bands GROUP BY 1, 2)
SELECT coalesce(sum(CASE WHEN _bn > 1000 THEN 1 END), 0)::BIGINT AS capped_buckets,
       coalesce(sum(CASE WHEN _bn > 1000 THEN _bn END), 0)::BIGINT AS capped_sig_rows,
       coalesce(max(_bn), 0)::BIGINT AS max_bucket_seen
FROM bn
"""


def q_cosine_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.simsearch.cosine_lsh_cap_audit at the registered
    cosine_neardup pipeline's exact corpus and parameters (emb ∪ its
    int8-quantized twin, n_planes=240, bands=10, max_bucket=1000): the
    over-cap tally (capped_buckets, capped_sig_rows). The oracle is a
    FULL SQL TWIN at any cap state (not the r9 zero-capped invariant,
    which the sf1 soak proved data-dependent — the regenerated sf1
    corpus has 13 over-cap cluster-core buckets): the seeded hyperplane
    matrix is a deterministic numpy draw, so the oracle embeds it as a
    240×64 VALUES literal and recomputes sig = Σ 2^bit·[v·plane > 0] per
    band in SQL. The only cross-engine hazard is a dot product landing
    within float rounding of 0 (BLAS vs sequential summation order);
    with |dot| ~ O(1) over 2.4e8 dots at sf1 the flip probability is
    ~1e-7 per corpus — and the compare is exact integers, so a flake
    would be loud, not silent. max_bucket_seen is still not projected
    (one changed bucket count would flip it; the tally is the stable
    contract). The full three-column audit stays available as the
    library function."""
    from periodicity_spark.pipeline import embedding as emb_ops

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb_ops.quantize_int8(emb).filter(F.col("scale").isNotNull())
    dq = q.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(127.0) * F.col("scale")
        ).alias("embedding"),
    )
    out = simsearch.cosine_lsh_cap_audit(
        emb.unionByName(dq), n_planes=240, bands=10, dim=64, max_bucket=1000
    )
    return out.select(
        F.col("capped_buckets").cast("long").alias("capped_buckets"),
        F.col("capped_sig_rows").cast("long").alias("capped_sig_rows"),
    )


def _cosine_plane_values(n_planes: int = 240, bands: int = 10, dim: int = 64, seed: int = 42) -> str:
    """The registered cosine pipeline's hyperplane matrix as a DuckDB
    VALUES literal (band, weight, plane) — the SAME deterministic draw as
    simsearch.hyperplane_band_signatures (numpy default_rng(seed)
    .standard_normal, stream-stable across numpy versions), so the audit
    oracle recomputes the engine's signatures rather than asserting an
    invariant about them. repr() round-trips doubles exactly."""
    import numpy as _np

    planes = _np.random.default_rng(seed).standard_normal((n_planes, dim))
    r = n_planes // bands
    rows = []
    for i in range(n_planes):
        vec = "[" + ",".join(repr(float(x)) for x in planes[i]) + "]"
        rows.append(f"({i // r}, {1 << (i % r)}::BIGINT, {vec}::DOUBLE[])")
    return ",\n".join(rows)


SQL_COSINE_CAP_AUDIT = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
quant AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS scale
  FROM base
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
              ELSE list_transform(v, x -> round(x / scale * 127) / 127.0 * scale)
         END AS v
  FROM quant WHERE isfinite(scale)
),
planes(band, w, p) AS (VALUES {_cosine_plane_values()}),
sig AS (
  SELECT c.vec_id, pl.band,
         sum(CASE WHEN list_dot_product(c.v, pl.p) > 0 THEN pl.w ELSE 0 END) AS sig
  FROM corpus c CROSS JOIN planes pl
  WHERE c.v IS NOT NULL AND len(c.v) = 64
  GROUP BY c.vec_id, pl.band
),
buckets AS (
  SELECT band, sig, count(*) AS n FROM sig GROUP BY band, sig
)
SELECT coalesce(sum(CASE WHEN n > 1000 THEN 1 END), 0)::BIGINT AS capped_buckets,
       coalesce(sum(CASE WHEN n > 1000 THEN n END), 0)::BIGINT AS capped_sig_rows
FROM buckets
"""


def q_roll3(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_transform.roll(_ts(spark, sf_dir), 3)
    return out.select("series_id", "time", "value")


SQL_ROLL3 = f"""
WITH {TS_SQL},
p AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY "time") - 1 AS pos,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM ts
)
SELECT a.series_id AS series_id, a."time" AS "time", b.value AS value
FROM p a JOIN p b
  ON b.series_id = a.series_id
 AND b.pos = (((a.pos - 3) % a.n) + a.n) % a.n
"""


def q_slice_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_transform.slice_by_position(_ts(spark, sf_dir), 2, 6)
    return out.select("series_id", "time", "value")


SQL_SLICE_POS = f"""
WITH {TS_SQL},
p AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY "time") - 1 AS pos
  FROM ts
)
SELECT series_id, "time", value FROM p WHERE pos >= 2 AND pos < 6
"""


def q_fold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.transform.fold_profile — the phase-binned fold profile
    (phase diagram): fold at period 1 day, 16 bins, per-bin mean. One
    (series, bin) hash aggregate with map-side combine."""
    out = ops_transform.fold_profile(_ts(spark, sf_dir), period=1.0, nbins=16)
    return out.select(
        "series_id",
        "bin",
        "phase_center",
        F.round("mean_value", 6).alias("mean_value"),
        "n",
    )


SQL_FOLD_PROFILE = f"""
WITH {TS_SQL},
p AS (
  SELECT series_id,
         least(floor(((("time" / 1.0) % 1 + 1) % 1) * 16)::INT, 15) AS bin,
         value
  FROM ts WHERE value IS NOT NULL
)
SELECT series_id, bin, (bin + 0.5) / 16.0 AS phase_center,
       round(avg(value), 6) AS mean_value, count(*)::BIGINT AS n
FROM p GROUP BY series_id, bin
"""


def q_timeshift_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.transform.timeshift/timescale (reference core.py:537-541)
    — the affine time-axis maps, composed: rebase by −100 days then scale
    to hours. Pure projection; both engines compute the identical doubles
    from the exact micros axis."""
    out = ops_transform.timescale(
        ops_transform.timeshift(_ts(spark, sf_dir), -100.0), 24.0
    )
    return out.select("series_id", "time", "value")


SQL_TIMESHIFT_SCALE = f"""
WITH {TS_SQL}
SELECT series_id, ("time" - 100.0) * 24.0 AS "time", value FROM ts
"""


def q_drop_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.transform.drop_by_position (reference drop(), core.py:
    717-724) — delete the first and LAST sample per series (negative index
    resolves against the per-series count, like numpy)."""
    out = ops_transform.drop_by_position(_ts(spark, sf_dir), [0, -1])
    return out.select("series_id", "time", "value")


SQL_DROP_POSITIONS = f"""
WITH {TS_SQL},
p AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY "time") - 1 AS pos,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM ts
)
SELECT series_id, "time", value FROM p WHERE pos <> 0 AND pos <> n - 1
"""


def q_union_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.transform.union_series + overlap accounting (reference
    join(), core.py:610-617: concatenation keeps duplicate timestamps and
    only WARNS on overlap) — union two overlapping positional slices and
    report per-series row and overlap counts, the quantity behind the
    reference's warning condition."""
    ts = _ts(spark, sf_dir)
    a = ops_transform.slice_by_position(ts, 0, 6)
    b = ops_transform.slice_by_position(ts, 4, 10)
    u = ops_transform.union_series(a, b)
    return u.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct("time")).alias("n_overlap"),
    )


SQL_UNION_OVERLAP = f"""
WITH {TS_SQL},
p AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY "time") - 1 AS pos
  FROM ts
),
u AS (
  SELECT series_id, "time" FROM p WHERE pos >= 0 AND pos < 6
  UNION ALL
  SELECT series_id, "time" FROM p WHERE pos >= 4 AND pos < 10
)
SELECT series_id, count(*)::BIGINT AS n_rows,
       (count(*) - count(DISTINCT "time"))::BIGINT AS n_overlap
FROM u GROUP BY series_id
"""


def q_fill_gaps_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_resample.fill_gaps(_ts(spark, sf_dir), dt=0.1)
    return out.groupBy("series_id").agg(F.count(F.lit(1)).alias("n_rows"))


SQL_FILL_GAPS_COUNT = f"""
WITH {TS_SQL},
g AS (
  SELECT series_id, "time",
         lead("time") OVER (PARTITION BY series_id ORDER BY "time") AS nxt
  FROM ts
),
ins AS (
  SELECT series_id,
         CASE WHEN nxt IS NOT NULL AND (nxt - "time") > 1.2 * 0.1
              THEN floor((nxt - "time") / 0.1 - 1.2)::BIGINT + 1
              ELSE 0 END AS k
  FROM g
)
SELECT series_id, (count(*) + sum(k))::BIGINT AS n_rows FROM ins GROUP BY 1
"""


def q_interp_halfday(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(61).select((F.col("id") * F.lit(0.5)).alias("time"))
    out = ops_resample.interp_linear(_ts(spark, sf_dir), grid)
    return out.select("series_id", "time", "value")


SQL_INTERP_HALFDAY = f"""
WITH {TS_SQL},
sids AS (SELECT DISTINCT series_id FROM ts),
probes AS (
  SELECT s.series_id, 0.5 * g.k AS "time", 1 AS isp,
         NULL::DOUBLE AS value
  FROM sids s, (SELECT unnest(range(61)) AS k) g
),
u AS (
  SELECT series_id, "time", value, 0 AS isp FROM ts
  UNION ALL
  SELECT series_id, "time", value, isp FROM probes
),
w AS (
  SELECT series_id, "time", isp,
    last_value(CASE WHEN isp = 0 THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    last_value(CASE WHEN isp = 0 THEN value END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(CASE WHEN isp = 0 THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
    first_value(CASE WHEN isp = 0 THEN value END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM u
)
SELECT series_id, "time",
       CASE WHEN pt IS NULL THEN nv
            WHEN nt IS NULL THEN pv
            WHEN nt = pt THEN pv
            ELSE pv + (nv - pv) * ("time" - pt) / (nt - pt) END AS value
FROM w WHERE isp = 1
"""


def q_interp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(61).select((F.col("id") * F.lit(0.5)).alias("time"))
    out = ops_resample.interp_nearest(_ts(spark, sf_dir), grid)
    return out.select("series_id", "time", "value")


SQL_INTERP_NEAREST = f"""
WITH {TS_SQL},
sids AS (SELECT DISTINCT series_id FROM ts),
probes AS (
  SELECT s.series_id, 0.5 * g.k AS "time", 1 AS isp,
         NULL::DOUBLE AS value
  FROM sids s, (SELECT unnest(range(61)) AS k) g
),
u AS (
  SELECT series_id, "time", value, 0 AS isp FROM ts
  UNION ALL
  SELECT series_id, "time", value, isp FROM probes
),
w AS (
  SELECT series_id, "time", isp,
    last_value(CASE WHEN isp = 0 THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    last_value(CASE WHEN isp = 0 THEN value END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(CASE WHEN isp = 0 THEN "time" END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
    first_value(CASE WHEN isp = 0 THEN value END IGNORE NULLS)
      OVER (PARTITION BY series_id ORDER BY "time", isp
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM u
)
SELECT series_id, "time",
       CASE WHEN pt IS NULL THEN nv
            WHEN nt IS NULL THEN pv
            WHEN ("time" - pt) <= (nt - "time") THEN pv
            ELSE nv END AS value
FROM w WHERE isp = 1
"""


def q_interp_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no SQL oracle: the not-a-knot tridiagonal solve is a Python kernel;
    # correctness is pinned by the NumPy differential unit
    # (tests/test_core_ops.py::test_interp_spline_matches_numpy_kernel)
    grid = spark.range(61).select((F.col("id") * F.lit(0.5)).alias("time"))
    out = ops_resample.interp_spline(_ts(spark, sf_dir), grid)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


def q_interp_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference hht-tutorial preprocessing chain (core.py:655-658 +
    # tutorial interp(new_time, method="spline", s=noise)): smoothing
    # spline with an splrep-style residual target onto a uniform grid.
    # no SQL oracle: the Reinsch banded solve is a Python kernel;
    # correctness is pinned by the dense-QP differential unit
    # (tests/test_core_ops.py::test_smoothing_spline_kernel_contract)
    grid = spark.range(61).select((F.col("id") * F.lit(0.5)).alias("time"))
    out = ops_resample.interp(_ts(spark, sf_dir), grid, "spline", s=5.0)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


def q_interp_quadratic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interp(method='quadratic') — midpoint-knot k=2 B-spline collocation;
    # rows-only (Python kernel), values pinned by
    # tests/test_core_ops.py::test_quadratic_spline_kernel_contract
    grid = spark.range(61).select((F.col("id") * F.lit(0.5)).alias("time"))
    out = ops_resample.interp_quadratic(_ts(spark, sf_dir), grid)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


def q_noise_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_clean.estimate_noise(_ts(spark, sf_dir))
    return out.select("series_id", F.round("noise", 6).alias("noise"))


SQL_NOISE_ESTIMATE = f"""
WITH {TS_SQL},
e AS (
  SELECT series_id, "time", value,
         coalesce(lag(value) OVER w, value) AS vp,
         coalesce(lead(value) OVER w, value) AS vn
  FROM ts WINDOW w AS (PARTITION BY series_id ORDER BY "time")
),
r AS (
  SELECT series_id, "time",
         value - greatest(least(vp, value), least(greatest(vp, value), vn)) AS rv
  FROM e
),
s0 AS (SELECT series_id, avg(rv) AS mu, stddev_pop(rv) AS sd FROM r GROUP BY 1),
k1 AS (SELECT r.* FROM r JOIN s0 USING (series_id) WHERE abs(r.rv - s0.mu) < 3 * s0.sd),
s1 AS (SELECT series_id, avg(rv) AS mu, stddev_pop(rv) AS sd FROM k1 GROUP BY 1),
k2 AS (SELECT r.* FROM r JOIN s1 USING (series_id) WHERE abs(r.rv - s1.mu) < 3 * s1.sd),
s2 AS (SELECT series_id, avg(rv) AS mu, stddev_pop(rv) AS sd FROM k2 GROUP BY 1)
SELECT series_id, round(sd / 0.893421, 6) AS noise FROM s2
"""


def q_gls_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.bootstrap import gls_model

    grid = spark.range(121).select((F.col("id") * F.lit(0.25)).alias("time"))
    out = gls_model(_ts(spark, sf_dir), f0=1.0, new_times=grid)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


SQL_GLS_MODEL_FIT = f"""
WITH {TS_SQL},
prep AS (
  SELECT series_id, "time", value,
         sin(2 * pi() * 1.0 * "time") AS s, cos(2 * pi() * 1.0 * "time") AS c
  FROM ts
),
mean_df AS (SELECT series_id, sum(value) / sum(1.0) AS ymean FROM prep GROUP BY 1),
g AS (
  SELECT p.series_id,
         sum(1.0) AS a11, sum(p.s) AS a12, sum(p.c) AS a13,
         sum(p.s * p.s) AS a22, sum(p.s * p.c) AS a23, sum(p.c * p.c) AS a33,
         sum(p.value - m.ymean) AS b1,
         sum(p.s * (p.value - m.ymean)) AS b2,
         sum(p.c * (p.value - m.ymean)) AS b3,
         max(m.ymean) AS ymean
  FROM prep p JOIN mean_df m USING (series_id) GROUP BY 1
),
sol AS (
  SELECT series_id, ymean,
    (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)) AS det,
    abs(a11 * a22 * a33) AS scale3,
    (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3)) AS t1,
    (a11 * (b2 * a33 - b3 * a23) - b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13)) AS t2,
    (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13)) AS t3
  FROM g
),
grid AS (SELECT 0.25 * unnest(range(121)) AS "time")
-- near-singular guard mirrors spectral/bootstrap.gls_model: below
-- rtol=1e-6 of the diagonal-product scale the Cramer solution is
-- cancellation noise (underdetermined n<3 / phase-aliased series) and
-- BOTH engines emit NULL instead of summation-order-dependent garbage
SELECT s.series_id AS series_id, g."time" AS "time",
       CASE WHEN abs(s.det) > 1e-6 * s.scale3 THEN
         round(s.ymean + s.t1 / s.det
               + (s.t2 / s.det) * sin(2 * pi() * 1.0 * g."time")
               + (s.t3 / s.det) * cos(2 * pi() * 1.0 * g."time"), 6)
       END AS value
FROM sol s CROSS JOIN grid g
"""


# --- rows-only additions (UDF / kernel paths) --------------------------------


def q_butterworth_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    # driver events series are ~13 samples over 30 days -> Nyquist ~0.2-0.3
    # cycles/day; the band must sit strictly inside it or the design is
    # (correctly) refused per-series and the values come back NULL
    out = ops_clean.butterworth(_ts(spark, sf_dir), fmin=0.02, fmax=0.15)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


def q_acf_period_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops_clean.acf_period_quality(_ts(spark, sf_dir), p_min=0.5, p_max=5.0)


def q_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.decomposition import emd_modes

    return emd_modes(_ts(spark, sf_dir))


def q_wps_gwps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.timefrequency import gwps as tf_gwps, wps as tf_wps

    tf = tf_wps(_ts(spark, sf_dir), [0.5, 1.0, 2.0, 4.0, 8.0])
    return tf_gwps(tf, masked=True)


def q_hht_marginal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.timefrequency import hht as tf_hht
    from periodicity_spark.timefrequency.hht import marginal_spectrum

    grid = [0.1 * k for k in range(11)]
    return marginal_spectrum(tf_hht(_ts(spark, sf_dir), grid, method="HT"))


def q_composite_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.timefrequency import composite_spectrum as cs

    return cs(_ts(spark, sf_dir), [0.5, 1.0, 2.0, 4.0, 8.0])


def q_psd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.fft import psd as fft_psd

    return fft_psd(_ts(spark, sf_dir))


def q_gls_bootstrap_fap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.bootstrap import fap as gls_fap, gls_bootstrap_replicates

    ts = _ts(spark, sf_dir)
    # keep the bootstrap cheap at check time: top-8 longest series only
    big = (
        ts.groupBy("series_id").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), "series_id").limit(8).select("series_id")
    )
    sub = ts.join(F.broadcast(big), "series_id")
    grid = uniform_freq_grid(spark, GLS_FMIN, GLS_DF, 32)
    reps = gls_bootstrap_replicates(sub, grid, n_bootstraps=20, seed=11)
    pg = gls_periodogram(sub, freq_grid=grid)
    obs = pg.groupBy("series_id").agg(F.max("power").alias("power"))
    return gls_fap(reps, obs)




def q_gp_map_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    # celerite-style O(N) kernel (gp/celerite.py) — each likelihood eval is
    # O(N·J²), so this path holds for 10⁵-sample series where the dense
    # O(N³) gp_map() cannot; top-20 longest series, parallelism axis = series
    from periodicity_spark.gp import celerite_map

    ts = _ts(spark, sf_dir)
    big = (
        ts.groupBy("series_id").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), "series_id").limit(20).select("series_id")
    )
    return celerite_map(ts.join(F.broadcast(big), "series_id"))


def q_gp_mcmc_celerite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posterior period sampling with the batched O(N·J²) celerite NLL
    # (gp/celerite.py:521 celerite_mcmc_sample) — the scale path the dense
    # O(N³) sampler can't walk; reference CeleriteModeler.mcmc
    # (src/periodicity/gp.py:428-484). Rows-only: MCMC isn't SQL.
    from periodicity_spark.gp import celerite_mcmc

    ts = _ts(spark, sf_dir)
    big = (
        ts.groupBy("series_id").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), "series_id").limit(4).select("series_id")
    )
    return celerite_mcmc(
        ts.join(F.broadcast(big), "series_id"),
        kernel="brownian", n_walkers=8, n_steps=60, burn=20, seed=42,
        map_max_iter=60,
    )


def q_gaussian_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from periodicity_spark.gp import gaussian_prior_density, make_gaussian_prior_mixture

    ts = _ts(spark, sf_dir)
    big = (
        ts.groupBy("series_id").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 16).select("series_id")
    )
    mix = make_gaussian_prior_mixture(
        ts.join(F.broadcast(big), "series_id"), p_min=0.5, periods=[2.0, 4.0]
    )
    grid = [float(x) for x in np.linspace(np.log(0.5), np.log(8.0), 24)]
    return gaussian_prior_density(mix, grid)




def q_psort_by_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.periodogram_ops import psort_by_peak

    pg = _gls_pg(spark, sf_dir)
    out = psort_by_peak(pg, k=3)
    return out.select("series_id", "rank", "period", F.round("power", 6).alias("power"))


SQL_PSORT_BY_PEAK = _gls_sql(
    """
, pk AS (
  SELECT series_id, frequency, power,
         lag(power) OVER w AS pp, lead(power) OVER w AS pn
  FROM pw WINDOW w AS (PARTITION BY series_id ORDER BY frequency)
),
r AS (
  SELECT series_id, frequency, power,
         row_number() OVER (PARTITION BY series_id ORDER BY power DESC, frequency ASC) AS rank
  FROM pk WHERE pp IS NOT NULL AND pn IS NOT NULL AND power > pp AND power > pn
)
SELECT series_id, rank, 1.0 / frequency AS period, round(power, 6) AS power
FROM r WHERE rank <= 3
"""
)


def q_psort_by_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.periodogram_ops import psort_by_prominence

    pg = _gls_pg(spark, sf_dir)
    out = psort_by_prominence(pg, k=3)
    return out.select(
        "series_id",
        "rank",
        "period",
        F.round("power", 6).alias("power"),
        F.round("prominence", 6).alias("prominence"),
    )


SQL_PSORT_BY_PROMINENCE = _gls_sql_derived(
    "psort_by_prominence",
    """
, pos AS (
  SELECT series_id, row_number() OVER w - 1 AS pos, frequency, power
  FROM pw WINDOW w AS (PARTITION BY series_id ORDER BY frequency)
),
pk AS (
  SELECT series_id, pos, frequency, power FROM (
    SELECT series_id, pos, frequency, power,
           lag(power) OVER w AS pp, lead(power) OVER w AS pn
    FROM pos WINDOW w AS (PARTITION BY series_id ORDER BY pos)
  ) WHERE pp IS NOT NULL AND pn IS NOT NULL AND power > pp AND power > pn
),
bounds AS (
  SELECT p.series_id, p.pos, p.frequency, p.power,
         max(q.pos) FILTER (q.pos < p.pos AND q.power > p.power) AS lb,
         min(q.pos) FILTER (q.pos > p.pos AND q.power > p.power) AS rb
  FROM pk p JOIN pos q USING (series_id) GROUP BY 1, 2, 3, 4
),
prom AS (
  SELECT b.series_id, b.frequency, b.power,
         b.power - greatest(
           min(q.power) FILTER (q.pos >= coalesce(b.lb + 1, 0) AND q.pos <= b.pos),
           min(q.power) FILTER (q.pos >= b.pos AND q.pos <= coalesce(b.rb - 1, 9223372036854775807))
         ) AS prominence
  FROM bounds b JOIN pos q USING (series_id)
  GROUP BY 1, 2, 3, b.lb, b.rb
),
r AS (
  SELECT series_id, frequency, power, prominence,
         row_number() OVER (PARTITION BY series_id ORDER BY prominence DESC, frequency ASC) AS rank
  FROM prom
)
SELECT series_id, rank, 1.0 / frequency AS period,
       round(power, 6) AS power, round(prominence, 6) AS prominence
FROM r WHERE rank <= 3
"""
)


def q_pg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.functions.stats import pg_stats

    return pg_stats(_gls_pg(spark, sf_dir)).select(
        "series_id", "fmax", "pmax", "median_df", "median_dp", "is_uniform_f", "df"
    )


SQL_PG_STATS = _gls_sql_derived(
    "pg_stats",
    """
, d AS (
  SELECT series_id, frequency, power,
         frequency - lag(frequency) OVER w AS df_i,
         (1.0 / frequency) - (1.0 / lag(frequency) OVER w) AS dp_i
  FROM pw WINDOW w AS (PARTITION BY series_id ORDER BY frequency)
),
m AS (
  SELECT series_id, median(df_i) AS median_df, -median(dp_i) AS median_dp
  FROM d GROUP BY 1
),
a AS (
  SELECT d.series_id,
         max_by(frequency, power) AS fmax,
         max_by(1.0 / frequency, power) AS pmax,
         bool_and(CASE WHEN df_i IS NULL THEN TRUE
                       ELSE abs(df_i - m.median_df) <= 1e-08 + 1e-05 * abs(m.median_df)
                  END) AS is_uniform_f
  FROM d JOIN m USING (series_id) GROUP BY 1
)
SELECT a.series_id, fmax, pmax, m.median_df, m.median_dp, is_uniform_f,
       CASE WHEN is_uniform_f THEN m.median_df END AS df
FROM a JOIN m USING (series_id)
"""
)


def q_periods_at_half_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.periodogram_ops import periods_at_half_max

    pg = _gls_pg(spark, sf_dir)
    out = periods_at_half_max(pg)
    return out.select(
        "series_id",
        F.round("lower_period", 6).alias("lower_period"),
        F.round("upper_period", 6).alias("upper_period"),
    )


SQL_PERIODS_AT_HALF_MAX = _gls_sql_derived(
    "periods_at_half_max",
    """
, pk AS (
  SELECT series_id, frequency, power,
         lag(power) OVER w AS pp, lead(power) OVER w AS pn
  FROM pw WINDOW w AS (PARTITION BY series_id ORDER BY frequency)
),
best AS (
  SELECT series_id, frequency AS fpeak, power AS ppeak,
         row_number() OVER (PARTITION BY series_id ORDER BY power DESC, frequency ASC) AS rn
  FROM pk WHERE pp IS NOT NULL AND pn IS NOT NULL AND power > pp AND power > pn
),
b1 AS (SELECT series_id, fpeak, ppeak FROM best WHERE rn = 1),
rel AS (
  SELECT p.series_id, p.frequency, b.fpeak,
         sign(p.power - b.ppeak / 2) AS s,
         lag(sign(p.power - b.ppeak / 2)) OVER (PARTITION BY p.series_id ORDER BY p.frequency) AS sp
  FROM pw p JOIN b1 b USING (series_id)
),
crossings AS (SELECT series_id, frequency, fpeak FROM rel WHERE sp IS NOT NULL AND s <> sp)
SELECT series_id,
       round(1.0 / min(CASE WHEN frequency > fpeak THEN frequency END), 6) AS lower_period,
       round(1.0 / max(CASE WHEN frequency <= fpeak THEN frequency END), 6) AS upper_period
FROM crossings GROUP BY series_id
"""
)


def q_downsample_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # custom bin aggregator hook (reference downsample(func=...), core.py:629)
    out = ops_resample.downsample(_ts(spark, sf_dir), 1.0, agg=F.median("value"))
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


SQL_DOWNSAMPLE_MEDIAN = f"""
WITH {TS_SQL},
st AS (SELECT series_id, min("time") AS tmin, max("time") AS tmax FROM ts GROUP BY 1),
b AS (
  SELECT t.series_id, st.tmin,
         greatest(ceil((t."time" - st.tmin) / ((st.tmax - st.tmin) / ceil((st.tmax - st.tmin) / 1.0)::BIGINT)) - 1, 0)::BIGINT AS bucket,
         t.value
  FROM ts t JOIN st USING (series_id)
  WHERE st.tmax > st.tmin
)
SELECT series_id, tmin + bucket * 1.0 AS "time", round(median(value), 6) AS value
FROM b GROUP BY series_id, tmin, bucket
"""


def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_windows.get_envelope(_ts(spark, sf_dir))
    return out.select(
        "series_id", "time",
        F.round("upper", 6).alias("upper"), F.round("lower", 6).alias("lower"),
    )


def q_tf_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2-D rebinning layer driven by a deterministic native TF surface
    # (value²/frequency on a fixed 5-frequency grid) so the whole query has
    # an exact DuckDB oracle; the CWT-backed input path is exercised by
    # wps_gwps (rows-only — Python FFT kernel)
    # floor the SOURCE, not the ×5-expanded spectrogram: the floor exchange
    # moves one-fifth the bytes, and downsample_tf's own scan_parallel
    # then finds the repartition in the plan and adds no second floor
    ts = scan_parallel(_ts(spark, sf_dir))
    freqs = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (4.0,), (8.0,)], "frequency double"
    )
    # integer-valued power ⇒ bucket sums are exact in any summation order,
    # so avg() is bit-identical across engines (floats would differ at the
    # round(6) boundary depending on reduction order)
    tf = ts.crossJoin(F.broadcast(freqs)).select(
        "series_id",
        "time",
        "frequency",
        F.floor(F.col("value") * F.col("value") / F.col("frequency"))
        .cast("double")
        .alias("power"),
    )
    out = ops_resample.downsample_tf(tf, dt=2.0, df_=0.5)
    return out.select(
        "series_id", "time", "frequency", F.round("power", 6).alias("power")
    )


SQL_TF_DOWNSAMPLE = f"""
WITH {TS_SQL},
tf AS (
  SELECT series_id, "time", f.frequency,
         floor(value * value / f.frequency) AS power
  FROM ts, (SELECT unnest([0.5, 1.0, 2.0, 4.0, 8.0]) AS frequency) f
),
st AS (
  SELECT series_id, min("time") AS t0, max("time") AS t1,
         min(frequency) AS f0, max(frequency) AS f1
  FROM tf GROUP BY 1
),
b AS (
  SELECT tf.series_id, tf."time", tf.frequency, tf.power,
         st.t0, st.t1, st.f0, st.f1,
         ceil((st.t1 - st.t0) / 2.0)::INT AS nt,
         ceil((st.f1 - st.f0) / 0.5)::INT AS nf
  FROM tf JOIN st ON tf.series_id = st.series_id
  WHERE st.t1 > st.t0 AND st.f1 > st.f0
),
bb AS (
  SELECT series_id, t0, f0,
         greatest(ceil(("time" - t0) / ((t1 - t0) / nt)) - 1, 0)::BIGINT AS tb,
         greatest(ceil((frequency - f0) / ((f1 - f0) / nf)) - 1, 0)::BIGINT AS fb,
         power
  FROM b
)
SELECT series_id, t0 + tb * 2.0 AS "time", f0 + fb * 0.5 AS frequency,
       round(avg(power), 6) AS power
FROM bb GROUP BY series_id, tb, fb, t0, f0
"""




def q_gls_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from periodicity_spark.spectral.fast import gls_periodogram_fast

    pg = gls_periodogram_fast(
        _ts(spark, sf_dir), GLS_FMIN, GLS_DF, GLS_NF, min_count=GLS_MIN_N
    )
    return pg.select("series_id", "frequency", F.round("power", 6).alias("power"))


def q_mirror_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ops_clean.mirror_fill(_ts_with_nulls(spark, sf_dir))
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


# positional mirror arithmetic re-derived relationally: null runs via
# gaps-and-islands, halves filled by joining at the reflected index
# (2s−i−1 / 2e−i−1), odd-run centers averaged from the half-filled state.
# The kernel processes gaps left-to-right, so a LEFT-half source (always at
# an earlier index) may read a previous gap's already-filled value, while a
# RIGHT-half source (always later) reads the raw state — hence two passes:
# pass 1 fills from originals, pass 2 re-sources left halves from pass 1's
# result (one cascade level; deeper chains need 3+ gaps within a half-width
# of each other, absent in this data). Trailing null runs stay NULL (the
# kernel drops the unpaired start index).
SQL_MIRROR_FILL = f"""
WITH {TS_NULLS_SQL},
t0 AS (
  SELECT series_id, "time", value,
         row_number() OVER (PARTITION BY series_id ORDER BY "time") - 1 AS rn
  FROM ts
),
nsz AS (SELECT series_id, count(*) AS n FROM t0 GROUP BY 1),
nr AS (
  SELECT series_id, rn,
         rn - row_number() OVER (PARTITION BY series_id ORDER BY rn) AS grp
  FROM t0 WHERE value IS NULL
),
runs AS (
  SELECT series_id, grp, min(rn) AS s, max(rn) + 1 AS e
  FROM nr GROUP BY 1, 2
),
runs2 AS (
  SELECT r.series_id, r.s, r.e, r.e - r.s AS gap
  FROM runs r JOIN nsz z ON r.series_id = z.series_id
  WHERE r.e < z.n
),
nullrow AS (
  SELECT t.series_id, t.rn, r.s, r.e, r.gap
  FROM t0 t JOIN runs2 r
    ON t.series_id = r.series_id AND t.rn >= r.s AND t.rn < r.e
),
halves1 AS (
  SELECT n.series_id, n.rn,
    CASE
      WHEN n.rn < n.s + n.gap // 2 THEN ol.value
      WHEN n.rn >= n.e - n.gap // 2 THEN orr.value
    END AS hv,
    (n.gap % 2 = 1 AND n.rn = (n.s + n.e - 1) // 2) AS is_center
  FROM nullrow n
  LEFT JOIN t0 ol ON ol.series_id = n.series_id AND ol.rn = 2 * n.s - n.rn - 1
  LEFT JOIN t0 orr ON orr.series_id = n.series_id AND orr.rn = 2 * n.e - n.rn - 1
),
m1 AS (
  SELECT t.series_id, t.rn, t."time",
         CASE WHEN t.value IS NOT NULL THEN t.value ELSE h.hv END AS mv,
         coalesce(h.is_center, FALSE) AS is_center
  FROM t0 t LEFT JOIN halves1 h ON t.series_id = h.series_id AND t.rn = h.rn
),
m1c AS (
  SELECT series_id, rn, "time",
         CASE WHEN is_center AND rn > 0 AND rn < n - 1
              THEN 0.5 * (pmv + nmv) ELSE mv END AS mv
  FROM (
    SELECT series_id, rn, "time", is_center, mv,
           lag(mv) OVER w AS pmv, lead(mv) OVER w AS nmv,
           count(*) OVER (PARTITION BY series_id) AS n
    FROM m1 WINDOW w AS (PARTITION BY series_id ORDER BY rn)
  )
),
halves2 AS (
  SELECT n.series_id, n.rn,
    CASE
      WHEN n.rn < n.s + n.gap // 2 THEN ml.mv
      WHEN n.rn >= n.e - n.gap // 2 THEN orr.value
    END AS hv,
    (n.gap % 2 = 1 AND n.rn = (n.s + n.e - 1) // 2) AS is_center
  FROM nullrow n
  LEFT JOIN m1c ml ON ml.series_id = n.series_id AND ml.rn = 2 * n.s - n.rn - 1
  LEFT JOIN t0 orr ON orr.series_id = n.series_id AND orr.rn = 2 * n.e - n.rn - 1
),
m2 AS (
  SELECT t.series_id, t.rn, t."time",
         CASE WHEN t.value IS NOT NULL THEN t.value ELSE h.hv END AS mv,
         coalesce(h.is_center, FALSE) AS is_center
  FROM t0 t LEFT JOIN halves2 h ON t.series_id = h.series_id AND t.rn = h.rn
),
fin AS (
  SELECT series_id, "time", rn, is_center, mv,
         lag(mv) OVER w AS pmv, lead(mv) OVER w AS nmv,
         count(*) OVER (PARTITION BY series_id) AS n
  FROM m2 WINDOW w AS (PARTITION BY series_id ORDER BY rn)
)
SELECT series_id, "time",
       round(CASE WHEN is_center AND rn > 0 AND rn < n - 1
                  THEN 0.5 * (pmv + nmv) ELSE mv END, 6) AS value
FROM fin
"""




def q_pca_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.embedding.pca_embed — distributed PCA fit (one Arrow
    partial-moment pass, kilobyte shuffle) + shuffle-free projection.
    Rows-only check: the eigendecomposition is not SQL-expressible; the
    numpy differential in tests/test_embedding.py certifies values.
    Projections exploded long-format and rounded so the row set is stable."""
    from periodicity_spark.pipeline import embedding as emb_ops

    out = emb_ops.pca_embed(_emb(spark, sf_dir), k=4)
    return out.select(
        "vec_id", F.posexplode("proj").alias("component", "value")
    ).select("vec_id", "component", F.round("value", 6).alias("value"))


def q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = simsearch.cosine_topk_ivf(emb, probes, k=5, n_centroids=16)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.simsearch.semantic_dedup — SemDeDup (Abbas et al. 2023):
    IVF-cluster the embeddings, drop within-cluster cosine near-duplicates,
    keep-lowest-id rule. Rows-only check: the k-means quantizer is not
    SQL-expressible; the planted-twin recall test in tests/test_pipeline.py
    certifies semantics."""
    out = simsearch.semantic_dedup(_emb(spark, sf_dir), threshold=0.95)
    return out.select("vec_id", "centroid", "keep")


def q_semantic_auto_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup's two-level (coarse→fine) assignment, gated against
    the exact-assignment baseline — the SemDeDup scale path (see
    ``assign_to_centroids``; measured 31.3 s vs 63.2 s at sf5 isolated)
    exercised by the DRIVER contract, not only by tests. n_centroids=256
    forces k past the two-level threshold at every driver SF (derived k
    would stay below it). One row (n_vecs, n_keep_disagree, agree_ok):
    keep decisions must agree with exact assignment on ≥98% of vectors
    (measured: 100% agreement at every driver SF — routing perturbations
    move vectors between clusters but near-identical pairs co-route).
    Rows-only: the k-means quantizer is not SQL-expressible."""
    emb = _emb(spark, sf_dir)
    ex = simsearch.semantic_dedup(
        emb, threshold=0.95, n_centroids=256, assignment="exact"
    )
    au = simsearch.semantic_dedup(
        emb, threshold=0.95, n_centroids=256, assignment="auto"
    )
    both = ex.select("vec_id", F.col("keep").alias("_ke")).join(
        au.select("vec_id", F.col("keep").alias("_ka")), "vec_id"
    )
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum((F.col("_ke") != F.col("_ka")).cast("long")).alias("n_keep_disagree"),
        (
            F.sum((F.col("_ke") != F.col("_ka")).cast("long"))
            <= F.count(F.lit(1)) * F.lit(0.02)
        ).alias("agree_ok"),
    )


# --- round-3 contract coverage: previously query-less operators --------------


def q_teo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Teager Energy Operator (reference core.py:528-535) — two chained
    # derivative windows; arithmetic transliterated on both engines, so the
    # doubles are bit-identical and no rounding is applied.
    out = ops_windows.teo(_ts(spark, sf_dir))
    return out.select("series_id", "time", "value")


SQL_TEO = f"""
WITH {TS_SQL},
w1 AS (
  SELECT series_id, "time", value,
         lag(value) OVER win AS vp, lead(value) OVER win AS vn,
         lag("time") OVER win AS tp, lead("time") OVER win AS tn
  FROM ts WINDOW win AS (PARTITION BY series_id ORDER BY "time")
),
d1 AS (
  SELECT series_id, "time", value,
         CASE WHEN tp IS NULL THEN (vn - value) / (tn - "time")
              WHEN tn IS NULL THEN (value - vp) / ("time" - tp)
              ELSE (vn - vp) / (tn - tp) END AS d1
  FROM w1
),
w2 AS (
  SELECT series_id, "time", value, d1,
         lag(d1) OVER win AS dp, lead(d1) OVER win AS dn,
         lag("time") OVER win AS tp, lead("time") OVER win AS tn
  FROM d1 WINDOW win AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, "time",
       d1 * d1 - value * (CASE WHEN tp IS NULL THEN (dn - d1) / (tn - "time")
                               WHEN tn IS NULL THEN (d1 - dp) / ("time" - tp)
                               ELSE (dn - dp) / (tn - tp) END) AS value
FROM w2
"""


def q_convolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # asymmetric 3-tap FIR, mirror edges (reference convolve, core.py:442-457)
    # — exercises the kernel flip; identical mul/add order on both engines
    out = ops_clean.convolve(_ts(spark, sf_dir), [0.5, 0.3, 0.2])
    return out.select("series_id", "time", "value")


SQL_CONVOLVE = f"""
WITH {TS_SQL},
t0 AS (
  SELECT series_id, "time", value,
         row_number() OVER w AS rn, count(*) OVER (PARTITION BY series_id) AS n,
         min("time") OVER (PARTITION BY series_id) AS tmin,
         max("time") OVER (PARTITION BY series_id) AS tmax
  FROM ts WINDOW w AS (PARTITION BY series_id ORDER BY "time")
),
padded AS (
  SELECT series_id, "time", value, 0 AS pad FROM ts
  UNION ALL
  SELECT series_id, 2 * tmin - "time", value, 1 FROM t0 WHERE rn = 2
  UNION ALL
  SELECT series_id, 2 * tmax - "time", value, 1 FROM t0 WHERE rn = n - 1
),
conv AS (
  SELECT series_id, "time", pad,
         0.0 + 0.2 * lag(value) OVER w + 0.3 * value + 0.5 * lead(value) OVER w AS v
  FROM padded WINDOW w AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, "time", v AS value FROM conv WHERE pad = 0
"""


def q_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # np.pad(reflect) row generation (reference core.py:726-739) — padded
    # times are window arithmetic on existing doubles: bit-exact, no rounding
    out = ops_windows.pad_reflect(_ts(spark, sf_dir), 2)
    return out.select("series_id", "time", "value")


SQL_PAD = f"""
WITH {TS_SQL},
t0 AS (
  SELECT series_id, "time", value,
         row_number() OVER w AS rn, count(*) OVER (PARTITION BY series_id) AS n,
         min("time") OVER (PARTITION BY series_id) AS tmin,
         max("time") OVER (PARTITION BY series_id) AS tmax
  FROM ts WINDOW w AS (PARTITION BY series_id ORDER BY "time")
)
SELECT series_id, 2 * tmin - "time" AS "time", value FROM t0 WHERE rn >= 2 AND rn <= 3
UNION ALL
SELECT series_id, "time", value FROM ts
UNION ALL
SELECT series_id, 2 * tmax - "time" AS "time", value FROM t0 WHERE rn >= n - 2 AND rn <= n - 1
"""


GLS_WINDOW_NF = 64


def q_gls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spectral window function (reference spectral.py:165-167): GLS of the
    # constant-1 signal, fit_mean=False; YY is exactly 1 so the normalized
    # power needs no division tweak
    from periodicity_spark.spectral.gls import GLS

    grid = uniform_freq_grid(spark, GLS_FMIN, GLS_DF, GLS_WINDOW_NF)
    pg = GLS().window(_ts(spark, sf_dir), freq_grid=grid, min_count=GLS_MIN_N)
    return pg.select("series_id", "frequency", F.round("power", 6).alias("power"))


SQL_GLS_WINDOW = f"""
WITH {TS_SQL},
pre AS (
  SELECT series_id, count(*)::DOUBLE AS n
  FROM ts GROUP BY 1 HAVING count(*) >= {GLS_MIN_N}
),
grid AS (SELECT {GLS_FMIN} + {GLS_DF} * unnest(range({GLS_WINDOW_NF})) AS frequency),
z AS (
  SELECT t.series_id, g.frequency, 1.0 / p.n AS w,
         sin(2 * pi() * g.frequency * t."time") AS s,
         cos(2 * pi() * g.frequency * t."time") AS c
  FROM ts t JOIN pre p USING (series_id) CROSS JOIN grid g
),
sums AS (
  SELECT series_id, frequency,
    sum(w * s) AS s1, sum(w * c) AS c1,
    sum(w * (2 * s * c)) AS s2, sum(w * (1 - 2 * s * s)) AS c2
  FROM z GROUP BY series_id, frequency
),
fin AS (SELECT series_id, frequency, s1, c1, s2, c2, s2 / c2 AS t2w FROM sums)
SELECT series_id, frequency, round(
    pow(c1 * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) + s1 * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2)
    / (0.5 * (1 + c2 * (1 / sqrt(1 + t2w * t2w)) + s2 * (t2w / sqrt(1 + t2w * t2w))))
    +
    pow(s1 * (sqrt(0.5) * sqrt(1 + 1 / sqrt(1 + t2w * t2w))) - c1 * (sqrt(0.5) * sign(t2w / sqrt(1 + t2w * t2w)) * sqrt(1 - 1 / sqrt(1 + t2w * t2w))), 2)
    / (0.5 * (1 - c2 * (1 / sqrt(1 + t2w * t2w)) - s2 * (t2w / sqrt(1 + t2w * t2w)))), 6) AS power
FROM fin
"""


def q_coi_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cone-of-influence predicate (reference mask_coi, timefrequency.py:256-262)
    # over a native TF lattice (ts × fixed power-of-two frequencies, so
    # 1/frequency is exact); counts per (series, frequency) keep rows bounded
    from periodicity_spark.timefrequency import with_coi_mask

    freqs = spark.createDataFrame(
        [(0.25,), (0.5,), (1.0,), (2.0,), (4.0,)], "frequency double"
    )
    tf = (
        _ts(spark, sf_dir)
        .crossJoin(F.broadcast(freqs))
        .select("series_id", "time", "frequency")
    )
    out = with_coi_mask(tf)
    return out.groupBy("series_id", "frequency").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("in_coi").cast("long")).alias("n_in_coi"),
    )


SQL_COI_MASK = f"""
WITH {TS_SQL},
b AS (SELECT series_id, min("time") AS t0, max("time") AS t1 FROM ts GROUP BY 1),
f AS (SELECT unnest([0.25, 0.5, 1.0, 2.0, 4.0]) AS frequency),
tf AS (
  SELECT t.series_id, t."time", f.frequency, b.t0, b.t1
  FROM ts t CROSS JOIN f JOIN b ON t.series_id = b.series_id
)
SELECT series_id, frequency, count(*)::BIGINT AS n_rows,
       sum((sqrt(2) * (1.0 / frequency) < least("time" - t0, t1 - "time"))::BIGINT)::BIGINT AS n_in_coi
FROM tf GROUP BY 1, 2
"""


def q_orthogonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orthogonality (pairwise Pearson) matrix (reference
    # decomposition.py:361-375) driven by a native mode stack (value / lag /
    # rolling mean) so the corr self-join has an exact SQL twin; the
    # EMD-backed input path is exercised rows-only via q_emd
    from periodicity_spark.decomposition.emd import orthogonality_matrix

    ts = _ts(spark, sf_dir)
    w = Window.partitionBy("series_id").orderBy("time")
    m1 = ts.select("series_id", "time", F.lit(1).alias("mode"), F.col("value"))
    m2 = ts.select(
        "series_id", "time", F.lit(2).alias("mode"),
        F.lag("value").over(w).alias("value"),
    )
    m3 = ts.select(
        "series_id", "time", F.lit(3).alias("mode"),
        F.avg("value").over(w.rowsBetween(-1, 1)).alias("value"),
    )
    modes = m1.unionByName(m2).unionByName(m3)
    out = orthogonality_matrix(modes)
    return out.select(
        "series_id", "mode_i", "mode_j", F.round("corr", 6).alias("corr")
    )


SQL_ORTHOGONALITY = f"""
WITH {TS_SQL},
m AS (
  SELECT series_id, "time", 1 AS mode, value FROM ts
  UNION ALL
  SELECT series_id, "time", 2 AS mode,
         lag(value) OVER (PARTITION BY series_id ORDER BY "time") AS value
  FROM ts
  UNION ALL
  SELECT series_id, "time", 3 AS mode,
         avg(value) OVER (PARTITION BY series_id ORDER BY "time"
                          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS value
  FROM ts
)
SELECT a.series_id, a.mode AS mode_i, b.mode AS mode_j,
       round(corr(a.value, b.value), 6) AS corr
FROM m a JOIN m b ON a.series_id = b.series_id AND a."time" = b."time"
GROUP BY 1, 2, 3
"""


def q_lmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Local Mean Decomposition (reference decomposition.py:146-229) —
    # iterative sifting kernel, rows-only; aggregated so the row count is a
    # stable per-(series, mode) summary
    from periodicity_spark.decomposition.emd import lmd_modes

    modes = lmd_modes(_ts(spark, sf_dir))
    return modes.groupBy("series_id", "mode").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("amp") * F.col("func")), 6).alias("recon_sum"),
    )


def q_ceemdan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CEEMDAN (reference decomposition.py:231-359), one bucketed Arrow task
    # per series; per-mode energies, rows-only (white-noise ensemble — no
    # SQL twin; differentials in tests/)
    from periodicity_spark.decomposition.ceemdan import CEEMDAN

    modes = CEEMDAN(ensemble_size=8, random_seed=7)(_ts(spark, sf_dir))
    return modes.groupBy("series_id", "mode").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value") * F.col("value")), 6).alias("energy"),
    )


def q_denoise(spark: SparkSession, sf_dir: str) -> DataFrame:
    # db4 wavelet shrinkage (reference timefrequency.py:151-159), σ from the
    # per-series robust noise estimate — DWT kernel path, rows-only
    from periodicity_spark.timefrequency import denoise as tf_denoise

    out = tf_denoise(_ts(spark, sf_dir))
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


def q_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inverse CWT (reference reconstruct, timefrequency.py:162-167) over the
    # coefficient-carrying WPS rows — FFT-convolution kernel upstream, so
    # rows-only; the roundtrip invariant is unit-tested
    from periodicity_spark.timefrequency import reconstruct as tf_reconstruct
    from periodicity_spark.timefrequency import wps as tf_wps

    tf = tf_wps(_ts(spark, sf_dir), [0.5, 1.0, 2.0, 4.0, 8.0], with_coefs=True)
    out = tf_reconstruct(tf)
    return out.select("series_id", "time", F.round("value", 6).alias("value"))


# --- round-3: streaming contract queries --------------------------------------
# Each runs the Structured Streaming graph over the events parquet with an
# availableNow trigger into a memory sink, then returns the drained batch
# result — so the STREAMING plan (watermarks, windows, state) is what the
# correctness gate checks, against the same DuckDB oracles as the batch ops.

EPOCH_US = 1704067200000000  # 2024-01-01, the `time`-column origin
DAY_US = 86400000000.0


def _run_stream(out: DataFrame, mode: str) -> DataFrame:
    import uuid

    name = "q" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out.sparkSession.table(name)


def _ts_days(col: str):
    return (F.unix_micros(F.col(col)) - F.lit(EPOCH_US)) / F.lit(DAY_US)


def q_stream_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tumbling-window mean (streaming twin of downsample, SURVEY §2.11);
    # complete output mode so end-of-stream windows are emitted
    from periodicity_spark.streaming.ops import events_stream, stream_downsample

    out = stream_downsample(events_stream(spark, sf_dir))
    tbl = _run_stream(out, "complete")
    return tbl.select(
        "series_id",
        _ts_days("t_start").alias("t_start"),
        _ts_days("t_end").alias("t_end"),
        F.round("value", 6).alias("value"),
        F.col("n"),
    )


SQL_STREAM_DOWNSAMPLE = f"""
WITH e AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         epoch_us(ts) AS us, value
  FROM events
),
b AS (SELECT series_id, us // 86400000000 AS day, value FROM e)
SELECT series_id,
       (day * 86400000000 - {EPOCH_US}) / {DAY_US} AS t_start,
       ((day + 1) * 86400000000 - {EPOCH_US}) / {DAY_US} AS t_end,
       round(avg(value), 6) AS value,
       count(*)::BIGINT AS n
FROM b GROUP BY series_id, day
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window segmentation (streaming split()); append mode emits the
    # sessions the advancing watermark has finalized — the oracle applies the
    # same cutoff (session end ≤ max event time − watermark delay)
    from periodicity_spark.streaming.ops import events_stream, stream_sessionize

    out = stream_sessionize(events_stream(spark, sf_dir))
    tbl = _run_stream(out, "append")
    return tbl.select(
        "series_id",
        _ts_days("t_start").alias("t_start"),
        _ts_days("t_end").alias("t_end"),
        F.col("n"),
        F.round("mean_value", 6).alias("mean_value"),
    )


SQL_STREAM_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         epoch_us(ts) AS us, value
  FROM events
),
mx AS (SELECT max(us) AS maxus FROM e),
o AS (
  SELECT series_id, us, value,
         CASE WHEN us - lag(us) OVER (PARTITION BY series_id ORDER BY us)
                   >= 21600000000 THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT series_id, us, value,
         sum(brk) OVER (PARTITION BY series_id ORDER BY us) AS seg
  FROM o
),
agg AS (
  SELECT series_id, seg, min(us) AS start_us, max(us) + 21600000000 AS end_us,
         count(*)::BIGINT AS n, round(avg(value), 6) AS mean_value
  FROM s GROUP BY 1, 2
)
SELECT series_id,
       (start_us - {EPOCH_US}) / {DAY_US} AS t_start,
       (end_us - {EPOCH_US}) / {DAY_US} AS t_end,
       n, mean_value
FROM agg, mx WHERE end_us <= maxus - 172800000000
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # watermark-bounded exactly-once dedup on a DOUBLED stream (two file
    # sources unioned): every event arrives twice, the state drops the copy
    from periodicity_spark.streaming.ops import events_stream, stream_dedup

    doubled = events_stream(spark, sf_dir).unionByName(
        events_stream(spark, sf_dir)
    )
    out = stream_dedup(doubled)
    tbl = _run_stream(out, "append")
    return tbl.select(
        "series_id", _ts_days("ts").alias("time"), F.col("value")
    )


SQL_STREAM_DEDUP = f"""
WITH {TS_SQL}
SELECT DISTINCT series_id, "time", value FROM ts
"""


def q_stream_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stateful forward-fill (applyInPandasWithState): every 7th event value
    # is nulled upstream, the state carries the last non-null across batches
    from periodicity_spark.streaming.ops import events_stream, stream_ffill

    ev = events_stream(spark, sf_dir, keep_event_id=True)
    ev = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    ).drop("event_id")
    out = stream_ffill(ev)
    tbl = _run_stream(out, "append")
    return tbl.select(
        "series_id", _ts_days("ts").alias("time"), F.col("filled")
    )


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (streaming/ops.stream_funnel): every
    purchase paired with same-user clicks in the preceding 6 hours. Both
    sides watermarked; the time-range condition bounds join state. The
    availableNow drain over the static source is the complete join — the
    oracle is the equivalent batch self-join."""
    from periodicity_spark.streaming.ops import events_stream_raw, stream_funnel

    out = stream_funnel(events_stream_raw(spark, sf_dir))
    tbl = _run_stream(out, "append")
    return tbl.select(
        "user_id",
        "first_id",
        "then_id",
        _ts_days("first_ts").alias("first_t"),
        _ts_days("then_ts").alias("then_t"),
    )


SQL_STREAM_FUNNEL = f"""
SELECT c.user_id,
       c.event_id AS first_id,
       p.event_id AS then_id,
       (epoch_us(c.ts) - {EPOCH_US}) / {DAY_US} AS first_t,
       (epoch_us(p.ts) - {EPOCH_US}) / {DAY_US} AS then_t
FROM events c JOIN events p
  ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts > c.ts
  AND epoch_us(p.ts) <= epoch_us(c.ts) + 21600000000
"""


def q_stream_gls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GLS periodogram (streaming/gls.py): per-(series, frequency)
    raw trig sums accumulate across micro-batches (complete mode — state is
    series × grid rows of 9 doubles, bounded by key cardinality, not stream
    length); the power formula is a stateless finish over the drained
    aggregate. Same fixed 128-point grid and min_count as gls_power, so the
    ORACLE IS gls_power's — a streaming flagship with an exact SQL oracle."""
    from periodicity_spark.spectral.gls import uniform_freq_grid
    from periodicity_spark.streaming.gls import gls_power_from_sums, stream_gls_sums
    from periodicity_spark.streaming.ops import events_stream

    grid = uniform_freq_grid(spark, GLS_FMIN, GLS_DF, GLS_NF)
    sums = stream_gls_sums(events_stream(spark, sf_dir), grid)
    drained = _run_stream(sums, "complete")
    pw = gls_power_from_sums(drained, min_count=GLS_MIN_N)
    return pw.select("series_id", "frequency", F.round("power", 6).alias("power"))


def q_stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_zscore — stateful running-Welford anomaly scores:
    each event scored against all PRIOR events of its series (min_n=10
    warm-up). Oracle: the same prefix statistics as a DuckDB window
    (UNBOUNDED PRECEDING .. 1 PRECEDING)."""
    from periodicity_spark.streaming.ops import events_stream, stream_zscore

    ev = events_stream(spark, sf_dir)
    out = stream_zscore(ev, z_threshold=3.0, min_n=10)
    tbl = _run_stream(out, "append")
    return tbl.select(
        "series_id",
        _ts_days("ts").alias("time"),
        F.round("z", 6).alias("z"),
        "anomaly",
    )


SQL_STREAM_ZSCORE = f"""
WITH e AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         epoch_us(ts) AS us, value
  FROM events
),
w AS (
  SELECT series_id, us, value,
         count(value) OVER pw AS cnt,
         avg(value) OVER pw AS mu,
         var_samp(value) OVER pw AS var
  FROM e
  WINDOW pw AS (PARTITION BY series_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT series_id, (us - {EPOCH_US}) / {DAY_US} AS "time",
       CASE WHEN cnt >= 10 AND var > 0
            THEN round((value - mu) / sqrt(var), 6) END AS z,
       coalesce(CASE WHEN cnt >= 10 AND var > 0
                     THEN abs((value - mu) / sqrt(var)) > 3.0 END,
                false) AS anomaly
FROM w
"""


SQL_STREAM_FFILL = f"""
WITH e AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         epoch_us(ts) AS us,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
  FROM events
)
SELECT series_id, (us - {EPOCH_US}) / {DAY_US} AS "time",
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY series_id ORDER BY us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM e
"""


def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_slide — 2-day windows sliding by 1 day: every
    event feeds TWO overlapping windows (epoch-aligned starts d−1 and d).
    Oracle: union of the two shifted tumbling assignments."""
    from periodicity_spark.streaming.ops import events_stream, stream_slide

    out = stream_slide(events_stream(spark, sf_dir))
    tbl = _run_stream(out, "complete")
    return tbl.select(
        "series_id",
        _ts_days("t_start").alias("t_start"),
        _ts_days("t_end").alias("t_end"),
        F.round("value", 6).alias("value"),
        F.col("n"),
    )


SQL_STREAM_SLIDE = f"""
WITH e AS (
  SELECT user_id::VARCHAR || '/' || event_type AS series_id,
         epoch_us(ts) AS us, value
  FROM events
),
b AS (SELECT series_id, us // 86400000000 AS day, value FROM e),
x AS (
  SELECT series_id, day AS wstart, value FROM b
  UNION ALL
  SELECT series_id, day - 1 AS wstart, value FROM b
)
SELECT series_id,
       (wstart * 86400000000 - {EPOCH_US}) / {DAY_US} AS t_start,
       ((wstart + 2) * 86400000000 - {EPOCH_US}) / {DAY_US} AS t_end,
       round(avg(value), 6) AS value,
       count(*)::BIGINT AS n
FROM x GROUP BY series_id, wstart
"""


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_topk — stateful exact top-3 per event_type
    (applyInPandasWithState, state = the running top-k arrays, constant
    per key). Each batch re-emits the updated top-k with a per-key seq;
    the max-seq emission is the exact top-k of the drained stream, so the
    oracle is topk_events' batch SQL verbatim."""
    from periodicity_spark.streaming.ops import events_stream_raw, stream_topk

    ev = events_stream_raw(spark, sf_dir)
    out = stream_topk(ev, k=3)
    tbl = _run_stream(out, "update")
    w = Window.partitionBy("event_type")
    return (
        tbl.withColumn("_mx", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("_mx"))
        .select("event_type", "event_id", "value", "rank")
    )


SQL_STREAM_TOPK = SQL_TOPK_EVENTS


def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_neardup — ingestion-time MinHash-LSH near-dup
    candidates: in-row banded signatures (stateless projection) feed one
    stateful (band, sig) bucket operator whose state is the doc-id list;
    the drained DISTINCT pair set equals the batch lsh_candidate_pairs
    exactly (no bucket exceeds the cap at this scale — asserted by the
    oracle row count)."""
    from periodicity_spark.streaming.ops import docs_stream, stream_neardup

    out = stream_neardup(docs_stream(spark, sf_dir))
    tbl = _run_stream(out, "update")
    return tbl.select("d1", "d2").distinct()


SQL_STREAM_NEARDUP = f"""
WITH {_SQL_MINHASH_PAIRS_CTES}
SELECT d1, d2 FROM cand
"""


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed GLS over every event series at sf0.001 →
    best period per series."""
    return q_gls_best_period(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ts_stats": q_ts_stats,
        "value_quantiles": q_value_quantiles,
        "roll_time": q_roll_time,
        "ewma": q_ewma,
        "downsample_daily": q_downsample_daily,
        "fold_phase": q_fold_phase,
        "sessionize": q_sessionize,
        "cohort_retention": q_cohort_retention,
        "derivative": q_derivative,
        "zero_crossings": q_zero_crossings,
        "peaks": q_peaks,
        "top3_peaks": q_top3_peaks,
        "interpolate_linear": q_interpolate_linear,
        "ffill": q_ffill,
        "smooth_boxcar3": q_smooth_boxcar3,
        "hist": q_hist,
        "acf_lag": q_acf_lag,
        "daily_corr": q_daily_corr,
        "polyfit": q_polyfit,
        "gls_power": q_gls_power,
        "gls_arrow": q_gls_arrow,
        "gls_best_period": q_gls_best_period,
        "gls_default_grid": q_gls_default_grid,
        "psort_by_peak": q_psort_by_peak,
        "periods_at_half_max": q_periods_at_half_max,
        "downsample_median": q_downsample_median,
        "stringlength": q_stringlength,
        "pdm_theta": q_pdm_theta,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "tpch_q5": q_tpch_q5,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q18": q_tpch_q18,
        "tpch_q4": q_tpch_q4,
        "tpch_q10": q_tpch_q10,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q17": q_tpch_q17,
        "tpch_q19": q_tpch_q19,
        "tpch_q13": q_tpch_q13,
        "tpch_q22": q_tpch_q22,
        "tpch_q21": q_tpch_q21,
        "tpch_q2": q_tpch_q2,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "embedding_centroids": q_embedding_centroids,
        "embed_quantize": q_embed_quantize,
        "events_json": q_events_json,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_minhash_fallback": q_dedup_minhash_fallback,
        "dedup_components": q_dedup_components,
        "dedup_keep": q_dedup_keep,
        "cross_dup": q_cross_dup,
        "topk_events": q_topk_events,
        "text_stats": q_text_stats,
        "stopword_hits": q_stopword_hits,
        "text_quality": q_text_quality,
        "corpus_curate": q_corpus_curate,
        "boilerplate_rm": q_boilerplate_rm,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "token_counts": q_token_counts,
        "repetition_stats": q_repetition,
        "decontaminate": q_decontaminate,
        "lm_score": q_lm_score,
        "winnow_fp": q_winnow_fp,
        "top_keywords": q_top_keywords,
        "kmv_distinct": q_kmv_distinct,
        "sample_split": q_sample_split,
        "dataset_mix": q_dataset_mix,
        "domain_cap": q_domain_cap,
        "uniform_sample_k": q_uniform_sample_k,
        "pps_sample": q_pps_sample,
        "leak_split": q_leak_split,
        "pii_scrub": q_pii_scrub,
        "pack_chunks": q_pack_chunks,
        "image_resize": q_image_resize,
        "frame_sample": q_frame_sample,
        "simsearch_topk": q_simsearch_topk,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "roll3": q_roll3,
        "slice_pos": q_slice_pos,
        "fold_profile": q_fold_profile,
        "timeshift_scale": q_timeshift_scale,
        "drop_positions": q_drop_positions,
        "union_overlap": q_union_overlap,
        "fill_gaps_count": q_fill_gaps_count,
        "interp_halfday": q_interp_halfday,
        "noise_estimate": q_noise_estimate,
        "gls_model_fit": q_gls_model_fit,
        # UDF/approx paths — no SQL oracle (driver does rows-only check)
        "acf_fft": q_acf_fft,
        "peak_prominence": q_peak_prominence,
        "multimodal_features": q_multimodal_features,
        "audio_features": q_audio_features,
        "image_dhash": q_image_dhash,
        "frame_motion": q_frame_motion,
        "simsearch_lsh": q_simsearch_lsh,
        "simsearch_mllib": q_simsearch_mllib,
        "simsearch_auto": q_simsearch_auto,
        # round 9 — cap-drop observability + the router's LSH branch
        "simsearch_auto_lsh": q_simsearch_auto_lsh,
        # round 9 continuation — two-level assignment agreement gate
        "semantic_auto_gate": q_semantic_auto_gate,
        "minhash_cap_audit": q_minhash_cap_audit,
        "cosine_cap_audit": q_cosine_cap_audit,
        "butterworth_band": q_butterworth_band,
        "acf_period_quality": q_acf_period_quality,
        "emd": q_emd,
        "wps_gwps": q_wps_gwps,
        "hht_marginal": q_hht_marginal,
        "composite_spectrum": q_composite_spectrum,
        "psd": q_psd,
        "gls_bootstrap_fap": q_gls_bootstrap_fap,
        "gp_map_period": q_gp_map_period,
        "gp_mcmc_celerite": q_gp_mcmc_celerite,
        "gaussian_prior": q_gaussian_prior,
        "envelope": q_envelope,
        "tf_downsample": q_tf_downsample,
        "gls_fast": q_gls_fast,
        "mirror_fill": q_mirror_fill,
        "interp_nearest": q_interp_nearest,
        "interp_spline": q_interp_spline,
        "interp_smooth": q_interp_smooth,
        "interp_quadratic": q_interp_quadratic,
        "simsearch_ivf": q_simsearch_ivf,
        "pca_embed": q_pca_embed,
        "semantic_dedup": q_semantic_dedup,
        "cosine_neardup": q_cosine_neardup,
        "cosine_neardup_fallback": q_cosine_neardup_fallback,
        "ngram_jaccard": q_ngram_jaccard,
        "psort_by_prominence": q_psort_by_prominence,
        "pg_stats": q_pg_stats,
        # round 3 — previously query-less operators
        "teo": q_teo,
        "convolve": q_convolve,
        "pad": q_pad,
        "gls_window": q_gls_window,
        "coi_mask": q_coi_mask,
        "orthogonality": q_orthogonality,
        "lmd": q_lmd,
        "ceemdan": q_ceemdan,
        "denoise": q_denoise,
        "reconstruct": q_reconstruct,
        # round 3 — streaming graphs drained through a memory sink
        "stream_downsample": q_stream_downsample,
        "stream_sessionize": q_stream_sessionize,
        "stream_dedup": q_stream_dedup,
        "stream_ffill": q_stream_ffill,
        "stream_zscore": q_stream_zscore,
        "stream_topk": q_stream_topk,
        "stream_slide": q_stream_slide,
        "stream_neardup": q_stream_neardup,
        "stream_gls": q_stream_gls,
        "stream_funnel": q_stream_funnel,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "ts_stats": SQL_TS_STATS,
        "value_quantiles": SQL_VALUE_QUANTILES,
        "roll_time": SQL_ROLL_TIME,
        "ewma": SQL_EWMA,
        "downsample_daily": SQL_DOWNSAMPLE_DAILY,
        "fold_phase": SQL_FOLD_PHASE,
        "sessionize": SQL_SESSIONIZE,
        "cohort_retention": SQL_COHORT_RETENTION,
        "derivative": SQL_DERIVATIVE,
        "zero_crossings": SQL_ZERO_CROSSINGS,
        "peaks": SQL_PEAKS,
        "top3_peaks": SQL_TOP3_PEAKS,
        "interpolate_linear": SQL_INTERPOLATE_LINEAR,
        "ffill": SQL_FFILL,
        "smooth_boxcar3": SQL_SMOOTH_BOXCAR3,
        "hist": SQL_HIST,
        "acf_lag": SQL_ACF_LAG,
        "daily_corr": SQL_DAILY_CORR,
        "polyfit": SQL_POLYFIT,
        "gls_power": SQL_GLS_POWER,
        "gls_arrow": SQL_GLS_POWER,
        "gls_best_period": SQL_GLS_BEST_PERIOD,
        "gls_default_grid": SQL_GLS_DEFAULT_GRID,
        "stringlength": SQL_STRINGLENGTH,
        "pdm_theta": SQL_PDM_THETA,
        "tpch_q1": SQL_TPCH_Q1,
        "tpch_q3": SQL_TPCH_Q3,
        "tpch_q6": SQL_TPCH_Q6,
        "tpch_q5": SQL_TPCH_Q5,
        "tpch_q14": SQL_TPCH_Q14,
        "tpch_q15": SQL_TPCH_Q15,
        "tpch_q18": SQL_TPCH_Q18,
        "tpch_q4": SQL_TPCH_Q4,
        "tpch_q10": SQL_TPCH_Q10,
        "tpch_q7": SQL_TPCH_Q7,
        "tpch_q8": SQL_TPCH_Q8,
        "tpch_q17": SQL_TPCH_Q17,
        "tpch_q19": SQL_TPCH_Q19,
        "tpch_q13": SQL_TPCH_Q13,
        "tpch_q22": SQL_TPCH_Q22,
        "tpch_q21": SQL_TPCH_Q21,
        "tpch_q2": SQL_TPCH_Q2,
        "tpch_q9": SQL_TPCH_Q9,
        "tpch_q11": SQL_TPCH_Q11,
        "tpch_q12": SQL_TPCH_Q12,
        "tpch_q16": SQL_TPCH_Q16,
        "tpch_q20": SQL_TPCH_Q20,
        "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
        "embed_quantize": SQL_EMBED_QUANTIZE,
        "events_json": SQL_EVENTS_JSON,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash": SQL_DEDUP_MINHASH,
        "dedup_minhash_fallback": SQL_DEDUP_MINHASH,
        "dedup_components": SQL_DEDUP_COMPONENTS,
        "dedup_keep": SQL_DEDUP_KEEP,
        "cross_dup": SQL_CROSS_DUP,
        "topk_events": SQL_TOPK_EVENTS,
        "text_stats": SQL_TEXT_STATS,
        "stopword_hits": SQL_STOPWORD_HITS,
        "text_quality": SQL_TEXT_QUALITY,
        "corpus_curate": SQL_CORPUS_CURATE,
        "boilerplate_rm": SQL_BOILERPLATE_RM,
        "lang_id": SQL_LANG_ID,
        "doc_fingerprint": SQL_DOC_FINGERPRINT,
        "token_counts": SQL_TOKEN_COUNTS,
        "repetition_stats": SQL_REPETITION,
        "decontaminate": SQL_DECONTAMINATE,
        "lm_score": SQL_LM_SCORE,
        "winnow_fp": SQL_WINNOW_FP,
        "top_keywords": SQL_TOP_KEYWORDS,
        "kmv_distinct": SQL_KMV_DISTINCT,
        "sample_split": SQL_SAMPLE_SPLIT,
        "dataset_mix": SQL_DATASET_MIX,
        "domain_cap": SQL_DOMAIN_CAP,
        "uniform_sample_k": SQL_UNIFORM_SAMPLE_K,
        "pps_sample": SQL_PPS_SAMPLE,
        "leak_split": SQL_LEAK_SPLIT,
        "pii_scrub": SQL_PII_SCRUB,
        "pack_chunks": SQL_PACK_CHUNKS,
        "image_resize": SQL_IMAGE_RESIZE,
        "frame_sample": SQL_FRAME_SAMPLE,
        "simsearch_topk": SQL_SIMSEARCH_TOPK,
        # auto routes to the exact scan at driver SFs (corpus < 100k), so
        # the exact SQL is its oracle; the strategy pick is what's gated
        "simsearch_auto": SQL_SIMSEARCH_TOPK,
        "simsearch_auto_lsh": SQL_SIMSEARCH_AUTO_LSH,
        "minhash_cap_audit": SQL_MINHASH_CAP_AUDIT,
        "cosine_cap_audit": SQL_COSINE_CAP_AUDIT,
        "simhash": SQL_SIMHASH,
        "simhash_neardup": SQL_SIMHASH_NEARDUP,
        "roll3": SQL_ROLL3,
        "slice_pos": SQL_SLICE_POS,
        "fold_profile": SQL_FOLD_PROFILE,
        "timeshift_scale": SQL_TIMESHIFT_SCALE,
        "drop_positions": SQL_DROP_POSITIONS,
        "union_overlap": SQL_UNION_OVERLAP,
        "fill_gaps_count": SQL_FILL_GAPS_COUNT,
        "interp_halfday": SQL_INTERP_HALFDAY,
        "noise_estimate": SQL_NOISE_ESTIMATE,
        "gls_model_fit": SQL_GLS_MODEL_FIT,
        "psort_by_peak": SQL_PSORT_BY_PEAK,
        "periods_at_half_max": SQL_PERIODS_AT_HALF_MAX,
        "downsample_median": SQL_DOWNSAMPLE_MEDIAN,
        "mirror_fill": SQL_MIRROR_FILL,
        "tf_downsample": SQL_TF_DOWNSAMPLE,
        "interp_nearest": SQL_INTERP_NEAREST,
        "cosine_neardup": SQL_COSINE_NEARDUP,
        "cosine_neardup_fallback": SQL_COSINE_NEARDUP,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "acf_fft": SQL_ACF_FFT,
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "peak_prominence": SQL_PEAK_PROMINENCE,
        "psort_by_prominence": SQL_PSORT_BY_PROMINENCE,
        "pg_stats": SQL_PG_STATS,
        "teo": SQL_TEO,
        "convolve": SQL_CONVOLVE,
        "pad": SQL_PAD,
        "gls_window": SQL_GLS_WINDOW,
        "coi_mask": SQL_COI_MASK,
        "orthogonality": SQL_ORTHOGONALITY,
        "stream_downsample": SQL_STREAM_DOWNSAMPLE,
        "stream_sessionize": SQL_STREAM_SESSIONIZE,
        "stream_dedup": SQL_STREAM_DEDUP,
        "stream_ffill": SQL_STREAM_FFILL,
        "stream_zscore": SQL_STREAM_ZSCORE,
        "stream_topk": SQL_STREAM_TOPK,
        "stream_slide": SQL_STREAM_SLIDE,
        "stream_neardup": SQL_STREAM_NEARDUP,
        # streaming GLS accumulates the same sums the batch operator
        # aggregates, so the batch oracle applies verbatim
        "stream_gls": SQL_GLS_POWER,
        "stream_funnel": SQL_STREAM_FUNNEL,
    }
