"""Driver-style correctness self-check: run every queries() entry on Spark
AND its oracle_sql() on DuckDB at the given sf, compare row count, column
names, and values (order-insensitive, exact after the queries' own rounding).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from periodicity_spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count differs: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = normalize(spark_df), normalize(duck_df)
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col], b[col]
            # the driver hashes TYPED values — a DuckDB HUGEINT (object dtype
            # after .df()) vs Spark int64 mismatches even when values agree.
            # Width-only differences (int32 vs int64) hash the same, so only
            # flag when the dtype KIND differs (object vs int, int vs float).
            if av.dtype.kind != bv.dtype.kind:
                problems.append(
                    f"col {col}: dtype kind differs spark={av.dtype} duck={bv.dtype} "
                    f"(driver hash would mismatch — cast the oracle SQL)"
                )
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                av = av.astype(float)
                bv = bv.astype(float)
                both_nan = av.isna() & bv.isna()
                eq = (av == bv) | both_nan
                if not eq.all():
                    bad = (~eq).idxmax()
                    diff = (av - bv).abs().max()
                    problems.append(
                        f"col {col}: {int((~eq).sum())} mismatches, max|Δ|={diff:.3e}, "
                        f"first at row {bad}: {av[bad]!r} vs {bv[bad]!r}"
                    )
            else:
                eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
                if not eq.all():
                    bad = (~eq).idxmax()
                    problems.append(
                        f"col {col}: {int((~eq).sum())} mismatches, first at row {bad}: "
                        f"{av[bad]!r} vs {bv[bad]!r}"
                    )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    # scale-soak knob: the heavy oracles (recursive minhash CTEs at sf1+)
    # otherwise spill tens of GB to .tmp/ while the Spark session still
    # holds its shuffle files — the combined footprint exhausts the disk.
    # Keeping the oracle in RAM is both faster and disk-safe on this box.
    mem = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if mem:
        con.sql(f"SET memory_limit='{mem}'")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    import time as _time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = _time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {str(e)[:400]}")
            failures += 1
            continue
        t_spark = _time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows  spark={t_spark:.1f}s")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {str(e)[:400]}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"[FAIL] {name}: rows spark={len(sdf)} duck={len(ddf)}")
            for p in problems[:4]:
                print(f"       {p}")
        else:
            print(f"[OK]   {name}: {len(sdf)} rows match exactly  spark={t_spark:.1f}s")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
