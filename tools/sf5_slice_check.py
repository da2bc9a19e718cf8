"""Restricted-compare verification for the four sf5 DISK-BOUND queries
(dedup_minhash, dedup_components, dedup_keep, leak_split — VERDICT r8 §
"What's missing" #3).

The full sf5 runs cannot fit this box: the minhash shingle shuffle alone is
~50-70 GB at sf1 and ~5× that at sf5 (the box has 252 GB total). What CAN
be verified is the same pipelines over a DETERMINISTIC SLICE of the sf5
corpus — ``doc_id < 500000``, i.e. 500k of the 2.5M sf5 documents, the
largest slice whose shuffle footprint is proven to fit (it is sf1-sized).
CONTIGUOUS range, not modulo: the generator plants near-dup twins within
±7 doc_ids of each other (measured on the verified sf1 pair set, p90 = 7),
so a modulo slice separates every twin pair (2 surviving pairs) while a
range slice keeps the full planted-pair structure inside the slice.
This checks the sf5 DATA (longer docs, different cluster mix) through the
exact same code path with the exact same staged DuckDB oracle, at the
scale decade the hardware physically holds; the full-sf5 plans differ only
in partition count (banded/bucketed joins, no all-pairs stage — the same
plans that are oracle-exact at full sf1).

Builds ``.scale/sf5_docslice/`` (sliced documents + symlinks for every
other table) and then drives tools/soak_check.py's two phases over the
four queries.

Usage: python tools/sf5_slice_check.py [build|spark|oracle|all]
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF5 = "/root/repo/.scale/sf5"
SLICE = "/root/repo/.scale/sf5_docslice"
FAMILY = ["dedup_minhash", "dedup_components", "dedup_keep", "leak_split"]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "embeddings",
]


def build() -> None:
    os.makedirs(SLICE, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(SLICE, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"../sf5/{t}.parquet", dst)
    dest = os.path.join(SLICE, "documents.parquet")
    if os.path.exists(dest):
        print(f"slice already built: {dest}")
        return
    import duckdb

    # DuckDB writes a single file (soak_check's oracle reads
    # '{dir}/documents.parquet' as a file OR a dir; the sliced table is
    # ~1/5 of sf5's documents, single-file is fine and Spark splits it
    # into row-group partitions on read)
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{SF5}/documents.parquet')"
        f" WHERE doc_id < 500000) TO '{dest}' (FORMAT PARQUET)"
    )
    n = con.sql(f"SELECT count(*) FROM read_parquet('{dest}')").fetchone()[0]
    print(f"built {dest}: {n} docs (sf5 slice doc_id < 500000)")


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode in ("build", "all"):
        build()
    rc = 0
    if mode in ("spark", "all"):
        # the documented minhash-family scale knobs (PROGRESS r8): the 8g
        # default execution pool cannot hold 32 concurrent verify-join
        # tasks' array buffers at 500k docs
        env = dict(os.environ,
                   SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
                   SPARK_SHUFFLE_PARTITIONS=os.environ.get("SPARK_SHUFFLE_PARTITIONS", "96"))
        rc |= subprocess.call(
            [sys.executable, "tools/soak_check.py", SLICE, "spark", *FAMILY],
            cwd="/root/repo", env=env,
        )
    if mode in ("oracle", "all"):
        rc |= subprocess.call(
            [sys.executable, "tools/soak_check.py", SLICE, "oracle", *FAMILY],
            cwd="/root/repo",
        )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
