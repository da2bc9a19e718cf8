"""Randomized-clean-data fuzz of the oracle contract: generate a fresh
dataset with the SAME schemas and value domains as the driver's testdata but
a different seed/distribution, then run every oracle-backed query Spark-vs-
DuckDB with the selfcheck comparator. The driver's correctness gate runs on
one fixed dataset — an oracle (or engine) whose equality silently depends on
that dataset's accidents (no dirty rows, a particular tie pattern, a lucky
rounding) passes it forever; it fails here on the first seed that breaks the
accident. Data is CLEAN by construction (no NULL/NaN), so every mismatch is
a real contract bug, never a documented dirty-data convention divergence.

Usage: python tools/fuzzcheck.py [seed] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

VOCAB = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query big "
    "vector sort stream group filter dup"
).split()


def generate(
    out_dir: str,
    seed: int,
    scale: int = 1,
    row_group_size: int | None = None,
    only: set[str] | None = None,
) -> None:
    """Write all ten tables as single parquet FILES under out_dir.

    row_group_size caps parquet row-group length. Spark's split granularity
    inside one file is the row group, so the pyarrow default (1 Mi rows)
    would leave a scale=1000 lineitem scan with only ~6 splittable units;
    the scale soak passes ~256k so a single file still fans out to 32 tasks.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)

    def write(name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
        if only is not None and name not in only:
            return
        kw = {"row_group_size": row_group_size} if row_group_size else {}
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False),
            f"{out_dir}/{name}.parquet",
            **kw,
        )

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(
        "region",
        pd.DataFrame({"r_regionkey": range(5), "r_name": regions}),
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    n_nat = 25
    write(
        "nation",
        pd.DataFrame(
            {
                "n_nationkey": range(n_nat),
                "n_name": [f"NATION_{i}" for i in range(n_nat)],
                "n_regionkey": rng.integers(0, 5, n_nat),
            }
        ),
        pa.schema(
            [
                ("n_nationkey", pa.int32()),
                ("n_name", pa.string()),
                ("n_regionkey", pa.int32()),
            ]
        ),
    )
    n_cust = 150 * scale
    write(
        "customer",
        pd.DataFrame(
            {
                "c_custkey": range(1, n_cust + 1),
                "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                "c_nationkey": rng.integers(0, n_nat, n_cust),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )
    n_supp = 10 * scale
    write(
        "supplier",
        pd.DataFrame(
            {
                "s_suppkey": range(1, n_supp + 1),
                "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                "s_nationkey": rng.integers(0, n_nat, n_supp),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        pa.schema(
            [
                ("s_suppkey", pa.int64()),
                ("s_name", pa.string()),
                ("s_nationkey", pa.int32()),
                ("s_acctbal", pa.float64()),
            ]
        ),
    )
    n_part = 200 * scale
    write(
        "part",
        pd.DataFrame(
            {
                "p_partkey": range(1, n_part + 1),
                "p_name": [f"part {i}" for i in range(1, n_part + 1)],
                "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"],
                    n_part,
                ),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
            }
        ),
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
    )
    n_ord = 1500 * scale
    odate = pd.Timestamp("1995-01-01") + pd.to_timedelta(
        rng.integers(0, 2400, n_ord), unit="D"
    )
    write(
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": range(1, n_ord + 1),
                "o_custkey": rng.integers(1, n_cust + 1, n_ord),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord, p=[0.48, 0.48, 0.04]),
                "o_totalprice": np.round(rng.uniform(900, 350000, n_ord), 2),
                "o_orderdate": odate,
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        ),
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
    )
    n_li = 6000 * scale
    okeys = rng.integers(1, n_ord + 1, n_li)
    sdate = pd.Timestamp("1995-01-02") + pd.to_timedelta(
        rng.integers(0, 2400, n_li), unit="D"
    )
    write(
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": okeys,
                "l_partkey": rng.integers(1, n_part + 1, n_li),
                "l_suppkey": rng.integers(1, n_supp + 1, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype(float),
                "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": rng.choice(["N", "R", "A"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": sdate,
            }
        ),
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
    )

    # events: 15×scale users × 5 types — the driver testdata scales SERIES
    # COUNT with sf (sf0.01: 150 users × ~66 events; sf0.1: 1500 × ~66), and
    # that many-short-series shape is also the 100 TB claim; keep mean series
    # length ~66 as scale grows. Irregular timestamps over ~30 days, a mix
    # of periodic + trend + noise values so spectral operators see structure
    n_ev = 1000 * scale
    users = rng.integers(0, 15 * scale, n_ev)
    types = rng.choice(["signup", "click", "error", "view", "purchase"], n_ev)
    t0 = pd.Timestamp("2024-01-01")
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    tdays = secs / 86400.0
    vals = (
        np.sin(2 * np.pi * tdays / rng.uniform(0.5, 5.0))
        + 0.1 * tdays
        + rng.normal(0, 0.3, n_ev)
    )
    write(
        "events",
        pd.DataFrame(
            {
                "event_id": range(1, n_ev + 1),
                "ts": t0 + pd.to_timedelta(np.round(secs * 1e6), unit="us"),
                "user_id": users,
                "event_type": types,
                # full-precision doubles, deliberately NOT pre-rounded:
                # 6-decimal inputs make exact round-half boundaries common,
                # and a 1-ulp cross-engine aggregation-order difference at a
                # boundary flips the rounded 6th decimal — the documented
                # fundamental limit of rounded-sum comparison, not a bug
                # this fuzz gate should report
                "value": vals,
                "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )

    # documents: word streams over the shared vocab, with planted near-dups
    n_doc = 500 * scale
    texts = []
    for i in range(n_doc):
        n_tok = int(rng.integers(15, 100))
        texts.append(" ".join(rng.choice(VOCAB, n_tok)))
    # plant near-duplicates: ~5% of docs are light edits of an earlier doc
    for i in range(20, n_doc, 20):
        base = texts[i - 7]
        toks = base.split()
        j = int(rng.integers(0, len(toks)))
        toks[j] = str(rng.choice(VOCAB))
        texts[i] = " ".join(toks)
    write(
        "documents",
        pd.DataFrame(
            {
                "doc_id": range(n_doc),
                "text": texts,
                "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc),
                "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_doc)],
                "n_chars": [len(t) for t in texts],
            }
        ),
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )

    n_vec = 500 * scale
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    X = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    write(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": range(n_vec),
                "embedding": [row.astype(np.float32).tolist() for row in X],
                "label": labels.astype("int32"),
            }
        ),
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )


def main() -> int:
    import tempfile

    import duckdb

    import __spark_entry__ as entrymod
    from periodicity_spark import get_spark
    from tools.selfcheck import compare

    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    only = set(sys.argv[2:])
    out_dir = tempfile.mkdtemp(prefix=f"fuzz_seed{seed}_")
    generate(out_dir, seed)
    print(f"# generated seed={seed} at {out_dir}")

    spark = get_spark("fuzzcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out_dir}/{t}.parquet')"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name in sorted(queries):
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = queries[name](spark, out_dir).toPandas()
            ddf = con.sql(oracles[name]).df()
            problems = compare(name, sdf, ddf)
        except Exception as e:  # noqa: BLE001 — report, keep fuzzing
            problems = [f"error: {str(e)[:400]}"]
        if problems:
            failures += 1
            print(f"[FAIL] {name}: " + "; ".join(problems[:3]))
        else:
            print(f"[OK]   {name}: {len(sdf)} rows match exactly")
    print(f"\n{failures} failures (seed={seed})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
