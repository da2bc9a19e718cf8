"""Scale-soak correctness harness: the full-strength successor to the
round-7 slice checks.

Two sequenced phases so the Spark shuffle footprint and the DuckDB oracle
spill never share the disk (their COMBINED footprint is what exhausted the
box at sf1 in round 7 — each side alone fits):

  phase spark   one Spark subprocess runs each queries() entry and writes
                the result to {sf_dir}/_soak/{name}.parquet (counts + wall
                into {name}.meta.json), then EXITS — releasing every
                shuffle/checkpoint file before the oracle starts.
  phase oracle  a Spark-free process computes each oracle in DuckDB and
                compares against the saved parquet with COUNT + multiset
                EXCEPT ALL in both directions — exact multiset equality
                with no pandas materialization, so 100M+-row results
                compare in constant driver memory.

The four minhash-family queries (dedup_minhash, dedup_components,
dedup_keep, leak_split) get a STAGED oracle instead of their registered
single-statement SQL: each CTE stage materializes as a temp table that is
dropped as soon as its consumer is built (bounding peak disk), and the
transitive-closure `reach` CTE — whose O(Σ component²) row blowup spilled
>50 GB at sf1 — is replaced by iterative min-label propagation over the
edge list (O(E) per round, O(diameter) rounds; the same algorithm the
engine runs distributed, implemented independently on the oracle side).

Usage:
  python tools/soak_check.py SF_DIR spark  [query ...]
  python tools/soak_check.py SF_DIR oracle [query ...]
  python tools/soak_check.py SF_DIR report
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# queries whose oracle is produced by the staged minhash pipeline below
MINHASH_FAMILY = ["dedup_minhash", "dedup_components", "dedup_keep", "leak_split"]


def soak_dir(sf_dir: str) -> str:
    # results live under the repo's git-ignored .scale/, never inside the
    # sf dir itself (the driver testdata dirs are read-only)
    d = os.path.join(
        "/root/repo/.scale/_soak", os.path.basename(os.path.normpath(sf_dir))
    )
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------------------
# phase spark
# ---------------------------------------------------------------------------


def run_spark(sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entrymod
    from periodicity_spark import get_spark

    spark = get_spark("soak_spark")
    out = soak_dir(sf_dir)
    qs = entrymod.queries()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        dest = os.path.join(out, f"{name}.parquet")
        # drop any previous run's artifacts FIRST: a failure (or a write
        # that dies mid-overwrite) must not leave a stale meta+parquet for
        # the oracle phase to compare as if it were current
        meta_path = os.path.join(out, f"{name}.meta.json")
        if os.path.exists(meta_path):
            os.remove(meta_path)
        if os.path.exists(dest):
            import shutil

            shutil.rmtree(dest, ignore_errors=True)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").parquet(dest)
            n = spark.read.parquet(dest).count()
        except Exception as exc:  # noqa: BLE001 — record and continue the soak
            print(f"[SPARK-FAIL] {name}: {str(exc)[:300]}")
            failures += 1
            continue
        wall = time.time() - t0
        with open(meta_path, "w") as fh:
            json.dump({"rows": n, "wall_sec": round(wall, 2)}, fh)
        print(f"[spark] {name}: {n} rows in {wall:.1f}s")
    return failures


# ---------------------------------------------------------------------------
# phase oracle
# ---------------------------------------------------------------------------


def _connect(sf_dir: str):
    import duckdb

    # file-backed DB: spills and temp tables page to disk instead of RAM
    db = os.path.join(soak_dir(sf_dir), "oracle.duckdb")
    if os.path.exists(db):
        os.remove(db)
    con = duckdb.connect(db)
    # measured at sf1 (107M-shingle minhash derivation): 100GB limit +
    # 16 threads keeps every stage in RAM (sh 63s, mh 4s, zero .tmp);
    # an 80GB limit with default 32 threads ground the same aggregate
    # into a 74GB .tmp spill that exhausted the disk
    mem = os.environ.get("DUCKDB_MEMORY_LIMIT", "100GB")
    con.sql(f"SET memory_limit='{mem}'")
    con.sql(f"SET threads TO {os.environ.get('DUCKDB_THREADS', '16')}")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _compare(con, name: str, oracle_rel: str, sf_dir: str) -> list[str]:
    """COUNT + EXCEPT ALL multiset compare of {name}.parquet vs an oracle
    relation (a SQL string or a temp-table name). Column order normalized;
    both sides read inside the same DuckDB session, so value formatting and
    hash semantics are engine-consistent by construction.

    The oracle relation is MATERIALIZED into a temp table first: the
    compare needs it three times (count + both EXCEPT ALL directions), and
    re-executing a heavy oracle (the sf5 GLS trig-sum aggregate runs ~360 s
    and peaks tens of GB) three times is what OOM-killed the first sf5
    oracle run — the materialized result itself is small (output rows, not
    the aggregate's intermediate state) and pages to the file-backed DB."""
    src = os.path.join(soak_dir(sf_dir), f"{name}.parquet")
    if not os.path.isdir(src) and not os.path.exists(src):
        return [f"no spark result saved — run phase spark first ({src})"]
    spark_rel = f"SELECT * FROM read_parquet('{src}/*.parquet')"
    cols = [r[0] for r in con.sql(f"DESCRIBE {spark_rel}").fetchall()]
    collist = ", ".join(f'"{c}"' for c in sorted(cols))
    a = f"SELECT {collist} FROM ({spark_rel})"
    problems = []
    try:
        con.sql(f"CREATE OR REPLACE TEMP TABLE _ocmp AS SELECT {collist} FROM ({oracle_rel})")
        b = f"SELECT {collist} FROM _ocmp"
        na = con.sql(f"SELECT count(*) FROM ({a})").fetchone()[0]
        nb = con.sql(f"SELECT count(*) FROM ({b})").fetchone()[0]
        if na != nb:
            problems.append(f"row count differs: spark={na} oracle={nb}")
        extra = con.sql(f"({a}) EXCEPT ALL ({b}) LIMIT 3").fetchall()
        missing = con.sql(f"({b}) EXCEPT ALL ({a}) LIMIT 3").fetchall()
        if extra:
            problems.append(f"spark-only rows (≤3 shown): {extra}")
        if missing:
            problems.append(f"oracle-only rows (≤3 shown): {missing}")
    finally:
        con.sql("DROP TABLE IF EXISTS _ocmp")
    return problems


def _build_minhash_pairs(con) -> None:
    """Staged materialization of the minhash near-dup pair derivation —
    the same math as __spark_entry__'s registered CTE oracle, with each
    stage a temp table dropped after use so peak disk stays bounded
    (a monolithic CTE re-inlines `sh` into four consumers)."""
    import __spark_entry__ as entrymod

    mins = entrymod._MH_MINS
    bands = entrymod._MH_BANDS
    t0 = time.time()
    con.sql(
        """CREATE TEMP TABLE sh AS
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(text, i::INT, 5)), 1, 15))::BIGINT AS s,
               ('0x' || substr(md5(substr(text, i::INT, 5)), 16, 15))::BIGINT AS s2
        FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
              FROM documents WHERE length(text) >= 5)"""
    )
    print(f"  [oracle] sh: {con.sql('SELECT count(*) FROM sh').fetchone()[0]} rows "
          f"({time.time()-t0:.0f}s)")
    con.sql(f"CREATE TEMP TABLE mh AS SELECT doc_id,\n{mins}\nFROM sh GROUP BY 1")
    con.sql(f"CREATE TEMP TABLE bands AS\n{bands}")
    con.sql("DROP TABLE mh")
    con.sql(
        """CREATE TEMP TABLE capped AS
        SELECT * FROM bands
        QUALIFY count(*) OVER (PARTITION BY band, sig) <= 1000"""
    )
    con.sql("DROP TABLE bands")
    con.sql(
        """CREATE TEMP TABLE cand AS
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"""
    )
    con.sql("DROP TABLE capped")
    con.sql(
        """CREATE TEMP TABLE inter AS
        SELECT c.d1, c.d2, count(*) AS n_both
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
        GROUP BY 1, 2"""
    )
    con.sql("CREATE TEMP TABLE sizes AS SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1")
    con.sql("DROP TABLE sh")
    con.sql("DROP TABLE cand")
    con.sql(
        """CREATE TEMP TABLE pairs AS
        SELECT i.d1 AS d1, i.d2 AS d2,
               i.n_both / (z1.n_sh + z2.n_sh - i.n_both)::DOUBLE AS jaccard
        FROM inter i
        JOIN sizes z1 ON z1.doc_id = i.d1
        JOIN sizes z2 ON z2.doc_id = i.d2
        WHERE i.n_both / (z1.n_sh + z2.n_sh - i.n_both)::DOUBLE >= 0.4"""
    )
    con.sql("DROP TABLE inter")
    con.sql("DROP TABLE sizes")
    n = con.sql("SELECT count(*) FROM pairs").fetchone()[0]
    print(f"  [oracle] pairs: {n} rows ({time.time()-t0:.0f}s total)")


def _build_components(con) -> None:
    """Iterative min-label propagation over the pair list → temp table
    comp(doc_id, component_id). O(E) per round, O(component diameter)
    rounds — replaces the recursive transitive-closure CTE whose
    materialized reach set is O(Σ component²)."""
    con.sql(
        """CREATE TEMP TABLE edges AS
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION
        SELECT d2 AS a, d1 AS b FROM pairs"""
    )
    con.sql("CREATE TEMP TABLE lab AS SELECT DISTINCT a AS v, a AS comp FROM edges")
    changed = -1
    for rnd in range(1, 64):
        con.sql(
            """CREATE TEMP TABLE lab2 AS
            SELECT v, min(comp) AS comp FROM (
              SELECT v, comp FROM lab
              UNION ALL
              SELECT e.a AS v, l.comp AS comp
              FROM edges e JOIN lab l ON l.v = e.b
            ) GROUP BY v"""
        )
        changed = con.sql(
            """SELECT count(*) FROM lab2 JOIN lab USING (v)
               WHERE lab2.comp <> lab.comp"""
        ).fetchone()[0]
        con.sql("DROP TABLE lab")
        con.sql("ALTER TABLE lab2 RENAME TO lab")
        if changed == 0:
            print(f"  [oracle] components converged in {rnd} rounds")
            break
    if changed != 0:
        # a silent fall-through here would compare a WRONG oracle (and
        # report a spurious FAIL — or worse, a false OK on a wrong engine)
        raise RuntimeError(
            "components oracle did not converge in 63 rounds "
            f"(last round changed {changed} labels); pair graph diameter "
            "exceeds the bound — raise the round cap"
        )
    con.sql("CREATE TEMP TABLE comp AS SELECT v AS doc_id, comp AS component_id FROM lab")
    con.sql("DROP TABLE lab")
    con.sql("DROP TABLE edges")


_KEEP_SQL = """
SELECT d.doc_id FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id AND c.doc_id <> c.component_id
WHERE c.doc_id IS NULL
"""

_LEAK_SPLIT_SQL = """
WITH keyed AS (
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


def _done_queries(sf_dir: str) -> set[str]:
    """Queries already verified (ok / rows-only) in oracle_results.json —
    both the per-run blob format (pre-r9) and the per-query line format."""
    path = os.path.join(soak_dir(sf_dir), "oracle_results.json")
    done: set[str] = set()
    if not os.path.exists(path):
        return done
    with open(path) as fh:
        for line in fh:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if "query" in rec:
                if rec.get("status") in ("ok", "rows-only"):
                    done.add(rec["query"])
            else:
                for n, r in rec.get("results", {}).items():
                    if r.get("status") in ("ok", "rows-only"):
                        done.add(n)
    return done


def run_oracle(sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as entrymod

    con = _connect(sf_dir)
    oracles = entrymod.oracle_sql()
    # only compare queries whose phase-spark result was actually saved —
    # otherwise an unfiltered oracle run would (re)build expensive oracle
    # pipelines (the minhash derivation is 536M shingle rows at sf5) for
    # queries that were never run at this scale
    skip_done = bool(os.environ.get("SOAK_SKIP_DONE"))
    done = _done_queries(sf_dir) if skip_done else set()
    if done:
        print(f"[skip-done] {len(done)} queries already verified")
    names = [
        n
        for n in entrymod.queries()
        if (not only or n in only)
        and n not in done
        and os.path.exists(os.path.join(soak_dir(sf_dir), f"{n}.meta.json"))
    ]
    results_path = os.path.join(soak_dir(sf_dir), "oracle_results.json")

    def _flush(name: str, rec: dict) -> None:
        # one line per query, appended as soon as the verdict exists — the
        # first sf5 run was OOM-killed 20 queries in and lost every verdict
        # because the old code wrote a single blob at the end
        with open(results_path, "a") as fh:
            fh.write(json.dumps({"ts": time.strftime("%F %T"), "query": name, **rec}) + "\n")

    failures = 0
    results = {}
    family = [n for n in names if n in MINHASH_FAMILY]
    if family:
        _build_minhash_pairs(con)
        if set(family) - {"dedup_minhash"}:
            _build_components(con)
    # GLS-derived oracles (peak sort / FWHM / grid stats) all window over
    # the same 45.8M-row periodogram; the monolithic CTE re-derives the
    # 640M-row trig intermediate per `pw` reference and its repeated spill
    # ENOSPC'd the box at sf5. Stage pw ONCE, re-attach the stored clauses.
    gls_derived = getattr(entrymod, "GLS_DERIVED_CLAUSES", {})
    staged = [n for n in names if n in gls_derived]
    if staged:
        t0 = time.time()
        con.sql("CREATE TEMP TABLE pw_t AS " + entrymod.SQL_GLS_PW)
        n_pw = con.sql("SELECT count(*) FROM pw_t").fetchone()[0]
        print(f"  [oracle] staged pw: {n_pw} rows ({time.time()-t0:.0f}s) "
              f"for {staged}")
    for name in names:
        t0 = time.time()
        if name in gls_derived:
            rel = "WITH pw AS (SELECT * FROM pw_t)" + gls_derived[name]
        elif name == "dedup_minhash":
            rel = "SELECT d1, d2, jaccard FROM pairs"
        elif name == "dedup_components":
            rel = "SELECT doc_id, component_id FROM comp"
        elif name == "dedup_keep":
            rel = _KEEP_SQL
        elif name == "leak_split":
            rel = _LEAK_SPLIT_SQL
        elif name in oracles:
            rel = oracles[name]
        else:
            meta = os.path.join(soak_dir(sf_dir), f"{name}.meta.json")
            if os.path.exists(meta):
                rows = json.load(open(meta))["rows"]
                print(f"[rows-only] {name}: {rows} rows")
                results[name] = {"status": "rows-only", "rows": rows}
                _flush(name, results[name])
            else:
                print(f"[rows-only] {name}: no spark result saved")
            continue
        try:
            problems = _compare(con, name, rel, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"oracle error: {str(exc)[:300]}"]
        wall = time.time() - t0
        if problems:
            failures += 1
            print(f"[FAIL] {name}:")
            for p in problems:
                print(f"       {p}")
            results[name] = {"status": "fail", "problems": problems}
        else:
            meta = json.load(open(os.path.join(soak_dir(sf_dir), f"{name}.meta.json")))
            print(f"[OK]   {name}: {meta['rows']} rows multiset-exact "
                  f"(spark {meta['wall_sec']}s, oracle {wall:.1f}s)")
            results[name] = {"status": "ok", "rows": meta["rows"],
                             "oracle_sec": round(wall, 1)}
        _flush(name, results[name])
        sys.stdout.flush()
    print(f"\n{failures} failures")
    return failures


def main() -> int:
    sf_dir = sys.argv[1]
    phase = sys.argv[2] if len(sys.argv) > 2 else "spark"
    only = set(sys.argv[3:])
    if phase == "spark":
        return run_spark(sf_dir, only)
    if phase == "oracle":
        return run_oracle(sf_dir, only)
    raise SystemExit(f"unknown phase {phase!r}")


if __name__ == "__main__":
    raise SystemExit(main())
