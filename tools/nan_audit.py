"""NaN/NULL audit for rows-only contract queries.

The oracle-backed queries get exact value comparison; rows-only queries
(kernels with no SQL twin) only prove row counts, so a kernel that silently
produces NaN/NULL garbage would still read as green — exactly how
butterworth_band's out-of-Nyquist design hid for two rounds. This audit runs
every rows-only query and reports, per floating-point column, the fraction of
NULL/NaN values; anything above the threshold is a finding to explain
(legitimate NULL paths: refused designs, sub-minimum series) or fix.

Usage: python tools/nan_audit.py [sf_dir] [threshold=0.5] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from periodicity_spark import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    only = set(sys.argv[3:])
    spark = get_spark("nan_audit")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rows_only = [k for k in queries if k not in oracles]
    if only:
        rows_only = [k for k in rows_only if k in only]
    n_flagged = 0
    for name in rows_only:
        t0 = time.time()
        try:
            pdf = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[ERR]  {name}: {str(exc).splitlines()[0][:160]}")
            n_flagged += 1
            continue
        findings = []
        for col in pdf.columns:
            s = pdf[col]
            if s.dtype.kind == "f":
                frac = float(s.apply(lambda v: v is None or (isinstance(v, float) and math.isnan(v))).mean()) if len(s) else 0.0
            elif s.dtype.kind == "O":
                frac = float(s.isna().mean()) if len(s) else 0.0
            else:
                continue
            if frac > threshold:
                findings.append(f"{col}={frac:.1%}")
        status = "FLAG" if findings else "ok"
        if findings:
            n_flagged += 1
        print(
            f"[{status}] {name}: rows={len(pdf)} "
            f"{' '.join(findings)} ({time.time() - t0:.1f}s)",
            flush=True,
        )
    print(f"# {n_flagged} flagged / {len(rows_only)} rows-only queries")
    return 1 if n_flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
