"""Compare two traced-run records offline.

    python3 perfbench/diff.py A.json B.json

The records are the files a ``--trace 1`` run writes under
``.perfbench_run/records/``. Structural metrics (job, stage and task
counts, layer call counts, decision counts, shuffle, spill, result and
Python bytes) do not drift between runs of the same plan on the same
inputs, so any change in them is a change of plan or data and is listed
first. Noisy metrics (wall, build, action, CPU and layer times) drift on
a shared machine; they are listed apart, with the ratio B/A, and on their
own prove nothing.
"""

from __future__ import annotations

import json
import statistics
import sys

# bytes within this share of each other count as unchanged: compressed
# shuffle blocks can differ by a few bytes when row order within a
# partition differs
BYTES_TOLERANCE = 0.01


def load(path: str) -> dict[str, dict[str, float]]:
    """Per query, each metric's median over the record's traced passes;
    the workload's per-layer metrics under the name ``(workload)``."""
    with open(path) as fh:
        record = json.load(fh)
    per_query: dict[str, dict[str, list[float]]] = {
        "(workload)": {k: [v] for k, v in record.get("metrics", {}).items()}
    }
    for p in record["traced_passes"]:
        for name, q in p["queries"].items():
            for k, v in q.items():
                per_query.setdefault(name, {}).setdefault(k, []).append(v)
    return {
        name: {k: statistics.median(vs) for k, vs in metrics.items()}
        for name, metrics in per_query.items()
    }


def kind(metric: str) -> str:
    if metric.endswith("_mb"):
        return "bytes"
    if metric.endswith(("_s", "task_skew")):
        return "noisy"
    return "count"


def compare(a: dict, b: dict) -> tuple[list[tuple], list[tuple]]:
    structural, noisy = [], []
    for name in sorted(set(a) | set(b)):
        qa, qb = a.get(name, {}), b.get(name, {})
        for metric in sorted(set(qa) | set(qb)):
            va, vb = qa.get(metric, 0.0), qb.get(metric, 0.0)
            k = kind(metric)
            if k == "noisy":
                noisy.append((name, metric, va, vb))
            elif k == "count" and va != vb:
                structural.append((name, metric, va, vb))
            elif k == "bytes" and abs(vb - va) > BYTES_TOLERANCE * max(abs(va), abs(vb)):
                structural.append((name, metric, va, vb))
    return structural, noisy


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    structural, noisy = compare(load(argv[0]), load(argv[1]))
    print(f"structural changes: {len(structural)}")
    for name, metric, va, vb in structural:
        print(f"  {name:28s} {metric:36s} {va:12.4g} -> {vb:12.4g}")
    print("noisy metrics (B/A):")
    for name, metric, va, vb in noisy:
        ratio = f"{vb / va:6.2f}x" if va else "     -"
        print(f"  {name:28s} {metric:36s} {va:10.3f} {vb:10.3f} {ratio}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
