"""Generate scale-soak datasets (sf1 = scale 1000, sf5 = scale 5000) with the
fuzzcheck generators — same schemas and value domains as the driver testdata,
bigger row counts, small parquet row groups so single-file scans still fan out.

The driver's correctness gate tops out at sf0.1 (~600k lineitem rows); every
100 TB design claim (bucket caps, AQE skew joins, broadcast-threshold flips,
the scan floor and the LSH verify plan) needs at least one order-of-magnitude
scale-up to be observed rather than argued. Output goes under .scale/ at the
repository root (git-ignored — these are derived artifacts, ~1-2 GiB each).

Usage: python tools/make_scale.py sf1|sf5 [seed] [table ...]
(naming tables regenerates only those files — e.g. after a generator fix)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.fuzzcheck import generate

SCALES = {"sf1": 1000, "sf5": 5000}


def main() -> int:
    name = sys.argv[1] if len(sys.argv) > 1 else "sf1"
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 77
    only = set(sys.argv[3:]) or None
    scale = SCALES[name]
    out = os.path.join(REPO, ".scale", name)
    os.makedirs(out, exist_ok=True)
    t0 = time.time()
    generate(out, seed=seed, scale=scale, row_group_size=262_144, only=only)
    sizes = {
        f: os.path.getsize(os.path.join(out, f)) // 1024 // 1024
        for f in sorted(os.listdir(out))
    }
    print(f"# {name} (scale={scale}, seed={seed}) in {time.time() - t0:.0f}s")
    for f, mb in sizes.items():
        print(f"  {f}: {mb} MiB")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
