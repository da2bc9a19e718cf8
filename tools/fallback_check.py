"""Forced-fallback equivalence check for the LSH verify joins.

Both verify joins run one plan (`pipeline/_heap.py`): auto takes the
hybrid plan (shuffled d1 join, d2 side broadcast in hash chunks sized by
`_heap.verify_chunks`), and False forces plain shuffled joins (the path
a real multi-executor cluster takes when even one chunk exceeds executor
heaps). This tool runs both modes on the same inputs and asserts
multiset-equal pair sets, Spark-side (exceptAll both ways — no driver
materialization).

Run it with SPARK_IO_CODEC=zstd at sf1+: the shuffled verify is exactly
the fat candidate×payload shuffle the hybrid plan exists to kill
(~120 GB under lz4 at sf1, which exceeds a single box's free disk; zstd
compresses the highly-repetitive shingle arrays ~3-4×).

Usage: python tools/fallback_check.py SF_DIR OUT.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]

    from pyspark import StorageLevel
    from periodicity_spark import get_spark
    from periodicity_spark.pipeline import dedup, simsearch

    spark = get_spark("fallback_check")
    results: dict = {
        "sf_dir": sf_dir,
        "codec": spark.conf.get("spark.io.compression.codec"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "git_head": subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip(),
    }

    # ---- minhash verify: auto (hybrid) vs shuffled, same candidates ----
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = dedup.char_shingles(docs, k=5).persist(StorageLevel.MEMORY_AND_DISK)
    n_sh = sh.count()
    sig = dedup.minhash_signatures(sh, n_hashes=16, r=4)
    cand = dedup.lsh_candidate_pairs(sig).localCheckpoint(eager=True)
    t0 = time.time()
    on = dedup.jaccard_verify(
        cand, sh, threshold=0.4, shingle_count=n_sh
    ).localCheckpoint(eager=True)
    w_on = round(time.time() - t0, 1)
    t0 = time.time()
    off = dedup.jaccard_verify(
        cand, sh, threshold=0.4, broadcast_arrays=False
    ).localCheckpoint(eager=True)
    w_off = round(time.time() - t0, 1)
    sh.unpersist()
    diff = on.exceptAll(off).count() + off.exceptAll(on).count()
    results["minhash_verify"] = {
        "shingles": n_sh,
        "candidates": cand.count(),
        "pairs_auto": on.count(),
        "pairs_fallback": off.count(),
        "multiset_diff": diff,
        "wall_auto_sec": w_on,
        "wall_fallback_sec": w_off,
    }
    print(f"# minhash: {results['minhash_verify']}", file=sys.stderr)

    # ---- cosine verify: auto (hybrid) vs shuffled, same signature seed ----
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    t0 = time.time()
    von = simsearch.cosine_near_duplicates_lsh(
        emb, threshold=0.9
    ).localCheckpoint(eager=True)
    w_on = round(time.time() - t0, 1)
    t0 = time.time()
    voff = simsearch.cosine_near_duplicates_lsh(
        emb, threshold=0.9, broadcast_vectors=False
    ).localCheckpoint(eager=True)
    w_off = round(time.time() - t0, 1)
    vdiff = von.exceptAll(voff).count() + voff.exceptAll(von).count()
    results["cosine_verify"] = {
        "pairs_auto": von.count(),
        "pairs_fallback": voff.count(),
        "multiset_diff": vdiff,
        "wall_auto_sec": w_on,
        "wall_fallback_sec": w_off,
    }
    print(f"# cosine: {results['cosine_verify']}", file=sys.stderr)

    ok = diff == 0 and vdiff == 0
    results["ok"] = ok
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps({"ok": ok, "out": out_path}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
