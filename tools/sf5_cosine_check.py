"""Planted-twin-restricted verification of cosine_neardup on sf5 data
(VERDICT r8 "What's missing" #3, the fourth disk-bound query).

Same construction as the registered cosine_neardup query — corpus ∪ its
int8-quantized reconstruction (ids offset by 10⁷), LSH near-dup pairs at
cosine ≥ 0.99 with the registered parameters (n_planes=240, bands=10,
min_bands=2) — over a slice of the sf5 embeddings (default vec_id <
500000, the footprint proven to fit this box at sf1; pass a larger bound
to push toward full sf5 as disk allows). The oracle is ANALYTIC: every
clean vector's quantized twin sits at cosine ≈ 0.99998, and the driver
generator's clusters sit at ≈0.6, so the expected pair set is EXACTLY
{(v, v+10M)} for every finite non-zero vector in the slice — recall and
false positives are both checked without materializing an all-pairs join.

Usage: python tools/sf5_cosine_check.py [max_vec_id]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    bound = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    from pyspark.sql import functions as F

    from periodicity_spark import get_spark
    from periodicity_spark.pipeline import embedding as emb_ops
    from periodicity_spark.pipeline import simsearch

    spark = get_spark("sf5_cosine_check")
    emb = (
        spark.read.parquet("/root/repo/.scale/sf5/embeddings.parquet")
        .filter(F.col("vec_id") < bound)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    q = emb_ops.quantize_int8(emb).filter(F.col("scale").isNotNull())
    dq = q.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(127.0) * F.col("scale")
        ).alias("embedding"),
    )
    t0 = time.time()
    pairs = simsearch.cosine_near_duplicates_lsh(
        emb.unionByName(dq), threshold=0.99, n_planes=240, bands=10, dim=64,
        min_bands=2,
    ).select("d1", "d2")
    # expected planted set: every clean (finite, non-zero-scale) vector and
    # its quantized twin — d1 = vec_id, d2 = vec_id + 10M by construction
    expected = q.select(
        F.col("vec_id").alias("d1"),
        (F.col("vec_id") + F.lit(10_000_000)).alias("d2"),
    )
    missed = expected.join(pairs, ["d1", "d2"], "left_anti").count()
    n_expected = expected.count()
    extras = pairs.join(expected, ["d1", "d2"], "left_anti").count()
    wall = round(time.time() - t0, 1)
    print(json.dumps({
        "bound": bound, "expected_twins": n_expected,
        "missed": missed, "false_positives": extras, "wall_sec": wall,
    }))
    spark.stop()
    return 1 if (missed or extras) else 0


if __name__ == "__main__":
    raise SystemExit(main())
