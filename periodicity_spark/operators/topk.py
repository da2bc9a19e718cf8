"""Bounded-shuffle exact top-k per key.

The natural Spark formulation — ``row_number().over(Window.partitionBy(key)
.orderBy(v))`` then ``filter(rn <= k)`` — shuffles EVERY row of the corpus
to its key's reducer and sorts the full key partition before discarding all
but k rows. At 100 TB with a hot key that is a straggler sort of that key's
entire history.

``topk_per_key`` computes the same exact result in two stages:

1. **Local candidates** (zero shuffle): an Arrow ``mapInPandas`` stage keeps
   a running per-key top-k WITHIN each input partition — every partition
   emits at most k rows per key it has seen, so the stage's output is
   ≤ k × partitions rows per key no matter how hot the key is.
2. **Global merge**: the standard window over the candidate set — which is
   now (k × partitions) rows per key, independent of corpus size.

Exactness argument: any row in the true global top-k is in the top-k of its
own partition (a fortiori), so stage 1 never discards a winner. Ties are
broken by the caller-supplied ``tie_cols`` (appended to the ordering on
both stages), so results are deterministic and oracle-comparable whenever
(order_col, *tie_cols) is a total order.

This is the engine's skew story for top-k: the hot key's rows never
concentrate — they are pre-reduced where they already sit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from periodicity_spark.session import ensure_worker_imports, prune_zip_importers


def topk_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tie_cols: Sequence[str] = (),
    rank_col: str | None = "rank",
) -> DataFrame:
    """→ the input columns (plus ``rank_col`` unless None): for each value
    of ``keys``, the k rows with the largest (``descending=True``) or
    smallest ``order_col``, ties broken by ``tie_cols`` ascending."""
    keys = list(keys)
    tie_cols = list(tie_cols)
    out_schema = df.schema

    asc = not descending

    def local_topk(batches):
        prune_zip_importers()
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            acc = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = (
                acc.sort_values(
                    [order_col] + tie_cols,
                    ascending=[asc] + [True] * len(tie_cols),
                    kind="mergesort",
                )
                .groupby(keys, sort=False)
                .head(k)
            )
        if acc is not None and len(acc):
            yield acc

    ensure_worker_imports(df.sparkSession)
    candidates = df.mapInPandas(local_topk, out_schema)
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    ] + [F.col(c).asc() for c in tie_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = candidates.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    if rank_col is None:
        return ranked.drop("_rn")
    return ranked.withColumnRenamed("_rn", rank_col)
