"""Embedding-matrix operators: distributed PCA (fit + project).

Dimensionality reduction is the standard preprocessing step in front of the
similarity-search / SemDeDup family (pipeline/simsearch.py): ANN recall per
byte improves when the 64-d raw space is projected onto its leading
principal components, and SemDeDup's within-cluster cosine is cheaper in
the reduced space.

Scale shape (the part that matters at 100 TB):

- **fit** is ONE pass over the corpus: an Arrow ``mapInPandas`` stage emits
  per-batch partial moments (count, Σx, Σxxᵀ — BLAS ``X.T @ X`` per batch,
  never Python loops), flattened to (index, value) rows. The partials are
  (1 + d + d²) doubles per batch — for d=64 that's ~33 KB — so the global
  ``groupBy(idx).sum`` shuffles kilobytes regardless of corpus size. The
  eigendecomposition runs on the driver over the d×d covariance (trivial
  for any d where dense PCA makes sense).
- **project** is a second Arrow stage: per-batch ``X @ components.T``
  against the broadcast (k, d) component matrix. No shuffle at all.

Nothing is collected that scales with the corpus; the only driver-side
object is the d×d moment matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from periodicity_spark.session import ensure_worker_imports, prune_zip_importers


def _moment_partials(emb: DataFrame, vec_col: str) -> DataFrame:
    """→ (d, idx, val): flattened per-batch partial moments, KEYED by the
    vector dimension d. Per d: idx 0 = count, 1..d = Σx, d+1 .. d+d² =
    row-major Σxxᵀ. Dirty rows (NULL vector, any NaN/Inf component) are
    dropped INSIDE the kernel — one np.isfinite mask per batch, cheaper
    than a JVM aggregate-HOF filter and one NaN vector would otherwise
    poison the summed moments for the whole fit. Ragged vectors (a length
    differing from the corpus's true dimension) are handled by grouping
    the batch BY length and emitting one partial per length: np.asarray on
    a ragged list would raise and abort the whole Arrow stage — the exact
    failure mode the NaN mask exists to remove — and any per-batch
    majority vote would mix flat layouts across batches when a corrupt row
    lands alone in its own batch. The caller picks the majority-count d
    after the global merge, mirroring pca_project's len(v)==d_in guard."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        prune_zip_importers()
        for pdf in batches:
            if not len(pdf):
                continue
            vs = [np.asarray(v, dtype=float) for v in pdf[vec_col] if v is not None]
            if not vs:
                continue
            lens = np.array([v.size for v in vs])
            for d in np.unique(lens):
                d = int(d)
                if d == 0:
                    continue
                X = np.asarray([v for v in vs if v.size == d])
                X = X[np.isfinite(X).all(axis=1)]
                if not len(X):
                    continue
                out = np.empty(1 + d + d * d)
                out[0] = float(len(X))
                out[1 : 1 + d] = X.sum(axis=0)
                out[1 + d :] = (X.T @ X).ravel()
                yield pd.DataFrame(
                    {
                        "d": np.full(out.size, d, dtype=np.int64),
                        "idx": np.arange(out.size, dtype=np.int64),
                        "val": out,
                    }
                )

    ensure_worker_imports(emb.sparkSession)
    return emb.select(vec_col).mapInPandas(gen, "d long, idx long, val double")


def pca_fit(
    emb: DataFrame, k: int = 8, vec_col: str = "embedding"
) -> tuple:
    """Fit a k-component PCA over ``vec_col``. Returns
    ``(mean (d,), components (k, d), explained_var (k,))`` as numpy arrays —
    index metadata sized d², collected by design (like the IVF centroids).

    Determinism: the covariance is rounded to 1e-9 before ``eigh`` so
    run-to-run float-summation ulp noise (partial-merge order) cannot flip
    near-degenerate eigenvectors, and each component's sign is fixed by
    making its largest-|.|, lowest-index coordinate positive.

    Dirty vectors (NULL, or any NaN/Inf component) are excluded inside the
    moment kernel — one NaN vector otherwise poisons the summed moments and
    the whole fit; zero vectors are legitimate data points and kept."""
    import numpy as np

    rows = (
        _moment_partials(emb, vec_col)
        .groupBy("d", "idx")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    if not rows:
        raise ValueError("PCA needs at least 2 vectors, got 0")
    # majority dimension wins: ragged (corrupt) vectors contributed their
    # own d-keyed partials, which are simply ignored here; count ties break
    # to the larger dimension so a 50/50-ragged corpus fits deterministically
    # regardless of collect() row order
    counts = {r["d"]: r["val"] for r in rows if r["idx"] == 0}
    d = int(max(counts, key=lambda dd: (counts[dd], dd)))
    flat = np.zeros(1 + d + d * d)
    for r in rows:
        if r["d"] == d:
            flat[r["idx"]] = r["val"]
    n = flat[0]
    if n < 2:
        raise ValueError(f"PCA needs at least 2 vectors, got {int(n)}")
    s = flat[1 : 1 + d]
    ss = flat[1 + d :].reshape(d, d)
    mean = s / n
    cov = (ss - np.outer(mean, s)) / (n - 1.0)
    cov = np.round((cov + cov.T) / 2.0, 9)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T.copy()
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, np.maximum(evals[order], 0.0)


def pca_project(
    emb: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """→ (id_col, out_col array<double>): centered projection onto the
    fitted components. One Arrow map stage (batch ``(X - μ) @ Wᵀ``), zero
    shuffles; the (k, d) component matrix ships inside the serialized
    closure (kilobytes). Dirty vectors (NULL / NaN / Inf — excluded from
    the fit too) have no defined projection and are dropped inside the
    kernel: one NULL row would otherwise abort the whole Arrow stage on
    the ragged np.asarray."""
    import numpy as np
    import pandas as pd

    mu = np.asarray(mean, dtype=float)
    W = np.asarray(components, dtype=float)
    d_in = mu.size

    def gen(batches):
        prune_zip_importers()
        for pdf in batches:
            if not len(pdf):
                continue
            ok = np.array(
                [v is not None and len(v) == d_in for v in pdf[vec_col]]
            )
            if not ok.any():
                continue
            X = np.asarray(
                [np.asarray(v, dtype=float) for v in pdf[vec_col][ok]]
            )
            fin = np.isfinite(X).all(axis=1)
            if not fin.any():
                continue
            X = X[fin]
            ids = pdf[id_col].values[ok][fin]
            P = (X - mu) @ W.T
            yield pd.DataFrame({id_col: ids, out_col: list(P)})

    ensure_worker_imports(emb.sparkSession)
    return emb.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, {out_col} array<double>"
    )


def pca_embed(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Fit-and-project convenience: → (id_col, proj)."""
    mean, comps, _ = pca_fit(emb, k=k, vec_col=vec_col)
    return pca_project(emb, mean, comps, id_col=id_col, vec_col=vec_col)


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x_i| (one double
    per vector), q_i = round(x_i / scale · 127) ∈ [−127, 127]. The standard
    4×-memory-reduction step in front of a 100 TB ANN index — the quantized
    corpus fits in a quarter of the executor cache, and the dot product
    dequantizes as (a·b)·(scale_a·scale_b/127²) with relative error
    bounded by the per-component rounding (≤ 1/254 of each max-component).

    Pure native higher-order-function projection over the scan — zero
    shuffle, zero Python. All arithmetic is double with a fixed op order
    ((x/scale)·127, round half-away-from-zero), so the quantized codes are
    bit-identical across engines.

    → input columns + (scale double, ``out_col`` array<tinyint>). A dirty
    vector (any NaN/±Inf component, or a NULL vector) yields NULL scale +
    NULL codes — the engine's NaN→NULL convention. Without the finiteness
    guard, ``round(NaN).cast("tinyint")`` raises CAST_INVALID_INPUT under
    ANSI mode and ONE bad embedding aborts the whole quantization job.
    """
    x = F.col(vec_col)
    raw_scale = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    clean = (
        x.isNotNull()
        & ~F.isnan(raw_scale)
        & (raw_scale != F.lit(float("inf")))
    )
    # scale becomes a REAL column before q references it: inlined, the
    # per-element lambda re-evaluated the array_max subtree for every
    # component — O(d²) work per vector, measured as the dominant cost of
    # every consumer of a quantized corpus at sf1. A multi-referenced
    # non-cheap alias is not collapsed back by CollapseProject, so the
    # max is computed once per row.
    with_scale = emb.withColumn("scale", F.when(clean, raw_scale))
    s = F.col("scale")
    q = F.when(
        s == F.lit(0.0), F.transform(x, lambda v: F.lit(0).cast("tinyint"))
    ).when(
        s.isNotNull(),
        F.transform(
            x,
            lambda v: F.round(v.cast("double") / s * 127).cast("tinyint"),
        ),
    )
    return with_scale.withColumn(out_col, q)
