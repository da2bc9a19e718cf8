"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: probes × corpus via a
broadcast of the (small) probe set — the corpus side never shuffles, so this
scales to any corpus size as a single scan. The LSH-bucketed variant is the
approximate scale path when the probe set is also huge: random-hyperplane
signatures turn the cross join into an equi-join on buckets.

All dot products run in double (element-wise cast before multiply) inside
JVM higher-order functions — no Python UDF in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from periodicity_spark.session import (
    ensure_worker_imports,
    prune_zip_importers,
    scan_parallel,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --- unrolled fixed-dimension twins of _dot/_norm -------------------------
# Spark evaluates higher-order-function lambdas (aggregate/zip_with/
# transform) in the INTERPRETED expression path — never whole-stage
# codegen — so a verify join computing one cosine per candidate pays
# ~2·dim interpreted lambda invocations per pair (measured: the dominant
# cost of simsearch_topk/cosine_neardup at sf1, 2M pairs × 64 dims). When
# the dimension is known, the same sum unrolls into a flat codegen
# arithmetic expression. BIT-IDENTITY: the unrolled chain starts from the
# same 0.0 seed and adds left-to-right in element order — IEEE-identical
# to the fold — and rows whose arrays are not exactly ``dim`` long fall
# back to the verbatim fold (CASE branches evaluate lazily, so the ANSI
# out-of-bounds subscript in the fast path is unreachable for them).
# Pinned by tests/test_embedding.py::test_unrolled_dot_norm_bit_identical.


def _fold_dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> CAST(x AS DOUBLE) *"
        f" CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _fold_norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform(`{a}`, x -> CAST(x AS DOUBLE) *"
        f" CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
    )


def _dot_expr(a: str, b: str, dim: int) -> Column:
    terms = " + ".join(
        f"CAST(`{a}`[{i}] AS DOUBLE) * CAST(`{b}`[{i}] AS DOUBLE)"
        for i in range(int(dim))
    )
    return F.expr(
        f"CASE WHEN size(`{a}`) = {int(dim)} AND size(`{b}`) = {int(dim)}"
        f" THEN 0.0D + {terms} ELSE {_fold_dot_sql(a, b)} END"
    )


def _norm_expr(a: str, dim: int) -> Column:
    terms = " + ".join(
        f"CAST(`{a}`[{i}] AS DOUBLE) * CAST(`{a}`[{i}] AS DOUBLE)"
        for i in range(int(dim))
    )
    return F.expr(
        f"CASE WHEN size(`{a}`) = {int(dim)}"
        f" THEN sqrt(0.0D + {terms}) ELSE {_fold_norm_sql(a)} END"
    )


def _cosine(dot, n1, n2):
    """Cosine with a zero-norm guard: try_divide yields NULL (not an ANSI
    DIVIDE_BY_ZERO job abort) when either vector has zero norm — a zero
    vector has no direction, so every comparison against it is NULL and
    the row drops out of thresholded/ranked results instead of killing
    the query."""
    return F.try_divide(dot, n1 * n2)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _finite_rows(df: DataFrame, vec_col: str, allow_zero: bool = False) -> DataFrame:
    """Drop rows whose vector is NULL or contains NaN/±Inf (and, unless
    ``allow_zero``, zero-norm vectors — no direction, undefined cosine).
    coalesce(..., false): a NULL vector makes the predicate NULL, and the
    row must be DROPPED, not passed through by three-valued logic. One
    dirty vector otherwise poisons collected index metadata (centroids,
    PCA moments) or ranks above every real neighbor via NaN comparisons."""
    arr = F.col(vec_col).cast("array<double>")
    n2 = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)
    cond = ~F.isnan(n2) & (n2 != F.lit(float("inf")))
    if not allow_zero:
        cond = cond & (n2 > 0)
    return df.filter(F.coalesce(cond, F.lit(False)))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "qid",
    probe_vec_col: str = "qvec",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k: → (qid, vec_id, cosine, rank). Probe set is broadcast;
    ranking is a per-qid window (ties broken by vec_id for determinism).

    ``dim``: when the embedding dimension is known, the per-pair dot/norm
    arithmetic unrolls into whole-stage-codegen expressions instead of
    interpreted HOF folds — bit-identical (same seed, same element order;
    off-dimension rows take the verbatim fold), measured ~10× off the
    probes×corpus projection at sf1. None keeps the generic fold path."""
    nrm = (lambda c_: _norm_expr(c_, dim)) if dim else (lambda c_: _norm(F.col(c_)))
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        nrm(vec_col).alias("_nv"),
    )
    p = probes.select(
        F.col(probe_id_col).alias("qid"),
        F.col(probe_vec_col).alias("_q"),
        nrm(probe_vec_col).alias("_nq"),
    )
    dot = _dot_expr("_q", "_v", dim) if dim else _dot(F.col("_q"), F.col("_v"))
    pairs = c.join(F.broadcast(p), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        _cosine(dot, F.col("_nq"), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    # NULL-cosine rows are excluded AFTER the rank window, not before:
    # a pre-window filter on the derived column is pushed by the
    # optimizer into the nested-loop join condition AND (via the implied
    # isnotnull(norm) constraint) into both scan filters, re-evaluating
    # the whole cosine expression per PAIR and the norms per row — the
    # dominant cost of this query at sf1 (guide §4.4's duplicated
    # derived-column hazard, join-condition flavor). Post-window the
    # result is identical: the ordering is DESC NULLS LAST, so NULL
    # cosines rank strictly below every real row of their qid and real
    # rows keep the exact ranks the pre-filtered window assigned; the
    # rank ≤ k cut plus this filter then drops the same rows. A window
    # blocks predicate pushdown on non-partition columns, so nothing is
    # duplicated below.
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .filter(F.col("cosine").isNotNull())
        .select("qid", "vec_id", "cosine", "rank")
    )


def multi_table_buckets(n_tables: int, n_planes: int, seed: int, dim: int):
    """Arrow UDF: embedding → array of ``n_tables`` LSH bucket ids, one
    (N, dim) @ (dim, n_tables·n_planes) matmul per batch. A codegen
    formulation of the same thing compiles O(tables·planes·dim) Janino —
    minutes at 8×6×64 (see centroid_dots) — while the matmul is exactly what
    BLAS is for; planes ship once per executor in the closure."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    nt, npl = n_tables, n_planes
    ensure_worker_imports(SparkSession.active())

    @F.pandas_udf("array<long>")
    def _buckets(vecs):
        prune_zip_importers()
        import numpy as np
        import pandas as pd

        # defensive: a NULL / wrong-dimension vector becomes a zero vector
        # (callers filter dirty rows upstream, but np.stack on a ragged
        # batch would abort the whole stage for one bad row)
        m = np.stack(
            [
                np.asarray(v, float)
                if v is not None and len(v) == dim
                else np.zeros(dim)
                for v in vecs
            ]
        )
        signs = (m @ planes.T) > 0  # (B, nt*npl)
        out = signs.reshape(len(m), nt, npl) @ weights  # (B, nt)
        return pd.Series(list(out))

    return _buckets


def cosine_topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 24,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "qid",
    probe_vec_col: str = "qvec",
) -> DataFrame:
    """Approximate top-k with multi-table LSH (OR-amplification): a
    candidate is any corpus vector sharing a bucket with the probe in ANY of
    ``n_tables`` independent hyperplane tables; exact cosine then ranks the
    candidates. Recall follows 1−(1−(1−θ/π)^planes)^tables, so it is a
    property of the DATA's neighbor angles: the sf0.001 embeddings' true
    top-10 neighbors average cosine 0.296 (θ≈73°), and the measured
    recall@10 at the 24×4 default is 0.962 with ~78% of the corpus as
    candidates (16×4 measured 0.884 at ~63%; one table at 8 planes — the
    r2 shape — 0.016; sf0.1 wall time is identical 16→24, the exact
    re-rank dominates). On a near-duplicate corpus (neighbor cosine ≥0.7,
    the dedup regime) the same 24×4 predicts recall ≥0.999 at ~9%
    candidates, and more planes per table becomes affordable. The bucket
    equi-join replaces the cross join: the corpus side never broadcasts
    and shuffles only its (table, bucket) exploded signatures."""
    # dirty vectors (NULL/NaN/Inf/zero) have undefined cosine, and a NULL
    # vector crashes the bucket UDF's np.stack — excluded up front like
    # the brute-force path's NULL-cosine filter
    corpus = _finite_rows(corpus, vec_col)
    probes = _finite_rows(probes, probe_vec_col)
    bud = multi_table_buckets(n_tables, n_planes, seed, dim)
    csig = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(bud(F.col(vec_col))).alias("table", "bucket"),
    )
    psig = probes.select(
        F.col(probe_id_col).alias("qid"),
        F.posexplode(bud(F.col(probe_vec_col))).alias("table", "bucket"),
    )
    cand = (
        csig.join(F.broadcast(psig), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )
    # dim-unrolled codegen dot/norm instead of interpreted HOF folds on
    # the dominant exact re-rank (bit-identical: same element order, fold
    # fallback off-dimension — the same r11 rewrite as the brute-force
    # path; the LSH re-rank had been left on the fold)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        _norm_expr(vec_col, dim).alias("_nv"),
    )
    p = probes.select(
        F.col(probe_id_col).alias("qid"),
        F.col(probe_vec_col).alias("_q"),
        _norm_expr(probe_vec_col, dim).alias("_nq"),
    )
    pairs = cand.join(c, "vec_id").join(F.broadcast(p), "qid").select(
        "qid",
        "vec_id",
        _cosine(_dot_expr("_q", "_v", dim), F.col("_nq"), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    # NULL-cosine rows excluded AFTER the rank window (see
    # cosine_topk_bruteforce — the pre-window filter on the derived
    # column was optimizer-pushed into the joins, re-evaluating the
    # cosine per candidate; DESC NULLS LAST makes post-window identical)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .filter(F.col("cosine").isNotNull())
        .select("qid", "vec_id", "cosine", "rank")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_mode: str = "exact",
):
    """Coarse quantizer for IVF: k centroids via deterministic seeding
    (hash-sampled vectors) + a few Lloyd iterations executed as DataFrame
    aggregations (assignment = native argmax over broadcast centroids;
    update = groupBy mean over exploded components). Returns a list of
    (centroid_id, vector) collected to the driver — the index metadata is
    tiny by design and ships as literals/broadcast. Dirty vectors
    (NULL/NaN/Inf/zero) are excluded — one NULL row in the hash sample
    otherwise crashes the driver-side centroid build, and one NaN row
    poisons a Lloyd mean for the whole cluster."""
    import numpy as np

    from periodicity_spark.operators.topk import topk_per_key

    corpus = _finite_rows(corpus, vec_col)
    # deterministic hash-min sample WITHOUT a global sort: each input
    # partition pre-reduces to its k smallest hashes (zero shuffle), the
    # global merge sees ≤ k × partitions rows — same winners as
    # orderBy(_h).limit(k), which sorted the whole corpus to keep k rows
    sampled = topk_per_key(
        corpus.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .withColumn("_g", F.lit(0)),
        ["_g"],
        "_h",
        n_centroids,
        descending=False,
        rank_col=None,
    ).collect()
    sampled = sorted(sampled, key=lambda r: r["_h"])[:n_centroids]
    cents = np.array([[float(x) for x in r[vec_col]] for r in sampled])
    for _ in range(n_iter):
        # assign_mode="auto"/"twolevel" re-derives the coarse grouping from
        # the CURRENT centroid matrix each Lloyd iteration (driver-side,
        # k ≤ a few thousand rows — negligible next to the corpus pass).
        # with_vec=True: the kernel passes the vector through (exact Arrow
        # round-trip), so the update aggregates straight off the
        # assignment projection — the former corpus.join(assigned, id)
        # re-shuffled the whole corpus by id once PER ITERATION to
        # re-attach a column the kernel already held (guide §2.4)
        assigned = assign_to_centroids(
            corpus, cents, id_col, vec_col, mode=assign_mode, with_vec=True
        )
        comp = (
            assigned.select(
                "centroid",
                F.posexplode(F.col(vec_col)).alias("dim", "comp"),
            )
            .groupBy("centroid", "dim")
            .agg(F.avg(F.col("comp").cast("double")).alias("mean"))
            .collect()
        )
        new = cents.copy()
        for r in comp:
            new[r["centroid"], r["dim"]] = r["mean"]
        cents = new
    return cents


def _centroid_df(spark, cents):
    rows = [
        (j, d, float(w)) for j, c in enumerate(cents) for d, w in enumerate(c)
    ]
    return spark.createDataFrame(rows, "centroid int, dim int, w double")


def centroid_dots(vecs: DataFrame, cents, id_col="vec_id", vec_col="embedding") -> DataFrame:
    """→ (id_col, centroid, dot): all vector×centroid dot products via
    posexplode + broadcast join + sum — one shuffle, tiny codegen. (A
    literal-array expression per centroid looks natural but makes Janino
    compile O(centroids × dims) code — measured minutes of compile time at
    16×64.)"""
    comp = vecs.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x"))
    cdf = _centroid_df(vecs.sparkSession, cents)
    return (
        comp.join(F.broadcast(cdf), "dim")
        .groupBy(id_col, "centroid")
        .agg(F.sum(F.col("x").cast("double") * F.col("w")).alias("dot"))
    )


def _coarse_groups(C, n_groups, n_iter=8):
    """Driver-side spherical k-means over the k fine centroids (k ≤ a few
    thousand rows — trivial): → (G, members) where G[g] is the mean of the
    member fine centroids (the coarse scoring matrix, UNnormalized so
    X·G[g] is the mean of X's dots with the members) and members[g] the
    sorted fine indices. Deterministic: seeds are evenly spaced centroid
    indices; empty groups are dropped. Grouping uses direction only
    (normalized rows) — what matters for routing a dot-product argmax is
    angular proximity of the candidate centroids."""
    import numpy as np

    k = C.shape[0]
    n_groups = max(1, min(n_groups, k))
    norms = np.linalg.norm(C, axis=1)
    U = C / np.where(norms == 0, 1.0, norms)[:, None]
    seeds = np.unique(np.linspace(0, k - 1, n_groups).round().astype(int))
    G = U[seeds].copy()
    lab = None
    for _ in range(n_iter):
        new = (U @ G.T).argmax(axis=1)
        if lab is not None and (new == lab).all():
            break
        lab = new
        for j in range(G.shape[0]):
            m = lab == j
            if m.any():
                v = U[m].mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    G[j] = v / nv
    members = [np.flatnonzero(lab == j) for j in range(G.shape[0])]
    keep = [j for j, m in enumerate(members) if len(m)]
    score = np.stack([C[members[j]].mean(axis=0) for j in keep])
    return score, [members[j] for j in keep]


def assign_to_centroids(
    corpus,
    cents,
    id_col="vec_id",
    vec_col="embedding",
    mode="exact",
    coarse_probe=8,
    min_twolevel_k=256,
    with_vec=False,
):
    """→ (id_col, centroid): nearest centroid by dot product, as an Arrow
    matmul kernel — each batch computes X·Cᵀ in one BLAS call and emits the
    argmax row-aligned, so the stage is a zero-shuffle projection of N rows.

    The previous formulation (``centroid_dots``: posexplode + dim-join +
    (id, centroid) aggregate) shuffles N·D·K rows — fine at K=16, but the
    round-7 soak measured it as the dominant cost of semantic_dedup at sf1
    once K scales with the corpus (500k×128×488 ≈ 3·10¹⁰ aggregate rows,
    ~1 h; the matmul is ~3·10¹⁰ flops, seconds). ``centroid_dots`` remains
    for consumers that need ALL K dots (the IVF probe side, where the
    probe set is small). Ties break to the lowest centroid id (np.argmax
    returns the first maximum), matching the old max_by tie-break.
    Wrong-dimension vectors are dropped, mirroring _finite_rows' contract.

    ``mode``: "exact" scores every row against all K centroids (n·K·d).
    "twolevel" routes through √K coarse groups (driver-side spherical
    k-means over the centroid matrix): per batch, one n×√K matmul picks
    each row's ``coarse_probe`` best groups, then the fine argmax runs
    only over those groups' members — n·d·√K·(1+probe) flops, the
    SemDeDup-scale shape (their published config is ~100k clusters over
    5B embeddings; single-level assignment there is 10⁵× d flops per
    row). Approximate only in routing: a row whose true argmax centroid
    sits in a group outside its top-``coarse_probe`` gets its best
    in-probe centroid instead; with probe=√K it is exhaustive, hence
    exact. "auto" picks twolevel when K ≥ ``min_twolevel_k`` (below
    that the coarse detour costs more than it saves). Cross-group ties
    break to the lowest fine centroid id, matching exact.

    ``with_vec=True`` additionally passes the vector column through the
    kernel (an exact float64 Arrow round-trip — no value can change), so
    consumers that need (id, centroid, vector) rows avoid a corpus
    self-join on ``id_col`` after the assignment: the Lloyd update in
    ``ivf_centroids`` and semantic_dedup's ``sided`` frame each paid one
    full corpus join per pass for columns the kernel already held
    (guide §2.4 — remove shuffles outright)."""
    import numpy as np

    if mode not in ("exact", "twolevel", "auto"):
        # a typo ('two-level', 'Auto') must not silently select the
        # exact path — that defeats the scale fix with zero signal
        raise ValueError(
            f"assign_to_centroids mode must be 'exact', 'twolevel' or 'auto', got {mode!r}"
        )
    C = np.asarray(cents, dtype=float)
    id_type = corpus.schema[id_col].dataType.simpleString()
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    if C.size == 0:
        # no centroids (empty/fully-dirty corpus): nothing can be assigned
        empty = corpus.select(id_col, vec_col).filter(F.lit(False))
        if with_vec:
            return empty.select(id_col, F.lit(0).alias("centroid"), vec_col)
        return empty.select(id_col, F.lit(0).alias("centroid"))
    d = C.shape[1]
    k = C.shape[0]
    two_level = mode == "twolevel" or (mode == "auto" and k >= min_twolevel_k)

    if two_level:
        Gscore, members = _coarse_groups(C, int(math.ceil(math.sqrt(k))))
        n_groups = len(members)
        probe = max(1, min(int(coarse_probe), n_groups))
        Csubs = [C[m] for m in members]

        def _assign(batches):
            prune_zip_importers()
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if not len(pdf):
                    continue
                ok = pdf[vec_col].apply(lambda v: v is not None and len(v) == d)
                pdf = pdf[ok]
                if not len(pdf):
                    continue
                X = _np.stack(
                    pdf[vec_col].apply(lambda v: _np.asarray(v, dtype=float)).to_numpy()
                )
                n = len(X)
                S = X @ Gscore.T
                if probe < n_groups:
                    top = _np.argpartition(-S, probe - 1, axis=1)[:, :probe]
                else:
                    top = _np.broadcast_to(_np.arange(n_groups), (n, n_groups))
                best = _np.full(n, -_np.inf)
                lab = _np.zeros(n, dtype=_np.int64)
                for j in range(n_groups):
                    rows = _np.flatnonzero((top == j).any(axis=1))
                    if not len(rows):
                        continue
                    sub = X[rows] @ Csubs[j].T
                    am = sub.argmax(axis=1)
                    mv = sub[_np.arange(len(rows)), am]
                    fine = members[j][am]
                    upd = (mv > best[rows]) | (
                        (mv == best[rows]) & (fine < lab[rows])
                    )
                    ridx = rows[upd]
                    best[ridx] = mv[upd]
                    lab[ridx] = fine[upd]
                out = {id_col: pdf[id_col], "centroid": lab.astype("int32")}
                if with_vec:
                    out[vec_col] = pdf[vec_col]
                yield _pd.DataFrame(out)

    else:

        def _assign(batches):
            prune_zip_importers()
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if not len(pdf):
                    continue
                vs = pdf[vec_col]
                ok = vs.apply(lambda v: v is not None and len(v) == d)
                pdf = pdf[ok]
                if not len(pdf):
                    continue
                X = _np.stack(pdf[vec_col].apply(lambda v: _np.asarray(v, dtype=float)).to_numpy())
                lab = (X @ C.T).argmax(axis=1)
                out = {id_col: pdf[id_col], "centroid": lab.astype("int32")}
                if with_vec:
                    out[vec_col] = pdf[vec_col]
                yield _pd.DataFrame(out)

    schema = f"{id_col} {id_type}, centroid int"
    if with_vec:
        schema += f", {vec_col} {vec_type}"
    ensure_worker_imports(corpus.sparkSession)
    return corpus.select(id_col, vec_col).mapInPandas(_assign, schema=schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "qid",
    probe_vec_col: str = "qvec",
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into inverted lists by
    nearest centroid; each probe searches only its ``n_probe`` nearest lists.
    The corpus-side assignment is one scan; the search join keys on
    centroid — at 100 TB the lists are the partition layout and a probe
    touches n_probe/n_centroids of the data. Measured on the sf0.001
    embeddings (weak cluster structure — recall tracks the list fraction):
    recall@10 = 0.794 at the 16/8 default, 0.872 at n_probe=10, 0.60 at the
    old n_probe=4 default. On clustered corpora (the regime IVF is for)
    recall concentrates far above the touched fraction."""
    # dirty vectors have undefined cosine — excluded up front, like the
    # brute-force path's NULL-cosine filter (and a NaN dot would otherwise
    # rank ABOVE every real neighbor in the centroid/candidate ordering)
    corpus = _finite_rows(corpus, vec_col)
    probes = _finite_rows(probes, probe_vec_col)
    cents = ivf_centroids(corpus, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col)
    lists = assign_to_centroids(corpus, cents, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"), _norm(F.col(vec_col)).alias("_nv")
    ).join(lists.withColumnRenamed(id_col, "vec_id"), "vec_id")
    # probe→centroid shortlist (n_probe nearest centroids per probe), same
    # exploded-join formulation as the corpus assignment
    pdots = centroid_dots(probes, cents, probe_id_col, probe_vec_col).withColumnRenamed(
        probe_id_col, "qid"
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("centroid"))
    shortlist = (
        pdots.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= n_probe)
        .select("qid", "centroid")
    )
    p = probes.select(
        F.col(probe_id_col).alias("qid"),
        F.col(probe_vec_col).alias("_q"),
        _norm(F.col(probe_vec_col)).alias("_nq"),
    ).join(shortlist, "qid")
    pairs = c.join(
        F.broadcast(p), ["centroid"]
    ).filter(F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id",
        _cosine(_dot(F.col("_q"), F.col("_v")), F.col("_nq"), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "cosine", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_centroids: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 1024,
    assignment: str = "auto",
    pairwise_block: int = 8192,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embeddings with the IVF coarse quantizer, compute pairwise
    cosine WITHIN each cluster only, and drop every vector that has a
    LOWER-id near-duplicate (cosine ≥ threshold) in its cluster — the
    deterministic keep-lowest-id rule (the paper keeps the member farthest
    from the centroid; lowest-id is used here so results are exactly
    reproducible and engine-independent).

    → (vec_id, centroid, keep) for every vector with a DEFINED direction
    (NULL/NaN/Inf/zero-norm vectors are excluded up front — their cosine
    is undefined, and a NaN cosine compares greater-than-threshold under
    Spark's NaN ordering, which would silently drop the CLEAN partner of
    a dirty vector); keep = false for dropped.

    Scale shape: the only corpus-sized movement is one shuffle on the
    cluster id; the quadratic pairwise work is confined within clusters
    (n²/k per cluster in expectation — the entire point of clustering
    first). That bound only holds if k GROWS with the corpus: a fixed k
    leaves n²/k quadratic (measured: 3 s at 2k vectors, >1 h at 500k with
    k=16), so when ``n_centroids`` is None it is derived as
    n / target_cluster_size (clamped to [16, 4096]) — expected pairwise
    work then scales as n·target_cluster_size, linear in the corpus.
    The derivation runs one count() job; the function is already eager
    (Lloyd iterations inside ivf_centroids), so this adds no surprise.
    Centroid metadata is k rows, collected + broadcast.

    Two measured superlinear terms, both addressed:

    - SKEW: Lloyd over weakly clustered data leaves wildly uneven
      clusters (sf5: max 104k rows of 2.5M, Σn_c² = 23.5× the uniform
      bound), and a one-task-per-cluster pairwise put the megacluster's
      whole gram matrix in one single-threaded task. The block-pair
      decomposition (see the ``pairwise_block`` stage below) spreads it
      over bounded tasks with the drop set unchanged; measured sf1→sf5
      walls went 33.7/240.6 s → 21.2/63.2 s isolated, i.e. 3.0× for 5×
      data instead of 7.1×.
    - ASSIGNMENT, n·k·d with k ∝ n: ``assignment="auto"`` switches the
      assignment (Lloyd iterations included) to the two-level
      coarse→fine route — n·d·√k·(1+probe) flops, see
      ``assign_to_centroids`` — once k ≥ 256; below that the exact
      matmul is already cheap and the two paths coincide, so "auto"
      changes nothing at small corpus sizes. Measured with the skew fix
      in place: sf1 20.4 s → sf5 31.3 s (1.5× for 5× data). Two-level
      routing is approximate (a vector can land in its second-best
      cluster); near-dup PAIRS survive routing perturbations because
      near-identical vectors route near-identically, and the
      planted-twin gate plus an exact-vs-auto agreement test pin that.
      "auto" is the DEFAULT so the path a corpus-scale run takes is the
      path every registered query and soak exercises (below k=256 auto
      IS exact, so small-corpus results are bit-identical either way);
      pass assignment="exact" for the always-exact correctness
      baseline."""
    if assignment not in ("exact", "twolevel", "auto"):
        raise ValueError(
            f"semantic_dedup assignment must be 'exact', 'twolevel' or 'auto', got {assignment!r}"
        )
    corpus = _finite_rows(corpus, vec_col)
    if n_centroids is None:
        n_centroids = int(min(4096, max(16, corpus.count() // target_cluster_size)))
    mode = assignment
    cents = ivf_centroids(
        corpus, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col,
        assign_mode=mode,
    )
    # sided feeds BOTH pairwise sides and the final keep-join; materialize
    # it once (columnar persist + eager count, same pattern as minhash
    # shingles — measured cheaper than a localCheckpoint row copy) so the
    # centroid-assignment subtree executes once, not once per consumer.
    # with_vec=True: the assignment kernel passes the vector through
    # (exact Arrow round-trip) and the norm is the SAME Spark expression
    # as before, evaluated in-row — the former corpus.join(lists, id)
    # shuffled the whole embedded corpus by id to re-attach the vector
    # column the kernel already held (guide §2.4)
    from pyspark import StorageLevel

    lists = assign_to_centroids(
        corpus, cents, id_col, vec_col, mode=mode, with_vec=True
    )
    sided = (
        lists.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_nv"),
            "centroid",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # within-cluster pairwise cosine as ONE BLAS gram matrix per cluster
        # (Arrow kernel) instead of a self-join: the join's shuffle was already
        # cluster-bounded, but its n²/k cosine evaluations ran one aggregate-HOF
        # fold per pair in codegen — measured 977 s at 500k×64 (round-7 soak);
        # X·Xᵀ on the same floats is ~33 GFLOP of matmul. Norms stay the
        # Spark-computed _nv so only the dot's summation order changes
        # (pairwise-BLAS vs left-to-right fold — a keep/drop flip needs a pair
        # within float-ulp of the threshold). Column blocks cap peak memory at
        # ~256 MB so one skewed mega-cluster cannot OOM its task.
        id_dt = sided.schema["vec_id"].dataType.simpleString()
        thr = float(threshold)
        ensure_worker_imports(corpus.sparkSession)

        def _cluster_drops(pdf):
            prune_zip_importers()
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
            n = len(pdf)
            if n < 2:
                return pdf[["vec_id"]].iloc[0:0]
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            nv = pdf["_nv"].to_numpy(dtype=np.float64)
            Xn = X / nv[:, None]
            dropped = np.zeros(n, dtype=bool)
            blk = max(1, min(n, 33_554_432 // n))
            rows = np.arange(n)[:, None]
            for s in range(1, n, blk):
                e = min(n, s + blk)
                m = (Xn @ Xn[s:e].T) >= thr
                m &= rows < np.arange(s, e)[None, :]
                dropped[s:e] |= m.any(axis=0)
            return pd.DataFrame({"vec_id": pdf.loc[dropped, "vec_id"]})

        # Lloyd over weakly clustered data leaves SKEWED cluster sizes (sf5
        # measured: max cluster 104k of 2.5M rows, Σn_c² = 23.5× the uniform
        # n·target bound), and one-group-per-cluster puts that megacluster's
        # entire 5.4B-dot gram matrix in ONE single-threaded task — the
        # measured sf5 straggler. When any cluster exceeds ``pairwise_block``
        # rows, decompose the pairwise stage into BLOCK-PAIR tasks instead:
        # row_number-order each cluster by vec_id into blocks of that many
        # rows; every block pair (bi ≤ bj) becomes one task that marks
        # right-block rows hit by a ≥-threshold cosine from a lower-id row.
        # The drop set is EXACTLY the one-task to-the-ulp computation (same
        # dots, same comparisons, regrouped), but the megacluster's work
        # spreads over nb·(nb+1)/2 bounded tasks. Data duplication is
        # n_c·nb rows for an nb-block cluster — only clusters larger than
        # the block pay it, and the block census is one cheap aggregate on
        # the already-checkpointed `sided`.
        # ONE action both materializes the persist (the census consumes every
        # row of `sided`) and returns the skew statistic — the former separate
        # sided.count() + census pair paid one extra full-pass job barrier per
        # query for no information (guide §1/§5: collapse serial actions)
        max_cluster = (
            sided.groupBy("centroid").count().agg(F.max("count")).collect()[0][0] or 0
        )
        if max_cluster <= pairwise_block:
            drops = (
                sided.select("centroid", "vec_id", "_v", "_nv")
                .groupBy("centroid")
                .applyInPandas(_cluster_drops, f"vec_id {id_dt}")
            )
        else:
            wcl = Window.partitionBy("centroid").orderBy("vec_id")
            blocked = sided.select("centroid", "vec_id", "_v", "_nv").withColumn(
                "_b",
                ((F.row_number().over(wcl) - F.lit(1)) / F.lit(pairwise_block)).cast("int"),
            )
            nbs = blocked.groupBy("centroid").agg(F.max("_b").alias("_nbmax"))
            exploded = (
                blocked.join(nbs, "centroid")
                .withColumn("_ob", F.explode(F.sequence(F.lit(0), F.col("_nbmax"))))
                .withColumn("_bi", F.least("_b", "_ob"))
                .withColumn("_bj", F.greatest("_b", "_ob"))
            )

            def _pair_drops(pdf):
                prune_zip_importers()
                import numpy as np
                import pandas as pd

                bi, bj = int(pdf["_bi"].iat[0]), int(pdf["_bj"].iat[0])
                if bi == bj:
                    return _cluster_drops(pdf)
                left = pdf[pdf["_b"] == bi]
                right = pdf[pdf["_b"] == bj]
                if not len(left) or not len(right):
                    return pdf[["vec_id"]].iloc[0:0]
                # blocks are id-ordered, so every left id < every right id:
                # only right rows can be dropped by this pair
                Xl = np.stack([np.asarray(v, dtype=np.float64) for v in left["_v"]])
                Xl /= left["_nv"].to_numpy(dtype=np.float64)[:, None]
                Xr = np.stack([np.asarray(v, dtype=np.float64) for v in right["_v"]])
                Xr /= right["_nv"].to_numpy(dtype=np.float64)[:, None]
                # same ~256MB column blocking as the one-task kernel
                hit = np.zeros(len(Xr), dtype=bool)
                cb = max(1, 33_554_432 // max(1, len(Xl)))
                for s in range(0, len(Xr), cb):
                    e = min(len(Xr), s + cb)
                    hit[s:e] = ((Xl @ Xr[s:e].T) >= thr).any(axis=0)
                return pd.DataFrame({"vec_id": right.loc[hit, "vec_id"]})

            drops = (
                exploded.groupBy("centroid", "_bi", "_bj")
                .applyInPandas(_pair_drops, f"vec_id {id_dt}")
                .distinct()  # a row may be hit via several block pairs
            )
        # materialize the skinny (vec_id, centroid, keep) result and release
        # the vector-carrying `sided` cache (in the finally, so a failure
        # releases it too) — returning lazily would pin the whole embedded
        # corpus in storage memory for the session's lifetime (same
        # leak-shape as the minhash shingle cache; see
        # minhash_near_duplicates)
        return (
            sided.select("vec_id", "centroid")
            .join(drops.withColumn("_drop", F.lit(True)), "vec_id", "left")
            .select(
                "vec_id", "centroid", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        sided.unpersist()


def cosine_near_duplicates(
    vecs: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate join: every unordered pair with
    cosine ≥ threshold → (d1, d2, cosine), d1 < d2.

    This is the deliberate O(n²) exact baseline — a distributed cartesian
    (both sides stay partitioned; no corpus-sized broadcast) with the dot
    product in JVM higher-order functions. Task count is |parts(a)|·|parts(b)|,
    so it parallelizes, but the work is quadratic by definition; for corpus
    scale use cosine_near_duplicates_lsh, which replaces the cross join with
    a banded bucket equi-join."""
    # the left side sets the cartesian's task count — a single-split source
    # would serialize the whole n² scan into one task (measured 14 s for 4M
    # pairs at sf0.1); at real scale the source has many splits already
    left = scan_parallel(vecs, key=id_col)
    a = left.select(
        F.col(id_col).alias("d1"),
        F.col(vec_col).alias("_v1"),
        _norm(F.col(vec_col)).alias("_n1"),
    )
    b = vecs.select(
        F.col(id_col).alias("d2"),
        F.col(vec_col).alias("_v2"),
        _norm(F.col(vec_col)).alias("_n2"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            _cosine(_dot(F.col("_v1"), F.col("_v2")), F.col("_n1"), F.col("_n2")).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_band_signatures(
    vecs: DataFrame,
    n_planes: int = 64,
    bands: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded random-hyperplane signatures for cosine LSH near-dup joins:
    n_planes sign bits split into ``bands`` bands of r = n_planes/bands bits
    → (vec_id, band, sig). Two vectors collide in a band iff all r sign bits
    agree there; P(bit agrees) = 1 − θ/π, so a band matches with p^r and any
    of b bands with 1−(1−p^r)^b — r tunes precision, b recall (same banding
    logic as MinHash-LSH, dedup.py).

    Computed as ONE Arrow matmul per batch (sign(X·Pᵀ), then a bit-pack
    per band). The previous formulation compiled n_planes literal-array
    HOF folds into the plan — at 240 planes × 64 dims that is ~15k literal
    nodes whose interpreted folds dominated the whole near-dup query
    (15.4 s of 20.5 s at 4k vectors, round-7 measure); the matmul is
    milliseconds of BLAS. NULL and wrong-dimension vectors are dropped at
    signature time: the old expression bucketed them all at sig 0 (every
    NULL dot compares false), where they could never pass exact
    verification — emitting no signature is output-equivalent and keeps
    the degenerate all-NULL bucket out of the join."""
    import numpy as np

    r = n_planes // bands
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    P = planes
    nb, rr, d_in = int(bands), int(r), int(dim)
    id_type = vecs.schema[id_col].dataType.simpleString()

    def _sigs(batches):
        prune_zip_importers()
        import numpy as _np
        import pandas as _pd

        weights = (_np.int64(1) << _np.arange(rr, dtype=_np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            ok = pdf[vec_col].apply(lambda v: v is not None and len(v) == d_in)
            pdf = pdf[ok]
            if not len(pdf):
                continue
            X = _np.stack(
                pdf[vec_col].apply(lambda v: _np.asarray(v, dtype=_np.float64)).to_numpy()
            )
            S = (X @ P.T) > 0  # n × n_planes sign bits
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            sigs = _np.concatenate(
                [S[:, j * rr : (j + 1) * rr] @ weights for j in range(nb)]
            )
            yield _pd.DataFrame(
                {
                    "vec_id": _np.tile(ids, nb),
                    "band": _np.repeat(_np.arange(nb, dtype=_np.int32), n),
                    "sig": sigs,
                }
            )

    ensure_worker_imports(vecs.sparkSession)
    return vecs.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _sigs, schema=f"vec_id {id_type}, band int, sig long"
    )


def cosine_near_duplicates_lsh(
    vecs: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    bands: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
    min_bands: int = 1,
    broadcast_vectors: bool | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate embedding-cosine near-dup join, the corpus-scale path:
    candidates = pairs sharing ≥ ``min_bands`` (band, sig) buckets, then
    exact cosine verification ≥ threshold → (d1, d2, cosine), d1 < d2.

    ``broadcast_vectors``: the verify join ships two full vectors per
    candidate, and a shuffled (cand ⋈ d1-vector) intermediate re-shuffles
    on d2 — the pipeline's dominant shuffle when candidates are dense (the
    same fat-intermediate shape as ``jaccard_verify``; see its docstring).
    The join runs the LSH verify-join plan shared with ``jaccard_verify``
    (``_heap.verify_chunks`` / ``_heap.verify_join``): None (auto) takes
    the HYBRID plan — the d1 join shuffled, the d2 vectors broadcast in as
    many hash chunks as count×(dim·8 + 64) B needs under every broadcast
    cap, so the fat intermediate never touches a shuffle. An unknown
    memory budget, or more chunks than the cap, takes plain shuffled
    joins; False forces them; any other value raises.
    NOTE auto runs one count() job on ``vecs`` — a direct caller with an
    unmaterialized input pays its subtree twice; pass ``n_vectors`` (an
    upper bound is fine: it can only add a chunk) or
    ``broadcast_vectors=False`` to skip the census.

    Defaults (r=8, b=8) target HIGH thresholds: at cos 0.98 a band matches
    with 0.59 → recall ≈ 1 − 0.41⁸ ≈ 0.999; at cos 0.9 recall ≈ 0.94; by
    cos 0.5 candidates are rare — which is the point, the bucket join stays
    tiny. Oversized buckets (degenerate vectors) are capped like MinHash-LSH.
    Verification is exact, so precision is 1.0; only recall is approximate.

    ``min_bands`` is the 100 TB knob for HIGH thresholds over CLUSTERED
    corpora (measured, round-7 sf1 soak): a corpus of 10 clusters × 100k
    members floods ≥1-band candidate generation with ~1.8B mid-cosine
    pairs (cos≈0.6 matches one of 10 r=16 bands with p≈0.036) that all
    FAIL verification — and the verify join ships two full vectors per
    candidate, which exhausted a 76 GB disk before any wrong answer could
    even be computed. Requiring k co-matching bands costs a fixed-width
    (d1, d2) count shuffle and multiplies the flood by ~C(b,k)p_band^k:
    at min_bands=3, cos-0.86 pairs survive with p≈0.013 and cos-0.6 pairs
    essentially never, while a threshold-0.99 true pair (p_band ≈ 0.48 at
    the boundary, 0.97 for near-identical) is missed with P ≤ C(10,2)·
    p²(1−p)⁸ — ~4e-11 for near-identical pairs. Raise it only when the
    threshold is high enough that true pairs match most bands.

    Over-cap max_bucket drops are SILENT in the pair output (the round-7
    sf1 soak proved the hazard: at r=16, dense cluster-core buckets
    exceeded the cap in every band and silently lost 33/500k true twins —
    only a planted-pair audit caught it). Audit them with
    ``cosine_lsh_cap_audit`` at the same parameters: capped_sig_rows > 0
    where over-cap buckets could hold true pairs means raise
    r = n_planes/bands (shrinks buckets ~2× per extra bit), NOT max_bucket."""
    sig = hyperplane_band_signatures(vecs, n_planes, bands, seed, dim, id_col, vec_col)
    counted = sig.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "sig"))
    ).filter(F.col("_n") <= max_bucket)
    a = counted.select("band", "sig", F.col("vec_id").alias("d1"))
    b = counted.select("band", "sig", F.col("vec_id").alias("d2"))
    # one sig per (vec, band), so rows per (d1, d2) = co-matching bands;
    # the groupBy doubles as the old .distinct()
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .filter(F.col("_nb") >= int(min_bands))
        .select("d1", "d2")
    )
    from periodicity_spark.pipeline import _heap

    # payload: the vector doubles + norm + id per row
    n_chunks = _heap.verify_chunks(
        vecs.sparkSession,
        broadcast_vectors,
        lambda: (n_vectors if n_vectors is not None else vecs.count()) * (dim * 8 + 64),
    )
    # the verify arithmetic runs once per CANDIDATE pair — unrolled
    # codegen dot/norm at the known dim instead of interpreted HOF folds
    # (bit-identical: same seed/element order, fold fallback off-dim)
    va = vecs.select(
        F.col(id_col).alias("d1"),
        F.col(vec_col).alias("_v1"),
        _norm_expr(vec_col, dim).alias("_n1"),
    )
    vb = vecs.select(
        F.col(id_col).alias("d2"),
        F.col(vec_col).alias("_v2"),
        _norm_expr(vec_col, dim).alias("_n2"),
    )
    return (
        _heap.verify_join(cand, va, vb, n_chunks)
        .select(
            "d1",
            "d2",
            _cosine(_dot_expr("_v1", "_v2", dim), F.col("_n1"), F.col("_n2")).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_lsh_cap_audit(
    vecs: DataFrame,
    n_planes: int = 64,
    bands: int = 8,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
) -> DataFrame:
    """``dedup.lsh_cap_audit`` at ``cosine_near_duplicates_lsh``'s
    parameters — one row (capped_buckets, capped_sig_rows,
    max_bucket_seen) telling you what that run's bucket cap silently
    discarded. Same signature matmul as the main run plus one map-combined
    aggregate; see lsh_cap_audit for why this is a separate tiny job
    rather than an observe() metric (AQE prunes CollectMetrics exactly in
    the all-capped worst case)."""
    from periodicity_spark.pipeline.dedup import lsh_cap_audit

    sig = hyperplane_band_signatures(vecs, n_planes, bands, seed, dim, id_col, vec_col)
    return lsh_cap_audit(sig, max_bucket=max_bucket)


def ann_topk_auto(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "qid",
    probe_vec_col: str = "qvec",
    dim: int = 64,
    brute_force_threshold: int = 100_000,
    **lsh_kwargs,
) -> DataFrame:
    """Strategy pick for cosine top-k: small corpus → exact brute-force;
    large corpus → the sign-hash multi-table LSH. → (qid, vec_id, cosine,
    rank), the shared contract of every path here.

    Routing (measured, round-7 sf1 soak at 500k vectors): brute-force is
    one corpus scan with the probe set broadcast — exact, and under ~10⁵
    corpus rows the scan is cheaper than LSH's signature + bucket-join
    overhead (49 s brute vs 21 s LSH at 500k×128 brackets the crossover;
    below ~100k the exact scan wins outright and exactness is free).
    Above the threshold, ``cosine_topk_lsh`` is the measured primary.

    This NEVER routes to ``ann_mllib_lsh``: for the cosine contract the
    corpus is L2-normalized (explicitly there, implicitly by the metric),
    and on the unit sphere BucketedRandomProjectionLSH's Euclidean
    bucketing is geometry-bound — ~13× slower than the sign-hash path at
    equal (1.000) recall, 282 s vs 21 s at 500k×64. That path stays
    available as an explicit MLlib-parity integration only.

    The corpus-size probe is one eager count (parquet answers it from
    row-group metadata — no data scan); pass ``brute_force_threshold=0``
    to force the LSH path with no probe job."""
    if brute_force_threshold > 0:
        n = corpus.count()
        if n <= brute_force_threshold:
            return cosine_topk_bruteforce(
                corpus, probes, k=k, id_col=id_col, vec_col=vec_col,
                probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
            )
    # lsh_kwargs forwards the LSH branch's tuning surface (n_tables,
    # n_planes, seed) — recall is a property of the data's neighbor
    # angles (see cosine_topk_lsh), so callers on low-cosine corpora
    # need to raise n_tables without giving up the router
    return cosine_topk_lsh(
        corpus, probes, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
        probe_id_col=probe_id_col, probe_vec_col=probe_vec_col,
        **lsh_kwargs,
    )


def ann_mllib_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    bucket_length: float | None = None,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "qid",
    probe_vec_col: str = "qvec",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k through Spark MLlib's BucketedRandomProjectionLSH — the
    built-in Euclidean-LSH index as an alternative scale path to the
    hand-rolled hyperplane LSH (``ann_lsh_topk``). Vectors are L2-
    normalized first, so Euclidean distance is a monotone transform of
    cosine (d² = 2 − 2cos) and the top-k by distance IS the cosine top-k
    of the candidate set.

    Plan shape: MLlib's approxSimilarityJoin explodes each side into its
    ``num_tables`` hash values and equi-joins on (table, bucket) — the
    same banded-bucket join the hand-rolled path uses, here with the
    hashes coming from the fitted pipeline model. Deterministic for a
    fixed ``seed``. Candidates are exactly re-ranked per probe.

    Bucket length (measured, round-7 sf1 soak + tuning sweep): on
    L2-NORMALIZED vectors a projection's spread is only ~1/sqrt(dim), so
    a naive ``bucket_length=1.0`` puts essentially every vector in one
    bucket per table and the join degenerates to num_tables × brute force
    (336 s vs 49 s brute / 21 s hyperplane-LSH at 500k×128). The default
    (``bucket_length=None``) therefore derives ``2/sqrt(dim)`` — two
    projection-σ per bucket — once the dimension is known. Measured
    recall@10 at that width is 1.000 on every tested regime (clustered
    20k×64 and 100k×128, uniform-sphere 20k×64 — the LSH worst case, and
    500k×64: 282 s vs the degenerate width's 336 s) and it is never
    slower than the degenerate width. The gain is bounded, though: a
    projection of unit vectors concentrates ~68% of the corpus within
    ±1σ of bucket 0, so Euclidean bucketing discriminates unit-sphere
    data weakly at any recall-safe width. Finer buckets buy more
    selectivity but the recall frontier is data-dependent: at 100k×128
    clustered, 0.5/sqrt(dim) is 2.1× faster at recall 0.994, but the same
    width drops to 0.803 on uniform vectors — so the aggressive setting
    is an explicit opt-in, not the default. ``ann_lsh_topk`` remains the
    primary scale path; its sign-hash bands have no width parameter to
    mis-set.

    → (qid, vec_id, cosine, rank): the same contract as
    ``cosine_topk_bruteforce``, approximate recall.
    """
    import warnings

    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    # call-time regime note (round-7 verdict): this path is correct but
    # geometry-bound — a user reaching for it on the cosine contract gets
    # the measured comparison, not a silent 13× slowdown
    warnings.warn(
        "ann_mllib_lsh is the MLlib-parity path: on the L2-normalized "
        "vectors it operates on, BucketedRandomProjectionLSH's Euclidean "
        "bucketing discriminates weakly (~13x slower than cosine_topk_lsh "
        "at 500k x 64, equal 1.000 recall). Prefer ann_topk_auto / "
        "cosine_topk_lsh unless you specifically need the MLlib index.",
        stacklevel=2,
    )

    def _norm2(col):
        return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))

    # zero-norm (and NaN-poisoned) vectors have undefined cosine — the
    # brute-force path excludes them via its NULL-cosine filter; here they
    # are dropped by a RAW-column predicate that pushes all the way to the
    # scan. coalesce(..., false): a NULL embedding makes the predicate
    # NULL, and `NULL AND x` must still evaluate x — without the coalesce
    # the LSH model's internal size(hashes)>0 filter (pushed into the same
    # scan-level conjunction) would run its hash UDF on the dirty row
    def _clean(col):
        n = _norm2(col.cast("array<double>"))
        return F.coalesce((n > 0) & ~F.isnan(n), F.lit(False))

    # every expression downstream of the scan must be TOTAL on dirty rows:
    # Catalyst pushes the join's inferred isnotnull(features) and the LSH
    # model's size(hashes)>0 into the scan filter, where the full
    # hash(normalize(array_to_vector(...))) chain is evaluated on EVERY
    # row, including the ones _clean rejects (conjunct order inside a
    # pushed filter is not guaranteed). array_to_vector NPEs on NULL and
    # the hash's gemv aborts on a wrong-dim vector, so dirty rows get a
    # finite placeholder of the corpus dimension; _clean still drops them
    # before any join output. A per-row lazy placeholder (array_repeat by
    # size(vec)) would NOT work: a wrong-dim dirty row would reproduce its
    # own wrong dimension and still abort the gemv. Pass ``dim`` to skip
    # the one-row probe job (a plan-building function running an eager
    # Spark job is surprising, and the first row's length is not
    # guaranteed typical); the probe stays as a fallback so the
    # no-argument call keeps working on clean corpora.
    if dim is None:
        first = (
            corpus.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
        )
        dim = int(first[0]) if first else 1
    placeholder = F.array_repeat(F.lit(0.5), int(dim)).cast("array<double>")
    if bucket_length is None:
        # 2 projection-σ per bucket on the unit sphere (see docstring)
        bucket_length = 2.0 / math.sqrt(max(int(dim), 1))

    # L2-normalize via MLlib's Normalizer: one JVM pass per vector.
    # (An F.transform lambda dividing by the aggregate norm would
    # re-evaluate the whole-array norm once PER ELEMENT — Catalyst does
    # not subexpression-eliminate inside lambda bodies — i.e. O(D²)/row.)
    def _featurize(df, idc, vc, out_id):
        safe = F.when(_clean(F.col(vc)), F.col(vc).cast("array<double>")).otherwise(
            placeholder
        )
        raw = df.filter(_clean(F.col(vc))).select(
            F.col(idc).alias(out_id),
            array_to_vector(safe).alias("_raw"),
        )
        return (
            Normalizer(inputCol="_raw", outputCol="features", p=2.0)
            .transform(raw)
            .drop("_raw")
        )

    c = _featurize(corpus, id_col, vec_col, "vec_id")
    p = _featurize(probes, probe_id_col, probe_vec_col, "qid")
    # MLlib's fit() throws "head of empty array" when every corpus row was
    # dirty — return the contract's empty frame instead (fit is eager
    # regardless, so the limit-1 emptiness probe adds no new eagerness)
    if c.isEmpty() or p.isEmpty():
        from pyspark.sql import types as T

        qid_t = probes.schema[probe_id_col].dataType
        vid_t = corpus.schema[id_col].dataType
        schema = T.StructType(
            [
                T.StructField("qid", qid_t),
                T.StructField("vec_id", vid_t),
                T.StructField("cosine", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return corpus.sparkSession.createDataFrame([], schema)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=float(bucket_length),
        numHashTables=int(num_tables),
        seed=int(seed),
    )
    model = lsh.fit(c)
    # distance 2.0 = the whole unit sphere; candidate generation is still
    # bucket-bounded (only pairs sharing >=1 bucket reach the filter)
    joined = model.approxSimilarityJoin(c, p, 2.0, distCol="_d")
    scored = joined.select(
        F.col("datasetB.qid").alias("qid"),
        F.col("datasetA.vec_id").alias("vec_id"),
        # cosine from the normalized Euclidean distance: cos = 1 - d^2/2
        (F.lit(1.0) - F.col("_d") * F.col("_d") / F.lit(2.0)).alias("cosine"),
    ).filter(F.col("vec_id") != F.col("qid"))  # bruteforce's self-exclusion
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )
