"""Deduplication operators for large-scale document corpora.

Beyond the reference's surface (BASELINE.json north-star): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — each designed so the
candidate-generation step is a hash shuffle (never an O(n²) cross join) and
therefore scales to 100 TB corpora:

- exact: one groupBy on md5(text).
- MinHash+LSH: shingle → per-band min-hash signature → self-equi-join on
  (band, signature). Only same-bucket pairs are compared; the verify step
  (true Jaccard) runs only on candidates.
- SimHash: 64-bit weighted-bit-majority fingerprint; near-dup = equal
  fingerprint bands (Hamming blocking).

Hashes are md5 hex strings (portable across engines for oracle checks);
the per-band min is a lexicographic string min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _md5(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def _shingle_census_bound(docs: DataFrame, text_col: str, k: int) -> int:
    """Upper bound on the corpus's distinct-shingle census from text
    LENGTHS alone: a doc of n chars has at most n−k+1 k-shingles (fewer
    after the packed path's array_distinct), so Σ greatest(length−k+1, 0)
    over all docs bounds Σ|distinct shingles| from above. One cheap scan
    of the text column — no md5, no array building, no persist write —
    versus an exact census, which would run the ENTIRE shingle transform
    as a standalone job just to size the verify join's broadcast chunks.
    The bound errs only conservative: an overestimated payload can add a
    chunk to the hybrid verify plan (result-identical by the pinned
    differentials), never approve an oversized broadcast."""
    row = docs.agg(
        F.sum(
            F.greatest(F.length(F.col(text_col)) - F.lit(k - 1), F.lit(0))
        )
    ).first()
    return int(row[0] or 0)


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (text_hash, n_docs, first_doc): groups with >1 identical text."""
    return (
        docs.groupBy(_md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


P31 = 2147483647  # 2^31 − 1, prime — the affine-permutation modulus


def minhash_perm_consts(n_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) triples for the 2D affine family
    h_i(x, y) = (a_i·x + b_i·y + c_i) mod P31 — shared verbatim by the
    DuckDB oracle. Two independent base coordinates are essential: 1D
    affine perms of a single hash are only weakly min-wise independent, and
    on a shared-vocabulary corpus that inflated LSH candidates ~9×
    (measured 17k → 153k pairs at sf0.1)."""
    return [
        (
            (((2 * i + 1) * 1103515245) % P31) or 1,
            (((i + 7) * 2654435761) % P31) or 1,
            (i * 12345 + 6789) % P31,
        )
        for i in range(n_hashes)
    ]


def _shingle_hex_arrays(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Per-doc DISTINCT k-gram md5 hex arrays: → (doc_id, _hs array<string>).
    Shared front of every shingle representation (exploded and packed) so
    the fingerprints — and the DuckDB oracle — come from ONE spelling.

    (doc_id, shingle) distinct ≡ per-document distinct, so dedup happens
    INSIDE the row via array_distinct — no global distinct shuffle ever
    exists (shingling is a scan-only stage). Docs shorter than k are
    dropped (they have no k-shingle).

    ASCII fast path: substring() on a STRING is codepoint-aware, so each
    of the len-k+1 calls scans from the string's start — O(len²) UTF-8
    decodes per doc, measured as ~2/3 of the whole shingle stage at sf1
    (135 s vs 47 s for the byte path on the same 107M shingles). When
    length == octet_length the text is pure ASCII and byte slices ARE
    char slices, so slice the utf-8 bytes directly (substring on BINARY
    is a byte offset — O(k) per shingle); non-ASCII rows keep the exact
    codepoint path. md5 input is the same byte sequence either way, so
    the fingerprints are unchanged. The split is a union of two filtered
    scans rather than a per-row CASE: a CASE whose branches are
    higher-order transforms measured ~3× slower than the plain-path
    projection (the branch forces the interpreted expression path for
    the whole array), while two one-path branches each stay fast; the
    doubled scan is column-pruned and trivial next to the shingling."""
    base = docs.filter(F.length(text_col) >= k)
    is_ascii = F.length(text_col) == F.octet_length(text_col)
    byte_side = base.filter(is_ascii).select(
        F.col(id_col).alias("doc_id"),
        F.encode(text_col, "utf-8").alias("_tb"),
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(_tb) - {k - 1}),"
                f" i -> md5(substring(_tb, i, {k})))"
            )
        ).alias("_hs"),
    )
    char_side = base.filter(~is_ascii).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k - 1}),"
                f" i -> md5(cast(substring({text_col}, i, {k}) as binary)))"
            )
        ).alias("_hs"),
    )
    return byte_side.unionByName(char_side)


def char_shingles(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct character k-grams per doc, HASHED at the source: → (doc_id,
    shingle BIGINT, shingle2 BIGINT) — two independent 60-bit integers from
    the k-gram's md5 halves (hex chars 1-15 and 16-30). Docs shorter than k
    are dropped (they have no k-shingle).

    Hashing before the distinct keeps every downstream shuffle (distinct,
    signature agg, verify joins) on 8-byte ints instead of text — at corpus
    scale that is most of the dedup shuffle volume. ``shingle`` alone is the
    join identity (collisions ~n²/2⁶⁰); ``shingle2`` exists so the minhash
    permutations have a second independent coordinate. Both engines derive
    the same integers, so oracle checks stay exact.

    This is the EXPLODED representation (one row per (doc, shingle)) —
    what ``jaccard_verify`` and the per-shingle oracle SQL consume. The
    LSH pipeline itself uses ``char_shingles_packed``, which never
    explodes and therefore never re-groups."""
    grams = _shingle_hex_arrays(docs, k, text_col, id_col)
    return grams.select("doc_id", F.explode("_hs").alias("_h")).select(
        "doc_id",
        F.conv(F.substring("_h", 1, 15), 16, 10).cast("long").alias("shingle"),
        F.conv(F.substring("_h", 16, 15), 16, 10).cast("long").alias("shingle2"),
    )


def char_shingles_packed(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The per-document shingle SET as one packed row: → (doc_id,
    sh array<struct<s1 BIGINT, s2 BIGINT>>), same md5-half integers as
    ``char_shingles`` (s1 = shingle, s2 = shingle2; asserted equal in
    tests).

    Zero shuffles — the distinct is in-row and nothing explodes. This
    matters because the shingle set is BORN per-document: exploding it to
    107M rows (sf1) only to re-group twice downstream (the signature
    aggregate and the verify join's collect_list) paid two full corpus
    shuffles plus a corpus-sized exploded persist for a grouping the data
    already had. Signatures read this via in-row array mins
    (``minhash_signatures_from_packed``) and the verify join projects
    ``transform(sh, z -> z.s1)`` — the LSH bucket equi-join becomes the
    pipeline's ONLY corpus shuffle."""
    grams = _shingle_hex_arrays(docs, k, text_col, id_col)
    return grams.select(
        "doc_id",
        F.expr(
            "transform(_hs, h -> struct("
            "cast(conv(substring(h, 1, 15), 16, 10) as bigint) as s1, "
            "cast(conv(substring(h, 16, 15), 16, 10) as bigint) as s2))"
        ).alias("sh"),
    )


def _affine_perm(h1: Column, h2: Column, a: int, b: int, c: int) -> Column:
    """One 2D affine permutation (a·h1 + b·h2 + c) mod P31 — the single
    spelling shared by the aggregate and in-row signature paths (and
    mirrored verbatim by the DuckDB oracle)."""
    return (
        (F.lit(a) * h1) % F.lit(P31) + (F.lit(b) * h2) % F.lit(P31) + F.lit(c)
    ) % F.lit(P31)


def _affine_perm_sql(h1: str, h2: str, a: int, b: int, c: int) -> str:
    """``_affine_perm`` as a SQL string parsed JVM-side. Building the 16
    permutation Columns py4j-op by py4j-op measured ~0.5 s of driver time
    per minhash plan (guide §5 — the bench re-pays it every rep, and a
    long-lived production driver on every pipeline build); one parsed
    string is ~20 round-trips total. Operand shapes mirror the Column
    build exactly — SQL ``%`` binds tighter than ``+`` and ``+`` is
    left-associative, matching Python — so the parsed tree is
    node-identical (pinned by an optimizedPlan byte-equality test against
    the Column reference)."""
    return f"(({a} * {h1}) % {P31} + ({b} * {h2}) % {P31} + {c}) % {P31}"


def _band_stack(wide: DataFrame, n_bands: int, r: int) -> DataFrame:
    """(doc_id, _m0.._mN wide minhashes) → (doc_id, band, sig): band j's
    signature is md5 of the comma-joined minhashes [jr, (j+1)r), unpivoted
    with stack. Shared tail of both signature paths — their bit-identical
    contract rests on this being ONE implementation."""
    bands = [
        "md5(cast(concat_ws(',', "
        + ", ".join(f"_m{j * r + i}" for i in range(r))
        + f") as binary)) AS _b{j}"
        for j in range(n_bands)
    ]
    wide = wide.selectExpr("doc_id", *bands)
    stack_expr = ", ".join(f"{j}, _b{j}" for j in range(n_bands))
    return wide.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_expr}) as (band, sig)")
    )


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 16, r: int = 4
) -> DataFrame:
    """Banded MinHash signatures (b = n_hashes // r bands of r rows each):
    all n_hashes minhashes derive from the shingle's two base hashes via 2D
    affine permutations (a_i·h1 + b_i·h2 + c_i) mod 2³¹−1 — integer
    arithmetic in codegen instead of n_hashes md5 calls per shingle; band
    j's signature is md5 of the comma-joined minhashes [jr, (j+1)r).
    → (doc_id, band, sig).

    r > 1 is essential on shared-vocabulary corpora: with r=1 every doc
    containing the globally-commonest shingle collides (measured: buckets of
    ~3k docs at ~0.25 true Jaccard). Collision probability per band is
    Jaccard^r, so r=4 separates true near-dups (j ≥ 0.6) from vocabulary
    overlap (j ≈ 0.25) by two orders of magnitude."""
    aggs = [
        F.expr(
            "min("
            + _affine_perm_sql(f"(shingle % {P31})", f"(shingle2 % {P31})", a, b, c)
            + f") AS _m{i}"
        )
        for i, (a, b, c) in enumerate(minhash_perm_consts(n_hashes))
    ]
    wide = shingles.groupBy("doc_id").agg(*aggs)
    return _band_stack(wide, n_hashes // r, r)


def minhash_signatures_from_packed(
    packed: DataFrame, n_hashes: int = 16, r: int = 4
) -> DataFrame:
    """Banded MinHash signatures from a ``char_shingles_packed`` frame —
    the n_hashes affine min-reductions and the band md5s all happen inside
    array higher-order functions, so the stage is a pure stateless
    projection over the packed rows (no shuffle at all; compare the
    aggregate path's full corpus groupBy). Bit-identical to
    ``minhash_signatures(char_shingles(...))`` (asserted in tests): same
    md5-half base hashes, same permutation constants, same comma-joined
    band encoding. → (doc_id, band, sig)."""
    mins = [
        F.array_min(
            F.transform(
                F.col("sh"),
                lambda z: _affine_perm(
                    z["s1"] % F.lit(P31), z["s2"] % F.lit(P31), a, b, c
                ),
            )
        ).alias(f"_m{i}")
        for i, (a, b, c) in enumerate(minhash_perm_consts(n_hashes))
    ]
    wide = packed.select("doc_id", *mins)
    return _band_stack(wide, n_hashes // r, r)


def minhash_signatures_per_row(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    r: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded MinHash signatures computed entirely IN-ROW — the shingle
    set, the n_hashes affine min-reductions, and the band md5s all happen
    inside array higher-order functions, so the stage is a pure stateless
    projection (``char_shingles_packed`` ∘
    ``minhash_signatures_from_packed``). Bit-identical to
    ``minhash_signatures(char_shingles(...))`` (asserted in tests).

    This is the STREAMING-compatible signature path: a stream cannot chain
    the per-doc groupBy aggregate in front of a stateful bucket operator
    (two stateful stages), but a projection can feed one — the packed
    frame is a union of two filtered projections over one source, which
    is streaming-legal upstream of the stateful bucket operator. It is
    also the batch pipeline's path (``minhash_near_duplicates`` persists
    the packed frame and derives signatures and verify arrays from it).

    → (doc_id, band, sig).
    """
    return minhash_signatures_from_packed(
        char_shingles_packed(docs, k=k, text_col=text_col, id_col=id_col),
        n_hashes=n_hashes,
        r=r,
    )


def lsh_cap_audit(signatures: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Over-cap drop tally for a banded-LSH signature frame (band, sig, …):
    → ONE row (capped_buckets, capped_sig_rows, max_bucket_seen).

    The ``max_bucket`` guard in every banded-LSH candidate path is
    otherwise SILENT — a too-dense bucket regime can eat true duplicates
    with no signal (measured, round-7 sf1 soak: at r=16 dense cluster-core
    buckets exceeded the cap in every band and silently lost 33/500k
    planted twins; only a planted-pair audit caught it — at 100 TB nobody
    has one). Run this ONE aggregate over the same signature frame the
    candidate join consumes (``minhash_signatures`` / ``simsearch.
    hyperplane_band_signatures``) and alert on capped_sig_rows > 0: if
    over-cap buckets may hold true pairs, raise r (narrower buckets, ~2×
    per extra bit), NOT max_bucket (which re-admits the O(bucket²) pair
    blowup the cap exists to stop).

    Deliberately a separate tiny job rather than a ``DataFrame.observe``
    metric on the main plan: AQE's empty-relation replan DROPS CollectMetrics
    nodes from the final plan exactly in the worst case (every bucket
    capped → empty candidate side → the whole observed subtree is
    optimized away and the metrics are lost). One map-combined aggregate
    over (band, sig) — cheap at any scale, and it cannot be pruned."""
    mb = int(max_bucket)
    sizes = signatures.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("_bn"))
    return sizes.agg(
        F.coalesce(
            F.sum(F.when(F.col("_bn") > mb, F.lit(1))), F.lit(0)
        ).alias("capped_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("_bn") > mb, F.col("_bn"))), F.lit(0)
        ).alias("capped_sig_rows"),
        F.coalesce(F.max("_bn"), F.lit(0)).alias("max_bucket_seen"),
    )


def lsh_candidate_pairs(signatures: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Docs agreeing on ≥1 band: → (d1, d2) with d1 < d2. Equi-join on
    (band, sig) — the shuffle key is the LSH bucket, so co-bucketed docs
    land on the same partition and no cross join ever materializes.

    Buckets larger than ``max_bucket`` are degenerate (boilerplate/stop
    patterns) and are dropped — the O(bucket²) pair blowup guard that keeps
    the worst key bounded at corpus scale. The drop is silent HERE;
    ``lsh_cap_audit`` over the same signature frame reports what the cap
    discarded (see its docstring for how to re-parameterize when it fires)."""
    # window + cap filter with the window as one parsed SQL string —
    # count(1) with no ORDER BY gets the same unbounded frame the Column
    # build had, so the plan is node-identical (pinned in tests); guide §5
    capped = (
        signatures.selectExpr(
            "*", "count(1) OVER (PARTITION BY band, sig) AS _bn"
        )
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    a = capped.select("band", "sig", F.col("doc_id").alias("d1"))
    b = capped.select(
        F.col("band").alias("_band"), F.col("sig").alias("_sig"), F.col("doc_id").alias("d2")
    )
    return (
        a.join(b, (a["band"] == b["_band"]) & (a["sig"] == b["_sig"]) & (a["d1"] < b["d2"]))
        .select("d1", "d2")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.0,
    broadcast_arrays: bool | None = None,
    shingle_count: int | None = None,
) -> DataFrame:
    """True n-gram Jaccard for candidate pairs only: → (d1, d2, jaccard).

    One groupBy packs each doc's distinct shingles into an array,
    candidates join the two array payloads by d1/d2 and the intersection
    is an in-row array_intersect. The shuffle carries each shingle ONCE
    (inside its doc's array) instead of a candidate×shingle exploded join
    — measured 1.8× faster at sf0.1, bit-identical output. The array row
    is the whole doc's shingle set, so this assumes docs are length-capped
    (any LLM-corpus pipeline does this upstream).

    The two array joins run the LSH verify-join plan shared with
    ``cosine_near_duplicates_lsh`` (``_heap.verify_chunks`` /
    ``_heap.verify_join``). ``broadcast_arrays`` None (auto) takes the
    HYBRID plan: the d1 join is shuffled and the d2 arrays are broadcast
    in as many hash chunks as the payload (8 B per shingle) needs under
    every broadcast cap, so the array-carrying intermediate never
    re-shuffles (sf1 measured: 69M candidates × ~1.7 KB ≈ 120 GB when it
    does, which ENOSPC'd a 79 GB-free local disk under lz4). An unknown
    memory budget, or more chunks than the cap, takes the plain shuffled
    joins. False forces them (the contract-gated cluster-shape plan, which
    AQE may still convert per runtime stats). Any other value raises.

    NOTE auto mode is EAGER: sizing the chunks runs one count() job on
    ``shingles``. Pass ``shingle_count`` — exact or an UPPER BOUND, since
    an overestimate can only add a chunk — or ``broadcast_arrays=False``
    to stay lazy. ``minhash_near_duplicates`` passes the scan-only
    ``_shingle_census_bound``."""
    from periodicity_spark.pipeline import _heap

    n_chunks = _heap.verify_chunks(
        candidates.sparkSession,
        broadcast_arrays,
        lambda: 8 * (shingle_count if shingle_count is not None else shingles.count()),
    )
    arrs = shingles.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("_a"),
        F.count(F.lit(1)).alias("_n"),
    )
    a1 = arrs.selectExpr("doc_id AS d1", "_a AS _a1", "_n AS _n1")
    a2 = arrs.selectExpr("doc_id AS d2", "_a AS _a2", "_n AS _n2")
    # drop zero-overlap candidates BEFORE the division: a shingle
    # equi-join verify can never emit such a pair, so keeping them would
    # emit jaccard=0.0 rows at threshold=0. SQL strings parsed JVM-side;
    # operand shapes mirror the former Column build (plan-identity pinned
    # in tests), guide §5.
    out = (
        _heap.verify_join(candidates, a1, a2, n_chunks)
        .selectExpr("*", "size(array_intersect(_a1, _a2)) AS _nb")
        .filter(F.col("_nb") > 0)
        .selectExpr(
            "d1",
            "d2",
            "_nb / cast(_n1 + _n2 - _nb as double) AS jaccard",
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def minhash_near_duplicates(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    r: int = 4,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 1000,
    broadcast_arrays: bool | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → bucket-join → verify.
    → (d1, d2, jaccard ≥ threshold).

    Over-cap bucket drops are silent in the pair output; audit them with
    ``minhash_cap_audit`` at the same (k, n_hashes, r, max_bucket).
    ``broadcast_arrays`` forwards to ``jaccard_verify``: None (default)
    takes the hybrid shuffled-d1/chunk-broadcast-d2 plan, its chunks
    sized from the scan-only length bound ``_shingle_census_bound`` (one
    small job); False forces the plain shuffled plan (the branch a
    multi-executor cluster takes when even one chunk exceeds executor
    heaps) and skips the bound.

    Eager: the pair set comes back checkpointed, and the corpus-sized
    shingle cache is released before returning, on failure too."""
    # chunk sizing reads the length-sum UPPER BOUND — a scan-only
    # aggregate (no md5, no arrays, no persist write), so the packed cache
    # materializes INLINE in the main job instead of in a census job of
    # its own; its ~1.4× slack can only add a chunk. It reads the input as
    # given: after the floor below it would also pay a text shuffle.
    from periodicity_spark.session import scan_parallel

    n_sh = (
        _shingle_census_bound(docs, text_col, k)
        if broadcast_arrays is None
        else None
    )
    # shingling and md5 hashing run inside the scan tasks
    docs = scan_parallel(docs, key=id_col)
    # the shingle set feeds signatures AND both sides of the verify join —
    # persist the PACKED per-doc representation (one array row per doc)
    # and derive everything from it in-row: signatures via array mins,
    # verify arrays via transform(sh, z -> z.s1). The former exploded
    # pipeline persisted 107M (doc, shingle) rows at sf1 and then paid two
    # full corpus groupBy shuffles to rebuild the per-doc grouping the
    # data was born with (signature aggregate + verify collect_list);
    # packed, the LSH bucket equi-join is the only corpus shuffle left.
    # Lineage is shallow (scan + shingle transform), so cache eviction
    # under memory pressure recomputes instead of failing.
    from pyspark import StorageLevel

    packed = char_shingles_packed(
        docs, k=k, text_col=text_col, id_col=id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # signatures: explode FROM THE CACHE into the codegen aggregate
        # rather than in-row array mins — higher-order lambdas are
        # interpreted per-element and measured 10× slower on the same
        # cache (34.2 s vs 3.5 s over 107M shingles at sf1); the explode is
        # a zero-copy columnar read and map-side combine collapses the
        # groupBy shuffle to one 16-int row per doc before it moves. The
        # in-row path (``minhash_signatures_from_packed``) remains the
        # STREAMING formulation, where a pre-bucket aggregate is illegal.
        exploded = packed.select("doc_id", F.explode("sh").alias("_z")).select(
            "doc_id",
            F.col("_z.s1").alias("shingle"),
            F.col("_z.s2").alias("shingle2"),
        )
        sig = minhash_signatures(exploded, n_hashes=n_hashes, r=r)
        cand = lsh_candidate_pairs(sig, max_bucket=max_bucket)
        # the verify's array side also comes from the exploded-from-cache
        # frame: its collect_list groupBy is whole-stage codegen (1.6 s
        # over 107M cached shingles at sf1), where projecting the packed
        # arrays via transform(sh, z -> z.s1) — though shuffle-free — pays
        # the interpreted lambda per element per join side (≈ 190 s at
        # sf1 for two sides, measured end-to-end 526 s vs 330 s).
        #
        # materialize the (by-construction small: verified near-dup pairs)
        # result eagerly and RELEASE the corpus-sized packed cache before
        # returning — a lazy return would pin gigabytes of cached shingle
        # arrays for the session's lifetime, squeezing every later query's
        # memory (measured in-bench: the two queries following this one
        # ran 2.4× their isolated walls before the release). The function
        # is therefore eager; callers composing further transforms do so
        # on the checkpointed pair set, which is the cheap side by design.
        return jaccard_verify(
            cand,
            exploded,
            threshold=threshold,
            broadcast_arrays=broadcast_arrays,
            shingle_count=n_sh,
        ).localCheckpoint(eager=True)
    finally:
        packed.unpersist()


def minhash_cap_audit(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    r: int = 4,
    max_bucket: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``lsh_cap_audit`` at ``minhash_near_duplicates``'s parameters — one
    row (capped_buckets, capped_sig_rows, max_bucket_seen) telling you what
    that pipeline's bucket cap silently discarded. Same signature values as
    the main run (in-row packed path, bit-identical to the aggregate path
    by test) feeding one aggregate; run it as a pipeline qualification
    step or whenever the pair output looks thin."""
    sig = minhash_signatures_per_row(
        docs, k=k, n_hashes=n_hashes, r=r, text_col=text_col, id_col=id_col
    )
    return lsh_cap_audit(sig, max_bucket=max_bucket)


def connected_components(
    pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list — the grouping
    stage a real dedup pipeline needs AFTER near-dup pair detection: every
    document in a duplicate cluster maps to the cluster's minimum id, so
    keep-one-per-component is a trivial filter.

    Min-label propagation (hash-min): labels start as the vertex id; each
    round every vertex takes the min label over itself and its neighbors —
    one shuffle join + one aggregate per round, converging in
    O(component diameter) rounds. Near-dup clusters are small and dense
    (bucket-capped), so 2-4 rounds is typical; the driver loop checks
    convergence with a one-row count per round and stops at fixpoint.
    Persisted label frontiers are released each round.

    → (doc_id, component_id). Only vertices that appear in ``pairs`` are
    emitted (isolated documents are their own components trivially).
    """
    a, b = F.col(a_col), F.col(b_col)
    half = pairs.select(a.alias("src"), b.alias("dst"))
    edges = half.union(
        pairs.select(b.alias("src"), a.alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    # every round's frontier is localCheckpoint'd, not merely persisted:
    # labels_i references labels_{i-1} twice (the propagation join and the
    # convergence diff), so without lineage TRUNCATION the logical plan
    # doubles per round and the driver OOMs rendering a 2^rounds tree —
    # persist only short-circuits compute, not the plan
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("src", "id")
        )
        nl = F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label")))
        # the changed flag is computed IN the propagation select (old and
        # new label are both on the row), so convergence detection is a
        # plain count over the checkpointed frontier — not a second join
        # of consecutive frontiers per round
        new_labels = (
            labels.join(neigh, "id", "left")
            .select("id", nl.alias("label"), (nl != F.col("label")).alias("_chg"))
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_chg").count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent truncation would hand back a WRONG labeling: consumers
        # like leak_safe_split build their no-contamination guarantee on
        # every cluster member sharing one label, and a near-dup chain of
        # diameter > max_iter (incrementally edited boilerplate) would
        # quietly straddle the train/test boundary
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a component has diameter > max_iter); raise max_iter"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


def keep_canonical(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Final dedup stage: drop every document that belongs to a duplicate
    cluster but is not the cluster's canonical (minimum-id) member. The
    drop set (components where doc_id ≠ component_id) is pre-projected to
    the bare key so the anti join moves 8-byte ids, never document rows —
    but its SIZE is (dup-rate × corpus): on a crawl-scale corpus with
    30-50% duplication that is billions of ids, so no broadcast hint here.
    AQE broadcasts when runtime stats prove the drop side small and falls
    back to a shuffled anti join when it isn't (the repo-wide let-AQE-
    decide policy; a forced broadcast was an executor-OOM hazard)."""
    drop = components.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of Σ over tokens of
    (±1 by that bit of the token hash). → (doc_id, simhash).

    Native formulation: explode tokens, token hash = xxhash64, then ONE
    64-column aggregate per doc — sum_b = count of tokens with bit b set.
    The ±1 majority vote for bit b is then just 2·sum_b > n_tok (ones
    outnumber zeros; a tie votes 0, same as the old SUM(sign) > 0).

    The previous formulation exploded every token a second time over the
    64 bit positions — 64× the token rows (6.4B at sf1) through the
    partial aggregate's hash probes, and n_docs×64 partially-aggregated
    rows (32M at sf1, ~800MB) through the shuffle into a two-level
    aggregate. Here each doc collapses map-side to ONE 65-column row
    (explode never repartitions, so a doc's tokens are co-located): the
    shuffle carries 500k rows (~260MB) at sf1 — 64× fewer rows, ~3×
    fewer bytes, one aggregate instead of two. Wall-neutral on local[32]
    (~35 s isolated either way — tokenize+xxhash64 of the ~100M tokens
    dominates, and that is linear scan work); the win is shuffle volume,
    which is what binds on a real cluster.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = toks.select("doc_id", F.xxhash64("tok").alias("_h"))
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.expr(f"shiftright(_h, {b}) & 1")).alias(f"_b{b}") for b in range(64)
    ]
    per = h.groupBy("doc_id").agg(*aggs)
    # bit 63's shiftleft is the sign bit (-2^63); summing it with the
    # positive lower-bit contributions reproduces the exact two's-complement
    # long the old formulation built, with no intermediate overflow
    bit_terms = [
        F.when(
            F.lit(2) * F.col(f"_b{b}") > F.col("_n"),
            F.expr(f"shiftleft(cast(1 as bigint), {b})"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return per.select("doc_id", total.alias("simhash"))


def simhash_near_duplicates(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    max_bucket: int = 1000,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-Hamming near-dup join over precomputed simhash fingerprints:
    → (d1, d2, hamming ≤ max_hamming) with d1 < d2.

    The fingerprint is split into ``n_bands`` contiguous bit bands; docs
    agreeing exactly on ≥1 band are candidates (equi-join on (band, value) —
    a hash shuffle keyed by the band bucket, never an all-pairs join), then
    the true Hamming distance filters candidates. By pigeonhole, any pair
    with Hamming distance < n_bands agrees on at least one band, so with
    max_hamming < n_bands the banding loses no recall; beyond that it is the
    standard approximate blocking. Buckets larger than ``max_bucket`` are
    dropped (degenerate boilerplate guard, same rationale as LSH).

    A pair agreeing on several bands would surface once per band; instead
    of a DISTINCT over every candidate (166.6M rows shuffled at sf1 for
    the 53.0M survivors), each pair is emitted ONLY from its first
    agreeing band whose bucket survived the cap: both fingerprints ride
    the joined row, so "agrees on band b'" is a row-local xor test, and
    "band b' survived" is membership of the row's band-b' value in the
    collected capped-bucket set — tiny by construction (≤ n_bands ·
    n_docs / max_bucket buckets can exceed the cap; 317 at sf1). That
    makes everything downstream of the bucket equi-join a streamed
    filter — zero post-join shuffles. Degenerate fallback: if the capped
    set is somehow huge (> 20k entries would bloat the plan's IN-sets),
    use the DISTINCT plan, with the Hamming filter still applied first.

    The fingerprint relation is localCheckpointed eagerly (minhash's
    shingle pattern): it feeds both join sides and the cap census, and is
    typically an expensive subtree (simhash64 re-tokenizes the corpus) —
    without the checkpoint the self-join alone computes it twice.
    """
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    fp = (
        fingerprints.select(F.col(id_col).alias("doc_id"), F.col(fp_col).alias("_fp"))
        .localCheckpoint(eager=True)
    )
    banded = fp.select(
        "doc_id",
        "_fp",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "val", F.expr(f"shiftright(_fp, cast(band * {band_bits} as int)) & {mask}")
    )
    w = Window.partitionBy("band", "val")
    capped = (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    a = capped.select("band", "val", F.col("doc_id").alias("d1"), F.col("_fp").alias("_f1"))
    b = capped.select(
        F.col("band").alias("_band"),
        F.col("val").alias("_val"),
        F.col("doc_id").alias("d2"),
        F.col("_fp").alias("_f2"),
    )
    joined = (
        a.join(b, (a["band"] == b["_band"]) & (a["val"] == b["_val"]) & (a["d1"] < b["d2"]))
        .select(
            "band",
            "d1",
            "d2",
            "_f1",
            "_f2",
            F.expr("cast(bit_count(_f1 ^ _f2) as int)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # probe with a LIMIT one past the fallback threshold instead of
    # collecting the full over-cap set: at corpus scale the set is
    # O(n_bands·n_docs/max_bucket) rows (millions at 1B docs), and an
    # unbounded collect could strain the driver before the degenerate-
    # fallback guard it feeds ever triggers. ≤20k rows back means the
    # probe IS the complete set; 20,001 means punt to distinct().
    capped_rows = (
        banded.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select("band", "val")
        .limit(20_001)
        .collect()
    )
    if len(capped_rows) > 20_000:
        return joined.select("d1", "d2", "hamming").distinct()
    capped_vals: list[list[int]] = [[] for _ in range(n_bands)]
    for r in capped_rows:
        capped_vals[r["band"]].append(int(r["val"]))
    # first agreeing surviving band: a joined row's own band always
    # qualifies (its bucket exists in `capped`), so `first` is never NULL
    first = None
    for bp in range(n_bands):
        agree = F.expr(f"(shiftright(_f1 ^ _f2, {bp * band_bits}) & {mask}) = 0")
        if capped_vals[bp]:
            vb = F.expr(f"shiftright(_f1, {bp * band_bits}) & {mask}")
            agree = agree & ~vb.isin(capped_vals[bp])
        first = F.when(agree, bp) if first is None else first.when(agree, bp)
    return joined.filter(F.col("band") == first).select("d1", "d2", "hamming")


def word_ngrams(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-grams per doc (space-tokenized, grams joined back with
    single spaces): → (doc_id, gram). Docs with fewer than n tokens drop out.
    Dedup happens inside the row (array_distinct) so the stage is scan-only —
    no global distinct shuffle."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_tk")
    ).filter(F.size("_tk") >= n)
    joined = " , ' ', ".join(f"element_at(_tk, cast(i + {j} as int))" for j in range(n))
    return toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"transform(sequence(1, size(_tk) - {n - 1}), i -> concat({joined}))")
            )
        ).alias("gram"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup join via an inverted index:
    → (d1, d2, jaccard ≥ threshold), d1 < d2.

    Set-similarity joins don't need LSH to scale when a document-frequency
    cap is acceptable: grams appearing in more than ``max_df`` docs are
    dropped EVERYWHERE (intersections and set sizes alike, so the measure
    stays a true Jaccard — over the rare-gram sets), which bounds the
    inverted-index self-join fan-out at max_df² rows per gram. Boilerplate
    grams are exactly the ones that carry no near-dup signal. The join is a
    hash shuffle on gram; sizes join back on doc_id — never an all-pairs
    comparison. Integer counts divide at the end, so cross-engine results
    are bit-exact (oracle-checkable without rounding)."""
    grams = word_ngrams(docs, n=n, text_col=text_col, id_col=id_col)
    rare = (
        grams.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    # per-doc rare-set size rides the exploded frame via a SECOND window
    # (partition by doc_id) instead of a separate groupBy joined back on
    # each pair side. The old shape planned FOUR independent
    # scan→explode→df-cap subtrees (join sides a and b, then s1 and s2)
    # with zero exchange reuse — the corpus was tokenized and window-capped
    # four times per run, and the per-doc ``sizes`` aggregate (corpus-sized,
    # one row per doc) was BROADCAST twice, which cannot scale. Here the
    # two join sides are byte-identical subplans, so the gram exchange is
    # planned once and reused (ReusedExchange), and the size columns are
    # carried as two extra ints per exploded row — no corpus-sized
    # broadcast anywhere (guide §2.4, §3.3). The counts are the same
    # integers, so jaccard is bit-identical.
    szd = rare.withColumn(
        "_sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = szd.select(F.col("doc_id").alias("d1"), "gram", F.col("_sz").alias("_s1"))
    b = szd.select(F.col("doc_id").alias("d2"), "gram", F.col("_sz").alias("_s2"))
    # merge hint: the optimizer's size estimate otherwise BROADCASTS the b
    # side — a full copy of the exploded rare-gram frame, which both
    # recomputes the scan→explode→window subtree a second time and cannot
    # scale (the broadcast grows with the corpus). Pinning the sort-merge
    # join makes both sides identical shuffle subplans, so the whole
    # b-side stage is a ReusedExchange of a's (measured sf0.1: 1.56 →
    # 1.23 s warm vs the unhinted broadcast plan, and the old 4-subtree
    # shape was 2.8 s).
    inter = (
        a.join(b.hint("merge"), "gram")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("_ix"),
            F.min("_s1").alias("_s1"),
            F.min("_s2").alias("_s2"),
        )
    )
    return (
        inter.select(
            "d1",
            "d2",
            (
                F.col("_ix").cast("double")
                / (F.col("_s1") + F.col("_s2") - F.col("_ix")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_doc_duplication(
    docs: DataFrame, n: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document duplicate-n-gram fraction — the corpus-level twin of
    the in-document Gopher repetition signals (text.repetition_stats): for
    each document, the fraction of its DISTINCT token n-grams that also
    occur in at least one OTHER document. This is the "duplicated n-gram"
    scale filter of the ExactSubstr-dedup line of work (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") as used by
    RefinedWeb / Dolma to score boilerplate contamination that per-doc
    signals cannot see.

    → (doc_id, n_grams, n_shared, cross_dup_frac), one row per input doc;
    docs with fewer than ``n`` tokens keep NULL stats.

    Scale shape: per-doc distinct n-grams (in-row array_distinct — no
    global distinct), exploded and shuffled ONCE as fixed-width md5 keys
    (never the raw gram text); gram→doc-count is a map-side-combined
    hash aggregate; the count joins back on the same key partitioning.
    Nothing is quadratic and no corpus-sized structure is broadcast or
    collected."""
    grams = word_ngrams(docs, n=n, text_col=text_col, id_col=id_col).select(
        "doc_id", F.md5(F.col("gram").cast("binary")).alias("_gk")
    )
    # per-doc distinct grams (word_ngrams dedups in-row), so count(*) per
    # key IS the document frequency
    dfreq = grams.groupBy("_gk").agg(F.count(F.lit(1)).alias("_ndocs"))
    per = (
        grams.join(dfreq, "_gk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("cross_dup_frac"),
    )
