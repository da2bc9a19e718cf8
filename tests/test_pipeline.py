"""Pipeline operators: dedup recall, ANN recall (LSH + IVF vs brute force)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from periodicity_spark.pipeline import dedup, simsearch


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _probes(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _probes32(emb):
    return emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _recall(exact, approx):
    hits = 0
    for qid in exact["qid"].unique():
        e = set(exact[exact["qid"] == qid]["vec_id"])
        a = set(approx[approx["qid"] == qid]["vec_id"])
        hits += len(e & a) / len(e)
    return hits / exact["qid"].nunique()


@pytest.fixture(scope="module")
def exact10(spark, emb):
    return simsearch.cosine_topk_bruteforce(emb, _probes32(emb), k=10).toPandas()


def test_connected_components_random_graphs_vs_union_find(spark):
    """Differential on random graphs: min-label propagation must agree with
    a reference union-find on arbitrary edge lists (cycles, multi-edges,
    skewed degree distributions included)."""
    rng = np.random.default_rng(11)
    for trial in range(3):
        n_vertices = int(rng.integers(5, 40))
        n_edges = int(rng.integers(1, 60))
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n_vertices, size=(n_edges, 2))
        ]
        parent = list(range(n_vertices))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {}
        for v in touched:
            root = find(v)
            comp_min = min(u for u in touched if find(u) == root)
            want[v] = comp_min
        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {
            r.doc_id: r.component_id
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation: a 5-vertex CHAIN (diameter 4 — needs several
    rounds, not just one), a 2-clique, and an isolated pair. Every vertex
    must land on its component's minimum id."""
    pairs = spark.createDataFrame(
        [(30, 31), (31, 32), (32, 33), (33, 34),  # chain 30-34
         (1, 2), (2, 3), (1, 3),                  # triangle
         (100, 101)],
        "d1 long, d2 long",
    )
    got = {r.doc_id: r.component_id for r in dedup.connected_components(pairs).collect()}
    want = {30: 30, 31: 30, 32: 30, 33: 30, 34: 30, 1: 1, 2: 1, 3: 1, 100: 100, 101: 100}
    assert got == want


def test_ivf_recall_vs_bruteforce(spark, emb, exact10):
    """Measured IVF recall at the reported defaults (deterministic: seeded
    centroids, fixed data). The sf0.001 embeddings have weak cluster
    structure, so recall tracks the touched-list fraction — 0.794 measured
    at 16 lists / 8 probed; a higher-probe setting buys 0.87+."""
    approx = simsearch.cosine_topk_ivf(emb, _probes32(emb), k=10).toPandas()
    assert _recall(exact10, approx) >= 0.75
    high = simsearch.cosine_topk_ivf(emb, _probes32(emb), k=10, n_probe=10).toPandas()
    assert _recall(exact10, high) >= 0.85


def test_winnow_guarantee_and_edges(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents sharing a
    substring of length ≥ k+window−1 (= 8 at the 5/4 defaults) share at
    least one fingerprint. Edges: docs shorter than k yield no rows; a doc
    of exactly k chars yields exactly one."""
    from periodicity_spark.pipeline.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [
            (1, "completely unrelated alpha text block one"),
            (2, "zzz THE SHARED SUBSTRING zzz padding here"),
            (3, "yyy the shared substring yyy other words"),
            (4, "abc"),
            (5, "abcde"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs).toPandas()
    by_doc = {d: set(g.fp) for d, g in fp.groupby("doc_id")}
    assert 4 not in by_doc and len(by_doc[5]) == 1
    assert by_doc[2] & by_doc[3], "shared 8+-char substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[2]) or len(by_doc[1] & by_doc[2]) <= 1
    # determinism
    fp2 = winnow_fingerprints(docs).toPandas()
    assert sorted(map(tuple, fp.values.tolist())) == sorted(map(tuple, fp2.values.tolist()))


def test_ivf_recall_on_clustered_corpus(spark):
    """IVF in its OWN regime: a corpus with real cluster structure (the
    sf0.001 embeddings are near-isotropic, so the 0.794 measured there is the
    operator's floor, not its behavior at scale). 8 well-separated planted
    clusters, 100 points each — nearest neighbors live inside the probe's
    cluster, so probing the nearest lists must recover ≥0.95 of the exact
    top-10."""
    rng = np.random.default_rng(7)
    dim, n_clusters, per = 32, 8, 100
    centers = rng.normal(size=(n_clusters, dim)) * 10.0
    pts = np.concatenate(
        [c + rng.normal(size=(per, dim)) for c in centers]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(pts)), "embedding": [row.tolist() for row in pts]}
    )
    corpus = spark.createDataFrame(pdf)
    probes = corpus.filter((F.col("vec_id") % per) < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = simsearch.cosine_topk_bruteforce(corpus, probes, k=10).toPandas()
    approx = simsearch.cosine_topk_ivf(
        corpus, probes, k=10, n_centroids=8, n_probe=2
    ).toPandas()
    r = _recall(exact, approx)
    assert r >= 0.95, f"clustered-corpus IVF recall@10 = {r:.3f} < 0.95"


def test_lsh_recall_vs_bruteforce(spark, emb, exact10):
    """Measured multi-table LSH recall at the 24×4 default: ≥0.95
    (16×4 measured 0.884, single-table at 8 planes 0.016 on the same
    probes — the angle distribution here is hard: true top-10 neighbors
    average cosine 0.296). Also checks the candidate set stays a strict
    subset of the corpus and ranks are well-formed."""
    lsh = simsearch.cosine_topk_lsh(emb, _probes32(emb), k=10).toPandas()
    assert _recall(exact10, lsh) >= 0.95
    for qid, g in lsh.groupby("qid"):
        assert list(g.sort_values("rank")["rank"]) == list(range(1, len(g) + 1))


def test_lsh_candidate_fraction_bounded(spark, emb):
    """The bucket join prunes: candidates per probe stay well under the
    corpus size (measured ~78% at the 24×4 default on this hard angle
    distribution; near-duplicate regimes prune far harder — see the
    docstring formula)."""
    bud = simsearch.multi_table_buckets(24, 4, 42, 64)
    csig = emb.select(
        F.col("vec_id"), F.posexplode(bud(F.col("embedding"))).alias("table", "bucket")
    )
    psig = _probes32(emb).select(
        F.col("qid"), F.posexplode(bud(F.col("qvec"))).alias("table", "bucket")
    )
    ncand = (
        csig.join(F.broadcast(psig), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
        .count()
    )
    assert ncand / 32 < 0.85 * 500


def test_minhash_finds_planted_duplicates(spark):
    rng = np.random.default_rng(0)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta"]
    base = [" ".join(rng.choice(vocab, 40)) for _ in range(30)]
    texts = list(base)
    # plant two near-duplicates of doc 0 (minor token edits)
    dup1 = base[0].replace("alpha", "beta", 1)
    dup2 = base[0][: len(base[0]) // 2] + base[0][len(base[0]) // 2 :].replace("gamma", "zeta", 1)
    texts += [dup1, dup2]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    pairs = dedup.minhash_near_duplicates(docs, k=5, threshold=0.6).toPandas()
    found = set(map(tuple, pairs[["d1", "d2"]].to_numpy()))
    assert (0, 30) in found and (0, 31) in found


def test_cosine_neardup_exact_matches_bruteforce_pairs(spark, emb):
    # the all-pairs join must reproduce the symmetric pair set implied by
    # per-probe exact search at the same threshold
    out = simsearch.cosine_near_duplicates(emb, threshold=0.35).toPandas()
    assert (out["d1"] < out["d2"]).all()
    assert (out["cosine"] >= 0.35).all()
    # spot-check one pair against a NumPy dot product
    pdf = emb.toPandas().set_index("vec_id")["embedding"]
    r = out.iloc[0]
    a = np.asarray(pdf[r["d1"]], float)
    b = np.asarray(pdf[r["d2"]], float)
    ref = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert r["cosine"] == pytest.approx(ref, abs=1e-9)


def test_cosine_neardup_lsh_recall_on_planted_neardups(spark):
    # plant 10 base vectors + small-noise copies (cosine ≈ 0.99); the banded
    # hyperplane join must recover essentially all planted pairs, and exact
    # verification keeps precision at 1.0
    rng = np.random.default_rng(7)
    base = rng.standard_normal((10, 64))
    noisy = base + 0.05 * rng.standard_normal((10, 64))
    vecs = np.vstack([base, noisy])
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(20), "embedding": [v.tolist() for v in vecs]}
        )
    )
    got = simsearch.cosine_near_duplicates_lsh(df, threshold=0.9).toPandas()
    found = set(map(tuple, got[["d1", "d2"]].to_numpy()))
    planted = {(i, i + 10) for i in range(10)}
    assert len(found & planted) >= 9  # ≥90% recall on near-identical pairs
    # precision 1.0: everything returned truly clears the threshold
    exact = simsearch.cosine_near_duplicates(df, threshold=0.9).toPandas()
    exact_pairs = set(map(tuple, exact[["d1", "d2"]].to_numpy()))
    assert found <= exact_pairs


def test_cosine_neardup_lsh_equals_exact_on_quantized_twins(spark, emb):
    """The registered cosine_neardup contract (r7): corpus ∪ its int8
    quantized reconstruction, LSH at threshold 0.99 with (n_planes=160,
    bands=10, r=16) must equal the exact O(n²) kernel EXACTLY — every
    vector's quantized twin sits at cosine ≈ 0.99998 where the per-pair
    all-bands-miss probability is ~1e-15, so recall is 1 on real data
    (this is what lets the exact cartesian retire from the query suite)."""
    from periodicity_spark.pipeline import embedding as emb_ops

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb_ops.quantize_int8(base).filter(F.col("scale").isNotNull())
    dq = q.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(127.0) * F.col("scale")
        ).alias("embedding"),
    )
    corpus = base.unionByName(dq)
    lsh = simsearch.cosine_near_duplicates_lsh(
        corpus, threshold=0.99, n_planes=160, bands=10
    ).toPandas()
    exact = simsearch.cosine_near_duplicates(corpus, threshold=0.99).toPandas()
    lp = {(r.d1, r.d2): round(r.cosine, 9) for r in lsh.itertuples()}
    ep = {(r.d1, r.d2): round(r.cosine, 9) for r in exact.itertuples()}
    assert lp == ep
    assert len(lp) == base.count()  # one planted twin per clean vector
    # the registered sf-scale config (r=24, min_bands=2) must also be
    # exact here: twins match an r=24 band with p≈0.91, so requiring 2 of
    # 10 costs ~7e-9 recall while cutting the mid-cosine candidate flood
    # ~10⁵× and keeping dense-core buckets under the max_bucket cap
    # (r=16 cap drops lost 33/500k twins in the sf1 soak)
    lsh2 = simsearch.cosine_near_duplicates_lsh(
        corpus, threshold=0.99, n_planes=240, bands=10, min_bands=2
    ).toPandas()
    lp2 = {(r.d1, r.d2): round(r.cosine, 9) for r in lsh2.itertuples()}
    assert lp2 == ep


def test_cosine_neardup_lsh_min_bands_one_is_distinct_semantics(spark):
    """min_bands=1 (the default) must behave exactly like the old
    .distinct() candidate set — same pairs, no duplicates."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((8, 64))
    vecs = np.vstack([base, base + 0.02 * rng.standard_normal((8, 64))])
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(16), "embedding": [v.tolist() for v in vecs]}
        )
    )
    got = simsearch.cosine_near_duplicates_lsh(df, threshold=0.95).toPandas()
    assert got.duplicated(["d1", "d2"]).sum() == 0
    exact = simsearch.cosine_near_duplicates(df, threshold=0.95).toPandas()
    assert set(map(tuple, got[["d1", "d2"]].to_numpy())) <= set(
        map(tuple, exact[["d1", "d2"]].to_numpy())
    )


def test_ngram_jaccard_planted_duplicates_and_df_cap(spark):
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(200)]
    base = [" ".join(rng.choice(vocab, 50)) for _ in range(20)]
    texts = list(base)
    # near-dup of doc 0: one token swapped → ~94% of 3-grams shared
    toks = base[0].split()
    toks[25] = "zzz"
    texts.append(" ".join(toks))
    # a short doc (< 3 tokens) must drop out, not crash
    texts.append("one two")
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    found = set(map(tuple, out[["d1", "d2"]].to_numpy()))
    assert (0, 20) in found
    assert not any(21 in p for p in found)
    j = out.set_index(["d1", "d2"]).loc[(0, 20), "jaccard"]
    # one swapped token kills ≤ 3 grams of 48 → jaccard ≥ (48-3)/(48+3)
    assert j >= (48 - 3) / (48 + 3)


def test_repetition_stats_known_values_and_edges(spark):
    from periodicity_spark.pipeline.text import repetition_stats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "a b a b a b c",   # modal bigram ('a b' or 'b a') ×3 of 6
                    "x",               # no bigrams/trigrams → NULLs
                    "p q",             # one bigram, no trigrams
                    "r r r r",         # fully repetitive
                    "one two three four",  # no repetition at all
                ],
            }
        )
    )
    out = (
        repetition_stats(docs)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "n_tokens"] == 7
    assert out.loc[1, "top_bigram_frac"] == pytest.approx(3 / 6)
    # trigrams of doc1: aba bab ×2 each + abc bc? — 4 of 5 positions duplicated
    assert out.loc[1, "dup_trigram_frac"] == pytest.approx(4 / 5)
    assert pd.isna(out.loc[2, "top_bigram_frac"])
    assert pd.isna(out.loc[2, "dup_trigram_frac"])
    assert out.loc[3, "top_bigram_frac"] == pytest.approx(1.0)
    assert pd.isna(out.loc[3, "dup_trigram_frac"])
    assert out.loc[4, "distinct_ratio"] == pytest.approx(0.25)
    assert out.loc[4, "top_bigram_frac"] == pytest.approx(1.0)
    assert out.loc[4, "dup_trigram_frac"] == pytest.approx(1.0)
    assert out.loc[5, "distinct_ratio"] == pytest.approx(1.0)
    assert out.loc[5, "dup_trigram_frac"] == pytest.approx(0.0)


def test_semantic_dedup_drops_planted_neardups_keeps_lowest_id(spark):
    rng = np.random.default_rng(5)
    # 4 well-separated cluster centers, 10 members each; members 0-4 of each
    # cluster get an exact near-duplicate twin (tiny noise)
    centers = rng.standard_normal((4, 32)) * 10
    ids, vecs = [], []
    nid = 0
    twins = []
    for c in centers:
        members = c + 0.5 * rng.standard_normal((10, 32))
        for j, m in enumerate(members):
            ids.append(nid); vecs.append(m); base_id = nid; nid += 1
            if j < 5:
                ids.append(nid); vecs.append(m + 1e-4 * rng.standard_normal(32))
                twins.append((base_id, nid)); nid += 1
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]})
    )
    out = (
        simsearch.semantic_dedup(df, threshold=0.9999, n_centroids=4)
        .toPandas()
        .set_index("vec_id")
    )
    assert len(out) == len(ids)  # every vector classified
    for lo, hi in twins:
        assert bool(out.loc[lo, "keep"]), (lo, hi)
        assert not bool(out.loc[hi, "keep"]), (lo, hi)
    # nothing else dropped: the non-twin members are far apart
    dropped = set(out.index[~out["keep"]])
    assert dropped == {hi for _, hi in twins}


def test_contamination_detects_planted_substring_overlap(spark):
    from periodicity_spark.pipeline.text import contamination

    rng = np.random.default_rng(9)
    vocab = [f"w{i}" for i in range(500)]
    train_texts = [" ".join(rng.choice(vocab, 60)) for _ in range(10)]
    # eval doc 100 copies a 30-token span of train doc 0 (heavy contamination);
    # eval doc 101 is fresh tokens never seen in train (zero contamination)
    span = " ".join(train_texts[0].split()[10:40])
    eval_texts = {100: "intro words " + span + " closing words",
                  101: " ".join(f"z{i}" for i in range(60))}
    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "text": train_texts})
    )
    evals = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(eval_texts), "text": list(eval_texts.values())})
    )
    out = contamination(evals, train).toPandas().set_index("doc_id")
    assert out.loc[100, "contamination"] > 0.4, out.loc[100]
    assert out.loc[101, "n_hit"] == 0
    assert out.loc[101, "contamination"] == 0.0


def test_lm_score_ranks_gibberish_below_fluent_text(spark):
    from periodicity_spark.pipeline.text import lm_score

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(30)]
    # model corpus: highly regular bigram structure (cyclic walks)
    fluent = [" ".join(vocab[(s + i) % 30] for i in range(50)) for s in range(20)]
    docs = list(fluent)
    docs.append(" ".join(rng.choice([f"junk{i}" for i in range(100)], 50)))  # OOV gibberish
    docs.append("x")  # single token → NULL score
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    )
    out = lm_score(df).toPandas().set_index("doc_id")
    gib, flu = out.loc[20, "avg_logp"], out.loc[0, "avg_logp"]
    assert gib < flu - 1.0, (gib, flu)  # gibberish scores far lower
    assert out.loc[21, "n_bigrams"] == 0 and pd.isna(out.loc[21, "avg_logp"])


def test_cosine_ops_survive_zero_norm_embedding(spark):
    """Regression: ANSI mode turns /0 into a job-killing ArithmeticException;
    a zero-norm embedding must instead drop out of cosine results."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [[1.0, 0.0], [0.0, 0.0], [0.9, 0.1]],
            }
        )
    )
    probes = df.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).filter(F.col("qid") == 0)
    topk = simsearch.cosine_topk_bruteforce(df, probes, k=5).toPandas()
    assert set(topk["vec_id"]) == {2}  # zero vector never ranks
    pairs = simsearch.cosine_near_duplicates(df, threshold=0.5).toPandas()
    assert set(map(tuple, pairs[["d1", "d2"]].to_numpy())) == {(0, 2)}
    sd = simsearch.semantic_dedup(df, threshold=0.5, n_centroids=2).toPandas()
    # r6 contract: a zero-norm vector has no direction — it is EXCLUDED
    # from the clustering output (it previously slipped through and, for
    # NaN vectors, could drop its clean cluster partner via Spark's
    # NaN-compares-greater ordering); clean vectors are all present
    assert set(sd["vec_id"]) == {0, 2}
    assert sd["keep"].tolist() == [False, True] or set(
        sd[sd["keep"]]["vec_id"]
    ) == {0}  # lowest-id kept among the (0,2) near-dup pair


def test_cross_doc_duplication_planted(spark):
    """A doc sharing half its 4-gram positions with another doc scores the
    planted fraction exactly; a unique doc scores 0; a too-short doc keeps
    NULL stats but stays in the output."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    uniq_a = "one two three four five six seven eight"
    uniq_b = "red green blue cyan magenta yellow black white"
    docs = spark.createDataFrame(
        [
            (1, shared + " " + uniq_a),   # 16 tokens → 13 distinct 4-grams
            (2, shared + " " + uniq_b),
            (3, "lone words only here never repeated anywhere once more"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.cross_doc_duplication(docs, n=4).collect()
    }
    assert len(out) == 4
    # docs 1/2 share the 5 four-grams fully inside the 8 shared tokens
    assert out[1]["n_grams"] == 13 and out[1]["n_shared"] == 5
    assert out[2]["n_shared"] == 5
    assert abs(out[1]["cross_dup_frac"] - round(5 / 13, 6)) < 1e-12
    assert out[3]["n_shared"] == 0 and out[3]["cross_dup_frac"] == 0.0
    assert out[4]["n_grams"] is None and out[4]["cross_dup_frac"] is None


def test_mllib_lsh_ann_recall(spark, emb, exact10):
    """The MLlib BucketedRandomProjectionLSH path (Euclidean LSH on the
    unit sphere ≡ cosine LSH) must hit recall@10 ≥ 0.95 at its 8-table
    defaults against brute force, with candidates exactly re-ranked."""
    got = simsearch.ann_mllib_lsh(emb, _probes32(emb), k=10).toPandas()
    r = _recall(exact10, got)
    assert r >= 0.95, f"mllib LSH recall@10 = {r:.3f}"
    # determinism: same seed, same result
    again = simsearch.ann_mllib_lsh(emb, _probes32(emb), k=10).toPandas()
    a = sorted(map(tuple, got[["qid", "vec_id", "rank"]].values.tolist()))
    b = sorted(map(tuple, again[["qid", "vec_id", "rank"]].values.tolist()))
    assert a == b


def test_minhash_neardup_agrees_with_mllib_minhashlsh(spark):
    """Independent-implementation differential: the hand-rolled banded
    MinHash near-dup pipeline and Spark MLlib's MinHashLSH (HashingTF
    shingle vectors, 16 tables, Jaccard-distance join at the same 0.4
    similarity threshold) must produce the SAME verified pair set on the
    test corpus — both ends are exact-Jaccard-verified, so any divergence
    is a candidate-generation recall bug in one of them."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mine = dedup.minhash_near_duplicates(
        docs, k=5, n_hashes=16, r=4, threshold=0.4
    ).toPandas()
    mine_set = {tuple(sorted((a, b))) for a, b in zip(mine["d1"], mine["d2"])}
    assert len(mine_set) > 0

    sh = docs.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, length(text)-4), i -> substr(text, i, 5))"
        ).alias("sh"),
    )
    feat = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(sh)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=16, seed=42
    ).fit(feat)
    j = mh.approxSimilarityJoin(feat, feat, 0.6, distCol="jd")
    got = (
        j.select(
            F.col("datasetA.doc_id").alias("a"),
            F.col("datasetB.doc_id").alias("b"),
        )
        .filter("a < b")
        .toPandas()
    )
    got_set = {tuple(sorted((a, b))) for a, b in zip(got["a"], got["b"])}
    assert mine_set == got_set, (
        f"mine-only={sorted(mine_set - got_set)[:5]} "
        f"mllib-only={sorted(got_set - mine_set)[:5]}"
    )


def test_minhash_signatures_per_row_equals_aggregate_path(spark):
    """The in-row (streamable) signature projection must be bit-identical
    to the groupBy-aggregate batch path."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = dedup.minhash_signatures(dedup.char_shingles(docs, k=5)).toPandas()
    b = dedup.minhash_signatures_per_row(docs, k=5).toPandas()
    sa = set(map(tuple, a[["doc_id", "band", "sig"]].values.tolist()))
    sb = set(map(tuple, b[["doc_id", "band", "sig"]].values.tolist()))
    assert sa == sb and len(sa) > 0


def _verify_plan_runs(monkeypatch, run, payload):
    """run(mode) in every verify-join plan: auto at its natural one chunk,
    auto at three chunks (the broadcast allowance shrunk to payload/2.5),
    auto under an unknown budget (allowance 0 → shuffled), and False.
    Asserts the chunk count each run's plan chose."""
    from periodicity_spark.pipeline import _heap

    chunks: list[int] = []
    real = _heap.verify_chunks

    def spy(*args):
        chunks.append(real(*args))
        return chunks[-1]

    monkeypatch.setattr(_heap, "verify_chunks", spy)
    runs = [run(None)]
    for allow in (payload / 2.5, 0.0):
        with monkeypatch.context() as m:
            m.setattr(_heap, "max_single_broadcast", lambda sp: allow)
            runs.append(run(None))
    runs.append(run(False))
    assert chunks == [1, 3, 0, 0]
    return runs


def test_minhash_verify_hybrid_equals_broadcast_and_shuffled(spark, monkeypatch):
    """The verify plans — hybrid (shuffled d1 + hash-chunked broadcast d2)
    at one chunk and at three, and plain shuffled, auto or forced — must
    produce the identical pair multiset: each candidate pair lands in
    exactly one d2-hash chunk, so the chunk union is the same set. Three
    chunks are forced by shrinking ``_heap.max_single_broadcast``, the
    way the regime where the packed corpus exceeds one broadcast
    relation's caps (Spark's hard 8 GiB table limit, the driver collect
    cap) is reached."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run(mode):
        return sorted(
            (r.d1, r.d2, round(r.jaccard, 12))
            for r in dedup.minhash_near_duplicates(
                docs, threshold=0.4, broadcast_arrays=mode
            ).collect()
        )

    payload = 8 * dedup._shingle_census_bound(docs, "text", 5)
    runs = _verify_plan_runs(monkeypatch, run, payload)
    assert all(r == runs[0] for r in runs)
    assert len(runs[0]) > 0


def test_cosine_verify_chunked_equals_one_chunk_and_shuffled(spark, emb, monkeypatch):
    """cosine_near_duplicates_lsh runs the same verify-join plan: one
    chunk, three chunks, and shuffled (unknown budget or forced) must
    return the identical pair multiset. Each vector gets an exact twin,
    so every plan has pairs to agree on."""
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = vecs.select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    corpus = vecs.unionByName(twins).localCheckpoint(eager=True)

    def run(mode):
        out = simsearch.cosine_near_duplicates_lsh(
            corpus, threshold=0.99, n_planes=240, bands=10, min_bands=2,
            broadcast_vectors=mode,
        )
        return sorted((r.d1, r.d2, round(r.cosine, 12)) for r in out.collect())

    runs = _verify_plan_runs(monkeypatch, run, corpus.count() * (64 * 8 + 64))
    assert all(r == runs[0] for r in runs)
    assert len(runs[0]) >= emb.count() // 2


def test_lsh_verify_flags_accept_only_auto_and_false(spark):
    """The verify flags take None (auto) or False; the former both-sides
    broadcast (True) and forced-chunk (int) forms raise."""
    docs = spark.createDataFrame(
        [(1, "the same text here"), (2, "the same text here")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for bad in (True, 3):
        with pytest.raises(ValueError, match="None"):
            dedup.minhash_near_duplicates(docs, broadcast_arrays=bad)
        with pytest.raises(ValueError, match="None"):
            simsearch.cosine_near_duplicates_lsh(vecs, dim=2, broadcast_vectors=bad)


def test_char_shingles_packed_equals_exploded(spark):
    """The packed per-doc representation must hold exactly the exploded
    path's (shingle, shingle2) multiset per doc — it feeds both the
    signature mins and the verify arrays, so any divergence breaks the
    oracle contract. Mixed-script docs exercise both ASCII branches."""
    docs = spark.createDataFrame(
        [(1, "héllo wörld ünïcode çhars"), (2, "plain ascii text block"),
         (3, "日本語のテキストです、短い"), (4, "the same the same the same"),
         (5, "ab"), (6, None)],
        "doc_id long, text string",
    )
    exploded = dedup.char_shingles(docs, k=5).toPandas()
    packed = dedup.char_shingles_packed(docs, k=5).toPandas()
    want = {}
    for d, s1, s2 in exploded[["doc_id", "shingle", "shingle2"]].values.tolist():
        want.setdefault(d, []).append((s1, s2))
    got = {
        row["doc_id"]: [(z["s1"], z["s2"]) for z in row["sh"]]
        for _, row in packed.iterrows()
    }
    assert set(want) == set(got) and len(want) > 0
    for d in want:
        assert sorted(want[d]) == sorted(got[d]), d


def test_mllib_lsh_ann_survives_zero_nan_and_null_vectors(spark, emb):
    """A zero vector, NaN-poisoned vector, or NULL vector in the corpus
    (or probes) must be excluded, never surface as a NaN-cosine rank-1
    neighbor — and never crash. The NULL case is load-bearing: the LSH
    model's internal size(hashes)>0 filter is pushed into the scan-level
    conjunction where `NULL AND x` still evaluates x, so the whole
    hash(normalize(·)) chain runs on the dirty row and must be total
    (r6: array_to_vector NPE'd / gemv aborted without the placeholder)."""
    dirty = spark.createDataFrame(
        [
            (90001, [0.0] * 64),
            (90002, [float("nan")] + [0.1] * 63),
            (90003, None),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dirty)
    out = simsearch.ann_mllib_lsh(corpus, _probes(emb), k=10).toPandas()
    assert not set(out["vec_id"]) & {90001, 90002, 90003}
    assert out["cosine"].notna().all()
    assert len(out) > 0
    # dirty PROBES are dropped wholesale, not crashed on
    dp = dirty.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert simsearch.ann_mllib_lsh(emb, dp, k=5).count() == 0


def test_semantic_dedup_empty_and_all_dirty_corpus(emb, spark):
    """An empty (or fully-dirty) corpus must return an empty frame, not
    die in assign_to_centroids on a zero-size centroid array."""
    empty = emb.filter(F.lit(False))
    assert simsearch.semantic_dedup(empty, n_centroids=2).count() == 0
    nulls = emb.select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    assert simsearch.semantic_dedup(nulls, n_centroids=2).count() == 0


def test_ann_mllib_lsh_empty_corpus(emb, spark):
    """An empty (or fully-dirty) corpus must return the contract's empty
    frame, not die inside MLlib's fit ("head of empty array")."""
    empty = emb.filter(F.lit(False))
    out = simsearch.ann_mllib_lsh(empty, _probes(emb), k=5, dim=64)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["qid", "vec_id", "cosine", "rank"]
    nulls = emb.select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    assert simsearch.ann_mllib_lsh(nulls, _probes(emb), k=5, dim=64).count() == 0


def test_ann_mllib_lsh_derived_bucket_length_recall(spark, emb, exact10):
    """The None default must derive 2/sqrt(dim) and keep recall@10 ≥ 0.95
    (round-7 fix: the old 1.0 default put every normalized vector in one
    bucket per table — num_tables × brute force at corpus scale)."""
    got = simsearch.ann_mllib_lsh(emb, _probes32(emb), k=10).toPandas()
    r = _recall(exact10, got)
    assert r >= 0.95, f"derived-bucket recall@10 = {r:.3f}"


def test_connected_components_raises_on_non_convergence(spark):
    """A chain of diameter > max_iter must RAISE, not silently return a
    split labeling — leak_safe_split's guarantee depends on it."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=3)
    # and with enough rounds the same chain collapses to one component
    comp = dedup.connected_components(chain, max_iter=40).toPandas()
    assert set(comp["component_id"]) == {0}


def test_remove_boilerplate_newline_per_group_and_empty_doc(spark):
    """The production (newline-delimited) shape: a footer line frequent on
    site A is removed from ALL of A's docs but kept on site B where it is
    rare; a doc made ENTIRELY of boilerplate survives with empty text; and
    the min_docs floor stops tiny groups from flagging everything."""
    from periodicity_spark.pipeline.text import remove_boilerplate

    rows = [
        # site A: 3 docs sharing the footer (3/3 >= max(2, ceil(0.5*3)))
        (1, "a", "unique one\ncookie footer"),
        (2, "a", "unique two\ncookie footer"),
        (3, "a", "cookie footer"),  # all-boilerplate doc
        # site B: footer appears once in 2 docs -> 1 < max(2, 1) kept
        (4, "b", "cookie footer\nreal content"),
        (5, "b", "other text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(docs, min_doc_frac=0.5, min_docs=2).collect()
    }
    assert len(out) == 5
    assert out[1]["text"] == "unique one" and out[1]["n_removed"] == 1
    assert out[2]["text"] == "unique two"
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0 and out[3]["n_removed"] == 1
    assert out[4]["text"] == "cookie footer\nreal content", "site-B footer wrongly removed"
    assert out[5]["text"] == "other text" and out[5]["n_removed"] == 0


def test_remove_boilerplate_preserves_order_and_within_doc_repeats(spark):
    """Line order is restored from carried positions (not arrival order),
    and within-doc repeats count ONCE toward the distinct-doc frequency
    but are each removed when the line is boilerplate."""
    from periodicity_spark.pipeline.text import remove_boilerplate

    rows = [
        (1, "a", "x\nkeep1\nx\nkeep2"),
        (2, "a", "x\nother"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(docs, min_doc_frac=0.5, min_docs=2).collect()
    }
    assert out[1]["text"] == "keep1\nkeep2" and out[1]["n_removed"] == 2
    assert out[2]["text"] == "other" and out[2]["n_removed"] == 1


def _jaccard_verify_rows(candidates, shingles, threshold=0.0):
    """Row-join reference for jaccard_verify (formerly its
    strategy="rows"): intersection via shingle equi-join; sizes via one
    aggregate. It never materializes a per-doc row wider than one
    shingle."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = shingles.select(F.col("doc_id").alias("d1"), "shingle")
    s2 = shingles.select(F.col("doc_id").alias("_d2"), F.col("shingle").alias("_sh2"))
    inter = (
        candidates.join(s1, "d1")
        .join(s2, (F.col("d2") == F.col("_d2")) & (F.col("shingle") == F.col("_sh2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    z1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    z2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    out = (
        inter.join(z1, "d1")
        .join(z2, "d2")
        .select(
            "d1",
            "d2",
            (
                F.col("n_both")
                / (F.col("n1") + F.col("n2") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def test_jaccard_verify_strategies_agree(spark):
    """The array-intersect verify and the row-join reference must
    produce identical (d1, d2, jaccard) sets — same pairs, exact same
    double values."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = dedup.char_shingles(docs, k=5)
    cand = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(sh, n_hashes=16, r=4)
    )
    a = (
        dedup.jaccard_verify(cand, sh)
        .toPandas()
        .sort_values(["d1", "d2"], ignore_index=True)
    )
    b = (
        _jaccard_verify_rows(cand, sh)
        .toPandas()
        .sort_values(["d1", "d2"], ignore_index=True)
    )
    assert len(a) == len(b) > 0
    assert (a["d1"] == b["d1"]).all() and (a["d2"] == b["d2"]).all()
    assert (a["jaccard"] == b["jaccard"]).all(), "jaccard values diverge"


def test_remove_boilerplate_random_differential(spark):
    """Randomized differential vs a direct Python reference: random docs
    over a small line vocabulary (forcing frequency collisions across
    sources), thresholds exercised at both the frac and min_docs edges."""
    rng = np.random.default_rng(23)
    vocab = [f"line {i} text" for i in range(12)]
    rows = []
    for d in range(40):
        src = f"s{int(rng.integers(0, 3))}"
        n = int(rng.integers(1, 7))
        lines = [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]
        rows.append((d, src, "\n".join(lines)))
    frac, mind = 0.4, 2

    # python reference
    from collections import defaultdict

    docs_by_src = defaultdict(list)
    for d, s, t in rows:
        docs_by_src[s].append((d, t.split("\n")))
    import math

    want = {}
    for s, docs_ in docs_by_src.items():
        counts = defaultdict(set)
        for d, ls in docs_:
            for ln in ls:
                counts[ln].add(d)
        thr = max(mind, math.ceil(frac * len(docs_)))
        freq = {ln for ln, ds in counts.items() if len(ds) >= thr}
        for d, ls in docs_:
            kept = [ln for ln in ls if ln not in freq]
            want[d] = ("\n".join(kept), len(kept), len(ls) - len(kept))

    from periodicity_spark.pipeline.text import remove_boilerplate

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_removed"])
        for r in remove_boilerplate(
            df, min_doc_frac=frac, min_docs=mind
        ).collect()
    }
    assert got == want


def test_jaccard_verify_zero_overlap_pair_omitted_by_both_strategies(spark):
    """A candidate pair sharing ZERO shingles must be absent from both the
    array verify's and the row-join reference's output at threshold=0:
    the reference's inner equi-join can never emit it, and the array
    verify filters n_both > 0 instead of emitting a jaccard=0.0 row (r6
    ADVICE: the divergence broke the bit-identical contract)."""
    sh = spark.createDataFrame(
        [(1, "aaaaa"), (1, "bbbbb"), (2, "ccccc"), (2, "ddddd"), (3, "aaaaa")],
        "doc_id long, shingle string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "d1 long, d2 long")
    for name, verify in (("array", dedup.jaccard_verify), ("rows", _jaccard_verify_rows)):
        got = {
            (r["d1"], r["d2"]): r["jaccard"]
            for r in verify(cand, sh).collect()
        }
        assert (1, 2) not in got, f"{name}: zero-overlap pair emitted"
        assert got == {(1, 3): pytest.approx(0.5)}, name


def test_keep_canonical_no_forced_broadcast_hint(spark):
    """keep_canonical must NOT carry a static broadcast hint on the drop
    side (r6 verdict: the drop set is dup-rate × corpus — billions of ids
    on a crawl-scale corpus, an executor-OOM broadcast). AQE decides at
    runtime instead. Correctness of the anti join is asserted alongside."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    comp = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)],
        "doc_id long, component_id long",
    )
    out = dedup.keep_canonical(docs, comp)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, "static broadcast hint present"
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 3, 4]


def test_remove_boilerplate_null_text_kept_as_empty(spark):
    """A NULL-text document must survive remove_boilerplate as an empty
    document (text='', n_kept counts the single empty segment), not vanish
    (r6 ADVICE: split(NULL) -> NULL used to drop the doc entirely)."""
    from periodicity_spark.pipeline.text import remove_boilerplate

    docs = spark.createDataFrame(
        [(1, "s", "nav\nbody1"), (2, "s", "nav\nbody2"), (3, "s", None)],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in remove_boilerplate(docs, min_doc_frac=0.5, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3}, "NULL-text doc dropped"
    assert out[1] == ("body1", 1) and out[2] == ("body2", 1)
    assert out[3][0] == ""


def test_ann_mllib_lsh_explicit_dim_no_eager_job(emb, spark):
    """With dim= passed, building the ann_mllib_lsh plan must not run an
    eager count-style job (r6 ADVICE), and results must equal the probe-
    derived default."""
    a = simsearch.ann_mllib_lsh(emb, _probes(emb), k=5, dim=64).toPandas()
    b = simsearch.ann_mllib_lsh(emb, _probes(emb), k=5).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["qid", "rank"], ignore_index=True),
        b.sort_values(["qid", "rank"], ignore_index=True),
    )


def test_minhash_cap_drop_is_auditable(spark):
    """A planted degenerate bucket (identical docs over max_bucket) must be
    REPORTABLE, not only silently eaten: the cap audit tally is nonzero
    while the pair output is empty, and a clean corpus audits to 0
    (round-7 incident: r=16 cap drops ate 33/500k true twins silently).
    This is deliberately the WORST case — every bucket capped, output
    fully empty — which a plan-attached observe() metric cannot survive
    (AQE prunes the metrics node with the empty subtree)."""
    texts = ["identical boilerplate body repeated verbatim everywhere"] * 8
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(8), "text": texts})
    )
    out = dedup.minhash_near_duplicates(docs, k=5, threshold=0.0, max_bucket=5)
    assert out.count() == 0  # the only bucket is over-cap -> dropped whole
    m = dedup.minhash_cap_audit(docs, k=5, max_bucket=5).collect()[0]
    assert m["capped_buckets"] == 4  # one bucket per band, all over cap
    assert m["capped_sig_rows"] == 8 * 4
    assert m["max_bucket_seen"] == 8

    # clean corpus: tally is exactly 0
    rng = np.random.default_rng(3)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    clean = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(10),
                "text": [" ".join(rng.choice(vocab, 30)) for _ in range(10)],
            }
        )
    )
    m2 = dedup.minhash_cap_audit(clean, k=5, max_bucket=1000).collect()[0]
    assert m2["capped_sig_rows"] == 0 and m2["capped_buckets"] == 0


def test_cosine_lsh_cap_drop_is_auditable(spark):
    """Same contract for the embedding path: identical vectors land in one
    bucket per band; over the cap the pairs vanish from the output and the
    audit must report the drop."""
    v = np.random.default_rng(5).standard_normal(64)
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(12), "embedding": [v.tolist()] * 12})
    )
    out = simsearch.cosine_near_duplicates_lsh(vecs, threshold=0.99, max_bucket=5)
    assert out.count() == 0
    m = simsearch.cosine_lsh_cap_audit(vecs, max_bucket=5).collect()[0]
    assert m["capped_buckets"] == 8  # 8 bands, one over-cap bucket each
    assert m["capped_sig_rows"] == 12 * 8
    assert m["max_bucket_seen"] == 12
    # under a roomy cap the same corpus audits clean
    m2 = simsearch.cosine_lsh_cap_audit(vecs, max_bucket=1000).collect()[0]
    assert m2["capped_sig_rows"] == 0


def test_ann_topk_auto_routes_small_to_exact_and_large_to_lsh(emb, spark):
    """The strategy pick: under the corpus-size threshold the result IS the
    exact brute-force top-k; with the probe disabled (threshold=0) it runs
    the sign-hash LSH path (approximate — same contract, recall pinned in
    test_lsh_recall_vs_bruteforce); and it must never emit the MLlib
    regime warning."""
    import warnings

    p = _probes(emb)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        auto = simsearch.ann_topk_auto(emb, p, k=5, dim=64).toPandas()
        lsh = simsearch.ann_topk_auto(
            emb, p, k=5, dim=64, brute_force_threshold=0
        ).toPandas()
    brute = simsearch.cosine_topk_bruteforce(emb, p, k=5).toPandas()
    pd.testing.assert_frame_equal(
        auto.sort_values(["qid", "rank"], ignore_index=True),
        brute.sort_values(["qid", "rank"], ignore_index=True),
    )
    ref = simsearch.cosine_topk_lsh(emb, p, k=5, dim=64).toPandas()
    pd.testing.assert_frame_equal(
        lsh.sort_values(["qid", "rank"], ignore_index=True),
        ref.sort_values(["qid", "rank"], ignore_index=True),
    )


def test_ann_mllib_lsh_warns_about_regime(emb, spark):
    """The MLlib-parity path must tell the caller it is geometry-bound
    (round-7 verdict: 'a user picking the MLlib-parity path gets no
    warning')."""
    with pytest.warns(UserWarning, match="MLlib-parity"):
        simsearch.ann_mllib_lsh(emb, _probes(emb), k=5, dim=64)


def test_scan_parallel_floor_rule(spark, tmp_path):
    """session.scan_parallel is the one scan-parallelism floor: it
    repartitions by key to defaultParallelism exactly when the input
    would be scanned by fewer tasks than cores, whether the count comes
    from the parquet footers (few local files), the RDD partitions, or a
    streaming frame that cannot be probed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from periodicity_spark.session import scan_parallel

    par = spark.sparkContext.defaultParallelism

    def floored_by(df, key):
        plan = df._jdf.queryExecution().analyzed().toString()
        return f"RepartitionByExpression [{key}" in plan

    def write(path, rows, row_group_size):
        ids = pa.array(range(rows), pa.int64())
        pq.write_table(pa.table({"doc_id": ids}), path, row_group_size=row_group_size)
        return path

    small = write(str(tmp_path / "small.parquet"), 2000, 2000)
    wide = write(str(tmp_path / "wide.parquet"), 100 * par, 100)
    assert pq.ParquetFile(wide).metadata.num_row_groups == par

    # a small one-file input floors
    df = spark.read.parquet(small)
    out = scan_parallel(df, key="doc_id")
    assert out is not df and floored_by(out, "doc_id")
    assert out.rdd.getNumPartitions() == par

    def read_split(path):
        # byte splits of ~1/(2·par) of the file: >= par scan partitions
        size = os.path.getsize(path) // (2 * par)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(size))
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= par
        return df

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # the one row group is read by the one split holding its midpoint:
        # many scan partitions, exactly one with rows — it floors
        df = read_split(small)
        assert df.select(F.spark_partition_id()).distinct().count() == 1
        assert floored_by(scan_parallel(df, key="doc_id"), "doc_id")
        # par row groups in as many splits already scan wide: as is
        df = read_split(wide)
        assert scan_parallel(df, key="doc_id") is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # an already-repartitioned frame keeps its builder's layout
    df = spark.read.parquet(small).repartition(2, "doc_id")
    assert scan_parallel(df, key="doc_id") is df

    # a streaming frame cannot be probed: always repartitioned by its key
    stream = spark.readStream.schema("doc_id long").parquet(str(tmp_path))
    assert stream.isStreaming
    assert floored_by(scan_parallel(stream, key="doc_id"), "doc_id")


def test_ann_topk_auto_forwards_lsh_kwargs(emb, spark):
    """The router's LSH branch accepts the cosine_topk_lsh tuning surface
    (n_tables etc.) — recall is a property of the data's neighbor angles,
    so callers must be able to raise n_tables without leaving the router.
    With ONE table at 8 planes (the round-2 shape, measured recall 0.016)
    the candidate set collapses, so forwarding is observable as a strictly
    smaller result than the 24-table default."""
    p = _probes(emb)
    few = simsearch.ann_topk_auto(
        emb, p, k=5, dim=64, brute_force_threshold=0, n_tables=1, n_planes=8
    ).count()
    dflt = simsearch.ann_topk_auto(
        emb, p, k=5, dim=64, brute_force_threshold=0
    ).count()
    assert few < dflt


def test_simhash_neardup_first_band_emit_equals_distinct_plan(spark):
    """The single-emission rule (pair surfaces only from its first agreeing
    NON-CAPPED band) must produce the exact multiset the old
    candidates→DISTINCT plan produced — including when bucket caps fire,
    where 'first agreeing band' and 'first agreeing SURVIVING band'
    diverge: a pair whose earliest agreeing band was capped must still be
    emitted via a later surviving band."""
    import random

    rng = random.Random(7)
    rows = []
    # 40 docs across 3 boilerplate clusters (degenerate buckets under a
    # tiny cap) + random text, plus planted near-identical pairs
    for i in range(40):
        base = ["alpha beta gamma delta", "lorem ipsum dolor sit amet", ""][i % 3]
        extra = " ".join(rng.choice("abcdefgh") * rng.randint(1, 3) for _ in range(6))
        rows.append((i, f"{base} {extra}"))
        rows.append((100 + i, f"{base} {extra} zz"))  # near-dup twin
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.simhash64(docs).localCheckpoint(eager=True)

    for max_bucket in (2, 5, 1000):
        got = (
            dedup.simhash_near_duplicates(
                fp, max_hamming=12, n_bands=4, bits=64, max_bucket=max_bucket
            )
            .toPandas()
            .sort_values(["d1", "d2"])
            .reset_index(drop=True)
        )
        # reference: the old formulation — all surviving candidates, DISTINCT,
        # then the Hamming filter (built inline so the library path can change)
        from pyspark.sql import Window

        band_bits, mask = 16, (1 << 16) - 1
        banded = fp.select(
            "doc_id",
            F.col("simhash").alias("_fp"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
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
        ref = (
            a.join(b, (a["band"] == b["_band"]) & (a["val"] == b["_val"]) & (a["d1"] < b["d2"]))
            .select("d1", "d2", F.expr("cast(bit_count(_f1 ^ _f2) as int)").alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= 12)
            .toPandas()
            .sort_values(["d1", "d2"])
            .reset_index(drop=True)
        )
        assert len(got) == len(ref), (max_bucket, len(got), len(ref))
        pd.testing.assert_frame_equal(got, ref[got.columns])


def test_twolevel_assignment_full_probe_equals_exact(spark, emb):
    """coarse_probe ≥ n_groups makes two-level routing exhaustive — labels
    must equal the exact single-level argmax bit-for-bit (same dots, same
    lowest-id tie-break)."""
    cents = simsearch.ivf_centroids(emb, 64, seed=42)
    ex = (
        simsearch.assign_to_centroids(emb, cents)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    tl = (
        simsearch.assign_to_centroids(emb, cents, mode="twolevel", coarse_probe=10**9)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(ex, tl)


def test_twolevel_assignment_agreement_and_auto_routing(spark, emb):
    """At the default probe the approximate route must agree with exact on
    nearly every vector, and mode='auto' must route exact below
    min_twolevel_k (identical labels) while switching above it."""
    cents = simsearch.ivf_centroids(emb, 64, seed=42)
    ex = simsearch.assign_to_centroids(emb, cents).toPandas().set_index("vec_id")["centroid"]
    tl = (
        simsearch.assign_to_centroids(emb, cents, mode="twolevel")
        .toPandas().set_index("vec_id")["centroid"]
    )
    assert (ex.sort_index() == tl.sort_index()).mean() >= 0.95
    # auto below the k threshold = the exact path
    auto_small = (
        simsearch.assign_to_centroids(emb, cents, mode="auto", min_twolevel_k=256)
        .toPandas().set_index("vec_id")["centroid"]
    )
    assert (ex.sort_index() == auto_small.sort_index()).all()


def test_semantic_dedup_auto_assignment_drops_planted_twins(spark, emb):
    """assignment='auto' above the two-level threshold must still co-route
    near-identical pairs: every quantized twin (cosine ≈ 0.99998) must be
    dropped, exactly as the exact-assignment baseline drops them — the
    over-clustered regime (k=256 over 1k vectors) is the worst case for
    routing perturbation."""
    base = emb.select("vec_id", "embedding")
    twins = base.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(200)).cast("int").cast("float") / 200
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    for assignment in ("exact", "auto"):
        res = simsearch.semantic_dedup(
            corpus, threshold=0.99, n_centroids=256, assignment=assignment
        ).toPandas()
        dropped_twins = res[(res["vec_id"] >= 10_000_000) & (~res["keep"])]
        n_base = (res["vec_id"] < 10_000_000).sum()
        assert len(dropped_twins) == n_base, (assignment, len(dropped_twins), n_base)
        # no base vector lost: keeps are exactly the base side
        assert res[res["keep"]]["vec_id"].max() < 10_000_000


def test_semantic_dedup_block_pair_path_equals_single_task_path(spark, emb):
    """Forcing tiny pairwise blocks (32 rows over ~125-row clusters) must
    reproduce the one-task-per-cluster drop set exactly — the block-pair
    decomposition regroups the same dot products, it does not change them.
    Run with planted twins so the drop set is non-trivial."""
    base = emb.select("vec_id", "embedding")
    twins = base.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(200)).cast("int").cast("float") / 200
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    one = (
        simsearch.semantic_dedup(corpus, threshold=0.9, n_centroids=4)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    blocked = (
        simsearch.semantic_dedup(corpus, threshold=0.9, n_centroids=4, pairwise_block=32)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert (one["keep"] == False).sum() > 0  # noqa: E712 — non-trivial drop set
    pd.testing.assert_frame_equal(one, blocked)


def test_char_shingles_ascii_fast_path_equals_codepoint_path(spark):
    """The ASCII byte-slice branch must produce exactly the fingerprints the
    codepoint path produces — for ASCII docs (same bytes) AND for
    non-ASCII docs (which must route to the codepoint branch, where k
    counts CHARS, not bytes)."""
    docs = spark.createDataFrame(
        [(1, "héllo wörld ünïcode çhars"), (2, "plain ascii text block"),
         (3, "日本語のテキストです、短い"), (4, "mixed ascii and ünïcode"),
         (5, "ab"), (6, None), (7, "aaaaaa")],
        "doc_id long, text string",
    )
    new = (
        dedup.char_shingles(docs, k=5)
        .toPandas().sort_values(["doc_id", "shingle"]).reset_index(drop=True)
    )
    # reference: the always-codepoint formulation
    ref = (
        docs.filter(F.length("text") >= 5)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(
                "transform(sequence(1, length(text) - 4),"
                " i -> md5(cast(substring(text, i, 5) as binary)))"
            ))).alias("_h"),
        )
        .select(
            "doc_id",
            F.conv(F.substring("_h", 1, 15), 16, 10).cast("long").alias("shingle"),
            F.conv(F.substring("_h", 16, 15), 16, 10).cast("long").alias("shingle2"),
        )
        .toPandas().sort_values(["doc_id", "shingle"]).reset_index(drop=True)
    )
    assert len(new) > 0
    pd.testing.assert_frame_equal(new, ref)


def test_shingle_census_bound_bounds_exact_census(spark, sf_dir):
    """minhash_near_duplicates sizes its verify chunks with a
    length-derived upper bound instead of the exact shingle census (an
    exact census runs the whole shingle transform as a standalone job).
    The bound must dominate the exact distinct-shingle count on real data
    and every degenerate shape, and be 0 exactly when no shingles exist."""
    from pyspark.sql import functions as F

    from periodicity_spark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = 5
    bound = dedup._shingle_census_bound(docs, "text", k)
    exact = (
        dedup.char_shingles_packed(docs, k=k)
        .agg(F.sum(F.size("sh")))
        .first()[0]
        or 0
    )
    assert bound >= exact > 0

    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abcd"), (4, "abcde"), (5, "aaaaaaaa")],
        "doc_id long, text string",
    )
    # len<k contribute 0; "abcde" has 1; "aaaaaaaa" has 4 positions but
    # 1 distinct shingle — the bound counts positions (4), exact is 1
    assert dedup._shingle_census_bound(edge, "text", k) == 0 + 0 + 0 + 1 + 4
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup._shingle_census_bound(empty, "text", k) == 0


def test_minhash_verify_chunks_sized_from_census_bound(spark, sf_dir, monkeypatch):
    """minhash_near_duplicates sizes its verify chunks from the scan-only
    length bound: one bound scan and exactly one plan decision, on 8 B ×
    the bound. A forced False skips the bound scan too."""
    import periodicity_spark.pipeline._heap as _heap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bound = dedup._shingle_census_bound(docs, "text", 5)
    calls: list[tuple] = []
    real = _heap.verify_chunks

    def probe(sp, mode, payload_bytes):
        calls.append((mode, payload_bytes() if mode is None else None))
        return real(sp, mode, payload_bytes)

    scans: list[int] = []
    real_bound = dedup._shingle_census_bound

    def bound_probe(*args):
        scans.append(real_bound(*args))
        return scans[-1]

    monkeypatch.setattr(_heap, "verify_chunks", probe)
    monkeypatch.setattr(dedup, "_shingle_census_bound", bound_probe)
    dedup.minhash_near_duplicates(docs, threshold=0.4)
    assert calls == [(None, 8 * bound)] and scans == [bound]
    calls.clear()
    scans.clear()
    dedup.minhash_near_duplicates(docs, threshold=0.4, broadcast_arrays=False)
    assert calls == [(False, None)] and scans == []


def test_lsh_pipelines_release_caches_on_failure(spark, sf_dir, emb, monkeypatch):
    """minhash_near_duplicates (packed shingles) and semantic_dedup (the
    vector-carrying cluster assignment) persist corpus-sized caches; a
    failure after the persist must still release them. The failure is
    injected at each function's final eager checkpoint."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cache = spark._jsparkSession.sharedState().cacheManager()

    def boom(self, *a, **k):
        raise RuntimeError("injected failure")

    spark.catalog.clearCache()
    monkeypatch.setattr(type(docs), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dedup.minhash_near_duplicates(docs, threshold=0.4)
    assert cache.isEmpty(), "minhash_near_duplicates left a cached plan"
    with pytest.raises(RuntimeError, match="injected"):
        simsearch.semantic_dedup(emb, threshold=0.9)
    assert cache.isEmpty(), "semantic_dedup left a cached plan"
