"""Plan-identity pins for the r11 minhash SQL-string rewrites.

minhash_signatures' 16 affine-permutation aggregates, _band_stack's band
md5s, lsh_candidate_pairs' bucket-cap window and jaccard_verify's array
joins were rewritten from Column-object builds to SQL strings parsed
JVM-side (guide §5 — the Column chatter measured ~0.9 s of driver time per
dedup_minhash plan, re-paid every bench rep). These differentials
re-implement the FORMER Column formulations verbatim and assert the
OPTIMIZED plans are byte-identical modulo expression ids — plan equality
implies result equality, to the bit.
"""

import re

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, Window

from periodicity_spark.pipeline import dedup


def _canon(df: DataFrame) -> str:
    s = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "#N", s)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _old_minhash_signatures(shingles, n_hashes=16, r=4):
    """Verbatim pre-r11 Column build (aggregates + band stack)."""
    h1 = F.col("shingle") % F.lit(dedup.P31)
    h2 = F.col("shingle2") % F.lit(dedup.P31)
    aggs = [
        F.min(dedup._affine_perm(h1, h2, a, b, c)).alias(f"_m{i}")
        for i, (a, b, c) in enumerate(dedup.minhash_perm_consts(n_hashes))
    ]
    wide = shingles.groupBy("doc_id").agg(*aggs)
    n_bands = n_hashes // r
    bands = [
        dedup._md5(
            F.concat_ws(",", *[F.col(f"_m{j * r + i}") for i in range(r)])
        ).alias(f"_b{j}")
        for j in range(n_bands)
    ]
    wide = wide.select("doc_id", *bands)
    stack_expr = ", ".join(f"{j}, _b{j}" for j in range(n_bands))
    return wide.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_expr}) as (band, sig)")
    )


def _old_lsh_candidate_pairs(signatures, max_bucket=1000):
    """Verbatim pre-r11 Column build (window cap + self-join)."""
    w = Window.partitionBy("band", "sig")
    capped = (
        signatures.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    a = capped.select("band", "sig", F.col("doc_id").alias("d1"))
    b = capped.select(
        F.col("band").alias("_band"),
        F.col("sig").alias("_sig"),
        F.col("doc_id").alias("d2"),
    )
    return (
        a.join(b, (a["band"] == b["_band"]) & (a["sig"] == b["_sig"]) & (a["d1"] < b["d2"]))
        .select("d1", "d2")
        .distinct()
    )


def _old_jaccard_verify_hybrid(candidates, shingles, threshold):
    """Pre-r11 Column build of the array verify, in the auto plan's
    one-chunk hybrid shape: d1 join unhinted (shuffled), d2 broadcast."""
    arrs = shingles.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("_a"),
        F.count(F.lit(1)).alias("_n"),
    )

    def _pair_jaccard(j):
        n_both = F.size(F.array_intersect("_a1", "_a2"))
        out = (
            j.withColumn("_nb", n_both)
            .filter(F.col("_nb") > 0)
            .select(
                "d1",
                "d2",
                (
                    F.col("_nb")
                    / (F.col("_n1") + F.col("_n2") - F.col("_nb")).cast("double")
                ).alias("jaccard"),
            )
        )
        if threshold > 0:
            out = out.filter(F.col("jaccard") >= threshold)
        return out

    a1 = arrs.select(
        F.col("doc_id").alias("d1"),
        F.col("_a").alias("_a1"),
        F.col("_n").alias("_n1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("d2"),
        F.col("_a").alias("_a2"),
        F.col("_n").alias("_n2"),
    )
    return _pair_jaccard(
        candidates.join(a1, "d1").join(F.broadcast(a2), "d2")
    )


def test_minhash_signature_sql_build_plan_identical(spark, sf_dir):
    sh = dedup.char_shingles(_docs(spark, sf_dir), k=5)
    ref = _old_minhash_signatures(sh)
    new = dedup.minhash_signatures(sh)
    assert _canon(new) == _canon(ref)


def test_lsh_candidate_sql_build_plan_identical(spark, sf_dir):
    sig = dedup.minhash_signatures(dedup.char_shingles(_docs(spark, sf_dir), k=5))
    ref = _old_lsh_candidate_pairs(sig)
    new = dedup.lsh_candidate_pairs(sig)
    assert _canon(new) == _canon(ref)


def test_jaccard_verify_sql_build_plan_identical(spark, sf_dir):
    sh = dedup.char_shingles(_docs(spark, sf_dir), k=5)
    sig = dedup.minhash_signatures(sh)
    cand = dedup.lsh_candidate_pairs(sig)
    ref = _old_jaccard_verify_hybrid(cand, sh, threshold=0.4)
    new = dedup.jaccard_verify(cand, sh, threshold=0.4)  # auto: one chunk here
    assert _canon(new) == _canon(ref)


def test_ngram_jaccard_reshape_rows_identical(spark, sf_dir):
    """The r11 ngram_jaccard reshape (sizes via a doc-window instead of a
    twice-broadcast groupBy join-back, merge-hinted self-join) is a PLAN
    change, so it is pinned by a full row differential against the former
    formulation — integer counts divide at the end on both sides, so
    equality is exact, not approximate."""
    docs = _docs(spark, sf_dir)
    grams = dedup.word_ngrams(docs, n=3)
    rare = (
        grams.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .filter(F.col("_df") <= 50)
        .drop("_df")
    )
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = rare.select(F.col("doc_id").alias("d1"), "gram")
    b = rare.select(F.col("doc_id").alias("d2"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("_ix"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("_sz").alias("_s1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("_sz").alias("_s2"))
    ref = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            (
                F.col("_ix").cast("double")
                / (F.col("_s1") + F.col("_s2") - F.col("_ix")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    new = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=50)
    key = ["d1", "d2"]
    ref_pd = ref.toPandas().sort_values(key).reset_index(drop=True)
    new_pd = new.toPandas().sort_values(key).reset_index(drop=True)
    assert len(ref_pd) == len(new_pd)
    assert (ref_pd["d1"] == new_pd["d1"]).all()
    assert (ref_pd["d2"] == new_pd["d2"]).all()
    assert (ref_pd["jaccard"] == new_pd["jaccard"]).all()
