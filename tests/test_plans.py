"""Plan-regression guard: the physical properties PLANS.md documents are
asserted here, so a code change that degrades a flagship plan (a join losing
its broadcast to a sort-merge, a filter no longer reaching the scan, an
accidental cartesian) fails pytest instead of surfacing at 100 TB.

Each query is executed once at sf0.001 so the ADAPTIVE final plan is
inspected — several joins carry no static hint by design (AQE promotes them
at runtime from measured sizes; at corpus scale the same plan degrades
gracefully to a shuffle join instead of OOMing a forced broadcast).
"""

import pytest

import __spark_entry__ as E

# join-bearing flagship queries; everything here must finish with zero
# sort-merge joins and zero cartesians in the adaptive final plan
GUARDED = [
    "gls_power",
    "gls_best_period",
    "pdm_theta",
    "stringlength",
    "downsample_daily",
    "dedup_exact",
    "dedup_minhash",
    "simhash_neardup",
    # ngram_jaccard moved to its own shape test: its r11 plan deliberately
    # pins a sort-merge self-join so both sides share ONE scan→explode→
    # df-cap shuffle (ReusedExchange) instead of broadcasting a full copy
    # of the exploded rare-gram frame
    "simsearch_topk",
    "simsearch_lsh",
    "text_stats",
    "acf_fft",
    "tpch_q1",
    # round 5
    "gls_default_grid",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "token_counts",
    "winnow_fp",
    "image_resize",
    "frame_sample",
    "dedup_keep",
    # round 5 — sampling/mixing/packing/scrubbing (dataset_mix's rate table
    # and pack_chunks' bucket-prefix table must stay broadcast)
    "sample_split",
    "dataset_mix",
    "pii_scrub",
    "pack_chunks",
    "top_keywords",
    "kmv_distinct",
    # round 5 (cont.) — repetition signals are shuffle-free per-row HOFs;
    # quantiles is one hash-aggregate shuffle with a JVM percentile
    "repetition_stats",
    "value_quantiles",
    # round 5 (cont.) — Q3's customer side is hinted broadcast, its
    # orders⋈lineitem is AQE-promoted at test size (legitimately a shuffle
    # join at 100 TB); Q6 and centroids are scan-aggregates
    "tpch_q3",
    "tpch_q6",
    "embedding_centroids",
    # round 5 (cont.) — Q5's four dims are hinted broadcast (star side
    # shuffle-free), Q14's part is broadcast, Q18's having-filtered key
    # set is a broadcast LEFT SEMI; cross_dup is one gram-key shuffle
    "tpch_q5",
    "tpch_q14",
    "tpch_q18",
    # bounded-shuffle top-k: the Arrow local reduction must precede the
    # single candidate exchange (dedicated shape test below)
    "topk_events",
    # one-scan curation verdict (dedicated zero-shuffle test below)
    "corpus_curate",
    # session 3 — Q4's EXISTS is one semi join; Q13 pre-aggregates orders
    # before the outer join; Q22's scalar subquery is a 1-row broadcast and
    # its anti-join right side is bare keys; the three sampling ops
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q13",
    "tpch_q17",
    "tpch_q19",
    "tpch_q22",
    "domain_cap",
    "leak_split",
    "uniform_sample_k",
    "gls_arrow",
    "simsearch_mllib",
    # round 6 — Q15's revenue view is referenced twice; reuse guarded below
    "tpch_q15",
    # round 6 — boilerplate removal: totals broadcast, verdict join stays
    # equi (AQE may promote the frequent side to broadcast)
    "boilerplate_rm",
    # round 6 — cohort retention: user-day collapse, user-keyed join,
    # broadcast cohort sizes
    "cohort_retention",
]

# deliberate all-pairs baseline: its cartesian is the documented exception
CARTESIAN_OK = {"cosine_neardup"}


def test_cross_dup_scale_safe_joins(spark, sf_dir):
    """cross_dup is two equi-joins over fixed-width keys (md5 gram key,
    then doc_id) — never a cartesian or nested-loop shape. r10 floored
    the docs entry to force a co-partitioned SMJ finish; the r11
    interleaved A/B measured that floor LOSING at sf0.1 (1.49×) AND sf1
    (1.53×) — the text shuffle it adds costs more than the single-task
    gram work it parallelizes — so the floor was dropped. Scale safety is
    size-driven instead: at test scale both the gram-df side and the
    per-doc stats side measure small and the static planner / AQE
    broadcast them; at corpus scale their estimates grow with the input
    and both joins fall back to shuffled equi-joins on skinny
    (key, count) rows — never a shuffle of text payloads (the only
    text-carrying subtree feeds the gram projection, below one exchange
    of fixed-width md5 keys)."""
    plan = _final_plan(spark, sf_dir, "cross_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every exchange moves fixed-width keys/aggregates, not document text:
    # no Exchange line may carry the text column
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, f"text payload in a shuffle: {line}"


def _final_plan(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan or "AdaptiveSparkPlan" not in plan
    # AdaptiveSparkPlan.toString appends the pre-AQE "== Initial Plan ==";
    # the guard is about what EXECUTED, so assert on the final section only
    # (since keep_canonical dropped its broadcast hint, the initial plan
    # legitimately contains the SortMergeJoin that AQE converts to BHJ)
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("name", GUARDED)
def test_no_sortmerge_or_cartesian(name, spark, sf_dir):
    plan = _final_plan(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan, f"{name}: sort-merge join crept in"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product crept in"
    # NOTE: BroadcastNestedLoopJoin is NOT banned — a broadcast cross join
    # (the grid fan-out in GLS/PDM/StringLength) physically IS one, with the
    # provably-tiny side broadcast. The dangerous shape is the un-broadcast
    # CartesianProduct, which is banned above.


def test_ngram_jaccard_selfjoin_reuses_one_gram_subtree(spark, sf_dir):
    """r11 reshape: the inverted-index self-join's two sides are identical
    subplans joined sort-merge ON PURPOSE, so the b side must execute as a
    ReusedExchange of a's scan→explode→df-cap→size-window shuffle — the
    old shape planned FOUR independent corpus subtrees and broadcast the
    corpus-sized per-doc sizes aggregate twice. No cartesian, and at most
    the floored-entry repartition may precede the gram exchange."""
    plan = _final_plan(spark, sf_dir, "ngram_jaccard")
    assert "SortMergeJoin" in plan, "the pinned merge join disappeared"
    assert "ReusedExchange" in plan, "self-join sides no longer share a shuffle"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_neardup_runs_the_lsh_plan(spark, sf_dir):
    """The REGISTERED cosine_neardup query is the banded-LSH scale path
    (round 7 re-point): its plan must contain no all-pairs join of either
    physical shape. The deliberate O(n^2) exact kernel remains available as
    pipeline.simsearch.cosine_near_duplicates, plan-asserted below."""
    plan = _final_plan(spark, sf_dir, "cosine_neardup")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_exact_cosine_kernel_is_the_deliberate_cartesian(spark, sf_dir):
    """The exact all-pairs LIBRARY function keeps its documented cartesian
    (at test size AQE may build it as a broadcast nested-loop)."""
    from periodicity_spark.pipeline import simsearch

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = simsearch.cosine_near_duplicates(vecs, threshold=0.99)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def test_wps_gwps_runs_the_cwt_kernel_once(spark, sf_dir):
    """The masked GWPS takes the COI's per-series time bounds from a window
    over the CWT output. Joining that output to an aggregate of itself
    would plan the whole scan → CWT Arrow kernel subtree twice."""
    plan = _final_plan(spark, sf_dir, "wps_gwps")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_tpch_q15_revenue_view_shuffle_is_reused(spark, sf_dir):
    """Q15 references the revenue view twice (totals + their max). The two
    references must share ONE lineitem scan+shuffle via ReusedExchange —
    the explicit isnotnull(l_suppkey) in the view keeps both branches'
    canonical plans identical (the supplier join would otherwise infer it
    into only one branch and silently double the 100 TB fact scan)."""
    plan = _final_plan(spark, sf_dir, "tpch_q15")
    assert "ReusedExchange" in plan, "revenue view no longer shares its shuffle"
    assert "SortMergeJoin" not in plan


def test_tpch_q1_pushdown_and_pruning(spark, sf_dir):
    """The shipdate RANGE predicate must reach the parquet scan, and column
    pruning must hold (a Q1 scan reading l_comment is wrong)."""
    plan = _final_plan(spark, sf_dir, "tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "l_comment" not in plan


def test_ts_queries_push_value_notnull(spark, sf_dir):
    """The NULL-drop at the head of every TSeries pipeline must reach the
    events scan as a pushed filter, not a post-scan Filter."""
    plan = _final_plan(spark, sf_dir, "gls_power")
    assert "IsNotNull(value)" in plan


def test_gls_stats_side_stays_broadcast(spark, sf_dir):
    """The per-series stats join (one row per series) must build a broadcast
    hash table by default — and honor the size-guard escape hatches."""
    from periodicity_spark.sources.ingest import ts_from_events
    from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid

    ts = ts_from_events(spark, sf_dir)
    grid = uniform_freq_grid(spark, 0.05, 0.01, 16)

    df = gls_periodogram(ts, freq_grid=grid)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # stats, consts (grid may fold in)

    shuf = gls_periodogram(ts, freq_grid=grid, broadcast_stats=False)
    shuf.collect()
    splan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in splan
    import pandas as pd

    pd.testing.assert_frame_equal(
        df.toPandas().sort_values(["series_id", "frequency"]).reset_index(drop=True),
        shuf.toPandas().sort_values(["series_id", "frequency"]).reset_index(drop=True),
        check_exact=False,
        rtol=1e-12,
    )


def test_repetition_stats_is_shuffle_free_single_scan(spark, sf_dir):
    """The repetition signals must stay a pure per-row projection: the
    n-gram work happens in array expressions over the token split, never
    via explode→groupBy (which would shuffle every n-gram of the corpus).
    No exchange at all: the docs input is the raw unfloored scan (the r11
    A/B showed a floor's full-text shuffle loses for plain-scan
    consumers), and any other exchange means an aggregate or join crept
    in."""
    plan = _final_plan(spark, sf_dir, "repetition_stats")
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1


def test_value_quantiles_single_shuffle(spark, sf_dir):
    """Exact quantiles = one partial/final hash-aggregate pair: exactly one
    shuffle on series_id, no join, no window-over-unpartitioned data. The
    adaptive plan string renders the tree twice (final + initial), so count
    DISTINCT exchange keys, not substring hits."""
    plan = _final_plan(spark, sf_dir, "value_quantiles")
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0]
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    }
    assert len(keys) == 1 and next(iter(keys)).startswith("series_id"), keys
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_denoise_single_shuffle_no_join(spark, sf_dir):
    """The wavelet-shrinkage denoise must stay ONE scan + ONE bucketed
    Arrow shuffle: the σ estimate runs inside the shrinkage kernel (r6),
    not as a second Arrow stage broadcast-joined back — a regression here
    doubles the full-series shuffle at 100 TB."""
    plan = _final_plan(spark, sf_dir, "denoise")
    # the adaptive plan string renders the tree twice (final + initial):
    # count DISTINCT exchange keys, not substring hits
    keys = {
        line.split("hashpartitioning(")[1].split(",")[0]
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    }
    assert len(keys) == 1, f"denoise grew extra shuffles: {keys}"
    assert "BroadcastExchange" not in plan and "Join" not in plan


def test_tpch_q6_all_three_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown benchmark: the shipdate range, discount range,
    and quantity bound must ALL reach the parquet scan as PushedFilters.
    The tree toString TRUNCATES the PushedFilters list, so read the
    formatted explain (which prints it in full)."""
    df = E.queries()["tpch_q6"](spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.025)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # column pruning: the scan must read only the four needed columns
    assert "l_returnflag" not in plan


def test_tpch_q18_semi_join_stays_broadcast(spark, sf_dir):
    """Q18's HAVING-filtered order-key set must enter lineitem as a
    broadcast LEFT SEMI join (the key set is ~1% of orders by
    construction) — a shuffled semi-join here would re-shuffle the fact
    table once more per query at 100 TB."""
    plan = _final_plan(spark, sf_dir, "tpch_q18")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]


def test_tpch_q5_star_side_all_broadcast(spark, sf_dir):
    """Q5's four dimension joins (customer, supplier, nation, region) are
    all broadcasts — the adaptive final plan must show at least 4
    BroadcastHashJoins and no SortMergeJoin (the lone big-big
    lineitem⋈orders join is AQE-promoted at test scale)."""
    plan = _final_plan(spark, sf_dir, "tpch_q5")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]


def test_corpus_curate_is_shuffle_free_single_scan(spark, sf_dir):
    """The composed curation verdict must stay ONE projection over ONE
    scan — composing the four signal operators must not reintroduce the
    four-scan three-join shape. No exchange at all: the docs input is the
    raw unfloored scan, and any exchange means a join/aggregate crept back
    in."""
    plan = _final_plan(spark, sf_dir, "corpus_curate")
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1


def test_simsearch_topk_floors_its_corpus_once(spark, sf_dir):
    """q_simsearch_topk floors its embeddings input at the call site
    (scan_parallel keyed on vec_id; the brute-force matmul runs below the
    rank window's exchange). The corpus and the probes both read that one
    floored frame (the probe filter is pushed below the exchange), so each
    of the two embeddings scans feeds exactly one REPARTITION_BY_NUM
    exchange, hashed on vec_id, and no other floor is added."""
    plan = _final_plan(spark, sf_dir, "simsearch_topk")
    floors = [
        line for line in plan.splitlines()
        if "Exchange" in line and "REPARTITION_BY_NUM" in line
    ]
    scans = plan.count("FileScan parquet")
    assert scans == 2 and len(floors) == scans, floors
    assert all("hashpartitioning(vec_id" in line for line in floors), floors


def test_tpch_q13_preaggregates_orders_before_outer_join(spark, sf_dir):
    """The distribution query must aggregate orders per custkey BEFORE the
    outer join (HashAggregate feeding the join build side) — the naive
    outer-join-then-count shape would shuffle the full orders table keyed
    by customer and resurrect hot-customer skew at corpus scale. Cheap
    structural proxy: the plan's first (deepest) aggregate consumes the
    orders scan, and the join sees only its output."""
    plan = _final_plan(spark, sf_dir, "tpch_q13")
    assert "SortMergeJoin" not in plan
    # two aggregation levels (per-custkey, then distribution) + partials
    assert plan.count("HashAggregate") >= 4, plan[:2000]


def test_tpch_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: the NOT-EXISTS must be a LeftAnti join and the scalar avg
    subquery a broadcast of one row (BroadcastNestedLoopJoin or a
    broadcast hash join over the literal) — never a shuffled join against
    the 1-row aggregate."""
    plan = _final_plan(spark, sf_dir, "tpch_q22")
    assert "LeftAnti" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
