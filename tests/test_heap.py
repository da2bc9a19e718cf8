"""Verify-join plan and broadcast budget (`pipeline._heap`): the shared
sizing logic behind jaccard_verify's and cosine_near_duplicates_lsh's
verify join. The contract under test: budgets key on the BINDING heap
(driver in local mode, min(driver, executor) on a cluster), unparseable
memory strings mean "unknown → never broadcast", the chunk count is
ceil(payload / allowance) up to a cap, and the mode strings that route
the semantic-dedup scale path fail loudly on typos."""

from __future__ import annotations

import pytest

from periodicity_spark.pipeline._heap import (
    HASH_RELATION_OVERHEAD,
    SAFETY_FRACTION,
    MAX_VERIFY_CHUNKS,
    RESULT_SIZE_OVERHEAD,
    broadcast_budget,
    max_single_broadcast,
    parse_mem,
    verify_chunks,
)


class _FakeConf:
    def __init__(self, settings):
        self._s = settings

    def get(self, key, default=None):
        return self._s.get(key, default)


class _FakeSpark:
    def __init__(self, **settings):
        self.conf = _FakeConf(settings)


def test_parse_mem_jvm_forms():
    assert parse_mem("8g") == 8 * 2**30
    assert parse_mem("2048mb") == 2 * 2**30
    assert parse_mem("512m") == 512 * 2**20
    assert parse_mem("1024k") == 2**20
    assert parse_mem("1t") == 2**40
    assert parse_mem(" 16G ") == 16 * 2**30
    assert parse_mem("1073741824") == 2**30
    assert parse_mem("131072kb") == 128 * 2**20


def test_parse_mem_unparseable_is_none_not_a_default():
    for bad in ("", "eight gigs", "8 g b", "-1g", "1.5g", None, "g8"):
        assert parse_mem(bad) is None, bad


def test_budget_local_mode_uses_driver_heap_only():
    # local mode: executors share the driver JVM, executor.memory ignored
    sp = _FakeSpark(
        **{
            "spark.master": "local[32]",
            "spark.driver.memory": "8g",
            "spark.executor.memory": "1g",
        }
    )
    assert broadcast_budget(sp) == 8 * 2**30


def test_budget_cluster_keys_on_min_of_driver_and_executor():
    # the ADVICE case: big driver, small executors — the relation is
    # built in each EXECUTOR heap, so 4g is the binding budget
    sp = _FakeSpark(
        **{
            "spark.master": "spark://head:7077",
            "spark.driver.memory": "64g",
            "spark.executor.memory": "4g",
        }
    )
    assert broadcast_budget(sp) == 4 * 2**30
    sp2 = _FakeSpark(
        **{
            "spark.master": "yarn",
            "spark.driver.memory": "2g",
            "spark.executor.memory": "16g",
        }
    )
    assert broadcast_budget(sp2) == 2 * 2**30


def test_budget_unparseable_memory_disables_broadcast():
    for settings in (
        {"spark.master": "local[4]", "spark.driver.memory": "lots"},
        {
            "spark.master": "yarn",
            "spark.driver.memory": "8g",
            "spark.executor.memory": "a lot",
        },
        {
            "spark.master": "yarn",
            "spark.driver.memory": "8 gee",
            "spark.executor.memory": "8g",
        },
    ):
        sp = _FakeSpark(**settings)
        assert broadcast_budget(sp) == 0
        assert max_single_broadcast(sp) == 0.0  # unknown heap: no chunk at all


def test_max_single_broadcast_margins():
    # maxResultSize 0 = unlimited, isolating the heap-budget margins
    sp = _FakeSpark(**{"spark.master": "local[4]", "spark.driver.memory": "10g",
                       "spark.driver.maxResultSize": "0"})
    budget = 10 * 2**30
    limit = budget * SAFETY_FRACTION / HASH_RELATION_OVERHEAD
    # one relation copy at a time: the hybrid plan broadcasts only d2
    assert max_single_broadcast(sp) == pytest.approx(limit)


def test_max_single_broadcast_gated_by_collect_cap_and_hard_table_limit():
    # the broadcast BUILD collects each relation to the driver (capped by
    # spark.driver.maxResultSize) and the built table has Spark's HARD
    # 8 GiB limit — the sf5 packed-array relation (4.3 GB raw) hit BOTH
    # in sequence (1 GB default collect cap; then, raised, the 8.0 GiB
    # table abort in an 80 GiB heap). The allowance must refuse it as one
    # relation under every setting.
    base = {"spark.master": "local[32]", "spark.driver.memory": "80g"}
    gb = 2**30
    for mrs in ("1g", "16g", "0", "plenty"):
        sp = _FakeSpark(**base, **{"spark.driver.maxResultSize": mrs})
        assert max_single_broadcast(sp) < 4.3 * gb, mrs
        # ...but still reports a positive chunk allowance (except under
        # the unparseable cap = unknown)
        if mrs != "plenty":
            assert max_single_broadcast(sp) > 0.9 * gb, mrs
        else:
            assert max_single_broadcast(sp) == 0.0
    # the collect cap binds a big heap under the DEFAULT 1 GB cap, with
    # the serialized-row margin: sf1's 858 MB relation fits one chunk
    dflt = _FakeSpark(**{"spark.master": "local[32]",
                         "spark.driver.memory": "48g"})
    assert max_single_broadcast(dflt) == pytest.approx(gb / RESULT_SIZE_OVERHEAD)
    assert 0.84 * gb < max_single_broadcast(dflt) < 0.95 * gb
    # the hard table cap binds even a huge heap with an unlimited collect
    big = _FakeSpark(**{"spark.master": "local[32]",
                        "spark.driver.memory": "512g",
                        "spark.driver.maxResultSize": "0"})
    assert 3.5 * gb < max_single_broadcast(big) < 4.0 * gb
    assert max_single_broadcast(big) == pytest.approx(8 * 0.9 * gb / 2.0)


def test_verify_chunks_plan():
    """The one verify-join plan: ceil(payload / allowance) hybrid chunks;
    0 (plain shuffled) on an unknown budget — without running the census
    — past the chunk cap, or when forced with False. Only None and False
    are accepted."""
    gb = 2**30
    sp = _FakeSpark(**{"spark.master": "local[4]", "spark.driver.memory": "48g"})
    allow = max_single_broadcast(sp)
    assert verify_chunks(sp, None, lambda: 0) == 1
    assert verify_chunks(sp, None, lambda: allow) == 1
    assert verify_chunks(sp, None, lambda: allow * 1.01) == 2
    # sf1's length bound (~1.14 GiB) over the default-cap allowance
    assert verify_chunks(sp, None, lambda: 1.14 * gb) == 2
    assert verify_chunks(sp, None, lambda: allow * MAX_VERIFY_CHUNKS) == MAX_VERIFY_CHUNKS
    assert verify_chunks(sp, None, lambda: allow * MAX_VERIFY_CHUNKS + 1) == 0

    def no_census():
        raise AssertionError("census ran although the plan was already decided")

    assert verify_chunks(sp, False, no_census) == 0
    unknown = _FakeSpark(**{"spark.master": "local[4]", "spark.driver.memory": "lots"})
    assert verify_chunks(unknown, None, no_census) == 0
    for bad in (True, 0, 1, 3, "auto", "broadcast"):
        with pytest.raises(ValueError, match="None"):
            verify_chunks(sp, bad, no_census)


def test_real_session_budget_positive(spark):
    # the repo's own session (local mode, driver.memory set) must always
    # resolve to a known positive budget — auto modes stay functional
    assert broadcast_budget(spark) > 0


def test_semantic_dedup_rejects_typo_modes(spark):
    from periodicity_spark.pipeline import simsearch

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    for bad in ("two-level", "Auto", "EXACT", ""):
        with pytest.raises(ValueError, match="assignment"):
            simsearch.semantic_dedup(df, n_centroids=2, assignment=bad)


def test_assign_to_centroids_rejects_typo_modes(spark):
    from periodicity_spark.pipeline import simsearch

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="mode"):
        simsearch.assign_to_centroids(df, [[1.0, 0.0]], mode="two-level")
