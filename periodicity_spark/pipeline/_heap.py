"""The verify-join plan shared by both LSH pipelines, and the broadcast
budget it is sized from.

``jaccard_verify`` (MinHash) and ``cosine_near_duplicates_lsh`` both end
in candidates (d1, d2) ⋈ payload on d1 ⋈ payload on d2. ``verify_chunks``
picks the plan and ``verify_join`` builds it; there are two plans:

- HYBRID (auto): the d1 join is shuffled and the d2 side is broadcast in
  ceil(payload / ``max_single_broadcast``) hash chunks, so the
  payload-carrying intermediate never re-shuffles and no broadcast
  relation exceeds its caps. Each pair lands in exactly one chunk, so the
  union of chunks is the full pair multiset.
- Plain shuffled: when the budget is unknown, when more than
  ``MAX_VERIFY_CHUNKS`` chunks would be needed, or when the caller forces
  it with False.

A broadcast hash relation is built in EVERY EXECUTOR'S heap (the driver
only hosts the serialized torrent blocks), so the budget must key on the
SMALLER of driver and executor memory: on a real cluster the executors
are usually the smaller side, and sizing against the driver alone can
pass a check that then OOMs each executor as it inflates the relation.
Local mode is the exception — executors live inside the driver JVM, so
``spark.executor.memory`` is ignored by Spark itself and the driver heap
is the only heap there is.

An unparseable (or absent) memory setting means the budget is UNKNOWN,
and unknown → do not auto-broadcast: the shuffled fallback plan is
always correct, just slower, while a wrong broadcast decision is an OOM.
(The previous per-callsite heuristics assumed 8 GiB on a parse failure,
which silently green-lit broadcasts on clusters configured with strings
like ``2048mb`` that the old regex did not accept.)

The payload estimate callers pass is the RAW column bytes; the broadcast
relation costs more than that once UnsafeRow headers, the
LongToUnsafeRowMap page array, and the in-flight serialized copy are
counted — ``HASH_RELATION_OVERHEAD`` carries that multiplier so call
sites state only what they know (rows × payload width).

Constants are CALIBRATED against a measured working point, not guessed:
the sf5 minhash verify broadcast (2×4.28 GB raw packed-array payload)
ran clean in a 48 GiB heap with ~11 GB resident, i.e. a true per-copy
overhead of ~1.3× and ~23% of heap used at peak. OVERHEAD=2.0 and
FRACTION=0.25 keep ≈3× headroom from that observed point (approve only
what would project to ≤ an eighth of the heap at the measured 1.3×),
while not refusing configurations the box demonstrably executes —
over-strict constants silently push scale runs onto the shuffled
fallback, whose disk footprint is the thing that actually kills
single-box soaks.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# raw column bytes → resident hash-relation bytes: UnsafeRow per-field
# headers and alignment + the map's key/page arrays + one transient
# serialized block while the torrent pieces are fetched (measured ~1.3×
# on the packed-array relation; 2.0 covers narrower rows, whose fixed
# per-row cost weighs more)
HASH_RELATION_OVERHEAD = 2.0

# the relation shares the heap with shuffle buffers, the columnar cache,
# and every other operator — cap all broadcast copies at a quarter of it
SAFETY_FRACTION = 0.25

# raw column bytes -> serialized task-result bytes during the broadcast
# build's driver-side collect (compact UnsafeRow stream + framing; the
# sf1 measurement bounds it: 858 MB raw under a 1024 MB cap)
RESULT_SIZE_OVERHEAD = 1.1

# Spark's HARD limit on one broadcast table (BroadcastExchangeExec's
# MAX_BROADCAST_TABLE_BYTES) — not a config, a SparkException at build
# time (observed: the sf5 packed-array relation built to exactly 8.0 GiB
# in an 80 GiB heap and aborted). Gate with a margin so a relation that
# would land near the edge is refused before the work is done.
MAX_BROADCAST_TABLE_BYTES = 8 * 2**30

# each hybrid chunk is one more pass over the candidates and the d1 join;
# past this many chunks the verify plan falls back to plain shuffled joins
MAX_VERIFY_CHUNKS = 32

_UNITS = {
    "": 1,
    "b": 1,
    "k": 2**10,
    "kb": 2**10,
    "m": 2**20,
    "mb": 2**20,
    "g": 2**30,
    "gb": 2**30,
    "t": 2**40,
    "tb": 2**40,
}


def parse_mem(s: object) -> int | None:
    """JVM-style memory string ('8g', '2048mb', '512m', '1073741824') →
    bytes, or None when it does not parse (callers treat None as "unknown
    budget", never as a default size)."""
    if s is None:
        return None
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?b?)\s*", str(s).lower())
    if not m:
        return None
    return int(m.group(1)) * _UNITS[m.group(2)]


def broadcast_budget(spark) -> int:
    """Heap bytes available to host a broadcast relation: the driver heap
    in local mode (executors share the driver JVM), else
    min(driver, executor). 0 when any relevant setting is unparseable —
    auto modes then never broadcast."""
    drv = parse_mem(spark.conf.get("spark.driver.memory", "1g"))
    if drv is None:
        return 0
    master = ""
    try:
        master = spark.conf.get("spark.master", "") or ""
    except Exception:
        pass
    if master.startswith("local"):
        return drv
    exe = parse_mem(spark.conf.get("spark.executor.memory", "1g"))
    if exe is None:
        return 0
    return min(drv, exe)


def max_single_broadcast(spark) -> float:
    """Largest RAW payload (bytes) one broadcast relation may carry under
    every binding limit: the heap budget for a single copy (overhead
    multiplier + safety fraction), Spark's hard 8 GiB table cap (with
    margin), and the driver collect cap. 0 when the budget is unknown.
    This is the chunk-sizing primitive of the hybrid verify plan.

    The collect cap binds because a broadcast relation is BUILT by
    collecting the child's task results to the driver, and that collect
    is capped by ``spark.driver.maxResultSize`` — a relation that clears
    the heap budget but exceeds the cap fails the JOB, not gracefully
    (observed: the sf5 packed-array relation, 4.3 GB raw, aborted under
    the 1 GB default cap). The payload must fit the cap with the
    SERIALIZED-row margin (``RESULT_SIZE_OVERHEAD``); 0/unset means
    unlimited, an unparseable value means unknown. Raise
    ``SPARK_MAX_RESULT_SIZE`` alongside driver memory for single-box
    scale runs."""
    budget = broadcast_budget(spark)
    if budget <= 0:
        return 0.0
    allow = min(
        budget * SAFETY_FRACTION / HASH_RELATION_OVERHEAD,
        MAX_BROADCAST_TABLE_BYTES * 0.9 / HASH_RELATION_OVERHEAD,
    )
    try:
        mrs_setting = spark.conf.get("spark.driver.maxResultSize", "1g")
    except Exception:
        mrs_setting = "1g"
    if str(mrs_setting).strip() not in {"0", "0b"}:
        mrs = parse_mem(mrs_setting)
        if mrs is None:
            return 0.0
        allow = min(allow, mrs / RESULT_SIZE_OVERHEAD)
    return allow


def verify_chunks(spark, mode: bool | None, payload_bytes: Callable[[], float]) -> int:
    """The verify-join plan: the number of hash chunks the d2 side is
    broadcast in (≥ 1, the hybrid plan), or 0 for plain shuffled joins.

    ``mode`` None (auto) sizes ceil(payload / ``max_single_broadcast``)
    chunks from ``payload_bytes()``, the RAW bytes of one copy of the
    payload relation. It may over-estimate: that can only add a chunk.
    The census it runs is skipped when the budget is unknown, which
    routes to shuffled, as do more than ``MAX_VERIFY_CHUNKS`` chunks.
    False forces shuffled; any other value raises ValueError."""
    if mode is False:
        return 0
    if mode is not None:
        raise ValueError(f"verify-join mode must be None (auto) or False, got {mode!r}")
    allow = max_single_broadcast(spark)
    if allow <= 0:
        return 0
    n = max(1, math.ceil(payload_bytes() / allow))
    return n if n <= MAX_VERIFY_CHUNKS else 0


def verify_join(
    candidates: DataFrame, d1_side: DataFrame, d2_side: DataFrame, n_chunks: int
) -> DataFrame:
    """candidates (d1, d2) ⋈ d1_side on d1 ⋈ d2_side on d2, in the plan
    ``verify_chunks`` picked. 0: both joins shuffled (AQE may still
    convert them at runtime). n ≥ 1: the d1 join is shuffled — it moves
    bare candidate rows and the d1 side once, not a payload per
    candidate — and the d2 side is broadcast in n chunks by
    pmod(hash(d2), n), so the fat intermediate flows map-side through
    the chunk's hash join and never touches a shuffle. Each pair lands in
    exactly one chunk; the union is the shuffled plan's pair multiset."""
    if n_chunks == 0:
        return candidates.join(d1_side, "d1").join(d2_side, "d2")
    # hash the candidates' key type on both sides, so a wider id type on
    # the payload side still lands in the same chunk
    chunk = F.pmod(F.hash(F.col("d2").cast(candidates.schema["d2"].dataType)), F.lit(n_chunks))
    parts = []
    for c in range(n_chunks):
        cand_c, d2_c = candidates, d2_side
        if n_chunks > 1:
            cand_c, d2_c = candidates.filter(chunk == c), d2_side.filter(chunk == c)
        parts.append(cand_c.join(d1_side, "d1").join(F.broadcast(d2_c), "d2"))
    return reduce(DataFrame.unionByName, parts)
