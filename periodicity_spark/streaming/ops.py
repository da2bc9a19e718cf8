"""Structured Streaming analogs of the batch resample/segment operators
(SURVEY.md §2.11 — the reference is batch-only; these are the additive
streaming surface over the driver's events table):

- downsample (reference core.py:629-634) ≡ tumbling window aggregation
- split (reference core.py:619-627)     ≡ session_window
- interpolate_na('ffill')               ≡ applyInPandasWithState

Watermarks bound state for late data — the reference instead re-sorts
retroactively at construction (core.py:473-477), which has no streaming
equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from periodicity_spark.sources.ingest import epoch_us_expr


def events_stream(
    spark: SparkSession, sf_dir: str, keep_event_id: bool = False
) -> DataFrame:
    """readStream over the events parquet (file-source streaming — swap for
    kafka in production; the query graph is identical). Emits
    (series_id, ts timestamp, value [, event_id]).

    The read schema is inferred from a batch read of the same files rather
    than hard-coded: a wrong hard-coded ``ts`` type (e.g. nanos LongType vs
    the data's timestamp[us]) makes the vectorized parquet reader yield ZERO
    rows silently — empty aggregates that look like "no data", the worst
    streaming failure mode. Inference tracks whatever physical type the
    environment serves; epoch_us_expr then normalizes it tz-independently.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source needs a directory; pathGlobFilter selects only
    # the events table out of the shared sf dir
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    cols = [
        F.concat_ws("/", F.col("user_id"), F.col("event_type")).alias("series_id"),
        F.timestamp_micros(epoch_us_expr(raw)).alias("ts"),
        F.col("value"),
    ]
    if keep_event_id:
        cols.append(F.col("event_id"))
    return raw.select(*cols)


def stream_downsample(
    events: DataFrame, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Tumbling-window mean per series — the streaming downsample."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "series_id")
        .agg(F.avg("value").alias("value"), F.count(F.lit(1)).alias("n"))
        .select(
            "series_id",
            F.col("window.start").alias("t_start"),
            F.col("window.end").alias("t_end"),
            "value",
            "n",
        )
    )


def stream_slide(
    events: DataFrame,
    window: str = "2 days",
    slide: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """SLIDING-window mean per series (window/slide overlapping windows —
    each event lands in window÷slide of them; Spark expands the membership
    at the projection and the state stays one aggregate row per open
    (series, window), bounded by the watermark). The smoothing twin of the
    tumbling stream_downsample."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "series_id")
        .agg(F.avg("value").alias("value"), F.count(F.lit(1)).alias("n"))
        .select(
            "series_id",
            F.col("window.start").alias("t_start"),
            F.col("window.end").alias("t_end"),
            "value",
            "n",
        )
    )


def stream_sessionize(
    events: DataFrame, gap: str = "6 hours", watermark: str = "2 days"
) -> DataFrame:
    """session_window segmentation — the streaming split()."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "series_id")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_value"))
        .select(
            "series_id",
            F.col("session_window.start").alias("t_start"),
            F.col("session_window.end").alias("t_end"),
            "n",
            "mean_value",
        )
    )


def stream_ffill(events: DataFrame, null_every: int = 7) -> DataFrame:
    """Stateful forward-fill: carries the last non-null value per series
    across micro-batches via applyInPandasWithState. (For the demo, values
    on every ``null_every``-th event_id are nulled upstream by the caller.)
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "series_id string, ts timestamp, value double, filled double"
    state_schema = "last double"

    def _fn(key, pdfs, state):
        import pandas as pd

        last = state.get[0] if state.exists else None
        # Concatenate the group's Arrow chunks BEFORE sorting: a group larger
        # than maxRecordsPerBatch arrives as several chunks in arbitrary row
        # order, and chunk-local sorts would fill across a broken timeline.
        # State memory stays bounded by the per-(group, micro-batch) row
        # count, which the watermark bounds in turn. reset_index keeps the
        # positional `filled` list aligned with the sorted rows regardless
        # of how pandas aligns the output columns.
        pdf = (
            pd.concat(list(pdfs), ignore_index=True)
            .sort_values("ts")
            .reset_index(drop=True)
        )
        filled = []
        for v in pdf["value"]:
            if v is not None and v == v:  # not NaN
                last = float(v)
            filled.append(last)
        yield pd.DataFrame(
            {
                "series_id": key[0],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "filled": filled,
            }
        )
        state.update((last,))

    return events.groupBy("series_id").applyInPandasWithState(
        _fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_zscore(
    events: DataFrame, z_threshold: float = 3.0, min_n: int = 10
) -> DataFrame:
    """Stateful streaming anomaly detection: per-series RUNNING mean/variance
    via Welford's algorithm carried across micro-batches in group state;
    each event is scored against the statistics of all PRIOR events
    (z = (x − μ_prev)/σ_prev, anomaly ⇔ |z| > z_threshold). z stays NULL
    until the series has ``min_n`` prior samples — scoring against a 2-3
    sample σ estimate flags ordinary data constantly. The streaming twin of
    the batch estimate_noise / sigma-clip family: state per series is THREE
    doubles, so state size is bounded by series cardinality, not stream
    length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "series_id string, ts timestamp, value double, z double, anomaly boolean"
    )
    state_schema = "n long, mean double, m2 double"
    zt = float(z_threshold)
    warm = max(2, int(min_n))

    def _fn(key, pdfs, state):
        import math

        import pandas as pd

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        # reset_index after the sort: the output DataFrame mixes these
        # (sorted) columns with fresh RangeIndex series, and pandas aligns
        # by INDEX — without the reset, ts/value silently permute back to
        # arrival order while z/anomaly stay in sorted order
        pdf = (
            pd.concat(list(pdfs), ignore_index=True)
            .sort_values("ts")
            .reset_index(drop=True)
        )
        zs, anom = [], []
        for v in pdf["value"]:
            ok = v is not None and v == v
            if n >= warm and ok:
                var = m2 / (n - 1)
                z = (float(v) - mean) / math.sqrt(var) if var > 0 else None
            else:
                z = None
            zs.append(z)
            anom.append(bool(z is not None and abs(z) > zt))
            if ok:
                n += 1
                d = float(v) - mean
                mean += d / n
                m2 += d * (float(v) - mean)
        yield pd.DataFrame(
            {
                "series_id": key[0],
                "ts": pdf["ts"],
                "value": pdf["value"],
                "z": pd.Series(zs, dtype="float64"),
                "anomaly": anom,
            }
        )
        state.update((n, mean, m2))

    return events.groupBy("series_id").applyInPandasWithState(
        _fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming exact-dedup for ingestion pipelines: drops events whose key
    has already been seen within the watermark horizon
    (dropDuplicatesWithinWatermark — state is bounded by the watermark, so
    it runs forever on an unbounded stream; plain dropDuplicates would grow
    state without bound). Default key = (series_id, ts): the at-least-once
    delivery dedup. Pass e.g. a content hash column for payload-level dedup
    — the streaming twin of pipeline.dedup.exact_duplicates."""
    if keys is None:
        keys = ["series_id", "ts"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def events_stream_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet keeping the RAW columns
    (event_id, ts timestamp, user_id, event_type, value) — the input shape
    for stream-stream joins, where the key is user/type, not the derived
    series_id. Schema inferred from a batch read (see events_stream)."""
    schema = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.select(
        "event_id",
        F.timestamp_micros(epoch_us_expr(raw)).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def stream_funnel(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    within: str = "6 hours",
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream INTERVAL join — funnel matching: every ``then_type``
    event paired with each ``first_type`` event by the same user within
    ``within`` AFTER it. The canonical sessionless attribution query.

    → (user_id, first_id, then_id, first_ts, then_ts).

    State story: both sides carry watermarks and the join condition bounds
    then.ts ∈ (first.ts, first.ts + within], so Spark evicts buffered rows
    once the watermark passes their match horizon — state is bounded by
    (events within watermark+within), not stream length. An inner
    stream-stream join emits a match as soon as both sides arrive; the
    drained availableNow result over a static source is the complete join,
    which is what the SQL oracle checks."""
    a = (
        events.filter(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("first_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    b = (
        events.filter(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("then_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", watermark)
    )
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"interval {within}"))
    )
    return a.join(b, cond, "inner").select(
        F.col("a_user").alias("user_id"),
        "first_id",
        "then_id",
        F.col("a_ts").alias("first_ts"),
        F.col("b_ts").alias("then_ts"),
    )


def stream_topk(
    events: DataFrame,
    k: int = 3,
    key_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Stateful streaming exact top-k per key — the streaming twin of
    ``operators.topk.topk_per_key``, with micro-batches playing the role
    of partitions: the state carries each key's running top-k (two
    arrays of ≤ k entries — CONSTANT per key, independent of stream
    length), each batch merges its rows into the state and re-emits the
    key's updated top-k tagged with a per-key emission sequence number.
    The max-seq emission per key is therefore the exact top-k of
    everything seen so far, by the same never-discards-a-winner argument
    as the batch operator (any global winner is a fortiori in the running
    top-k after its own batch, and merging preserves it).

    Ordering: ``value_col`` descending, ties by ``id_col`` ascending —
    identical to the batch operator, so the drained result has the batch
    SQL oracle. NULL/NaN values are ignored (aggregate semantics).

    → (key_col, rank, id_col, value_col, seq) in update mode.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # column types come from the INPUT schema — hardcoding string/long/
    # double would break the advertised key_col/id_col/value_col
    # parameters for any differently-typed column at the Arrow boundary
    dt = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    out_schema = (
        f"{key_col} {dt[key_col]}, rank integer, {id_col} {dt[id_col]}, "
        f"{value_col} {dt[value_col]}, seq long"
    )
    state_schema = f"seq long, ids array<{dt[id_col]}>, vals array<{dt[value_col]}>"
    kk = int(k)
    # state values must round-trip in the INPUT column's type: coercing
    # through Python float would silently corrupt int64 values above 2^53
    int_val = dt[value_col] in ("tinyint", "smallint", "int", "bigint")
    _coerce = int if int_val else float

    def _fn(key, pdfs, state):
        import pandas as pd

        seq, ids, vals = state.get if state.exists else (0, [], [])
        cand = list(zip(ids, vals))
        for pdf in pdfs:
            good = pdf[pdf[value_col].notna()]
            cand.extend(zip(good[id_col], good[value_col]))
        # merge: value desc, id asc — kk entries survive
        cand.sort(key=lambda t: (-t[1], t[0]))
        cand = cand[:kk]
        seq += 1
        yield pd.DataFrame(
            {
                key_col: key[0],
                "rank": pd.Series(range(1, len(cand) + 1), dtype="int32"),
                id_col: pd.Series([c[0] for c in cand]),
                value_col: pd.Series([c[1] for c in cand]),
                "seq": seq,
            }
        )
        state.update((seq, [c[0] for c in cand], [_coerce(c[1]) for c in cand]))

    return events.groupBy(key_col).applyInPandasWithState(
        _fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (schema from a batch read)."""
    schema = (
        spark.read.option("pathGlobFilter", "documents.parquet").parquet(sf_dir).schema
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_neardup(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    r: int = 4,
    max_bucket: int = 1000,
    n_state_buckets: int = 256,
    cap_accumulator=None,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
    ingestion-time twin of ``pipeline.dedup.lsh_candidate_pairs``: each
    arriving document's banded signatures (computed in-row by
    ``minhash_signatures_per_row`` — a stateless projection, so the one
    stateful stage below is legal on a stream) land in their (band, sig)
    bucket, whose state carries the doc_ids seen so far; every arrival
    emits candidate pairs against all earlier same-bucket docs and within its
    own batch. Drained over a static corpus the DISTINCT emitted set
    equals the batch candidate set exactly (a pair shares a bucket
    whenever both members do, regardless of arrival slicing).

    State per bucket is the doc-id list, capped at ``max_bucket``: a
    degenerate boilerplate bucket stops emitting at the cap (already-
    emitted pairs cannot be retracted mid-stream, unlike the batch path
    which drops the whole oversized bucket — equality with the batch
    oracle therefore holds on corpora whose buckets stay under the cap,
    which the contract test asserts).

    State GROUPING is by a hash of (band, sig) into ``n_state_buckets``
    slots, not by the raw key: a crawl-scale corpus produces one
    (band, sig) key per document per band (~5M keys at 500k docs × 10
    bands — measured to stall applyInPandasWithState's per-group
    scheduling at sf1, round 7), so each state group instead carries a
    dict of its keys' id-lists, serialized as parallel arrays. The md5-
    derived sig hashes uniformly, so slots stay balanced; per-key pair
    semantics are byte-identical to the per-key grouping.

    cap_accumulator: optional ``sc.accumulator(0)``. Over-cap suppression
    is otherwise SILENT (the batch twin's round-7 incident: a too-dense
    bucket regime ate 33/500k true pairs with no signal). Each DISTINCT
    previously-unseen doc_id suppressed by the cap adds 1 (duplicate
    re-arrivals of an already-bucketed id are suppressed without a tally —
    they never could have emitted new pairs, so they carry no signal);
    read ``acc.value`` on the driver after
    (or during) the stream — nonzero means raise r (narrower buckets), not
    max_bucket. Accumulator semantics are at-least-once under task retries,
    which is fine for a fired/not-fired observability tally.

    CHECKPOINT COMPATIBILITY: round 7 changed both the state grouping key
    (raw (band, sig) → hashed ``_slot``) and the state schema (one id array
    → ``ks``/``idls`` parallel arrays). A stream restarted from a
    checkpoint written by the pre-round-7 operator will fail state-schema
    validation (or worse, mis-read recovered state) — restart those streams
    with a FRESH checkpointLocation. Checkpoints written by this version
    restart cleanly (covered by tests/test_streaming.py restart suite).

    → (d1, d2) in update mode, d1 < d2, possibly duplicated across bands
    and batches — apply DISTINCT downstream.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from periodicity_spark.pipeline.dedup import minhash_signatures_per_row

    # stateless repartition BEFORE the in-row signature projection: a
    # micro-batch read from one file is a single task, which would run
    # all shingling + md5 minhashing on one core before the _slot
    # exchange; moving the raw docs first is far cheaper than the
    # signature work it parallelizes (scan_parallel always floors a
    # streaming frame, as in streaming GLS)
    from periodicity_spark.session import scan_parallel

    docs = scan_parallel(docs, key="doc_id")
    sig = minhash_signatures_per_row(docs, k=k, n_hashes=n_hashes, r=r)
    cap = int(max_bucket)
    # id type comes from the INPUT schema (as stream_topk does) — the
    # batch lsh_candidate_pairs path is id-type generic, so this twin
    # must accept string/int doc_ids alike
    id_dt = {f.name: f.dataType.simpleString() for f in docs.schema.fields}["doc_id"]

    def _fn(key, pdfs, state):
        import pandas as pd

        def _unwrap(x):
            return x.item() if hasattr(x, "item") else x

        # state: parallel arrays keyed by "band:sig" → this slot's id lists
        if state.exists:
            ks, idls = state.get
            buckets = {
                kk: [_unwrap(i) for i in ids] for kk, ids in zip(ks, idls)
            }
        else:
            buckets = {}
        # accumulate the batch's arrivals per key first (a slot group sees
        # many keys interleaved across chunks), then pair per key exactly
        # as the per-key grouping did
        arrivals: dict[str, list] = {}
        arrived_sets: dict[str, set] = {}
        for pdf in pdfs:
            for band, sg, d in zip(pdf["band"], pdf["sig"], pdf["doc_id"]):
                kk = f"{_unwrap(band)}:{sg}"
                d = _unwrap(d)
                seen_set = arrived_sets.get(kk)
                if seen_set is None:
                    seen_set = set(buckets.get(kk, ()))
                    arrived_sets[kk] = seen_set
                    arrivals[kk] = []
                if d not in seen_set:
                    seen_set.add(d)
                    arrivals[kk].append(d)
        d1s, d2s = [], []
        for kk, new in arrivals.items():
            seen = buckets.get(kk, [])
            new.sort()
            if len(seen) + len(new) <= cap:
                for j, nd in enumerate(new):
                    for o in seen + new[:j]:
                        lo, hi = (o, nd) if o < nd else (nd, o)
                        d1s.append(lo)
                        d2s.append(hi)
            elif cap_accumulator is not None:
                # every arrival in an over-cap key is suppressed — tally it
                cap_accumulator.add(len(new))
            # once over the cap a key never emits again — truncate to
            # cap+1 as the over-cap sentinel, keeping state bounded even
            # for a degenerate boilerplate key fed by an unbounded stream
            buckets[kk] = sorted(arrived_sets[kk])[: cap + 1]
        yield pd.DataFrame({"d1": pd.Series(d1s, dtype=object),
                            "d2": pd.Series(d2s, dtype=object)})
        ks = sorted(buckets)
        state.update((ks, [buckets[kk] for kk in ks]))

    slot = F.pmod(F.xxhash64("band", "sig"), F.lit(int(n_state_buckets))).cast(
        "int"
    )
    return (
        sig.withColumn("_slot", slot)
        .groupBy("_slot")
        .applyInPandasWithState(
            _fn,
            f"d1 {id_dt}, d2 {id_dt}",
            f"ks array<string>, idls array<array<{id_dt}>>",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
