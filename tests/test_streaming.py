"""Structured Streaming surface: memory-sink smoke tests driven to
completion with processAllAvailable (file source over the events parquet)."""

import pytest
from pyspark.sql import functions as F

from periodicity_spark.streaming import (
    events_stream,
    stream_downsample,
    stream_ffill,
    stream_sessionize,
)

SF = "/root/testdata/sf0.001"


def _run(df, name):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_stream_downsample(spark):
    ev = events_stream(spark, SF)
    _run(stream_downsample(ev, window="1 day"), "sd_out")
    out = spark.sql("SELECT * FROM sd_out")
    assert out.count() > 0
    # one row per (series, day); matches the batch daily downsample row count scale
    assert out.select("series_id").distinct().count() == 75


def test_stream_sessionize(spark):
    ev = events_stream(spark, SF)
    _run(stream_sessionize(ev, gap="6 hours"), "ss_out")
    out = spark.sql("SELECT * FROM ss_out")
    n = out.count()
    assert n > 75  # more sessions than series
    # sessions end after start
    assert out.filter(F.col("t_end") < F.col("t_start")).count() == 0


def test_stream_ffill(spark):
    ev = events_stream(spark, SF).withColumn(
        "value", F.when(F.rand(1) < 0.2, None).otherwise(F.col("value"))
    )
    _run(stream_ffill(ev), "ff_out")
    out = spark.sql("SELECT * FROM ff_out")
    assert out.count() == 1000
    # every null value with a non-null predecessor got filled
    nulls_unfilled = out.filter(F.col("value").isNull() & F.col("filled").isNull()).count()
    total_nulls = out.filter(F.col("value").isNull()).count()
    assert total_nulls > 0
    assert nulls_unfilled < total_nulls


def test_stream_dedup(spark):
    from periodicity_spark.streaming import stream_dedup

    ev = events_stream(spark, SF)
    # duplicate the stream at the source: union with itself → every event
    # arrives twice; dedup must return each exactly once
    doubled = ev.unionByName(ev)
    _run(stream_dedup(doubled, keys=["series_id", "ts", "value"]), "dd_out")
    got = spark.sql("SELECT count(*) AS n FROM dd_out").collect()[0]["n"]
    want = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select(
            F.concat_ws("/", F.col("user_id"), F.col("event_type")),
            "ts",
            "value",
        )
        .distinct()
        .count()
    )
    assert got == want


def test_stream_zscore_flags_planted_outlier(spark):
    from periodicity_spark.streaming import stream_zscore

    # plant one massive outlier at the LAST event of the biggest series, so
    # the series is past the min_n warm-up when the spike arrives
    ev_batch = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        F.concat_ws("/", F.col("user_id"), F.col("event_type")).alias("series_id"),
        "ts",
    )
    big = (
        ev_batch.groupBy("series_id").count().orderBy(F.desc("count"), "series_id").first()
    )
    assert big["count"] > 12  # min_n=10 warm-up plus scored tail
    spike_id = (
        ev_batch.filter(F.col("series_id") == big["series_id"])
        .orderBy(F.desc("ts"))
        .first()["event_id"]
    )
    ev = events_stream(spark, SF, keep_event_id=True)
    spiked = ev.withColumn(
        "value",
        F.when(F.col("event_id") == spike_id, F.lit(1e6)).otherwise(F.col("value")),
    ).drop("event_id")
    _run(stream_zscore(spiked, z_threshold=5.0), "zs_out")
    out = spark.sql("SELECT * FROM zs_out")
    assert out.count() == 1000
    flagged = out.filter(F.col("anomaly"))
    assert flagged.filter(F.col("value") == 1e6).count() == 1, "outlier missed"
    # the detector is selective: normal data yields few flags at 5σ
    assert flagged.count() <= 20
    # per-series warm-up: z is NULL until min_n prior samples exist
    want_nulls = (
        ev_batch.groupBy("series_id").count()
        .select(F.sum(F.least(F.col("count"), F.lit(10))))
        .collect()[0][0]
    )
    assert out.filter(F.col("z").isNull()).count() == want_nulls


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics certified end-to-end: an event arriving AFTER the
    watermark passed its window must not change the emitted aggregate (the
    reference re-sorts retroactively at construction, core.py:473-477 — a
    stream cannot; bounded lateness is the contract)."""
    import pandas as pd

    from periodicity_spark.streaming import stream_downsample

    src = str(tmp_path / "stream_src")
    schema = "series_id string, ts timestamp, value double"

    def _write(name, rows):
        pdf = pd.DataFrame(rows, columns=["series_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(src)

    # batch 1: day-3 event + day-10 event → watermark advances to day 8,
    # so the day-3 window [3,4) finalizes and emits with n=1
    _write("b1", [("s", "2024-01-03 12:00:00", 1.0), ("s", "2024-01-10 12:00:00", 2.0)])
    ev = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_downsample(ev, window="1 day", watermark="2 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE day-3 event (behind the day-8 watermark — must be
    # dropped) and a day-11 event (advances the watermark further)
    _write("b2", [("s", "2024-01-03 18:00:00", 100.0), ("s", "2024-01-11 12:00:00", 3.0)])
    q.processAllAvailable()
    q.stop()

    out = spark.sql("SELECT * FROM wm_out").toPandas()
    day3 = out[out["t_start"].astype(str).str.startswith("2024-01-03")]
    assert len(day3) == 1, out.to_string()
    assert day3.iloc[0]["n"] == 1, "late event leaked into a finalized window"
    assert day3.iloc[0]["value"] == 1.0


def test_stream_funnel_drops_and_counts_late_event(spark, tmp_path):
    """Explicit late-data discard semantics for the stream-stream join: a
    then-event arriving BEHIND the watermark must not create a funnel pair,
    and the engine must COUNT the drop (numRowsDroppedByWatermark in the
    progress state metrics) — pinning that lateness is discarded loudly,
    not silently matched or silently lost."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_funnel

    src = str(tmp_path / "fun_src")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )

    def _write(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: one click→purchase pair, plus far-future events on BOTH
    # sides — the global watermark is the MIN across the join's two
    # watermark nodes, so both the click and the purchase branch must see
    # a late-January event for the watermark to pass Jan 1
    _write(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0),
            (2, "2024-01-01 11:00:00", 7, "purchase", 1.0),
            (3, "2024-01-20 00:00:00", 8, "click", 1.0),
            (5, "2024-01-20 00:10:00", 9, "purchase", 1.0),
        ]
    )
    ev = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_funnel(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("fun_late")
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE purchase inside user 7's funnel window but far behind
    # the watermark — must be dropped and counted, not matched
    _write([(4, "2024-01-01 12:00:00", 7, "purchase", 1.0)])
    q.processAllAvailable()
    dropped = 0
    for p in q.recentProgress:
        for so in p["stateOperators"]:
            dropped += so.get("numRowsDroppedByWatermark", 0)
    q.stop()

    out = spark.table("fun_late").toPandas()
    assert set(out["then_id"]) == {2}, out.to_string()
    assert dropped >= 1, "late event was not counted as watermark-dropped"


def test_stream_zscore_rows_stay_aligned_under_shuffled_arrival(spark, tmp_path):
    """Regression: rows arriving out of ts order within a micro-batch must
    keep (ts, value) aligned with their (z, anomaly) — a sort without
    index reset silently permuted the output columns against each other."""
    import numpy as np
    import pandas as pd

    from periodicity_spark.streaming import stream_zscore

    rng = np.random.default_rng(17)
    n = 40
    pdf = pd.DataFrame(
        {
            "series_id": "s",
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), unit="h"),
            "value": rng.normal(0.0, 1.0, n),
        }
    )
    pdf.loc[n - 1, "value"] = 1e6  # spike at the LAST timestamp
    shuffled = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    src = str(tmp_path / "zsrc")
    spark.createDataFrame(shuffled).coalesce(1).write.parquet(src)
    ev = spark.readStream.schema("series_id string, ts timestamp, value double").parquet(src)
    q = (
        stream_zscore(ev, z_threshold=5.0, min_n=10)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zal_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM zal_out").toPandas().sort_values("ts", ignore_index=True)
    # value column must match the input's ts→value mapping exactly
    want = pdf.sort_values("ts", ignore_index=True)["value"]
    assert (out["value"] == want).all(), "ts/value misaligned after sort"
    # and the anomaly flag must sit ON the spike row, nowhere else
    assert bool(out.iloc[-1]["anomaly"])
    assert out["anomaly"].sum() == 1


def test_stream_gls_accumulates_across_microbatches(spark, tmp_path):
    """The streaming periodogram must equal the BATCH gls_periodogram after
    folding the same samples in over MULTIPLE micro-batches (the sums
    merge incrementally — this is the property a single-file availableNow
    drain would not exercise)."""
    import pandas as pd

    from periodicity_spark.sources.ingest import ts_from_events
    from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid
    from periodicity_spark.streaming.gls import (
        EPOCH_US,
        gls_power_from_sums,
        stream_gls_sums,
    )

    # split the sf0.001 events' derived series into 3 files → 3 micro-batches
    ts = ts_from_events(spark, SF).filter(F.col("value").isNotNull())
    pdf = ts.toPandas().sort_values(["series_id", "time"]).reset_index(drop=True)
    pdf["ts"] = pd.to_datetime(
        (pdf["time"] * 86400e6 + EPOCH_US).round().astype("int64"), unit="us"
    )
    src = str(tmp_path / "gls_src")
    schema = "series_id string, ts timestamp, value double"
    for i in range(3):
        chunk = pdf.iloc[i::3][["series_id", "ts", "value"]]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    grid = uniform_freq_grid(spark, 0.05, 0.015625, 32)
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_gls_sums(ev, grid)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sgls")
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"

    got = (
        gls_power_from_sums(spark.table("sgls"), min_count=8)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    want = (
        gls_periodogram(ts, freq_grid=grid, min_count=8)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["series_id"] == want["series_id"]).all()
    import numpy as np

    np.testing.assert_allclose(got["power"], want["power"], atol=1e-9)


def test_gls_power_from_sums_equals_batch_periodogram(spark):
    """The streaming finish over one (batch-evaluated) stream_gls_sums frame
    of the sf0.001 events equals gls_periodogram on the same grid: same
    keys, same NULL pattern, powers within 1e-9."""
    import numpy as np

    from periodicity_spark.sources.ingest import epoch_us_expr, ts_from_events
    from periodicity_spark.spectral.gls import gls_periodogram, uniform_freq_grid
    from periodicity_spark.streaming.gls import gls_power_from_sums, stream_gls_sums

    raw = spark.read.parquet(f"{SF}/events.parquet")
    events = raw.select(
        F.concat_ws("/", "user_id", "event_type").alias("series_id"),
        F.timestamp_micros(epoch_us_expr(raw)).alias("ts"),
        "value",
    )
    grid = uniform_freq_grid(spark, 0.05, 0.015625, 32)
    got = (
        gls_power_from_sums(stream_gls_sums(events, grid), min_count=8)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    want = (
        gls_periodogram(ts_from_events(spark, SF), freq_grid=grid, min_count=8)
        .toPandas()
        .sort_values(["series_id", "frequency"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["series_id"] == want["series_id"]).all()
    assert (got["frequency"] == want["frequency"]).all()
    assert (got["power"].isna() == want["power"].isna()).all()
    ok = want["power"].notna()
    np.testing.assert_allclose(got["power"][ok], want["power"][ok], atol=1e-9)


def test_stream_funnel_matches_across_microbatches(spark, tmp_path):
    """Stream-stream interval join state: a click buffered in batch 1 must
    match a purchase arriving in batch 2 (within the 6 h horizon), and a
    purchase outside the horizon must not match."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_funnel

    src = str(tmp_path / "funnel_src")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def _write(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(src)

    _write([(1, "2024-01-01 10:00:00", 7, "click", 1.0),
            (2, "2024-01-01 09:00:00", 8, "click", 1.0)])
    ev = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_funnel(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_out")
        .start()
    )
    q.processAllAvailable()
    # batch 2: user 7 purchases within 6 h (match); user 8 purchases 8 h
    # after the click (no match)
    _write([(3, "2024-01-01 14:00:00", 7, "purchase", 5.0),
            (4, "2024-01-01 17:00:00", 8, "purchase", 5.0)])
    q.processAllAvailable()
    q.stop()

    out = spark.sql("SELECT * FROM funnel_out").toPandas()
    assert out["user_id"].tolist() == [7]
    assert out.iloc[0]["first_id"] == 1 and out.iloc[0]["then_id"] == 3


def test_stream_topk_merges_across_microbatches(spark, tmp_path):
    """The stateful top-k must equal the BATCH top-k after folding the same
    events in over multiple micro-batches — in particular a batch-1 winner
    must survive batches 2..n in state, and a late arrival must displace a
    weaker incumbent. The max-seq emission per key is the final answer."""
    from pyspark.sql import Window

    from periodicity_spark.streaming.ops import stream_topk

    ev = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(SF)
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    src = str(tmp_path / "topk_src")
    schema = "event_id long, event_type string, value double"
    for i in range(3):
        chunk = pdf.iloc[i::3]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_topk(stream, k=3)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stopk")
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"

    tbl = spark.table("stopk")
    w = Window.partitionBy("event_type")
    got = (
        tbl.withColumn("_mx", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("_mx"))
        .select("event_type", "event_id", "value", "rank")
        .toPandas()
        .sort_values(["event_type", "rank"])
        .reset_index(drop=True)
    )
    # every key saw all 3 batches
    assert tbl.groupBy("event_type").agg(F.max("seq").alias("m")).filter(
        "m < 3"
    ).count() == 0

    w2 = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    want = (
        ev.withColumn("rank", F.row_number().over(w2))
        .filter("rank <= 3")
        .select("event_type", "event_id", "value", "rank")
        .toPandas()
        .sort_values(["event_type", "rank"])
        .reset_index(drop=True)
    )
    assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"


def test_stream_slide_each_event_in_two_windows(spark):
    """2-day/1-day sliding windows: total weighted count equals exactly
    2× the event count (every event in two windows), and each window's
    mean equals the union of its two member days' tumbling means."""
    from periodicity_spark.streaming.ops import events_stream, stream_slide

    ev = events_stream(spark, SF)
    q = (
        stream_slide(ev)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sslide")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    tbl = spark.table("sslide")
    total = tbl.agg(F.sum("n")).first()[0]
    n_events = spark.read.option("pathGlobFilter", "events.parquet").parquet(SF).count()
    assert total == 2 * n_events, (total, n_events)


def test_stream_neardup_pairs_across_microbatches(spark, tmp_path):
    """A document arriving in a later batch must pair with its near-dup
    from an earlier batch (bucket state carries doc ids across batches);
    the drained distinct pair set equals batch lsh_candidate_pairs."""
    from periodicity_spark.pipeline.dedup import (
        char_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from periodicity_spark.streaming.ops import stream_neardup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    src = str(tmp_path / "nd_src")
    schema_str = "doc_id long, text string, lang string, source string, n_chars long"
    for i in range(3):
        chunk = pdf.iloc[i::3]
        spark.createDataFrame(chunk, schema_str).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_neardup(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("snd")
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"

    got = {
        (r["d1"], r["d2"])
        for r in spark.table("snd").select("d1", "d2").distinct().collect()
    }
    want = {
        (r["d1"], r["d2"])
        for r in lsh_candidate_pairs(
            minhash_signatures(char_shingles(docs, k=5), n_hashes=16, r=4)
        ).collect()
    }
    assert want, "fixture must contain candidate pairs"
    assert got == want, (
        f"stream-only={sorted(got - want)[:5]} batch-only={sorted(want - got)[:5]}"
    )
    # the round-robin slicing guarantees at least one pair straddles batches
    b0 = set(pdf.iloc[0::3]["doc_id"])
    straddling = [p for p in want if (p[0] in b0) != (p[1] in b0)]
    assert straddling, "test corpus must exercise the cross-batch state path"


def test_stream_neardup_bucket_cap_bounds_state_and_stops_emission(spark, tmp_path):
    """An over-cap (degenerate) bucket must stop emitting AND keep its
    state truncated — unbounded boilerplate buckets cannot grow state on
    an unbounded stream. The suppression must also be OBSERVABLE: the
    cap_accumulator tally is nonzero when (and only when) the cap fired."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_neardup

    # 12 identical documents → every band bucket holds all 12 docs
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "text": ["the same boilerplate text repeated here verbatim"] * 12,
            "lang": ["en"] * 12,
            "source": ["src0"] * 12,
            "n_chars": [48] * 12,
        }
    )
    src = str(tmp_path / "cap_src")
    schema_str = "doc_id long, text string, lang string, source string, n_chars long"
    for i in range(3):
        spark.createDataFrame(pdf.iloc[i::3], schema_str).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    acc = spark.sparkContext.accumulator(0)
    q = (
        stream_neardup(stream, max_bucket=5, cap_accumulator=acc)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sndcap")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    tbl = spark.table("sndcap")
    # batch 1 delivers 4 docs (under cap=5): C(4,2)=6 distinct pairs, each
    # emitted by all 4 identical-doc bands; batch 2 pushes every bucket to
    # 8 > 5 → emission stops for good
    n_distinct = tbl.select("d1", "d2").distinct().count()
    n_raw = tbl.count()
    assert n_distinct == 6, f"expected 6 distinct pairs, got {n_distinct}"
    assert n_raw == 6 * 4, f"expected 24 raw emissions (4 bands), got {n_raw}"
    # suppression is reported: batches 2 and 3 each suppress 4 arrivals in
    # each of the 4 band buckets (at-least-once under retries, so >=)
    assert acc.value >= 32, f"cap suppression tally not reported: {acc.value}"


def test_stream_topk_supports_nondefault_key_types(spark, tmp_path):
    """key_col/id_col/value_col types are derived from the input schema —
    a bigint key must work, not crash at the Arrow boundary."""
    from periodicity_spark.streaming.ops import stream_topk

    ev = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(SF)
        .select("event_id", "user_id", "value")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .limit(200)
    )
    src = str(tmp_path / "tk_src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        stream_topk(stream, k=2, key_col="user_id")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tkbig")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    tbl = spark.table("tkbig")
    assert dict(tbl.dtypes)["user_id"] == "bigint"
    assert tbl.count() > 0
    assert tbl.groupBy("user_id").count().agg(F.max("count")).first()[0] <= 2


def test_stream_topk_integer_values_exact_above_2_53(spark, tmp_path):
    """State values must keep the input column's type: an int64 value above
    2^53 must survive a state round-trip EXACTLY — coercion through Python
    float would silently round it (ADVICE r5). The big value arrives in
    batch 1, so batch 2's emission re-reads it from state."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_topk

    big = (1 << 53) + 1  # not representable as float64
    b1 = pd.DataFrame(
        {"event_id": [1, 2], "event_type": ["a", "a"], "value": [big, 5]}
    )
    b2 = pd.DataFrame({"event_id": [3], "event_type": ["a"], "value": [7]})
    src = str(tmp_path / "tkint_src")
    schema = "event_id long, event_type string, value long"
    for chunk in (b1, b2):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_topk(stream, k=2)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tkint")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    tbl = spark.table("tkint")
    assert dict(tbl.dtypes)["value"] == "bigint"
    final = (
        tbl.filter(F.col("seq") == tbl.agg(F.max("seq")).first()[0])
        .orderBy("rank")
        .collect()
    )
    assert [r["event_id"] for r in final] == [1, 3]
    assert final[0]["value"] == big, f"int64 corrupted: {final[0]['value']}"
    assert final[1]["value"] == 7


def test_stream_neardup_supports_string_doc_ids(spark, tmp_path):
    """d1/d2 and the bucket state derive their type from the input schema —
    string doc_ids must work, not crash on the hardcoded-long path
    (ADVICE r5); pair ordering is lexicographic for strings."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_neardup

    pdf = pd.DataFrame(
        {
            "doc_id": ["doc-b", "doc-a", "doc-c"],
            "text": ["identical near dup text body here"] * 2
            + ["completely different other content entirely unlike"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [33, 33, 50],
        }
    )
    src = str(tmp_path / "ndstr_src")
    schema = "doc_id string, text string, lang string, source string, n_chars long"
    for i in range(2):
        spark.createDataFrame(pdf.iloc[i::2], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_neardup(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ndstr")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    tbl = spark.table("ndstr")
    assert dict(tbl.dtypes)["d1"] == "string"
    pairs = {
        (r["d1"], r["d2"]) for r in tbl.select("d1", "d2").distinct().collect()
    }
    assert pairs == {("doc-a", "doc-b")}, pairs


# ---------------------------------------------------------------------------
# checkpoint-and-restart: the one Structured-Streaming property the memory-
# sink suite can't see. Each test starts a query with a checkpointLocation,
# stops it cold mid-stream, appends more source data while it is down, and
# restarts the SAME pipeline from the checkpoint — asserting recovered state
# and exactly-once output.
# ---------------------------------------------------------------------------


def _write_events(spark, src, rows):
    import pandas as pd

    schema = "series_id string, ts timestamp, value double"
    pdf = pd.DataFrame(rows, columns=["series_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(src)


def _events_reader(spark, src):
    return spark.readStream.schema(
        "series_id string, ts timestamp, value double"
    ).parquet(src)


def test_restart_downsample_exactly_once(spark, tmp_path):
    """stream_downsample through kill → restart-from-checkpoint: windows
    finalized across the restart boundary appear EXACTLY once in the file
    sink, and their aggregates include pre-restart events recovered from
    state (not just replayed post-restart files)."""
    from periodicity_spark.streaming import stream_downsample

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_downsample(_events_reader(spark, src), window="1 day", watermark="2 days")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # run 1: day-3 (2 events) + day-10 → watermark reaches day 8,
    # the day-3 window emits; the day-10 window stays OPEN in state
    _write_events(spark, src, [
        ("s", "2024-01-03 06:00:00", 1.0),
        ("s", "2024-01-03 18:00:00", 3.0),
        ("s", "2024-01-10 12:00:00", 10.0),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()  # cold stop mid-stream

    # while down: another day-10 event (must merge into the RECOVERED open
    # window) and a day-20 event (advances the watermark, finalizing day 10)
    _write_events(spark, src, [
        ("s", "2024-01-10 18:00:00", 20.0),
        ("s", "2024-01-20 12:00:00", 7.0),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    key = out["t_start"].astype(str).str[:10]
    # exactly-once: no (series, window) appears twice across the restart
    assert not out.duplicated(subset=["series_id", "t_start"]).any(), out.to_string()
    day3 = out[key == "2024-01-03"]
    assert len(day3) == 1 and day3.iloc[0]["n"] == 2 and day3.iloc[0]["value"] == 2.0
    day10 = out[key == "2024-01-10"]
    assert len(day10) == 1, "day-10 window lost or duplicated across restart"
    # 10.0 arrived before the kill, 20.0 after: mean 15 proves state recovery
    assert day10.iloc[0]["n"] == 2 and day10.iloc[0]["value"] == 15.0


def test_restart_dedup_state_survives(spark, tmp_path):
    """stream_dedup (dropDuplicatesWithinWatermark) through restart: a key
    seen before the kill must still be suppressed after recovery, and fresh
    keys pass — exactly-once ingestion across failures."""
    from periodicity_spark.streaming import stream_dedup

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_dedup(_events_reader(spark, src), watermark="2 days")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_events(spark, src, [
        ("s", "2024-01-05 12:00:00", 1.0),
        ("s", "2024-01-05 12:00:00", 1.0),  # in-batch dup
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write_events(spark, src, [
        ("s", "2024-01-05 12:00:00", 1.0),   # replay of a pre-kill key
        ("s", "2024-01-05 13:00:00", 2.0),   # fresh key
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    assert len(out) == 2, out.to_string()
    assert sorted(out["value"]) == [1.0, 2.0]


def test_restart_topk_state_recovered(spark, tmp_path):
    """stream_topk (applyInPandasWithState) through restart: the post-
    restart emission must rank pre-kill values recovered from the state
    store against post-restart arrivals — the running top-k is not reset."""
    import pandas as pd

    from periodicity_spark.streaming import stream_topk

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )
    schema = "event_id long, event_type string, ts timestamp, value double"

    def _write(rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(src)

    # memory sink refuses checkpoint recovery; foreachBatch→parquet is the
    # restartable update-mode sink (and the production shape for this op)
    def _start():
        ev = spark.readStream.schema(schema).parquet(src)
        return (
            stream_topk(ev, k=2)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write([
        (1, "click", "2024-01-01 00:00:00", 50.0),
        (2, "click", "2024-01-01 00:01:00", 40.0),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    # while down: one value that beats the recovered #2 but not #1
    _write([(3, "click", "2024-01-01 00:02:00", 45.0)])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    last = out[out["seq"] == out["seq"].max()].sort_values("rank")
    # 50 (pre-kill, from state) stays #1; 45 (post-restart) displaces 40
    assert list(last["event_id"]) == [1, 3], out.to_string()
    assert list(last["value"]) == [50.0, 45.0]


def test_restart_ffill_carries_last_value_across_restart(spark, tmp_path):
    """stream_ffill through kill → restart: the carried last-non-null value
    lives in group state; a NULL arriving after the restart must be filled
    with the value seen BEFORE the kill."""
    from periodicity_spark.streaming import stream_ffill

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_ffill(_events_reader(spark, src))
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _b: bdf.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_events(spark, src, [
        ("s", "2024-01-01 00:00:00", 5.0),
        ("s", "2024-01-01 01:00:00", float("nan")),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write_events(spark, src, [("s", "2024-01-01 02:00:00", float("nan"))])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas().sort_values("ts")
    assert len(out) == 3
    # the post-restart NULL is filled with the PRE-kill 5.0 — state recovered
    assert list(out["filled"]) == [5.0, 5.0, 5.0], out.to_string()


def test_restart_zscore_running_stats_recovered(spark, tmp_path):
    """stream_zscore through restart: the Welford (n, mean, m2) state must
    survive — the post-restart event is scored against statistics built
    entirely before the kill."""
    import numpy as np

    from periodicity_spark.streaming import stream_zscore

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_zscore(_events_reader(spark, src), z_threshold=3.0, min_n=10)
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, _b: bdf.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .start()
        )

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4, 9.6, 10.0]
    _write_events(spark, src, [
        ("s", f"2024-01-01 00:{i:02d}:00", v) for i, v in enumerate(vals)
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write_events(spark, src, [("s", "2024-01-01 01:00:00", 50.0)])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas().sort_values("ts")
    last = out.iloc[-1]
    mu = np.mean(vals)
    sd = np.std(vals, ddof=1)
    assert last["value"] == 50.0 and bool(last["anomaly"])
    assert abs(last["z"] - (50.0 - mu) / sd) < 1e-9, (last["z"], (50.0 - mu) / sd)


def test_restart_slide_windows_exactly_once(spark, tmp_path):
    """stream_slide through restart: overlapping-window aggregates recover
    open windows from state; a post-restart event merges into them and no
    finalized (series, window) appears twice."""
    from periodicity_spark.streaming import stream_slide

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_slide(_events_reader(spark, src), window="2 days", slide="1 day")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_events(spark, src, [("s", "2024-01-03 06:00:00", 2.0)])
    q = _start()
    q.processAllAvailable()
    q.stop()

    # while down: a second day-3 event (merges into BOTH recovered open
    # windows) and a far-future event that finalizes them
    _write_events(spark, src, [
        ("s", "2024-01-03 18:00:00", 6.0),
        ("s", "2024-01-20 12:00:00", 1.0),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    assert not out.duplicated(subset=["series_id", "t_start"]).any(), out.to_string()
    day3 = out[out["t_start"].astype(str).str.startswith(("2024-01-02", "2024-01-03"))]
    # the day-3 events belong to sliding windows [01-02,01-04) and [01-03,01-05)
    assert len(day3) == 2, out.to_string()
    assert set(day3["n"]) == {2} and set(day3["value"]) == {4.0}, out.to_string()


def test_restart_sessionize_open_session_merges(spark, tmp_path):
    """stream_sessionize through restart: an OPEN session in state must
    absorb a post-restart event inside the gap — one session row, counted
    exactly once, spanning the kill."""
    from periodicity_spark.streaming import stream_sessionize

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )

    def _start():
        return (
            stream_sessionize(_events_reader(spark, src), gap="6 hours")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_events(spark, src, [
        ("s", "2024-01-01 00:00:00", 1.0),
        ("s", "2024-01-01 01:00:00", 2.0),
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write_events(spark, src, [
        ("s", "2024-01-01 03:00:00", 3.0),      # inside the 6h gap: merges
        ("s", "2024-01-10 00:00:00", 9.0),      # closes it via watermark
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    assert not out.duplicated(subset=["series_id", "t_start"]).any()
    ses = out[out["t_start"].astype(str).str.startswith("2024-01-01")]
    assert len(ses) == 1, out.to_string()
    assert ses.iloc[0]["n"] == 3 and ses.iloc[0]["mean_value"] == 2.0


def test_restart_funnel_buffered_click_matches_after_restart(spark, tmp_path):
    """stream_funnel (stream-stream interval join) through restart: a click
    buffered in join state before the kill must match a purchase that
    arrives only after recovery — and emit exactly once."""
    import pandas as pd

    from periodicity_spark.streaming import stream_funnel

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def _write(rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("append").parquet(src)

    def _start():
        ev = spark.readStream.schema(schema).parquet(src)
        return (
            stream_funnel(ev, within="6 hours")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write([(1, 7, "click", "2024-01-01 00:00:00")])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write([
        (2, 7, "purchase", "2024-01-01 02:00:00"),   # matches recovered click
        (3, 7, "purchase", "2024-01-01 08:00:00"),   # outside 6h: no match
    ])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    assert len(out) == 1, out.to_string()
    assert out.iloc[0]["first_id"] == 1 and out.iloc[0]["then_id"] == 2


def test_restart_gls_trig_sums_accumulate_across_restart(spark, tmp_path):
    """stream_gls (complete-mode trig-sum aggregate) through restart: sums
    recovered from state must keep accumulating — the drained result after
    a kill + more data equals the batch aggregate over ALL rows."""
    import numpy as np
    import pandas as pd

    from periodicity_spark.streaming.gls import stream_gls_sums

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )
    grid = spark.createDataFrame(pd.DataFrame({"frequency": [0.1, 0.25]}))

    def _start():
        return (
            stream_gls_sums(_events_reader(spark, src), grid)
            .writeStream.outputMode("complete")
            .foreachBatch(lambda bdf, _b: bdf.write.mode("overwrite").parquet(sink))
            .option("checkpointLocation", ckpt)
            .start()
        )

    rows1 = [("s", f"2024-01-0{d} 00:00:00", float(v)) for d, v in
             [(1, 3.0), (2, 5.0), (3, 4.0)]]
    rows2 = [("s", f"2024-01-0{d} 12:00:00", float(v)) for d, v in
             [(4, 6.0), (5, 2.0)]]
    _write_events(spark, src, rows1)
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write_events(spark, src, rows2)
    q = _start()
    q.processAllAvailable()
    q.stop()

    got = (
        spark.read.parquet(sink)
        .toPandas()
        .sort_values("frequency")
        .reset_index(drop=True)
    )
    assert (got["n"] == 5).all(), "post-restart sums lost pre-kill rows"
    # batch recomputation over ALL rows (same column math, one pass)
    from periodicity_spark.streaming.gls import stream_gls_sums as _unused  # noqa: F401
    all_rows = spark.read.parquet(src)
    want = (
        stream_gls_sums(
            spark.readStream.schema("series_id string, ts timestamp, value double")
            .parquet(src),
            grid,
        )
    )
    # drain a fresh single-run stream over the full source as the reference
    ref_sink, ref_ckpt = str(tmp_path / "rsink"), str(tmp_path / "rckpt")
    rq = (
        want.writeStream.outputMode("complete")
        .foreachBatch(lambda bdf, _b: bdf.write.mode("overwrite").parquet(ref_sink))
        .option("checkpointLocation", ref_ckpt)
        .start()
    )
    rq.processAllAvailable()
    rq.stop()
    ref = (
        spark.read.parquet(ref_sink)
        .toPandas()
        .sort_values("frequency")
        .reset_index(drop=True)
    )
    for col in ["n", "sy", "syy", "s1", "c1", "s2", "c2", "sh", "ch"]:
        # atol floor: trig sums that cancel to ~0 analytically (e.g. s2 on
        # this 5-row fixture) land within an ulp of zero, and the restarted
        # stream and the single-run reference may associate the additions
        # differently (the pre-aggregation repartition makes partitioning,
        # and hence add order, batch-slicing-dependent); rtol alone turns
        # a 1e-16-vs-2e-16 reassociation into a 100% relative error
        np.testing.assert_allclose(
            got[col], ref[col], rtol=1e-12, atol=1e-12, err_msg=col
        )


def test_restart_neardup_bucket_state_recovered(spark, tmp_path):
    """stream_neardup through restart: bucket membership lives in the
    256-slot dict state; a near-duplicate arriving only after the kill
    must pair with the document ingested before it."""
    import pandas as pd

    from periodicity_spark.streaming.ops import stream_neardup

    src, sink, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt"),
    )
    schema = "doc_id long, text string"
    text = "a long enough shared body of text for shingling to bucket on"

    def _write(rows):
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]), schema) \
            .coalesce(1).write.mode("append").parquet(src)

    def _start():
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            stream_neardup(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda bdf, _b: bdf.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write([(1, text)])
    q = _start()
    q.processAllAvailable()
    q.stop()

    _write([(2, text)])
    q = _start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink).toPandas()
    pairs = set(map(tuple, out[["d1", "d2"]].drop_duplicates().to_numpy()))
    assert pairs == {(1, 2)}, f"pre-kill doc not recovered from state: {pairs}"
