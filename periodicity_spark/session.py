"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime coalesce +
skew-join handling), Arrow on (every pandas-UDF kernel crosses via Arrow),
shuffle partitions sized to the core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "periodicity_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # default: the cores this process may run on (its CPU affinity)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        # SPARK_SHUFFLE_PARTITIONS: scale-soak knob — big-shuffle stages at
        # sf1+ want 2-3× cores so each task's hash map fits its memory
        # share (AQE coalesces the small ones back down for free)
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata events.ts is parquet TIMESTAMP(NANOS); Spark 4 only
        # reads it as a long when this legacy flag is on (DuckDB truncates the
        # same column to micros — see sources/ingest.py for the alignment)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # compression codec stays the lz4 default: a global zstd switch
        # (tried for the LSH verify's fat shuffle) regressed every
        # Arrow-kernel query 2-2.6× at sf0.1 (interp_smooth 4.9→11.4 s,
        # gls_fast 3.5→8.6 s — zstd pays CPU on each small per-series
        # shuffle block), and the broadcast verify removed the fat
        # shuffle that motivated it. Override per-run with
        # SPARK_IO_CODEC for disk-tight non-broadcast scale runs.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_IO_CODEC", "lz4"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # scale-soak knob: selfcheck collects full results for the oracle
        # compare, and at sf1+ a wide query's result can exceed the 1g
        # default; the engine itself never collects result-sized data
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_MAX_RESULT_SIZE", "1g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_worker_imports(spark) -> str:
    """Ship the periodicity_spark package to executor Python workers; →
    the path of the shipped zip.

    UDF kernels that import package modules (decomposition kernels, and
    every kernel's ``prune_zip_importers`` call) need the package importable
    on workers regardless of the driver's cwd/PYTHONPATH — e.g. when the
    harness builds its own SparkSession. Zips the package once per
    SparkContext, so ``newSession()`` reuses it, into a directory of its
    own: two processes (or two checkouts) that share a temp dir cannot ship
    each other's package or a half-written zip. The directory is removed
    when the driver process exits."""
    sc = spark.sparkContext
    zpath = getattr(sc, "_ps_pkg_zip", None)
    if zpath is not None:
        return zpath
    import atexit
    import pathlib
    import shutil
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zdir = tempfile.mkdtemp(prefix="periodicity_spark_pkg_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = str(pathlib.Path(zdir) / "periodicity_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted(pkg_dir.rglob("*.py")):
            z.write(f, "periodicity_spark/" + str(f.relative_to(pkg_dir)))
    sc.addPyFile(zpath)
    sc._ps_pkg_zip = zpath
    return zpath


def prune_zip_importers() -> None:
    """Delete every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    Every Python kernel the package hands to Spark calls this as its first
    statement. Before each task a PySpark worker calls
    ``importlib.invalidate_caches()`` (``pyspark.worker_util``), and
    CPython 3.11's ``zipimporter.invalidate_caches`` answers by re-reading
    its whole archive directory. A worker's ``sys.path`` holds the
    spark-core jar (5,359 entries, ~48 ms a read), ``pyspark.zip``, py4j and
    this package's zip: 17 cached zipimporters, 0.2-0.37 s of CPU per task
    on a 4-core box. With the entries gone that call has nothing to re-read,
    and a later import recreates a finder from zipimport's module-level
    directory cache without reading the archive. Workers are reused across
    tasks, so only a worker's first task pays."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


_PERSIST_MEMO: dict = {}


def persisted(df, key: str):
    """Session-scoped persist memo: returns ONE persisted DataFrame per
    (session, key). The key must fully determine the plan — a hit returns
    the memoized DataFrame and ignores the freshly-built ``df`` argument.
    Entries persisted under dead sessions are evicted on the next miss.

    Spark does not reuse results across actions; callers that derive several
    outputs from one expensive subplan (e.g. two projections of the same
    periodogram) should route it through here. The session component of the
    memo key is a uuid pinned on the session object — ``id(spark)`` can be
    recycled by the allocator after a session is garbage-collected, which
    would hand a dead session's persisted plan to a new one.
    """
    return persisted_lazy(df.sparkSession, key, lambda: df)


def session_uid(spark) -> str:
    """Stable per-session uuid for memo keys — ``id(spark)`` can be
    recycled by the allocator after a session is garbage-collected, which
    would hand a dead session's memo entries to a new one."""
    skey = getattr(spark, "_ps_persist_memo_key", None)
    if skey is None:
        import uuid

        skey = uuid.uuid4().hex
        spark._ps_persist_memo_key = skey
    return skey


def persisted_lazy(spark, key: str, builder):
    """``persisted`` for subplans whose CONSTRUCTION already runs Spark
    jobs (iterative algorithms with driver loops, e.g. connected
    components' label propagation) or whose plan BUILD alone is expensive
    driver-side (hundreds of py4j round-trips, e.g. the GLS periodogram —
    rebuilding a plan only to discard it on a memo hit measured ~0.6 s per
    caller): ``builder()`` is invoked only on a memo miss, so a hit costs
    a dict lookup instead of re-running the whole construction.
    ``persisted(df, key)`` cannot offer this — its argument is built
    eagerly by the caller."""
    skey = session_uid(spark)
    full = (skey, key)
    if full not in _PERSIST_MEMO:
        for old_key in [k for k in _PERSIST_MEMO if k[0] != skey or k[1] == key]:
            try:
                _PERSIST_MEMO.pop(old_key).unpersist()
            except Exception:
                pass
        _PERSIST_MEMO[full] = builder().persist()
    return _PERSIST_MEMO[full]


def scan_parallel(df, key: str = "series_id"):
    """The one scan-parallelism floor: when ``df`` would be scanned by
    fewer tasks than the cluster's defaultParallelism, hash-repartition it
    by ``key`` to defaultParallelism; otherwise return ``df`` unchanged.

    Callers apply it to an input that feeds CPU-dense work running inside
    the scan tasks, before the first exchange (grid crossJoin, lag explode,
    shingling and hashing, vector matmuls): a small parquet file with one
    row group scans as one task and would serialize that work onto one
    core. At real scale a scan already has thousands of splits and this is
    a no-op. Hash-by-key, not round robin: no local sort before the
    exchange (a keyless ``repartition(n)`` sorts its input so retries
    reproduce the row→partition map), deterministic under task retry
    (guide §2.5), and per-key operators downstream can reuse the layout.

    One probe, cheapest checks first:

    1. A streaming frame cannot be probed; it is always repartitioned
       (its micro-batches read from one file are one task each).
    2. A frame whose analyzed plan already repartitions is at the
       parallelism its builder chose; it is returned as is (a string probe
       of the analyzed plan; no planning).
    3. Fewer local files than cores: the TRUE parallelism is the row-group
       count read from the parquet footers. One row group is read by
       exactly one task (the split holding its midpoint), but the scan
       splits by byte range: a large one-group file (or a small one under
       a small ``maxPartitionBytes``) probes as many partitions of which
       all but one are empty (measured 5× on a 132 MB one-group file whose
       "32-way" scan ran single-task). Fewer row groups than cores floors.
    4. Anything else floors when its RDD has fewer partitions than cores.
       Only inputs step 3 did not floor pay for this plan conversion.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming:
        return df.repartition(target, key)
    try:
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
        files = df.inputFiles()
    except Exception:
        return df
    if 0 < len(files) < target and all(u.startswith("file:") for u in files):
        from urllib.parse import unquote, urlparse

        import pyarrow.parquet as pq

        try:
            row_groups = sum(
                pq.ParquetFile(unquote(urlparse(u).path)).metadata.num_row_groups
                for u in files
            )
        except Exception:  # not parquet or unreadable: step 4 decides
            row_groups = target
        if row_groups < target:
            return df.repartition(target, key)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target, key) if current < target else df


def grouped_apply(
    ts,
    per_series_fn,
    schema: str,
    n_buckets: int | None = None,
    group_cols: tuple = ("series_id",),
):
    """applyInPandas over per-series kernels with COARSE grouping: rows are
    bucketed by a hash of the group key (~4 buckets per core by default) and
    the Python side sub-groups by key, so the per-group Arrow transfer +
    pandas-construction overhead is paid per BUCKET, not per group.

    With millions of small series (the 100 TB shape), naive
    groupBy("series_id").applyInPandas pays ~1 ms of constant cost per
    series — measured 10.6 s for 7.5k series at sf0.1 where the kernels
    themselves were <2 s. Bucketing amortizes it ~100×. A single giant
    series still lands in one bucket — no worse than per-series grouping;
    shard such operators explicitly (see gls grid_chunks).

    Each Python task also pays a fixed cost before any kernel runs: the
    worker's ``importlib.invalidate_caches()`` re-reads every zip archive
    on its ``sys.path`` (0.2-0.37 s of CPU per task on a 4-core box). The
    bucket kernel calls ``prune_zip_importers`` first, so a reused worker
    pays it on its first task only (an identity run over 20 groups, 16
    tasks: Python-worker CPU 1.9-2.6 s → 0.31-0.39 s).

    ``per_series_fn``: pandas DataFrame (one full group) → pandas DataFrame
    matching ``schema``. Must not depend on the bucket column.
    ``group_cols``: the kernel's group key (default one series per group).
    """
    from pyspark.sql import functions as F

    spark = ts.sparkSession
    ensure_worker_imports(spark)
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism * 4
    out_cols = [f.strip().split(" ")[0] for f in schema.split(",")]
    gcols = list(group_cols)

    def _per_bucket(pdf):
        prune_zip_importers()
        import pandas as pd

        outs = []
        for _, g in pdf.groupby(gcols, sort=False):
            o = per_series_fn(g)
            if o is not None and len(o):
                outs.append(o)
        if not outs:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(outs, ignore_index=True)

    # Explicit repartition by _bucket with a pinned partition count: the
    # per-bucket kernel stage is PYTHON-COMPUTE dense, not byte dense, and
    # AQE's byte-based partition coalescing would otherwise merge its tiny
    # input shuffle (a few MB at sf0.1) down to 1-2 tasks, serializing all
    # kernel work onto one or two cores (measured: interp/gls_arrow pandas
    # stages ran as 2-5 AQE-coalesced tasks). A user-specified repartition
    # count is exempt from AQE coalescing, and HashPartitioning(_bucket, n)
    # satisfies the groupBy's ClusteredDistribution, so no second exchange
    # is added. Partition count scales with the session's parallelism.
    n_parts = max(spark.sparkContext.defaultParallelism, min(n_buckets, 2048))
    return (
        ts.withColumn(
            "_bucket", F.pmod(F.xxhash64(*gcols), F.lit(n_buckets)).cast("int")
        )
        .repartition(n_parts, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(_per_bucket, schema)
    )
