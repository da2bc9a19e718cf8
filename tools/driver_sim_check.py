"""Driver-simulation correctness audit: run every oracle-backed query under
a VANILLA SparkSession — default 200 shuffle partitions, no legacy flags,
no engine config pins, optionally a non-UTC session timezone — i.e. the
conditions an external driver is free to impose, unlike tools/selfcheck.py
which uses the engine's own tuned get_spark(). The r4 post-mortem lesson:
the engine must be correct under the environment's session, not ours.

Usage: python tools/driver_sim_check.py [sf_dir] [timezone]
  e.g. python tools/driver_sim_check.py /root/testdata/sf0.01 America/New_York

Round-5 session-3 results: 0 failures / 107 oracle queries at sf0.01 under
both Etc/UTC and America/New_York with shuffle.partitions=200.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tz = sys.argv[2] if len(sys.argv) > 2 else None

    builder = (
        SparkSession.builder.master("local[32]")
        .appName("driver_sim")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true",
        )
    )
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print(
        "timeZone:", spark.conf.get("spark.sql.session.timeZone"),
        "| shuffle:", spark.conf.get("spark.sql.shuffle.partitions"),
        flush=True,
    )

    import duckdb

    import __spark_entry__ as entrymod
    from tools.selfcheck import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails = 0
    for name in sorted(oracles):
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            ddf = con.sql(oracles[name]).df()
            probs = compare(name, sdf, ddf)
        except Exception as e:  # noqa: BLE001 — any failure is the finding
            probs = [f"error: {type(e).__name__}: {str(e)[:160]}"]
        if probs:
            fails += 1
            print(f"[FAIL] {name}: {probs[0]}", flush=True)
    print(f"{fails} failures / {len(oracles)} oracle queries")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
