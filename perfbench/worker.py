"""One benchmark run of one workload, in its own process tree.

Started by run.py with the generated inputs already on disk. It starts the
Spark session, makes one uncounted cold pass that also collects every
query's output for the check, then repeats timed passes for the requested
seconds. Untraced mode times the passes; traced mode alternates an
untraced pass with a traced one and records the per-layer metrics. The
outputs are checked last, outside every timed region, and the result is
written as JSON to the path given on the command line.

    python3 perfbench/worker.py <workload> <data_dir> <seconds> <trace 0|1>
        <spawn_time> <result.json> [<record.json>]
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import __spark_entry__ as entry  # noqa: E402
from periodicity_spark import get_spark  # noqa: E402
from periodicity_spark import session as ps_session  # noqa: E402

import procstat  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = ("setup_s", "wall_s", "cpu_s", "peak_rss_mb", "ok_frac")

# a traced run makes at least this many traced passes between its
# untraced ones (untraced, traced, untraced, traced, untraced), so that
# the untraced median does not rest on the slower first pass
MIN_TRACED_PASSES = 2


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on any workload."""
    queries = sorted({q for w in WORKLOADS.values() for q, _ in w.queries})
    return [
        *(f"{layer}.{s}" for layer in tracing.LAYERS for s in ("calls", "call_s")),
        *tracing.DECISIONS,
        "driver.build_s",
        "driver.action_s",
        *tracing.SPARK_METRICS,
        "spark.idle_core_s",
        "spark.task_skew",
        *(f"query.{q}.wall_s" for q in queries),
        "tracing_overhead_s",
    ]


def unit_of(metric: str) -> str:
    if metric in ("ok_frac", "spark.task_skew"):
        return "ratio"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MiB"
    return "count"


def timed_action(df) -> None:
    """Run ``df`` to a full action that consumes every output column.
    ``count()`` would let the optimizer prune the operator's own work."""
    df.write.format("noop").mode("overwrite").save()


def reset_caches(spark) -> None:
    """Drop the persist memo, the entry-frame memo, Spark's cache and the
    temporary views (the memory sinks of streaming queries), then collect
    garbage in Python and in the JVM, so every pass pays the same
    materialization as the one before it and starts from a heap that holds
    no earlier pass's results."""
    for df in ps_session._PERSIST_MEMO.values():
        df.unpersist()
    ps_session._PERSIST_MEMO.clear()
    entry._ENTRY_DF_MEMO.clear()
    spark.catalog.clearCache()
    for table in spark.catalog.listTables():
        if table.isTemporary:
            spark.catalog.dropTempView(table.name)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Runner:
    def __init__(self, spark, workload, data_dir: str):
        self.spark = spark
        self.queries = entry.queries()
        self.names = [q for q, _ in workload.queries]
        # each query reads the directory of its input set
        self.dirs = {q: os.path.join(data_dir, inp) for q, inp in workload.queries}
        self.errors: dict[str, str] = {}
        self.root = os.getpid()

    def cold_pass(self) -> dict:
        outputs = {}
        for name in self.names:
            try:
                outputs[name] = self.queries[name](self.spark, self.dirs[name]).toPandas()
            except Exception as e:  # noqa: BLE001 — counted as failed, run goes on
                self.errors[name] = f"cold pass: {type(e).__name__}: {str(e)[:300]}"
        return outputs

    def timed_pass(self, spans: tracing.ModuleSpans | None = None) -> dict:
        """One warm pass; with ``spans``, every query's jobs carry the job
        groups ``<query>|build`` and ``<query>|action``."""
        reset_caches(self.spark)
        sc = self.spark.sparkContext
        per_query = {}
        cpu0 = procstat.tree_cpu_s(self.root)
        t0 = time.perf_counter()
        with procstat.PeakRss(self.root) as rss:
            for name in self.names:
                if spans is not None:
                    spans.query = name
                    tracing.set_group(sc, f"{name}|build")
                q0 = q1 = time.perf_counter()
                try:
                    df = self.queries[name](self.spark, self.dirs[name])
                    q1 = time.perf_counter()
                    if spans is not None:
                        tracing.set_group(sc, f"{name}|action")
                    timed_action(df)
                except Exception as e:  # noqa: BLE001 — counted as failed, run goes on
                    self.errors.setdefault(name, f"timed pass: {type(e).__name__}: {str(e)[:300]}")
                q2 = time.perf_counter()
                per_query[name] = {"build_s": q1 - q0, "action_s": q2 - q1, "wall_s": q2 - q0}
        wall = time.perf_counter() - t0
        if spans is not None:
            tracing.set_group(sc, None)
            spans.query = ""
        return {
            "wall_s": wall,
            "cpu_s": procstat.tree_cpu_s(self.root) - cpu0,
            "peak_rss_mb": rss.peak_mb,
            "queries": per_query,
        }

    def check(self, outputs: dict) -> dict[str, str]:
        """Compare each output with its DuckDB oracle on the same files, or,
        for queries without an oracle, require a non-empty result."""
        import duckdb

        saved = list(sys.path)
        try:
            from tools.selfcheck import compare
        finally:
            sys.path[:] = saved  # the check module pins its own repo path
        oracles = entry.oracle_sql()
        problems = {}
        for name, got in outputs.items():
            if name not in oracles:
                if len(got) == 0:
                    problems[name] = "rows-only check: empty result"
                continue
            with duckdb.connect() as con:
                d = self.dirs[name]
                con.sql(f"SET temp_directory='{d}/.duckdb'")
                for f in sorted(os.listdir(d)):
                    if f.endswith(".parquet"):
                        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{d}/{f}')")
                found = compare(name, got, con.sql(oracles[name]).df())
            if found:
                problems[name] = "; ".join(found[:3])
        return problems


def median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def traced_metrics(passes: list[dict], names: list[str], cores: int) -> dict:
    """Per-layer metrics of the traced passes: each metric is the median
    over passes of its per-pass total. ``idle_core_s`` counts only the
    action's jobs, since eager operators also run jobs while building."""
    per_pass = []
    for p in passes:
        m = dict.fromkeys(per_layer_names(), 0.0)
        del m["tracing_overhead_s"]
        action_run_s, skews = 0.0, []
        for name in names:
            q = p["queries"][name]
            m["driver.build_s"] += q["build_s"]
            m["driver.action_s"] += q["action_s"]
            m[f"query.{name}.wall_s"] = q["wall_s"]
            for metric, v in q.items():
                if metric in m and not metric.startswith(("driver.", "query.", "spark.")):
                    m[metric] += v
            for phase in ("build", "action"):
                for k in tracing.SPARK_METRICS:
                    m[k] += q.get(f"{phase}.{k}", 0.0)
            action_run_s += q.get("action.action_run_s", 0.0)
            if "action.task_skew" in q:
                skews.append(q["action.task_skew"])
        m["spark.idle_core_s"] = cores * m["driver.action_s"] - action_run_s
        m["spark.task_skew"] = statistics.median(skews) if skews else 0.0
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def traced_pass(runner: Runner, spans: tracing.ModuleSpans, log_dir: str, n: int) -> dict:
    """A timed pass with module spans, job groups and Spark's event log on.
    Each query's record gains its layer counts and its Spark metrics as
    ``build.<metric>`` and ``action.<metric>``."""
    spans.counts.clear()
    spans.spans.clear()
    spans.install()
    log = tracing.EventLog(runner.spark, log_dir, f"pass{n}")
    try:
        p = runner.timed_pass(spans)
    finally:
        path = log.close()
        spans.uninstall()
    groups = tracing.spark_layer(path)
    for name, q in p["queries"].items():
        q.update(spans.counts.get(name, {}))
        for phase in ("build", "action"):
            q.update({f"{phase}.{k}": v for k, v in groups.get(f"{name}|{phase}", {}).items()})
    p["spans"] = list(spans.spans)
    return p


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and reap the JVM, so that no process
    of the run outlives this one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    workload_name, data_dir, seconds, traced, spawn_t, result_path = sys.argv[1:7]
    record_path = sys.argv[7] if len(sys.argv) > 7 else None
    workload = WORKLOADS[workload_name]
    seconds, traced, spawn_t = float(seconds), traced == "1", float(spawn_t)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    spark = get_spark("perfbench")
    runner = Runner(spark, workload, data_dir)
    outputs = runner.cold_pass()
    setup_s = time.time() - spawn_t

    untraced, traced_passes = [], []
    spans = tracing.ModuleSpans()
    log_dir = os.path.join(os.path.dirname(data_dir), "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    # traced mode runs untraced and traced passes in turn, starting and
    # ending untraced, so JIT warm-up between passes does not bias the
    # overhead one way
    start = time.perf_counter()
    untraced.append(runner.timed_pass())
    while (
        time.perf_counter() - start < seconds
        or len(untraced) + len(traced_passes) < workload.min_passes
        or (traced and len(traced_passes) < MIN_TRACED_PASSES)
    ):
        if traced:
            traced_passes.append(traced_pass(runner, spans, log_dir, len(traced_passes)))
        untraced.append(runner.timed_pass())

    problems = runner.check(outputs)
    stop_spark(spark)
    failed = sorted(set(runner.errors) | set(problems))
    attempted = len(runner.names)
    if traced:
        metrics = traced_metrics(traced_passes, runner.names, cores)
        metrics["tracing_overhead_s"] = (
            median_of(traced_passes, "wall_s") - median_of(untraced, "wall_s")
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": median_of(untraced, "wall_s"),
            "cpu_s": median_of(untraced, "cpu_s"),
            "peak_rss_mb": median_of(untraced, "peak_rss_mb"),
            "ok_frac": 1.0 - len(failed) / attempted,
        }
    result = {
        "attempted": attempted,
        "failed": len(failed),
        "failures": {n: runner.errors.get(n) or problems[n] for n in failed},
        "pass_walls": [round(p["wall_s"], 3) for p in untraced],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    if record_path:
        with open(record_path, "w") as fh:
            json.dump(
                {
                    "workload": workload_name,
                    "cores": cores,
                    "eager": list(tracing.EAGER),
                    "setup_s": setup_s,
                    "untraced_wall_s": [p["wall_s"] for p in untraced],
                    "traced_passes": traced_passes,
                    "metrics": metrics,
                },
                fh,
            )
    with open(result_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
