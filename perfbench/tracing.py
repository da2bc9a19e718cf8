"""Tracing for the benchmark's traced run, all from outside the program.

- ``ModuleSpans`` wraps the public functions of each layer (a package
  module of ``periodicity_spark``) and records one span per outermost call
  into a layer, plus the counts behind three runtime decisions.
- ``EventLog`` attaches Spark's own JSON event-log listener to the live
  session for the duration of one pass, so untraced passes of the same
  session pay nothing for it.
- ``spark_layer`` reads such a log back into per-query Spark metrics,
  attributed through the job group the benchmark sets around each query.

Spans and counts stay in memory; the benchmark writes them once at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import sys
import time
from collections import defaultdict

PKG = "periodicity_spark."

LAYERS = (
    "sources",
    "session",
    "spectral",
    "phase",
    "operators",
    "decomposition",
    "timefrequency",
    "gp",
    "streaming",
    "pipeline.dedup",
    "pipeline.simsearch",
    "pipeline.text",
)

# public functions that run Spark jobs while they are called; their call_s
# includes those jobs, every other layer's call_s is plan-build time
EAGER = (
    "periodicity_spark.pipeline.dedup.minhash_near_duplicates",
    "periodicity_spark.pipeline.simsearch.semantic_dedup",
)

DECISIONS = (
    "session.scan_parallel.calls",
    "session.scan_floor_applied",
    "session.persisted_lazy.calls",
    "session.memo_hits",
    "pipeline._heap.fits_broadcast.calls",
    "pipeline._heap.fits_broadcast.true",
)


def layer_of(module_name: str) -> str | None:
    if not module_name.startswith(PKG):
        return None
    rest = module_name[len(PKG):]
    for layer in LAYERS:
        if rest == layer or rest.startswith(layer + "."):
            return layer
    return None


class ModuleSpans:
    """Wraps, while installed, every public function and public method
    defined in a layer, wherever a loaded package module (or the driver
    entry module) holds a reference to it. Install after the modules have
    been imported: a module first imported later is not wrapped."""

    def __init__(self):
        self.query = ""
        self.spans: list[tuple] = []  # (query, layer, function, start, end, parent)
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._depth: dict[str, int] = defaultdict(int)
        self._open: list[int] = []
        self._patched: list[tuple] = []
        self._hooks = {}

    def install(self) -> None:
        from periodicity_spark import session

        memo, session_uid = session._PERSIST_MEMO, session.session_uid

        def scan_parallel(counts, args, kwargs, result):
            counts["session.scan_parallel.calls"] += 1
            counts["session.scan_floor_applied"] += result is not args[0]

        def persisted_lazy(counts, args, kwargs, result, hit):
            counts["session.persisted_lazy.calls"] += 1
            counts["session.memo_hits"] += hit

        def fits_broadcast(counts, args, kwargs, result):
            counts["pipeline._heap.fits_broadcast.calls"] += 1
            counts["pipeline._heap.fits_broadcast.true"] += bool(result)

        def memo_hit(args, kwargs):
            spark, key = args[0], args[1] if len(args) > 1 else kwargs["key"]
            return (session_uid(spark), key) in memo

        self._hooks = {
            "periodicity_spark.session.scan_parallel": (None, scan_parallel),
            "periodicity_spark.session.persisted_lazy": (memo_hit, persisted_lazy),
            "periodicity_spark.pipeline._heap.fits_broadcast": (None, fits_broadcast),
        }
        wrappers: dict[int, object] = {}
        classes: set[int] = set()
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith(PKG) or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = self._wrap(val, wrappers)
                if wrapped is not None:
                    self._patch(mod, attr, val, wrapped)
                elif inspect.isclass(val) and layer_of(val.__module__) and id(val) not in classes:
                    classes.add(id(val))
                    for m_name, m_val in list(vars(val).items()):
                        wrapped = self._wrap(m_val, wrappers)
                        if wrapped is not None:
                            self._patch(val, m_name, m_val, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _patch(self, owner, attr, original, wrapped) -> None:
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, original))

    def _wrap(self, fn, wrappers):
        if not inspect.isfunction(fn) or fn.__name__.startswith("_"):
            return None
        if id(fn) in wrappers:
            return wrappers[id(fn)]
        qual = f"{fn.__module__}.{fn.__qualname__}"
        layer = layer_of(fn.__module__)
        pre, post = self._hooks.get(qual, (None, None))
        if layer is None and post is None:
            return None
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = pre(args, kwargs) if pre else None
            outer = layer is not None and tracer._depth[layer] == 0
            if not outer:
                result = fn(*args, **kwargs)
            else:
                tracer._depth[layer] += 1
                parent = tracer._open[-1] if tracer._open else -1
                tracer._open.append(len(tracer.spans))
                tracer.spans.append(None)
                start = time.perf_counter()
                try:
                    result = fn(*args, **kwargs)
                finally:
                    end = time.perf_counter()
                    tracer._depth[layer] -= 1
                    idx = tracer._open.pop()
                    tracer.spans[idx] = (tracer.query, layer, qual, start, end, parent)
                    counts = tracer.counts[tracer.query]
                    counts[f"{layer}.calls"] += 1
                    counts[f"{layer}.call_s"] += end - start
            if post:
                counts = tracer.counts[tracer.query]
                if pre:
                    post(counts, args, kwargs, result, before)
                else:
                    post(counts, args, kwargs, result)
            return result

        wrappers[id(fn)] = wrapper
        return wrapper


class EventLog:
    """Spark's ``EventLoggingListener`` (uncompressed, not rolling) added
    to a running session's event-log queue, and removed again by
    ``close``, which returns the path of the finished log file."""

    def __init__(self, spark, log_dir: str, tag: str):
        sc = spark.sparkContext
        jvm, self._jsc = sc._jvm, sc._jsc.sc()
        conf = (
            self._jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.app_id = f"{self._jsc.applicationId()}_{tag}"
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.app_id,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file:" + log_dir),
            conf,
            self._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.listenerBus().addToEventLogQueue(self._listener)
        self.path = f"{log_dir}/{self.app_id}"

    def close(self) -> str:
        bus = self._jsc.listenerBus()
        bus.waitUntilEmpty()
        bus.removeListener(self._listener)
        self._listener.stop()
        return self.path


# set beside the job group: the thread of a streaming query inherits it,
# while Spark replaces that thread's job group with the stream's run id
GROUP_PROPERTY = "perfbench.group"


def set_group(sc, group: str | None) -> None:
    """Tag the jobs this thread starts from now on with ``group``, both as
    Spark's job group and as ``GROUP_PROPERTY``; ``None`` clears both."""
    sc.setJobGroup(group or "", (group or "").split("|")[0])
    sc.setLocalProperty(GROUP_PROPERTY, group)


def group_of(event: dict) -> str | None:
    return (event.get("Properties") or {}).get(GROUP_PROPERTY)


SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
    "spark.result_mb",
    "spark.python_mb",
)

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_MB = 2.0**20


def spark_layer(path: str) -> dict[str, dict]:
    """Per job group: the ``SPARK_METRICS`` plus ``action_run_s`` (executor
    run time of the action's jobs only) and ``task_skew`` (max over median
    task run time in the group's stage with the most run time)."""
    group_of_stage: dict[tuple, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    task_runs: dict[tuple, list[float]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = group_of(ev)
                if group:
                    out[group]["spark.jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = group_of(ev)
                info = ev["Stage Info"]
                if group:
                    group_of_stage[(info["Stage ID"], info["Stage Attempt ID"])] = group
                    out[group]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                stage = (ev["Stage ID"], ev["Stage Attempt ID"])
                group = group_of_stage.get(stage)
                if group is None:
                    continue
                m, info = out[group], ev["Task Info"]
                m["spark.tasks"] += 1
                m["spark.failed_tasks"] += bool(info.get("Failed"))
                tm = ev.get("Task Metrics") or {}
                run_s = tm.get("Executor Run Time", 0) / 1e3
                task_runs[(group, stage)].append(run_s)
                m["spark.executor_run_s"] += run_s
                if group.endswith("|action"):
                    m["action_run_s"] += run_s
                m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spark.result_mb"] += tm.get("Result Size", 0) / _MB
                m["spark.spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / _MB
                sw = tm.get("Shuffle Write Metrics") or {}
                m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                sr = tm.get("Shuffle Read Metrics") or {}
                m["spark.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / _MB
                for acc in info.get("Accumulables") or ():
                    if acc.get("Name") in _PY_BYTES:
                        m["spark.python_mb"] += float(acc.get("Update") or 0) / _MB
    longest: dict[str, tuple[float, list[float]]] = {}
    for (group, _), runs in task_runs.items():
        if group not in longest or sum(runs) > longest[group][0]:
            longest[group] = (sum(runs), runs)
    for group, (_, runs) in longest.items():
        out[group]["task_skew"] = max(runs) / max(statistics.median(runs), 1e-3)
    return {g: dict(m) for g, m in out.items()}
