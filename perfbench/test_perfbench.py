"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pytest  # noqa: E402

import diff  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS, Inputs, generate  # noqa: E402


def test_benchmark_json_names_match_what_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(worker.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == worker.per_layer_names()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == worker.unit_of(m["name"])


def test_module_spans_wrap_every_reference_and_restore_them():
    import __spark_entry__ as entry
    from periodicity_spark.spectral import gls

    original = gls.gls_periodogram
    assert entry.gls_periodogram is original
    spans = tracing.ModuleSpans()
    spans.install()
    try:
        assert gls.gls_periodogram is not original
        assert entry.gls_periodogram is gls.gls_periodogram
        assert gls.gls_periodogram.__wrapped__ is original
    finally:
        spans.uninstall()
    assert gls.gls_periodogram is original
    assert entry.gls_periodogram is original


def test_layer_of_maps_modules_to_layers():
    assert tracing.layer_of("periodicity_spark.spectral.gls") == "spectral"
    assert tracing.layer_of("periodicity_spark.pipeline.dedup") == "pipeline.dedup"
    assert tracing.layer_of("periodicity_spark.pipeline._heap") is None
    assert tracing.layer_of("__spark_entry__") is None


def test_diff_separates_structural_from_noisy(tmp_path):
    def record(jobs, shuffle_mb, wall):
        q = {"wall_s": wall, "action.spark.jobs": jobs, "action.spark.shuffle_write_mb": shuffle_mb}
        path = tmp_path / f"r{jobs}{shuffle_mb}{wall}.json"
        path.write_text(json.dumps({"traced_passes": [{"queries": {"q": q}}]}))
        return str(path)

    a = diff.load(record(3, 1.0, 2.0))
    structural, noisy = diff.compare(a, diff.load(record(3, 1.001, 3.0)))
    assert structural == []
    assert noisy == [("q", "wall_s", 2.0, 3.0)]
    structural, _ = diff.compare(a, diff.load(record(4, 2.0, 2.0)))
    assert {m for _, m, _, _ in structural} == {"action.spark.jobs", "action.spark.shuffle_write_mb"}


def test_spark_layer_attributes_stream_jobs_by_group_property(tmp_path):
    # a streaming query's jobs carry the stream's run id as job group, but
    # inherit the benchmark's group property from the thread that started it
    props = {"spark.jobGroup.id": "run-id", tracing.GROUP_PROPERTY: "q|build"}
    events = [
        {"Event": "SparkListenerJobStart", "Properties": props},
        {
            "Event": "SparkListenerStageSubmitted",
            "Properties": props,
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Stage Attempt ID": 0,
            "Task Info": {"Failed": False},
            "Task Metrics": {"Executor Run Time": 1500},
        },
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    groups = tracing.spark_layer(str(path))
    assert set(groups) == {"q|build"}
    assert groups["q|build"]["spark.jobs"] == 1
    assert groups["q|build"]["spark.executor_run_s"] == 1.5


def test_keep_series_keeps_the_longest_series(tmp_path):
    from workloads import input_sizes

    full = Inputs(("events",), scale=1)
    generate(full, seed=3, out_dir=str(tmp_path / "full"))
    inputs = Inputs(("events",), scale=1, keep_series=2)
    generate(inputs, seed=3, out_dir=str(tmp_path / "kept"))
    kept = input_sizes(inputs, str(tmp_path / "kept"))
    assert kept["series"] == 2
    assert kept["mean_series_len"] > input_sizes(full, str(tmp_path / "full"))["mean_series_len"]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from periodicity_spark import get_spark

    session = get_spark("perfbench-test")
    yield session
    session.stop()


def executed_plans(path: str) -> list[str]:
    with open(path) as fh:
        events = [json.loads(line) for line in fh]
    return [
        e["physicalPlanDescription"]
        for e in events
        if e["Event"].endswith("SparkListenerSQLExecutionStart")
    ]


def test_timed_action_keeps_stringlength_window(spark, tmp_path):
    """The timed action must run the operator's whole plan: under count()
    the optimizer drops stringlength's phase sort and Window."""
    import __spark_entry__ as entry

    data = str(tmp_path / "data")
    generate(Inputs(("events",), scale=1), seed=3, out_dir=data)
    df = entry.queries()["stringlength"](spark, data)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    log = tracing.EventLog(spark, str(log_dir), "plan")
    try:
        worker.timed_action(df)
    finally:
        path = log.close()
    plans = executed_plans(path)
    assert plans and any("Window" in p for p in plans)
