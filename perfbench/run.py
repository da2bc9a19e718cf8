"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload series --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed under ``.perfbench_run/`` in
the checkout, runs perfbench/worker.py on them in a new process group,
stops every process of that group, and prints as the last line of stdout
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones;
the traced run also writes its full layer record (per-query layers and
spans) to ``.perfbench_run/records/<workload>-seed<seed>.json``, which
perfbench/diff.py compares. ``--workload all`` runs every workload in turn
and prints one line per workload. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
# every run exits within this budget, set-up included
DEADLINE_S = 170.0

sys.path[:0] = [ROOT, HERE]

import procstat  # noqa: E402
from workloads import WORKLOADS, generate, input_sizes  # noqa: E402


def group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = procstat.stat_fields(entry)
            # state is stat field 3, process group field 5
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until
    every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while group_alive(proc.pid):
        time.sleep(0.05)


def run_one(name: str, seed: int, seconds: int, traced: bool, deadline: float) -> dict:
    workload = WORKLOADS[name]
    run_dir = os.path.join(WORK, f"{name}-seed{seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        sizes = {}
        for inp_name, inp in workload.inputs.items():
            generate(inp, seed, os.path.join(data_dir, inp_name))
            sizes[inp_name] = input_sizes(inp, os.path.join(data_dir, inp_name))
        records = os.path.join(WORK, "records")
        os.makedirs(records, exist_ok=True)
        record = os.path.join(records, f"{name}-seed{seed}.json")
        result_path = os.path.join(run_dir, "result.json")
        tmp = os.path.join(run_dir, "tmp")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            TMPDIR=tmp,
            # C1 only and the serial collector: C2 compilation and G1's
            # timing-driven heap sizing set most of the run-to-run spread
            # of a run this short. C1 only would also shrink the code cache
            # to 48 MiB, which fills about a minute into a run; 240 MiB is
            # the size the default JVM gets (README.md, "JVM settings")
            JAVA_TOOL_OPTIONS=(
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
                " -XX:ReservedCodeCacheSize=240m"
            ),
            PYTHONDONTWRITEBYTECODE="1",
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"), name, data_dir,
            str(seconds), "1" if traced else "0", repr(time.time()), result_path,
        ]
        if traced:
            cmd.append(record)
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {name} did not finish in time")
        finally:
            stop_group(proc)
        if proc.returncode != 0:
            raise SystemExit(f"perfbench: {name} worker exited with {proc.returncode}")
        with open(result_path) as fh:
            result = json.load(fh)
        if traced:
            with open(record) as fh:
                rec = json.load(fh)
            rec.update(seed=seed, inputs=sizes)
            with open(record, "w") as fh:
                json.dump(rec, fh)
        result["inputs"] = sizes
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run_one's cleanup of the worker's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for name in names:
        if args.workload == "all":
            deadline = time.time() + DEADLINE_S
        r = run_one(name, args.seed, args.seconds, bool(args.trace), deadline)
        for n, why in r["failures"].items():
            print(f"# {name}: FAILED {n}: {why}", file=sys.stderr)
        print(f"# {name}: inputs {r['inputs']}, timed passes {r['pass_walls']} s", file=sys.stderr)
        print(json.dumps({
            "correct": r["failed"] == 0,
            "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": r["metrics"],
        }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
