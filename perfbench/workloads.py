"""The benchmark's workloads: which queries each runs, on which inputs, and
how the inputs are generated from a seed.

Inputs come from the repository's seeded generator
``tools.fuzzcheck.generate``; the program under test receives only the
generated parquet files. See README.md for why each workload exists and
which layers it loads.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass


@dataclass(frozen=True)
class Inputs:
    """One generated input directory."""

    tables: tuple[str, ...]
    scale: int
    # fold user_id onto this many users: fewer, longer series
    fold_users: int | None = None
    # keep only the events of this many longest series (ties broken by
    # user_id/event_type)
    keep_series: int | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: dict[str, Inputs]
    # (query name in __spark_entry__.queries(), input set it reads)
    queries: tuple[tuple[str, str], ...]
    # least number of timed passes a run makes, so that the timed passes
    # of either workload span 25-30 s: load on a shared host drifts over
    # tens of seconds, and three corpus_dedup passes (about 20 s) left its
    # median too noisy
    min_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "series",
            inputs={
                # 750 series of ~13 points
                "many": Inputs(("events",), scale=10),
                # 20 series of ~250 points
                "long": Inputs(("events",), scale=5, fold_users=4),
                # the 2 longest of 75 series, ~20 points each, one GP fit
                # each; gp_map_period skips series under 12 points
                "gp": Inputs(("events",), scale=1, keep_series=2),
            },
            queries=(
                ("gls_power", "many"),
                ("stringlength", "many"),
                ("acf_lag", "many"),
                ("stream_downsample", "many"),
                ("gp_map_period", "gp"),
                ("emd", "long"),
                ("wps_gwps", "long"),
            ),
            # 11-14 s a pass
            min_passes=2,
        ),
        Workload(
            "corpus_dedup",
            inputs={"corpus": Inputs(("documents", "embeddings"), scale=1)},
            queries=(
                ("dedup_minhash", "corpus"),
                ("dedup_minhash_fallback", "corpus"),
                ("winnow_fp", "corpus"),
                ("simsearch_topk", "corpus"),
            ),
            # 6-8 s a pass
            min_passes=4,
        ),
    )
}


def generate(inputs: Inputs, seed: int, out_dir: str) -> None:
    """Write the input set's tables as parquet files under ``out_dir``."""
    saved = list(sys.path)
    try:
        from tools.fuzzcheck import generate as fuzz_generate
    finally:
        sys.path[:] = saved  # the generator module pins its own repo path
    os.makedirs(out_dir, exist_ok=True)
    fuzz_generate(out_dir, seed, inputs.scale, only=set(inputs.tables))
    if inputs.fold_users or inputs.keep_series:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        path = os.path.join(out_dir, "events.parquet")
        events = pq.read_table(path)
        if inputs.fold_users:
            i = events.schema.get_field_index("user_id")
            folded = events["user_id"].to_numpy() % inputs.fold_users
            events = events.set_column(i, "user_id", pa.array(folded))
        if inputs.keep_series:
            keys = pc.binary_join_element_wise(
                pc.cast(events["user_id"], pa.string()), events["event_type"], "/"
            )
            counts = pc.value_counts(keys).to_pylist()
            counts.sort(key=lambda c: (-c["counts"], c["values"]))
            longest = [c["values"] for c in counts[: inputs.keep_series]]
            events = events.filter(pc.is_in(keys, value_set=pa.array(longest)))
        pq.write_table(events, path)


def input_sizes(inputs: Inputs, data_dir: str) -> dict:
    """Rows and bytes of the generated files, and for event inputs the
    series count and mean series length (series = user_id × event_type)."""
    import pyarrow.parquet as pq

    sizes = {"rows": 0, "bytes": 0}
    for t in inputs.tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        sizes["rows"] += pq.ParquetFile(path).metadata.num_rows
        sizes["bytes"] += os.path.getsize(path)
    if "events" in inputs.tables:
        ev = pq.read_table(
            os.path.join(data_dir, "events.parquet"), columns=["user_id", "event_type"]
        )
        n_series = len(ev.group_by(["user_id", "event_type"]).aggregate([]))
        sizes["series"] = n_series
        sizes["mean_series_len"] = ev.num_rows / n_series
    return sizes
