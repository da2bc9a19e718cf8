"""Worker-side session helpers: the package zip shipped to Python workers
and the zipimporter prune every Python kernel runs first."""

import os
import sys
import types
import zipfile
import zipimport

from periodicity_spark import session
from periodicity_spark.session import ensure_worker_imports, grouped_apply, prune_zip_importers


def test_prune_zip_importers_stops_archive_rereads(tmp_path, monkeypatch):
    """After the prune, ``importlib.invalidate_caches()`` (which a PySpark
    worker calls before every task) re-reads no archive, other finders are
    kept, and a later import from the archive still works, rebuilding its
    finder from zipimport's directory cache without a read."""
    import importlib

    zpath = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("ps_prune_probe_a.py", "X = 1\n")
        z.writestr("ps_prune_probe_b.py", "X = 2\n")
    monkeypatch.syspath_prepend(zpath)
    try:
        import ps_prune_probe_a

        assert ps_prune_probe_a.X == 1
        assert isinstance(sys.path_importer_cache[zpath], zipimport.zipimporter)
        others = {
            k: v
            for k, v in sys.path_importer_cache.items()
            if not isinstance(v, zipimport.zipimporter)
        }

        prune_zip_importers()

        assert not any(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        assert all(sys.path_importer_cache.get(k) is v for k, v in others.items())
        reads = []
        real_read = zipimport._read_directory

        def _counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", _counting_read)
        importlib.invalidate_caches()
        import ps_prune_probe_b

        assert ps_prune_probe_b.X == 2
        assert zpath not in reads
    finally:
        sys.modules.pop("ps_prune_probe_a", None)
        sys.modules.pop("ps_prune_probe_b", None)
        sys.path_importer_cache.pop(zpath, None)


def test_grouped_apply_kernels_find_no_zip_importers(spark):
    """A reused Python worker keeps no zipimporter in its path-importer
    cache, so the per-task ``invalidate_caches()`` has no archive to
    re-read (without the prune a worker holds 17: the spark-core jar,
    pyspark.zip, py4j and the package zip)."""
    ts = spark.createDataFrame(
        [(f"s{i}", float(t), 1.0) for i in range(20) for t in range(3)],
        "series_id string, time double, value double",
    )

    def _count(g):
        import sys
        import zipimport

        import pandas as pd

        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values())
        )
        return pd.DataFrame({"series_id": [g["series_id"].iloc[0]], "n_zip": [n]})

    def run():
        return grouped_apply(ts, _count, "series_id string, n_zip int").collect()

    run()
    second = run()
    assert len(second) == 20
    assert max(r["n_zip"] for r in second) == 0, sorted(r["n_zip"] for r in second)


def test_ensure_worker_imports_one_private_zip_per_context(spark):
    """The package zip is written once per SparkContext, into a directory of
    its own: repeated calls and ``newSession()`` reuse it unchanged, and two
    contexts (e.g. two checkouts sharing a temp dir) never share a path."""
    z = ensure_worker_imports(spark)
    mtime = os.stat(z).st_mtime_ns
    assert ensure_worker_imports(spark) == z
    assert ensure_worker_imports(spark.newSession()) == z
    assert os.stat(z).st_mtime_ns == mtime

    added = []

    def fake_session():
        sc = types.SimpleNamespace(addPyFile=added.append)
        return types.SimpleNamespace(sparkContext=sc)

    a, b = fake_session(), fake_session()
    za = ensure_worker_imports(a)
    zb = ensure_worker_imports(b)
    assert ensure_worker_imports(a) == za
    assert added == [za, zb]
    assert len({z, za, zb}) == 3
    assert len({os.path.dirname(p) for p in (z, za, zb)}) == 3
    pkg = os.path.dirname(session.__file__)
    want = sorted(
        "periodicity_spark/" + os.path.relpath(os.path.join(d, f), pkg).replace(os.sep, "/")
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    )
    with zipfile.ZipFile(za) as zf:
        assert sorted(zf.namelist()) == want
