"""The Python worker daemon ``get_spark`` sets (lanterndb_spark/pydaemon.py):
workers skip re-reading zip archives that did not change."""

import importlib.util
import os
import zipfile
import zipimport

from lanterndb_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(imp, name):
    spec = imp.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_session_workers_run_under_pydaemon(spark):
    """A get_spark session names the daemon module and puts this
    package on the workers' path, and a mapInPandas runs in a worker
    forked from the daemon with the wrapper installed."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "lanterndb_spark.pydaemon"
    # the workers import the package whatever the driver's working dir
    assert conf.get("spark.executorEnv.PYTHONPATH") == os.path.dirname(
        os.path.dirname(os.path.abspath(pydaemon.__file__))
    )

    def probe(batches):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        wrapped = (
            zipimport.zipimporter.invalidate_caches
            is getattr(main, "invalidate_caches", None)
        )
        for pdf in batches:
            pdf["daemon"] = spec.name if spec else ""
            pdf["wrapped"] = wrapped
            yield pdf

    rows = (
        spark.range(8, numPartitions=2)
        .mapInPandas(probe, "id long, daemon string, wrapped boolean")
        .collect()
    )
    assert sorted(r["id"] for r in rows) == list(range(8))
    assert {r["daemon"] for r in rows} == {"lanterndb_spark.pydaemon"}
    assert all(r["wrapped"] for r in rows)


def test_unchanged_archive_is_not_reread(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(imp)  # first call reads and stamps
    files = imp._files
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
        assert imp._files is files
    assert _load(imp, "mod_a").X == 1
    # the stock method re-reads on every call: what the wrapper saves
    zipimport.zipimporter.invalidate_caches(imp)
    assert imp._files is not files


def test_rewritten_archive_is_reread(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(imp)
    files = imp._files
    assert imp.find_spec("mod_b") is None

    # new size: re-read, and the new module imports
    _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files
    assert _load(imp, "mod_b").Y == 2

    # same size, new mtime: re-read too
    files = imp._files
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files

    # a missing archive is re-read (and emptied) exactly as the stock
    # method does
    os.remove(path)
    pydaemon.invalidate_caches(imp)
    assert imp._files == {}
