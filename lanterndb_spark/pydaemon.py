"""Python worker daemon for sessions built by ``session.get_spark``
(set as ``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker's ``sys.path_importer_cache`` holds a dozen
zipimporters over ``pyspark.zip`` and two over the Spark core jar: that
one call measured 130-330 ms per task inside the worker. The wrapper
below skips the re-read while the archive's ``(st_mtime_ns, st_size)``
is unchanged since this importer last read it; a changed or missing
archive is re-read exactly as before. The daemon stamps the importers
it already holds before it forks, so every worker inherits the stamps,
then runs PySpark's own daemon loop.

Run as ``python -m lanterndb_spark.pydaemon [worker module]``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed (or vanished) since this importer's last read."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_lantern_stamp", None):
        return
    _reread(self)
    self._lantern_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
