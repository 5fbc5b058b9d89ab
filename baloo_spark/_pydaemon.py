"""Spark's Python worker daemon, with zip-archive re-reads gated on change.

Every ``mapInPandas`` / ``pandas_udf`` task calls
``importlib.invalidate_caches()`` from ``pyspark.worker_util.
setup_spark_files``. On Python 3.11 that makes each ``zipimporter`` on
``sys.path_importer_cache`` re-read its archive's central directory
(``zipimport.zipimporter.invalidate_caches``) -- for ``pyspark.zip``
(~1.3k entries, ~16 importers) a fixed cost on every task, before the
user function runs.

``_invalidate_caches`` replaces that method: an archive is re-read only
when its ``(st_mtime_ns, st_size)`` differs from the stat taken before
its last read, and an archive that is gone is dropped from the cache as
before. The daemon installs it and reads each archive once, then hands
off to ``pyspark.daemon.manager()`` unchanged (worker-module argument,
fork per worker, own process group, exit when the JVM closes stdin);
forked workers inherit both, so a reused worker reads no archive again
until one changes (``SparkContext.addPyFile`` zips are new paths and
load through the path hooks as before).

Run as ``python -m baloo_spark._pydaemon <worker module>``;
``session.get_session`` selects it through ``spark.python.daemon.module``
where workers can import it.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches  # the stock method
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stat before its last read


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _stamps[self.archive] = stamp
        _reread(self)
    else:
        self._files = files


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
