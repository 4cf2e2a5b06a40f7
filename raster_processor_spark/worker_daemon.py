"""Engine Python worker daemon: ``pyspark.daemon`` plus a zip directory
cache that is re-read only when its archive changes.

At every task start PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.setup_spark_files``), so that zips shipped with
``addPyFile`` become importable. On Python 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call eagerly re-reads its archive's
whole central directory. A warm worker holds ~16 of them: one per package
directory imported from ``pyspark.zip`` (1,328 entries), plus ``py4j`` and
the ``spark-core`` jar (5,359 entries). Measured inside warm workers on a
4-core host, that one call took 118-215 ms of every task.

``install()`` replaces the method with ``invalidate_caches`` below, which
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken at that importer's last read: the same staleness rule as
the parquet metadata memo in ``sources/tables.py``.

Why it is safe: the skipped work is re-reading install files that never
change. A zip that ``addPyFile`` ships again, or rewrites in place, changes
size or mtime and is re-read as before; a vanished archive still empties its
importer. The JVM starts this module as ``python -m
raster_processor_spark.worker_daemon`` (``spark.python.daemon.module``,
set by ``session.get_spark``) and the daemon forks every Python worker, so
each worker inherits the patch, and the daemon's stamps, from its first
task on.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the archive
    changed since this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_rps_stamp", None):
        return
    # stamp before reading: a write racing the read leaves a stale stamp,
    # which only causes one more re-read next time
    _reread(self)
    self._rps_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    from pyspark import daemon

    # stamp every importer the daemon holds now, so forked workers skip
    # even their first re-read
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module's copy, not this ``__main__`` one, so
    # workers see ``raster_processor_spark.worker_daemon.invalidate_caches``
    from raster_processor_spark.worker_daemon import main as _main

    _main()
