"""The engine's Python-worker daemon: ``pyspark.daemon`` minus a per-task
re-read of Spark's zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.11 that makes
every cached ``zipimporter`` parse its archive's central directory again,
and a worker holds 14-16 of them over ``pyspark.zip`` (3.5 MB). That was
most of the ~250 ms of CPU a no-op pandas task cost, spent on archives
that never change. Here an importer re-reads its archive only when the
file's (mtime, size, inode) stamp differs from the one it last read, so a
zip added by ``addPyFile`` (a new importer) or replaced in place (a new
stamp) is still read afresh.

Run as ``python -m milvus_spark.pyworker`` via ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """Reload the archive's file data only if the archive changed since
    this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_milvus_spark_stamp", None):
        _read_archive(self)
        self._milvus_spark_stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # stamp every importer cached so far, so forked workers start current
    importlib.invalidate_caches()
    manager()
