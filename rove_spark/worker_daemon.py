"""Python worker daemon for sessions built by ``session.get_spark``.

Spark launches this module (``spark.python.daemon.module``) instead of
``pyspark.daemon``. Before handing over to ``pyspark.daemon.manager`` it
replaces the stock ``zipimport.zipimporter`` with `StampedZipImporter`,
both as the path hook and for every importer already cached, so the
forked workers inherit it.

Why: every Python task runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 the stock
zip importer answers that call by re-parsing the archive's whole central
directory, and a worker holds one importer per package path inside
``pyspark.zip`` (1,328 entries), the spark-core jar (5,359 entries) and
py4j. That cost 0.24 CPU s per task, in reused workers too. The stamped
importer re-reads only when the archive's ``(st_mtime_ns, st_size)`` has
changed, so a zip rewritten in place is still picked up.

The daemon starts before any task ships ``--py-files``, so this package
must be on the executors' ``PYTHONPATH`` (``get_spark`` sets
``spark.executorEnv.PYTHONPATH``).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose ``invalidate_caches`` skips the re-read while
    the archive's stat stamp is unchanged."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == self._stamp:
            return
        super().invalidate_caches()
        self._stamp = stamp


def install() -> None:
    """Swap the zip path hook and every cached stock zip importer for
    `StampedZipImporter` in this process."""
    sys.path_hooks[:] = [
        StampedZipImporter if h is zipimport.zipimporter else h
        for h in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[entry] = StampedZipImporter(entry)
            except zipimport.ZipImportError:
                pass  # archive gone since it was cached: leave the stock one


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
