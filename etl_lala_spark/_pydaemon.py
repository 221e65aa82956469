"""Python-worker daemon: the stock ``pyspark.daemon`` minus a per-task zip re-read.

Every Python task starts with ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.12 (gh-103200) that makes
each ``zipimporter`` -- one per package imported from ``pyspark.zip`` -- re-read
the whole zip directory: 0.13-0.44 s per task on a 4-core host. Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs from the
last read, so new ``addPyFile`` paths still get fresh importers and a
rewritten archive is still re-read.

Spark starts it as ``python -m etl_lala_spark._pydaemon <worker module>``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

import os
import sys
import zipimport


def stat_checked_invalidate_caches() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a stat-checked version."""
    stock = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stat key at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a rewrite in between leaves a stale key, which
        # costs one more read on the next call, never a stale directory
        stock(self)
        read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        import importlib

        stat_checked_invalidate_caches()
        # read each archive once here, so forked workers start with its key
        importlib.invalidate_caches()
    daemon.manager()
