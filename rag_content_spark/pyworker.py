"""PySpark daemon for this engine's Python workers.

The JVM starts it as ``python -m rag_content_spark.pyworker`` (see
``spark.python.daemon.module`` in :mod:`rag_content_spark.session`).
It installs :func:`install_zip_guard`, then runs PySpark's own daemon;
every Python worker is forked from it and inherits the guard.

Why: before each task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before Python 3.13, every
``zipimporter`` then re-reads its whole archive directory at once, and
a worker holds one ``zipimporter`` per package it imported from
``pyspark.zip`` (1,328 entries): about 200 ms of CPU per task, even
for a task that does nothing. Python 3.13 only drops the cache there
and re-reads lazily, so the guard is not installed from 3.13 on.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` keep the directory of an
    archive that has not changed since it was last read. A changed
    archive, or one read for the first time, is re-read as before, so a
    zip added with ``sc.addPyFile`` or rewritten at the same path is
    seen exactly as without the guard. The archives already read count
    as read now. Returns whether the guard is installed (never on
    Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive -> (st_ino, st_size, st_mtime_ns) as of its last read
    stamps = {archive: _stamp(archive) for archive in cache}

    def invalidate_caches(self):
        now = _stamp(self.archive)
        if now is not None and stamps.get(self.archive) == now and self.archive in cache:
            self._files = cache[self.archive]
            return
        # stamp before the read: a write racing it shows up next time
        reread(self)
        stamps[self.archive] = now

    invalidate_caches.keeps_unchanged_zips = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # pyspark.daemon imports pyspark.worker: pyspark.zip is read here,
    # once, before the first worker forks
    from pyspark import daemon

    install_zip_guard()
    daemon.manager()
