"""Stat-stamped ``zipimporter.invalidate_caches`` for PySpark Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
that makes every cached ``zipimporter`` re-read its whole archive directory
in pure Python: about a dozen importers on ``pyspark.zip``, the Spark jars
and the package zip, 140-185 ms of each task's CPU. CPython 3.12 made the
re-read lazy (gh-103200); this module does the same for older versions by
re-reading an archive only when its ``stat`` has changed.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when its
    ``(st_ino, st_size, st_mtime_ns)`` differs from the one taken when that
    importer last read it. A no-op on CPython >= 3.12.

    The importers already cached are stamped as they are: a worker imports
    this package while unpickling a task's function, after that task's
    ``invalidate_caches()`` re-read every one of them. A reused worker thus
    pays the full re-read once, in its first task. An importer created later
    has no stamp and re-reads on its next ``invalidate_caches()``."""
    if sys.version_info >= (3, 12):
        return
    stdlib = zipimport.zipimporter.invalidate_caches

    def _stamp(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        # stat before the read: an archive rewritten during the read gets a
        # new stamp, so the next call reads it again
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stat_stamp", None):
            stdlib(self)
            self._stat_stamp = stamp

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stat_stamp = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
