"""Python worker daemon for the sessions ``get_spark`` builds
(``spark.python.daemon.module``).

pyspark's per-task ``setup_spark_files`` ends with
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory: ``pyspark.zip`` and the Spark jar, on every task.  This daemon
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
changed, so a new or rewritten archive is still seen, then runs
pyspark's own daemon.  The workers it forks inherit the change.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive may have re-read it
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp every archive once, before the fork
    daemon.manager()
