"""PySpark worker daemon that does not re-read unchanged zip archives.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it (``python -m mapreduce_lab_spark.daemon``) in place of
``pyspark.daemon``. It patches one method and then runs PySpark's own
daemon loop; the workers it forks inherit the patch.

Why: every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython before 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
central directory eagerly, once per importer. A worker imports from
``pyspark.zip`` (1,328 entries), the Spark core jar that Spark puts on
the worker path (5,359 entries) and py4j, which leaves 16 zip
importers: each task re-read 16 archives, 118-172 ms on a 4-core
machine, before it read its first row. CPython 3.13 made the re-read
lazy, so the patch is applied only before 3.13.

The patched method re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that directory was
last read, so a zip rewritten in place or one added by
``SparkContext.addPyFile`` is still picked up.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# Stat signature of each archive at the time its directory in
# zipimport's shared cache was read.
_read_at: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (no-op on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "__wrapped__", None) is not None:
        return
    cache = zipimport._zip_directory_cache

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        sig = _signature(self.archive)
        if sig is not None and _read_at.get(self.archive) == sig:
            files = cache.get(self.archive)
            if files is not None:
                # Another importer of the same archive may have re-read
                # it already: share that directory.
                self._files = files
                return
        reread(self)
        if sig is not None and self.archive in cache:
            _read_at[self.archive] = sig
        else:
            _read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # Record every archive the daemon has imported from, so that forked
    # workers start with signatures and their first task reads nothing.
    importlib.invalidate_caches()
    daemon.manager()
