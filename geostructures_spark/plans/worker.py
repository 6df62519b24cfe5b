"""Set-up of the PySpark Python-worker processes that run the engine's UDFs.

Every task a Python worker runs starts with pyspark's ``setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython < 3.13 that makes
every ``zipimporter`` re-read its archive's whole central directory, in pure
Python, before a single row moves: a worker holds one importer per imported
package inside ``pyspark.zip`` (1,328 entries), the Spark jar and the py4j
zip, about 28k directory entries per task (~0.15 CPU-s on a 4-vCPU host).
CPython 3.13 invalidates lazily and pays none of this.
"""

from __future__ import annotations

import os
import sys

__all__ = ['lazy_zip_invalidation']

_WORKER_MAINS = ('pyspark.worker', 'pyspark.daemon')


def _in_pyspark_worker() -> bool:
    if 'pyspark.worker' in sys.modules:
        return True
    spec = getattr(sys.modules.get('__main__'), '__spec__', None)
    return getattr(spec, 'name', None) in _WORKER_MAINS


def lazy_zip_invalidation() -> None:
    """Inside a PySpark worker, re-read a zip archive's directory only when
    the archive has changed since its last read.

    ``zipimporter.invalidate_caches`` keeps the archive's cached directory
    while ``(st_ino, st_size, st_mtime_ns)`` of the archive equals the stat
    taken at its last read; otherwise (changed, never read through here, or
    ``stat`` fails) it calls the stdlib method. So an archive appended to or
    replaced in place is still re-read, and the importers of one archive
    share one read.

    Called when ``geostructures_spark`` is imported. It acts only inside a
    worker (``pyspark.worker`` imported, or ``__main__`` is
    ``pyspark.worker``/``pyspark.daemon``): drivers, test runners and users'
    processes keep the stock ``zipimport``, as importing this library must
    not change a user's process-global state. A no-op on CPython >= 3.13,
    which already invalidates lazily, and when already installed.
    """
    if sys.version_info >= (3, 13) or not _in_pyspark_worker():
        return
    import zipimport
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, 'lazy_zip_invalidation', False):
        return
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        stock(self)
        read_at[self.archive] = key

    invalidate_caches.lazy_zip_invalidation = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
