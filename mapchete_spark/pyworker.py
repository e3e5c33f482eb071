"""Per-task cost of a reused Spark Python worker.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive, and there is one zipimporter per package directory
imported from a zip: ``pyspark.zip`` alone has a dozen, plus two over
the ``spark-core`` jar (5359 entries) and the shipped ``mapchete_spark``
zip: ~26k directory entries parsed per task. Measured on 4 vCPUs with
four tasks at once, that put a trivial task's first row 200-400 ms
after its job started; with the cache below, 50-100 ms.
"""

from __future__ import annotations

import os
import sys
import zipimport


def cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its size or mtime changed since the last read, once per archive
    rather than once per zipimporter. Python 3.13 made the call lazy
    (the next lookup re-reads), so there it is left as is. Idempotent."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "cached_by_mapchete_spark", False):
        return
    read_at = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = sig

    invalidate_caches.cached_by_mapchete_spark = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def in_spark_task() -> bool:
    """True inside a Spark Python worker running a task; never imports
    pyspark."""
    pyspark = sys.modules.get("pyspark")
    return pyspark is not None and pyspark.TaskContext.get() is not None
