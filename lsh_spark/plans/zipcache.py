"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zips.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``).  Before CPython
3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory at once: one importer per
package directory imported from ``pyspark.zip`` (16 after a pandas-UDF
task), each re-parsing the same ~1300-entry directory.  Measured on a
4-core host, that is most of the ~200 ms a 10-row pandas-UDF task spends
before the UDF runs.  CPython 3.12 re-reads lazily and needs no guard.

The guard makes the re-read conditional: an archive whose
``(st_mtime_ns, st_size)`` matches the last read keeps the directory
already in ``zipimport._zip_directory_cache``.  A rewritten archive is
re-read as before, and an archive that cannot be stat'ed takes the stock
path (which drops it from the cache).  Workers install it by importing
``lsh_spark`` when they unpickle a library UDF, so it covers every task
after a worker's first.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` once per process
    (no-op on CPython >= 3.12)."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    if getattr(stock, "_skips_unchanged", False):
        return
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return None
        # stamp taken before the read: a write racing the read leaves a
        # stale stamp, so the next call re-reads again (never the reverse);
        # a failed read drops the cache entry, which forces a re-read too
        stock(self)
        read_at[self.archive] = stamp
        return None

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
