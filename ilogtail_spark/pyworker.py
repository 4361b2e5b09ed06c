"""Per-task import set-up in PySpark's Python workers, on CPython < 3.13.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes each
cached ``zipimporter`` re-read its archive's whole directory (a worker
holds about 16 over ``pyspark.zip``, 1 328 entries), whether or not the
archive changed. :func:`install` re-reads only an archive whose
``(st_mtime_ns, st_size)`` differs from what that importer last read, or
that cannot be stat'ed: what 3.13 ends up doing for an unchanged archive.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Replace ``zipimporter.invalidate_caches``; idempotent, and a no-op
    on CPython 3.13+ (whose invalidation is already lazy)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_read_sig", None):
            reread(self)
            self._read_sig = sig

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches
