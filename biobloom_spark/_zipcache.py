"""Cheap per-task zip-import cache invalidation in Spark Python workers.

Before every task, PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``.  Up to CPython 3.12 that makes every
``zipimporter`` on the worker's import path re-read its archive's whole
central directory at once.  A worker holds about 16 of them:
``pyspark.zip`` and its packages, the py4j zip and the Spark core jar, about
27,000 directory entries.  On a 4-CPU host that cost 0.17-0.24 s per task
before the task's kernel started.  CPython 3.13 defers the re-read to the
importer's next lookup (``zipimporter._get_files``).

``install`` swaps ``zipimporter.invalidate_caches`` for
``stat_gated_invalidate_caches``: an importer re-reads its archive only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken
at its last re-read, or when the archive cannot be stat'ed.  A rewritten or
removed archive therefore behaves exactly as with the stock method.  The
first call on each importer has no stamp yet and always re-reads.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
# a second copy of this module must wrap the stock method, not the patch
_stock = getattr(_stock, "__wrapped__", _stock)


def _stamp(path: str):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def stat_gated_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        # stat before the read: a rewrite during the read changes the
        # stamp and the next call reads again
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_biobloom_stamp", None):
        return
    _stock(self)
    self._biobloom_stamp = stamp


stat_gated_invalidate_caches.__wrapped__ = _stock


def install() -> bool:
    """Patch ``zipimporter`` in this process if it is a Spark Python worker
    on an interpreter with the eager re-read; idempotent.  Returns whether
    this call patched it."""
    zi = zipimport.zipimporter
    if _stock is None or hasattr(zi, "_get_files"):
        return False  # no per-importer invalidation, or it is lazy already
    if hasattr(zi.invalidate_caches, "__wrapped__"):
        return False  # installed
    pyspark = sys.modules.get("pyspark")  # never import it on the driver
    task_context = getattr(pyspark, "TaskContext", None)
    if task_context is None or task_context.get() is None:
        return False  # not inside a Spark task
    zi.invalidate_caches = stat_gated_invalidate_caches
    return True
