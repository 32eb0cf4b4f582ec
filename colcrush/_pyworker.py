"""Per-task setup cost of reused Spark Python workers.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.12 that makes every
``zipimport.zipimporter`` re-read its archive's whole central
directory: the 16 importers that pyspark.zip (1,328 entries) and the
py4j zip put on a worker's ``sys.path`` cost ~0.2 CPU-s per task, most
of a trivial ``mapInArrow`` task. CPython 3.12 made the re-read lazy.

``install()`` keeps the stock semantics (a changed archive is re-read,
so ``addPyFile``-style updates still import) but skips the re-read
while the archive's ``(st_mtime_ns, st_size, st_ino)`` stamp matches
the last one. Stamps are kept per archive, so the importers over one
zip share one re-read and cost one ``stat`` each. ``colcrush`` installs
it on import, which every engine worker function does on first
unpickle.
"""

from __future__ import annotations

import os
import sys


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the stat guard.
    Idempotent; a no-op on Python 3.12 and later."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_colcrush_stat_guard", False):
        return
    # stamp of each archive at its last full re-read
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        # stat BEFORE reading: a rewrite racing the read leaves a stale
        # stamp, so the next call re-reads again (never the reverse)
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        stock(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches.__doc__ = stock.__doc__
    invalidate_caches._colcrush_stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
