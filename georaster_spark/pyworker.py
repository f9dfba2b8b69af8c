"""PySpark worker daemon (``spark.python.daemon.module``) whose zip
importers re-read an archive's directory only when the archive changed.

Before every task the worker calls ``importlib.invalidate_caches()``.
On CPython 3.11 each ``zipimporter`` then parses its archive's whole
central directory again: ``pyspark.zip``, the py4j zip and the
spark-core jar on the worker path are ~27k entries, 0.1-0.4 s a task.
Here an importer reuses ``zipimport._zip_directory_cache`` while the
archive's ``(st_mtime_ns, st_size)`` is the one last read, so an
archive rewritten in place is still re-read. Forked workers inherit
the patched method and the stamps the daemon primed before forking.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# the pure-Python internals the swap relies on
SUPPORTED = hasattr(zipimport, "_zip_directory_cache") and hasattr(zipimport, "_read_directory")

_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _make_invalidate(stock):
    def invalidate_caches(self):
        """Reload the archive's directory if it changed since last read."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        _stamps[self.archive] = stamp

    invalidate_caches.stock = stock
    return invalidate_caches


def install() -> bool:
    """Swap in the stamp-checked ``invalidate_caches``. Returns False,
    keeping the stock method, where zipimport lacks the pure-Python
    internals this relies on. CPython 3.12+ still has them, so the swap
    installs there too: its stock method only drops the cached
    directory (gh-103200) for the next lookup to re-read, and the swap
    keeps it while the archive is unchanged (the ``_files`` it sets is
    unused there)."""
    if not SUPPORTED:
        return False
    zi = zipimport.zipimporter
    if not hasattr(zi.invalidate_caches, "stock"):
        zi.invalidate_caches = _make_invalidate(zi.invalidate_caches)
    return True


if __name__ == "__main__":
    from pyspark import daemon  # puts the worker path's archives in use

    if install():
        importlib.invalidate_caches()  # stamp each archive once, before forking
    daemon.manager()
