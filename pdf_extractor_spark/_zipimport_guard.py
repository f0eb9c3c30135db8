"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task.  Before CPython 3.13, each cached ``zipimporter`` then re-parses its
archive's whole central directory; a worker holds about a dozen of them on
``pyspark.zip`` and the Spark jar, so that one call costs ~200 ms per task.
3.13 made the call lazy.  On older Pythons this wraps it so an importer whose
archive still has the ``(st_ino, st_size, st_mtime_ns)`` it saw at its last
re-read returns at once; a changed or unreadable archive is re-read as before.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (once per process, < 3.13 only)."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            original(self)  # stat first: a change during the read shows next time
            self._archive_stamp = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
