"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.12 (gh-103200 made it lazy), ``zipimporter.invalidate_caches`` re-reads the
archive's whole central directory on each call, and a reused worker holds
many zipimporters over ``pyspark.zip`` (1,300+ entries) and the py4j zip:
0.15-0.22 s of fixed cost per Python task on a 4-core host, more than many
of the engine's kernels take.

``install()`` wraps the method so that it re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken when its directory
was last read; otherwise the importer takes the shared, still-current
directory from ``zipimport._zip_directory_cache``. A rewritten archive is
read again as before. The package ``__init__`` calls it, so every Python
worker that unpickles an engine function installs it once.
"""

from __future__ import annotations

import os
import sys

# archive path -> (st_mtime_ns, st_size) at its last directory read; the
# directory cache it guards is process-wide too (zipimport's own)
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` once per process.
    A no-op on Python >= 3.12 and where there is no zipimporter."""
    zipimport = sys.modules.get("zipimport")  # imported at startup when in use
    cls = getattr(zipimport, "zipimporter", None)
    if sys.version_info >= (3, 12) or cls is None or installed():
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # stamp, which only forces one more read on the next call
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        _read_stamps[self.archive] = stamp

    invalidate_caches.skips_unchanged_archives = True
    cls.invalidate_caches = invalidate_caches


def installed() -> bool:
    """True when this process's zipimporters skip unchanged archives."""
    cls = getattr(sys.modules.get("zipimport"), "zipimporter", None)
    return bool(getattr(getattr(cls, "invalidate_caches", None), "skips_unchanged_archives", False))
