"""Python daemon module for the Spark workers: skip unchanged zip re-reads.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-parses the whole archive
directory in pure Python. A worker's path holds a dozen importers on
``pyspark.zip`` (about 10 ms per read) and two on the spark-core jar
(5,359 entries, about 46 ms per read), so each task paid about 0.2 s
before its kernel ran. Python 3.12 made the re-read lazy
(https://github.com/python/cpython/issues/103200); on 3.11 it is not.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts it as ``python -m rasters_spark.pyworker``; it installs a
guarded ``invalidate_caches`` and then hands over to
``pyspark.daemon.manager()``, so every forked worker inherits the guard.
(The daemon is the only hook: ``pyspark.daemon`` loads a custom *worker*
module only when its name starts with ``pyspark``.)

The guard re-reads an archive only when its ``(st_ino, st_mtime_ns,
st_size)`` differs from the last read in this process; otherwise it
points the importer at the cached directory. A rewritten, replaced or
newly added archive is still re-read, and a missing one gets the stdlib
behaviour. (An in-place rewrite that keeps the size and lands within the
filesystem's timestamp tick would go unseen; Spark writes the files it
ships once.) On Python 3.12+ nothing is patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_mtime_ns, st_size) taken just before its last read
_read_stamps: dict[str, tuple[int, int, int]] = {}
_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _guarded_invalidate_caches(self) -> None:
    """Re-read ``self.archive`` only if it changed since this process read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stamp taken before the read: a write racing the read leaves a stale
    # stamp, which costs one more re-read instead of hiding the change
    _stdlib_invalidate_caches(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


_guarded_invalidate_caches.rasters_spark_guard = True


def install() -> bool:
    """Install the guard on Python < 3.12; return whether it is active."""
    if sys.version_info >= (3, 12):
        return False
    if not installed():  # a second import of this module must not wrap the guard
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    return True


def installed() -> bool:
    """Whether this process's zip importers run the guard."""
    return getattr(zipimport.zipimporter.invalidate_caches, "rasters_spark_guard", False)


if __name__ == "__main__":
    if install():
        import importlib

        # read (and stamp) every archive once in the daemon, so the forked
        # workers start with stamps and their first task skips the re-read
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
