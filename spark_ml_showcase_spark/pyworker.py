"""Python daemon for the engine's executors: ``pyspark.daemon`` with zip
directories that stay cached across tasks.

``session_builder`` names this module in ``spark.python.daemon.module``, so
every Python worker the JVM forks runs under it from its first task.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py`` ``setup_spark_files``). On CPython before 3.13,
``zipimporter.invalidate_caches`` then eagerly re-reads the archive's
central directory, once for every zipimporter on ``pyspark.zip`` (one per
imported subpackage, ~16 over its 1,328 entries). That is 120-170 ms on a
4-core host before a Python task sees its first row: the floor under every
Arrow UDF, UDTF and ``mapInPandas`` stage. CPython 3.13 reads lazily.

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the stamp taken at its last read in this process.
A rewritten archive (a re-added py-file) is still re-read, and the
per-task ``invalidate_caches`` still clears every other finder's caches.
The daemon primes the stamps before it forks, so each worker inherits the
directories it would otherwise re-read.

This is a module and not an import-time patch of the package because a
by-value UDF (a UDTF class, a lambda) never imports the package.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_read_directory = zipimport._read_directory  # type: ignore[attr-defined]
_directory_cache = zipimport._zip_directory_cache  # type: ignore[attr-defined]
# archive path -> (st_mtime_ns, st_size) when this process last read it
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = _directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    try:
        self._files = _read_directory(self.archive)
    except zipimport.ZipImportError:
        _directory_cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}
        return
    _directory_cache[self.archive] = self._files
    if stamp is not None:
        # taken before the read: an archive rewritten meanwhile reads again
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and stamp
    every archive already imported from. A no-op from CPython 3.13, whose
    zipimporter reads lazily."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches  # type: ignore[method-assign]
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
