"""Keep unchanged zip archives' directories across invalidate_caches().

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before CPython 3.13
``zipimporter.invalidate_caches`` re-parses the archive's whole central
directory in pure Python, once per cached importer: a reused worker
holds two importers on the spark-core JAR (5,359 entries, ~53 ms each)
and a dozen on ``pyspark.zip`` (~13 ms each), ~270 ms of CPU per task
before any UDF runs. CPython 3.13 made the method drop the cache entry
instead.

:func:`install` wraps the method so that an archive whose
``(st_mtime_ns, st_size)`` is unchanged since its last read keeps the
directory already in ``zipimport._zip_directory_cache`` — the same key
CPython uses to validate a ``.pyc`` against its source. It also wraps
``zipimport._read_directory`` to stamp every read. A changed, vanished
or unstamped archive goes through the stdlib method exactly as before.
The stamps are per process, like the directory cache they guard.
"""

from __future__ import annotations

import os
import sys
import zipimport

# unwrap, so a reloaded or second copy of this module never wraps itself
_STDLIB_READ = getattr(zipimport._read_directory, "__wrapped__",
                       zipimport._read_directory)
_STDLIB = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                  zipimport.zipimporter.invalidate_caches)
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def read_directory(archive: str) -> dict:
    """The stdlib read, stamped. Every read goes through here — the
    zipimporter constructor's too — so an importer created during one
    task is not re-read by the next. The stat comes BEFORE the read: a
    rewrite racing the read changes the stamp again, and the next
    invalidate re-reads rather than keeping a torn view."""
    stamp = _stamp(archive)
    _STAMPS.pop(archive, None)
    files = _STDLIB_READ(archive)
    if stamp is not None:
        _STAMPS[archive] = stamp
    return files


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
    else:
        _STDLIB(self)


read_directory.__wrapped__ = _STDLIB_READ
invalidate_caches.__wrapped__ = _STDLIB


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` (and the directory read
    it stamps) on Python < 3.13; returns whether the wrapper is active.

    Archives already cached are read once more, stamped, here: a
    worker imports this module inside its first task, so every later
    task, the second included, finds them stamped. Idempotent."""
    if sys.version_info >= (3, 13):
        return False
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        if archive not in _STAMPS:
            try:
                zipimport._zip_directory_cache[archive] = read_directory(archive)
            except zipimport.ZipImportError:
                pass  # stays unstamped: the stdlib method handles it
    return True


INSTALLED = install()
