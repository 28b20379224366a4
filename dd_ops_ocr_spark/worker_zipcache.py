"""Stat guard for zip-archive re-reads in reused PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory at
once. A worker holds about 16 importers over Spark's ``pyspark.zip``
(1,328 entries), so each task pays 80-160 ms (on a 4-core x86 VM)
before it runs any code. CPython 3.13 made the re-read lazy.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_ctime_ns,
st_size, st_ino)`` differs from the signature taken before the directory
the importer holds was read. A rewritten ``--py-files`` zip is still
re-read; a missing archive takes the original path. All importers over
one archive share one read. The package calls ``install()`` on import;
it acts only inside a Spark Python task on CPython < 3.13, so the
driver is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat signature taken before the read, directory read)
_dirs: dict[str, tuple[tuple[int, int, int, int], dict]] = {}
_original = None


def _signature(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if it changed on disk."""
    archive = self.archive
    try:
        sig = _signature(archive)
    except OSError:
        _original(self)
        return
    seen = _dirs.get(archive)
    if seen is None or seen[0] != sig:
        _original(self)
        if self._files:  # an unreadable archive is retried next time
            _dirs[archive] = (sig, self._files)
        return
    self._files = seen[1]
    zipimport._zip_directory_cache[archive] = seen[1]


def install() -> bool:
    """Install the guard in a Spark Python worker; True if this call did.

    Idempotent. A no-op on CPython >= 3.13 and wherever no Spark task is
    running (``TaskContext.get() is None``), such as the driver."""
    global _original
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches is _invalidate_caches:
        return False
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is None:
        return False
    _original = cls.invalidate_caches
    cls.invalidate_caches = _invalidate_caches
    # Record a signature for the importers that already exist (one read
    # per archive), so the next task's invalidation reads nothing.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True
