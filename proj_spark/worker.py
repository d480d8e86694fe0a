"""PySpark daemon module that stops Python tasks re-reading zip archives.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  On
Python 3.11 that makes each ``zipimporter`` on ``sys.path`` re-read its
archive's whole central directory, and every package inside the
archive has an importer of its own: for ``pyspark.zip`` (1,328 entries)
one call costs about 0.1 s of an idle core, and a task waits 0.2-0.3 s
for it before its first row.

:func:`invalidate_caches` replaces ``zipimporter.invalidate_caches``: an
archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read this process made, and an importer whose
archive is unchanged takes the directory that read cached.  Every other
finder keeps its behaviour, so a rewritten archive or a file added by
``addPyFile`` is still seen by the next task.

``proj_spark.session.build_session`` runs this module as the daemon
(``spark.python.daemon.module``): it installs the replacement, makes
the one full read in the daemon so that every forked worker starts
from it, and hands over to ``pyspark.daemon.manager()``.  Nothing else
is imported before the fork.
"""
from __future__ import annotations

import importlib
import os
import zipimport

_read_directories = zipimport.zipimporter.invalidate_caches
# archive path -> stat signature when this process last read it
_read_at: dict[str, tuple[int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since the last read."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files
        return
    # the signature is taken before the read: a write racing the read
    # leaves a stale signature, which only costs one more read later
    _read_directories(self)
    if sig is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = sig


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
