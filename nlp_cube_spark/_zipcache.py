"""Stat-guarded reuse of zip import directories.

pyspark's Python worker calls `importlib.invalidate_caches()` before every
task (`worker_util.setup_spark_files`). Under CPython 3.11 that makes each
`zipimport.zipimporter` in `sys.path_importer_cache` re-read the whole
central directory of its archive. A reused worker holds 17-18 of them:
12 for `pyspark.zip` (one per imported pyspark subpackage path), 2 each for
the spark-core jar and the py4j zip, and 1-2 for this package's `addPyFile`
zip. That re-read cost 0.1-0.35 s per task on 4 vCPU, though none of these
archives changes while a session runs.

`install()` wraps `zipimporter.invalidate_caches` so it stats the archive
first. When `(st_mtime_ns, st_size, st_ino)` equals the stat taken before
this process last read that archive, and `zipimport._zip_directory_cache`
still holds the directory that read produced, the importer takes that
directory and nothing is read. Every other case (a changed, new, deleted
or never-seen archive) calls the stdlib method, so it behaves exactly as
without the guard.

The package `__init__` installs it, so a worker has it from the first task
that unpickles a product closure; its later tasks skip the re-read. Python
3.12 reworked the zipimporter internals (no `_files` attribute), so the
guard is installed only before 3.12.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def installed() -> bool:
    """Whether this process's zipimporters go through the guard."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Install the guard once per process; True when it is in place."""
    if sys.version_info >= (3, 12):
        return False
    if installed():
        return True
    stdlib = zipimport.zipimporter.invalidate_caches
    # archive path -> (stat stamp taken before the read, directory it read)
    last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            last_read.pop(archive, None)
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last_read.get(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if seen is not None and seen[0] == stamp and seen[1] is files:
            self._files = files
            return
        stdlib(self)
        files = zipimport._zip_directory_cache.get(archive)
        if files is None:
            last_read.pop(archive, None)
        else:
            last_read[archive] = (stamp, files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
