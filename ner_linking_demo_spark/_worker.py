"""Stat-guarded zip-archive refresh for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, every cached ``zipimporter`` then re-reads its archive's whole
directory. A worker holds about 16 of them: ``pyspark.zip`` (1,328
entries) and 12 of its subpackage prefixes, the py4j zip and the
spark-core jar. On a 4-vCPU box that is 120-210 ms of CPU per task, most
of what a reused worker spends before a task's first batch. CPython 3.13
made the re-read lazy.

``install`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp taken before its last read; an unchanged archive costs
one ``stat``, and a rewritten one is re-read as before. The package
``__init__`` installs it only inside a worker task on CPython < 3.13.
"""

from __future__ import annotations

import os
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp before the read, the directory that read produced);
# process-wide like the stdlib's ``_zip_directory_cache`` it stands beside
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since its last read. Every importer of one archive
    shares that read, as the stdlib's ``_zip_directory_cache`` does."""
    stamp = _stamp(self.archive)
    known = _directories.get(self.archive)
    if stamp is not None and known is not None and known[0] == stamp:
        self._files = known[1]
        zipimport._zip_directory_cache[self.archive] = known[1]
        return
    # the stamp is taken before the read, so a write racing the read
    # leaves a stale stamp and the next call reads again
    _STDLIB_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _directories[self.archive] = (stamp, self._files)
    else:
        _directories.pop(self.archive, None)


def install() -> None:
    """Use the stat-guarded refresh for every ``zipimporter`` of this
    process. Idempotent."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
