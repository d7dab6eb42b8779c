"""Cheap Python task start: skip re-reading unchanged zip archives.

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task (`pyspark.worker_util.setup_spark_files`). On CPython 3.10 and 3.11,
`zipimport.zipimporter.invalidate_caches` re-reads its archive's whole
directory eagerly, and a worker holds one importer per zip path entry:
`pyspark.zip` and its subpackage paths, the py4j zip and the spark-core jar.
That is ~130 ms of CPU per task before any engine code runs. CPython 3.12
made the method lazy (gh-103200), so the guard applies to 3.10-3.11 only.

`install()` replaces the method with one that re-reads an archive only when
its (inode, size, mtime) differ from what this importer saw at its last
read, so an archive rewritten or replaced in place is still re-read. When
the stat fails (the archive is gone), the original method runs and empties
the importer's file list as before.

`pisa_spark/__init__.py` calls `install()`, and every executor-side engine
function imports that package, so a reused worker keeps the guard for every
task after its first engine task. The first task of a newly forked worker
still pays the full re-read once, because `setup_spark_files` runs before
that task's function is unpickled; the first guarded call of each importer
also reads once, since it cannot know when the importer last read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

APPLIES = (3, 10) <= sys.version_info[:2] < (3, 12)


def install() -> None:
    """Guard `zipimporter.invalidate_caches`; idempotent, a no-op off 3.10-3.11."""
    if not APPLIES or hasattr(zipimport.zipimporter.invalidate_caches,
                              "__wrapped__"):
        return
    original = zipimport.zipimporter.invalidate_caches

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_stat = None
            return original(self)
        seen = (st.st_ino, st.st_size, st.st_mtime_ns)
        if getattr(self, "_archive_stat", None) != seen:
            original(self)
            self._archive_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches
