"""Keep Python workers from re-reading unchanged zip archives per task.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's
central directory on the spot, in pure Python, and a worker holds one
zipimporter per package directory it imported from an archive: about
16 over ``pyspark.zip`` (1,328 entries), so every task parsed some 21k
directory entries before reading its first row.

``install`` replaces that method, in a process that is running a Spark
task, with one that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since the last read, and
lets every importer of that archive share the one read.  An archive
that cannot be stat'ed falls through to the stdlib method.  On the
driver and on Python >= 3.13 (where invalidation only drops the cache
and re-reads lazily once) nothing is replaced.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat key at the read, the directory that read gave).
# Process-wide like zipimport's own _zip_directory_cache, which it
# mirrors: every zipimporter of the archive shares one entry.
_read_at: dict = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    """Reload the archive's directory if the file changed on disk."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        return _stdlib_invalidate(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    # The key is taken before the read, so a write racing the read
    # leaves an older key and the next call reads again.
    _stdlib_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None:          # unreadable: the stdlib dropped it
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = (key, files)


def _in_task() -> bool:
    # pyspark.worker imports pyspark.taskcontext before it runs a task;
    # a process that never imported it (a pure-library user) is not a
    # worker, so this never imports pyspark itself.
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` in a running Spark task
    on Python < 3.13; return whether the guard is in place."""
    if sys.version_info < (3, 13) and _in_task():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
