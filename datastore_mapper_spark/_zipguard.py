"""Skip zip-archive directory re-reads when the archive has not changed.

When the cost appears: CPython 3.11 with pyspark imported from a zip on
the Python worker's path (``$SPARK_HOME/python/lib/pyspark.zip``, 1,328
entries in Spark 4.1).  Every invocation of a Spark Python worker or
planner module (``pyspark.worker``, ``create_data_source``,
``plan_data_source_read``, ``analyze_udtf``, the streaming runners)
runs ``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On 3.11 that makes every
``zipimport.zipimporter`` re-read its archive's whole central
directory, and there is one importer per imported subpackage (15 after
``pyspark.worker`` plus the two data-source planners).  Timed on its
own on a 4-core VM, one ``invalidate_caches()`` took 113-167 ms, paid
at the start of every Python task and every planner call whatever the
data size: a ``datastore_entity`` mapper op paid it three times in a
row (``schema()``, ``partitions()``, each scan task's ``read()``).

:func:`install` wraps ``zipimporter.invalidate_caches``: an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from the state of the last read this guard made of that archive.
Otherwise it takes that read's directory, which describes the archive
as it is now.  This is the check CPython itself uses to validate a
``.pyc`` against its source (mtime and size).  An archive that really
changes, such as a re-added ``addPyFile`` zip, is still re-read, and
an archive the guard has not read yet is read on its first
invalidation.  Workers unpickle engine code, so they import this
package and install the guard; reused workers then skip the re-read
from their second invocation on.  Workers that import pyspark from a
directory have no zip importers, and the guard never runs.
"""

from __future__ import annotations

import functools
import os
import zipimport

# archive path -> ((st_mtime_ns, st_size) before the read, directory read)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _wrap(reread):
    @functools.wraps(reread)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        seen = _reads.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat BEFORE the read: a change racing the read leaves a stale
        # key behind, so the next call re-reads rather than missing it
        reread(self)
        if key is not None and zipimport._zip_directory_cache.get(
                self.archive) is self._files:
            _reads[self.archive] = (key, self._files)
        else:
            _reads.pop(self.archive, None)

    return invalidate_caches


def install() -> None:
    """Install the guard once per process (idempotent)."""
    cls = zipimport.zipimporter
    if not hasattr(cls.invalidate_caches, "__wrapped__"):
        cls.invalidate_caches = _wrap(cls.invalidate_caches)
