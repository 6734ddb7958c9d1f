"""Stop the engine's Python workers from re-reading zip archives per task.

At the start of every task ``pyspark.worker`` calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
which calls ``invalidate_caches`` on every importer in
``sys.path_importer_cache``. The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300 entries), and every
imported pyspark sub-package gets a ``zipimport.zipimporter`` of its
own. On CPython 3.11 and older, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory in pure Python, once
per importer, on every call: about 0.13 s of CPU before each task
starts (measured on CPython 3.11.7, pyspark 4.1). CPython 3.12 made the
step lazy: it only drops the cached directory, and the next import
from that archive re-reads it. There :func:`guard_zip_caches` does
nothing.

:func:`guard_zip_caches` replaces the method, once per process, with
one that skips the re-read while the archive's ``(st_ino, st_size,
st_mtime_ns)`` is unchanged since it was last read. An archive that
really changes is still re-read, so a rewritten ``--py-files`` zip still
shows its new modules. Every Python UDF in the package calls it first:
cloudpickle pickles a package-level function by reference, so
unpickling any of the engine's UDFs imports this module in the worker,
and every later task in that reused worker skips the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory dict) of its last re-read; the
# importers of one archive share the dict, as zipimporter.__init__
# shares zipimport._zip_directory_cache
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reread(self)
        return
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == key:
        self._files = last[1]
        return
    _reread(self)
    _last_read[self.archive] = (key, self._files)


def guard_zip_caches() -> None:
    """Install the stat-guarded ``zipimporter.invalidate_caches`` in
    this process (idempotent; a no-op on CPython 3.12+)."""
    if sys.version_info < (3, 12) and (
        zipimport.zipimporter.invalidate_caches is not _invalidate_caches
    ):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
