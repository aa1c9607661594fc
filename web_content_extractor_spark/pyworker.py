"""Per-task setup guard for the Spark Python workers that run engine UDFs.

A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``).  Before
Python 3.13 that makes every ``zipimport.zipimporter`` on
``sys.path_importer_cache`` re-parse its archive's central directory in
pure Python: 16 importers over ``pyspark.zip``, the py4j zip and the
``spark-core`` jar, about 0.09-0.27 s of CPU per task.  ``install()``
makes that re-parse conditional on the archive having changed.
"""

from __future__ import annotations

import os
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size, st_ino), taken just before this
# process's last read of that archive's directory through the guard
_stamps: dict[str, tuple[int, int, int]] = {}


# Exactness contract: imports resolve exactly as with the stdlib method
# unless an archive is rewritten in place with the same st_mtime_ns,
# st_size and st_ino as at its last read in this process.  The stamp is
# taken before the read, so a rewrite that races the read is compared
# against the older stamp at the next check.
def _stat_checked_invalidate(self) -> None:
    """``zipimporter.invalidate_caches``: re-read the archive's directory
    only when its stat stamp differs from the one at its last read."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _STDLIB_INVALIDATE(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _STDLIB_INVALIDATE(self)
    _stamps[archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-checked
    version in this process.  Idempotent."""
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
