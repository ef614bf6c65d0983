"""Skip re-reading unchanged zip archives in ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task and every Python data-source planning call
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark from
``pyspark.zip`` (about 1,300 entries), and before Python 3.13 every cached
``zipimporter`` on that archive -- one per package imported from it -- then
re-reads the archive's whole central directory: about 0.15 s of CPU per task,
more than a small task's own work. Python 3.13 drops the cache lazily instead.

On older Pythons ``zipimporter.invalidate_caches`` is replaced by a version
that re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
changed since it was last read, so ``addPyFile`` and rewritten archives are
still picked up. Importing the package installs it, which every worker that
unpickles engine code does.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stat stamp taken before the read, file data it read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    last = _last_read.get(archive)
    if stamp is None or last is None or last[0] != stamp:
        _stdlib_invalidate_caches(self)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is None or files is None:  # unreadable: stdlib emptied it
            _last_read.pop(archive, None)
            return
        last = _last_read[archive] = (stamp, files)
    self._files = zipimport._zip_directory_cache[archive] = last[1]


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
