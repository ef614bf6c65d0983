"""Two fixes for modules that Python < 3.13 imports from zip archives.

PySpark's Python processes import pyspark from ``pyspark.zip`` (about 1,300
entries), which ships no ``.pyc`` files.

1. **No directory re-read per task.** The worker calls
   ``importlib.invalidate_caches()`` before every task and every Python
   data-source planning call (``pyspark.worker_util.setup_spark_files``).
   Every cached ``zipimporter`` on the archive -- one per package imported
   from it -- then re-reads the archive's whole central directory: about
   0.15 s of CPU per task, more than a small task's own work. Python 3.13
   drops the cache lazily instead. ``zipimporter.invalidate_caches`` is
   replaced by a version that re-reads an archive only when its
   ``(st_ino, st_size, st_mtime_ns)`` changed since it was last read, so
   ``addPyFile`` and rewritten archives are still picked up. Importing the
   package installs it, which every worker that unpickles engine code does.

2. **No recompile per process.** Every fresh interpreter compiles what it
   imports from the archive again: about 1 s of CPU before a daemon or a
   streaming runner serves anything. ``zipimport._compile_source`` is
   wrapped in a content-keyed bytecode cache, one file per code object,
   keyed on the source bytes, the path the code object records
   (``co_filename``), ``importlib.util.MAGIC_NUMBER`` and
   ``sys.flags.optimize``. Modules still load from the archive, so
   ``__file__`` is unchanged. Entries are written to a temp file and moved
   into place with ``os.replace``; an unreadable or corrupt entry is a miss
   and is rewritten. The cache is not a ``__pycache__`` beside the source,
   so ``sys.dont_write_bytecode`` does not govern it.

   The cache lives in ``$XDG_CACHE_HOME/lime_on_spark_spark`` (else
   ``~/.cache/lime_on_spark_spark``), created with mode 0700, and is used
   only if this uid owns it and no one else can write to it: bytecode
   loaded from a directory others can write is code injection. Otherwise
   sources compile as before. Only ``_site/sitecustomize.py`` installs it,
   in the Python processes of sessions ``session.get_spark()`` builds.
   Python 3.13+ has no ``_compile_source``; there the cache does nothing.
"""

from __future__ import annotations

import hashlib
import marshal
import os
import stat
import sys
import types
import zipimport
from importlib.util import MAGIC_NUMBER

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
_stdlib_compile_source = getattr(zipimport, "_compile_source", None)

# archive path -> (stat stamp taken before the read, file data it read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}

#: The compile cache's directory; None leaves compiles uncached.
_cache_dir: str | None = None
#: Compile-cache lookups in this process.
compile_stats = {"hits": 0, "misses": 0}
# The stdlib compiles each module twice (``zipimporter.get_filename``, then
# ``exec_module``): the last key and its code object serve the second call.
_last: tuple[bytes, types.CodeType] | None = None


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


def default_cache_dir() -> str:
    """The per-user compile-cache directory."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "lime_on_spark_spark")


def use_cache_dir(path: str) -> str | None:
    """Point the compile cache at ``path``, creating it with mode 0700.

    Returns the directory in use: ``path`` if this uid owns it and no one
    else can write to it, else None (compiles go uncached).
    """
    global _cache_dir
    _cache_dir = None
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path)
    except OSError:
        return None
    if (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        _cache_dir = path
    return _cache_dir


def cached_compile_source(pathname: str, source: bytes):
    """``zipimport._compile_source`` through the bytecode cache."""
    global _last
    cache = _cache_dir
    if cache is None:
        return _stdlib_compile_source(pathname, source)
    key = hashlib.sha256(
        b"%s%d\0%s\0" % (MAGIC_NUMBER, sys.flags.optimize, os.fsencode(pathname))
    )
    key.update(source)
    digest = key.digest()
    if _last is not None and _last[0] == digest:
        compile_stats["hits"] += 1
        return _last[1]
    entry = os.path.join(cache, digest.hex())
    try:
        with open(entry, "rb") as fh:
            data = fh.read()
        if data[: len(digest)] == digest:
            code = marshal.loads(memoryview(data)[len(digest):])
            if isinstance(code, types.CodeType):
                compile_stats["hits"] += 1
                _last = (digest, code)
                return code
    except (OSError, EOFError, ValueError, TypeError):
        pass  # unreadable or corrupt: a miss, rewritten below
    compile_stats["misses"] += 1
    code = _stdlib_compile_source(pathname, source)
    _store(entry, digest + marshal.dumps(code))
    _last = (digest, code)
    return code


def _store(entry: str, payload: bytes) -> None:
    """Write ``payload`` to ``entry`` atomically; give up quietly on error."""
    temp = f"{entry}.{os.getpid()}.tmp"
    try:
        fd = os.open(temp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        with open(fd, "wb") as fh:
            fh.write(payload)
        os.replace(temp, entry)
    except OSError:
        try:
            os.unlink(temp)
        except OSError:
            pass


def install_compile_cache() -> bool:
    """Route zipimport's source compiles through the per-user cache; True
    if installed."""
    if _stdlib_compile_source is None or use_cache_dir(default_cache_dir()) is None:
        return False
    zipimport._compile_source = cached_compile_source
    return True


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
