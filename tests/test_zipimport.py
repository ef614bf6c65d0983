"""Zip-archive cache check in ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every Python
task; on Python < 3.13 each cached ``zipimporter`` on ``pyspark.zip`` then
re-reads the archive's directory (about 0.15 s of CPU per task). The engine
package replaces ``zipimporter.invalidate_caches`` so an unchanged archive is
not re-read (``lime_on_spark_spark/_zipimport.py``). These tests pin that on
the driver without Spark, and in reused Python workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import lime_on_spark_spark  # noqa: F401  (installs the patch)

ENGINE_MODULE = "lime_on_spark_spark._zipimport"

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zipimport caches lazily",
)


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zcache_probe`` and its ``sub`` package;
    yields ``(archive, reads)`` where ``reads`` counts directory reads of
    that archive."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zcache_probe/__init__.py", "")
        zf.writestr("zcache_probe/sub/__init__.py", "")
        zf.writestr("zcache_probe/sub/mod.py", "VALUE = 1\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zcache_probe"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_engine_patch_is_installed():
    assert zipimport.zipimporter.invalidate_caches.__module__ == ENGINE_MODULE


def test_unchanged_archive_is_not_reread(zipped_package):
    archive, reads = zipped_package
    mod = importlib.import_module("zcache_probe.sub.mod")
    assert mod.VALUE == 1
    # One importer per path: the archive root, zcache_probe/ and sub/.
    importers = [k for k in sys.path_importer_cache if k.startswith(archive)]
    assert len(importers) == 3, importers

    reads.clear()
    importlib.invalidate_caches()  # first call reads once, records the stamp
    assert len(reads) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []  # the stdlib re-reads 3 times per call here


def test_changed_archive_is_reread(zipped_package):
    archive, reads = zipped_package
    importlib.import_module("zcache_probe.sub.mod")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zcache_probe.sub.added")

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zcache_probe/sub/added.py", "VALUE = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read shared by all three importers
    assert importlib.import_module("zcache_probe.sub.added").VALUE == 2


def test_reused_python_workers_use_engine_patch(spark):
    """Every task after a worker's first sees the engine's patch, and from
    its third task on the worker's per-task ``invalidate_caches()`` reads
    no zip directory at all."""
    import pandas as pd

    def probe(batches):
        import zipimport

        import lime_on_spark_spark  # noqa: F401  (as unpickling engine code does)

        # The read counter stays installed for the worker's life; it only
        # counts, so later tasks of other tests are unaffected.
        state = getattr(zipimport, "_probe_state", None)
        if state is None:
            state = zipimport._probe_state = {"tasks": 0, "reads": 0}
            read_directory = zipimport._read_directory

            def counting(path):
                state["reads"] += 1
                return read_directory(path)

            zipimport._read_directory = counting
        state["tasks"] += 1
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "task": [state["tasks"]],
                "reads": [state["reads"]],
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )

    n = 4 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, 1, n)
        .mapInPandas(probe, "pid long, task long, reads long, module string")
        .collect()  # bounded: one row per partition
    )
    assert len(rows) == n
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r)
    assert len(by_pid) < n, "Python workers were not reused"
    longest = 0
    for pid, tasks in by_pid.items():
        tasks.sort(key=lambda r: r.task)
        assert all(r.module == ENGINE_MODULE for r in tasks[1:]), tasks
        assert all(r.reads == tasks[1].reads for r in tasks[2:]), tasks
        longest = max(longest, len(tasks))
    assert longest >= 3, by_pid
