"""The two zipimport fixes of ``lime_on_spark_spark/_zipimport.py``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every Python
task; on Python < 3.13 each cached ``zipimporter`` on ``pyspark.zip`` then
re-reads the archive's directory (about 0.15 s of CPU per task). The engine
package replaces ``zipimporter.invalidate_caches`` so an unchanged archive is
not re-read. These tests pin that on the driver without Spark, and in reused
Python workers.

Every fresh interpreter also compiles what it imports from the archive,
which ships no ``.pyc`` files. The compile cache stores those code objects
once per user; ``get_spark()`` sessions install it in their Python
processes through ``_site/sitecustomize.py``. These tests pin the cache
without Spark (keys, corrupt entries, the directory rule, concurrent
stores, the start-up hook) and its reach into every kind of Python process
a session starts, and its absence under a session the engine did not build.
"""

from __future__ import annotations

import importlib
import json
import os
import stat
import subprocess
import sys
import zipfile
import zipimport

import pytest

import lime_on_spark_spark  # noqa: F401  (installs the patch)
from lime_on_spark_spark import _zipimport
from lime_on_spark_spark.session import WORKER_HOOK_DIR

ENGINE_MODULE = "lime_on_spark_spark._zipimport"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
        zf.writestr(
            "zcache_probe/sub/mod.py",
            "VALUE = 1\n\ndef where():\n    return where.__code__.co_filename\n",
        )

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


# -- the compile cache --------------------------------------------------------


@pytest.fixture
def compile_cache(tmp_path, monkeypatch):
    """The compile cache pointed at an empty temp directory, with fresh
    counts; yields the directory."""
    monkeypatch.setattr(_zipimport, "_cache_dir", None)
    monkeypatch.setattr(_zipimport, "_last", None)
    monkeypatch.setattr(_zipimport, "compile_stats", {"hits": 0, "misses": 0})
    cache = str(tmp_path / "cache")
    assert _zipimport.use_cache_dir(cache) == cache
    yield cache


def _lookup(pathname: str, source: bytes):
    """One cache lookup as a new process makes it (no code object kept
    from the previous call); returns the code and the counts it added."""
    _zipimport._last = None
    before = dict(_zipimport.compile_stats)
    code = _zipimport.cached_compile_source(pathname, source)
    after = _zipimport.compile_stats
    return code, {k: after[k] - before[k] for k in after}


def _value(code) -> object:
    namespace: dict = {}
    exec(code, namespace)
    return namespace["A"]


def test_cache_dir_is_private(compile_cache):
    assert stat.S_IMODE(os.stat(compile_cache).st_mode) == 0o700


def test_changed_source_recompiles_and_restores(compile_cache):
    path = "/probe.zip/pkg/mod.py"
    code, counts = _lookup(path, b"A = 1\n")
    assert counts == {"hits": 0, "misses": 1} and _value(code) == 1
    code, counts = _lookup(path, b"A = 1\n")
    assert counts == {"hits": 1, "misses": 0} and _value(code) == 1

    code, counts = _lookup(path, b"A = 2\n")
    assert counts == {"hits": 0, "misses": 1} and _value(code) == 2
    code, counts = _lookup(path, b"A = 2\n")
    assert counts == {"hits": 1, "misses": 0} and _value(code) == 2
    assert len(os.listdir(compile_cache)) == 2

    # The recorded path is part of the key: same source, another file.
    code, counts = _lookup("/probe.zip/pkg/other.py", b"A = 2\n")
    assert counts == {"hits": 0, "misses": 1}
    assert code.co_filename == "/probe.zip/pkg/other.py"


def test_second_compile_in_one_process_reuses_the_code(compile_cache):
    """zipimport compiles a module twice per import (get_filename, then
    exec_module); the second call is served without reading the entry."""
    source = b"A = 3\n"
    code = _zipimport.cached_compile_source("/probe.zip/m.py", source)
    for name in os.listdir(compile_cache):
        os.unlink(os.path.join(compile_cache, name))
    assert _zipimport.cached_compile_source("/probe.zip/m.py", source) is code
    assert _zipimport.compile_stats == {"hits": 1, "misses": 1}


@pytest.mark.parametrize("damage", ["truncated", "empty", "foreign"])
def test_corrupt_entry_is_a_miss_and_rewritten(compile_cache, damage):
    path, source = "/probe.zip/pkg/big.py", b"".join(
        b"A%d = %d\n" % (i, i) for i in range(400)
    ) + b"A = 7\n"
    _lookup(path, source)
    (name,) = os.listdir(compile_cache)
    entry = os.path.join(compile_cache, name)
    whole = open(entry, "rb").read()
    damaged = {
        "truncated": whole[: len(whole) // 2],
        "empty": b"",
        "foreign": bytes(32) + whole[32:],  # another key's header
    }[damage]
    with open(entry, "wb") as fh:
        fh.write(damaged)

    code, counts = _lookup(path, source)
    assert counts == {"hits": 0, "misses": 1} and _value(code) == 7
    assert open(entry, "rb").read() == whole
    code, counts = _lookup(path, source)
    assert counts == {"hits": 1, "misses": 0} and _value(code) == 7


@pytest.mark.parametrize("unsafe", ["group-writable", "world-writable", "other-uid"])
def test_unsafe_cache_dir_is_ignored(tmp_path, monkeypatch, compile_cache, unsafe):
    cache = str(tmp_path / "shared")
    os.mkdir(cache)
    if unsafe == "other-uid":
        uid = os.getuid()
        monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    else:
        os.chmod(cache, 0o770 if unsafe == "group-writable" else 0o707)
    assert _zipimport.use_cache_dir(cache) is None
    code, counts = _lookup("/probe.zip/m.py", b"A = 4\n")
    assert _value(code) == 4 and counts == {"hits": 0, "misses": 0}
    assert os.listdir(cache) == []


def test_zip_module_file_and_co_filename_stay_in_archive(
    zipped_package, compile_cache, monkeypatch
):
    archive, _ = zipped_package
    monkeypatch.setattr(zipimport, "_compile_source", _zipimport.cached_compile_source)
    where = os.path.join(archive, "zcache_probe", "sub", "mod.py")
    for expected in ({"hits": 3, "misses": 3}, {"hits": 9, "misses": 3}):
        for name in [m for m in sys.modules if m.split(".")[0] == "zcache_probe"]:
            del sys.modules[name]
        _zipimport._last = None
        mod = importlib.import_module("zcache_probe.sub.mod")
        # Three modules, each compiled twice by zipimport: a miss and a
        # reused code object the first time, a stored entry and a reused
        # code object after.
        assert _zipimport.compile_stats == expected
        assert mod.__file__ == where
        assert mod.where() == where


_CONCURRENT_STORE = """
import importlib.util, os, sys, time
spec = importlib.util.spec_from_file_location("zi", sys.argv[1])
zi = importlib.util.module_from_spec(spec)
spec.loader.exec_module(zi)
payload = open(sys.argv[3], "rb").read()
while not os.path.exists(sys.argv[4]):
    time.sleep(0.001)
for _ in range(300):
    zi._store(sys.argv[2], payload)
"""


def test_concurrent_stores_leave_a_loadable_entry(tmp_path, compile_cache):
    path = "/probe.zip/pkg/big.py"
    source = b"".join(b"A%d = [%d] * 3\n" % (i, i) for i in range(3000)) + b"A = 5\n"
    _lookup(path, source)
    (name,) = os.listdir(compile_cache)
    entry = os.path.join(compile_cache, name)
    payload = tmp_path / "payload"
    payload.write_bytes(open(entry, "rb").read())
    go = tmp_path / "go"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CONCURRENT_STORE, _zipimport.__file__,
             entry, str(payload), str(go)]
        )
        for _ in range(2)
    ]
    go.touch()
    assert [p.wait(timeout=120) for p in procs] == [0, 0]
    assert os.listdir(compile_cache) == [name]  # no temp file left behind
    code, counts = _lookup(path, source)
    assert counts == {"hits": 1, "misses": 0} and _value(code) == 5


def _hook_env(tmp_path, *path) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    env["PYTHONPATH"] = os.pathsep.join(path)
    return env


def test_start_up_hook_caches_without_importing_the_engine(tmp_path, zipped_package):
    """A fresh interpreter with the hook directory on PYTHONPATH (as
    ``get_spark()`` sets it for workers) imports through the cache, never
    imports the engine package or pyspark, and runs a ``sitecustomize``
    further along the path."""
    archive, _ = zipped_package
    chained = tmp_path / "chained"
    chained.mkdir()
    (chained / "sitecustomize.py").write_text("import sys\nsys.chained_site = True\n")
    check = (
        "import json, sys, zcache_probe.sub.mod as m\n"
        "zi = sys.modules['lime_on_spark_spark._zipimport']\n"
        "print(json.dumps([dict(zi.compile_stats), m.__file__, m.where(),\n"
        "    getattr(sys, 'chained_site', False),\n"
        "    sorted(k for k in sys.modules if k.split('.')[0] in\n"
        "           ('lime_on_spark_spark', 'pyspark'))]))\n"
    )
    env = _hook_env(tmp_path, archive, WORKER_HOOK_DIR, str(chained))
    where = os.path.join(archive, "zcache_probe", "sub", "mod.py")
    runs = [
        json.loads(subprocess.run(
            [sys.executable, "-c", check], env=env, cwd=str(tmp_path),
            capture_output=True, text=True, check=True,
        ).stdout)
        for _ in range(2)
    ]
    assert runs[0][0] == {"hits": 3, "misses": 3}
    assert runs[1][0] == {"hits": 6, "misses": 0}
    for stats, file, co_filename, chained_ran, engine in runs:
        assert file == co_filename == where
        assert chained_ran is True
        assert engine == [ENGINE_MODULE]
    cache = tmp_path / "xdg" / "lime_on_spark_spark"
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    assert len(os.listdir(cache)) == 3


def _by_kind(reports) -> dict[str, list]:
    out: dict[str, list] = {}
    for where, pid, installed, hits, misses in reports:
        out.setdefault(where, []).append((pid, installed, hits, misses))
    return out


#: Where each probe reports from; read.task, write.task and stream.task run
#: in the session's Python workers, the rest in their own planner, writer,
#: commit and streaming-runner processes.
PROBES = {
    "mapInArrow.task", "read.create_reader", "read.pushdown", "read.plan",
    "read.task", "write.create_writer", "write.task", "write.commit",
    "stream.runner", "stream.task",
}


def test_compile_cache_reaches_every_python_process(spark, tmp_path):
    from tests.zip_hook_probe import run_probes

    reports = _by_kind(run_probes(spark, str(tmp_path)))
    assert set(reports) == PROBES
    for where, seen in reports.items():
        for pid, installed, hits, misses in seen:
            assert pid != os.getpid(), where
            assert installed and hits + misses > 0, (where, seen)
    assert len({pid for seen in reports.values() for pid, *_ in seen}) >= 4


def test_get_spark_appends_the_hook_to_the_workers_pythonpath(spark):
    from lime_on_spark_spark.session import _add_worker_hook, get_spark

    assert get_spark() is spark
    parts = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert parts.count(WORKER_HOOK_DIR) == 1 and parts[-1] == WORKER_HOOK_DIR

    env = {"PYTHONPATH": os.pathsep.join(["/opt/a", "/opt/b"])}
    _add_worker_hook(env)
    assert env["PYTHONPATH"] == os.pathsep.join(["/opt/a", "/opt/b", WORKER_HOOK_DIR])
    env = {"PYTHONPATH": os.pathsep.join([WORKER_HOOK_DIR, "/opt/a"])}
    _add_worker_hook(env)
    assert env["PYTHONPATH"] == os.pathsep.join([WORKER_HOOK_DIR, "/opt/a"])
    env = {}
    _add_worker_hook(env)
    assert env == {"PYTHONPATH": WORKER_HOOK_DIR}


def test_configure_only_session_gets_no_compile_cache(tmp_path):
    """A session the engine did not build, set up through ``configure()``
    alone, must run its Python processes exactly as it would without the
    engine: no start-up hook, so no compile cache."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = ROOT
    out = subprocess.run(
        [sys.executable, "-m", "tests.zip_hook_probe", str(tmp_path)],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    reports = _by_kind(json.loads(out.stdout.strip().splitlines()[-1]))
    assert set(reports) == PROBES
    for where, seen in reports.items():
        assert all(
            not installed and hits == misses == 0
            for _, installed, hits, misses in seen
        ), (where, seen)
