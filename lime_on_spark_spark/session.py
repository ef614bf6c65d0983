"""SparkSession construction and runtime configuration.

Two entry paths:

* ``get_spark()`` — builds a local session (tests, bench). Its Python
  processes start with ``_site/sitecustomize.py``, which installs the
  zipimport fixes of ``_zipimport.py`` (the compile cache included) before
  pyspark is imported.
* ``configure(spark)`` — applies the runtime-settable confs to a session we
  did NOT build (the verify driver owns its own ``SparkSession``); every
  catalog load calls this so the engine works under a foreign session.

Scale notes (100 TB target): all confs here are also correct on a real
cluster — AQE handles post-shuffle coalescing and skew-join splitting, the
shuffle-partition default is only a local-mode override (cluster deploys
should size it ~2-3x total cores or rely on AQE's coalescing from a high
initial value).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Directory holding only the worker start-up hook ``sitecustomize.py``.
WORKER_HOOK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_site")

#: Confs that are runtime-settable (spark.conf.set works after session start).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries timestamp[ns]; vanilla Spark 4 raises
    # PARQUET_TYPE_ILLEGAL. With this conf the column arrives as long nanos
    # and sources.catalog repairs it to TimestampType (SURVEY.md §1.2).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp rendering; parquet corpus is naive/UTC and the
    # DuckDB oracle reads it as naive — UTC makes both sides agree.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas exchange (as-of merge fallback).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Streaming confs right for the sessions ``get_spark()`` builds, whose
#: streaming queries are short-lived with ephemeral checkpoints. Not
#: forced by ``configure()``: a host's long-lived session keeps its own
#: checkpoint corruption detection and state-store policy.
STREAMING_CONFS: dict[str, str] = {
    # r17: Spark 4.1's ChecksumCheckpointFileManager leaks its per-manager
    # thread pool when a streaming query terminates (~112 threads PER
    # availableNow query, measured): a long-lived session accumulates
    # thousands of threads and every later query — batch included —
    # degrades 2-6x from scheduler/GC contention. Checkpoint-file checksums
    # exist to detect corruption in durable production checkpoints; this
    # engine's streaming rows use ephemeral per-run checkpoint dirs, so
    # the protection is pure leak. Re-enable for durable checkpoints.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # r17: unload state-store providers when an availableNow query
    # commits — otherwise every (operator, partition) provider stays
    # loaded in the local executor with its maintenance work forever.
    # Right for this engine's short-lived queries; a long-running
    # production stream would keep the default (false) to avoid per-batch
    # provider reloads.
    "spark.sql.streaming.stateStore.unloadOnCommit": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an externally-owned session (best-effort);
    STREAMING_CONFS stay the owner's choice."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not runtime-settable in this build — the caller's session
            # config wins; catalog repair degrades gracefully.
            pass
    return spark


def get_spark(
    app_name: str = "lime-on-spark-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession sized for this machine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else all cores.
    ``shuffle_partitions`` defaults to the core count — at bench scale
    (sf<=0.1) large shuffle fan-out is pure overhead (BASELINE.md config).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in {**RUNTIME_CONFS, **STREAMING_CONFS}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _add_worker_hook(spark.sparkContext.environment)
    return spark


def _add_worker_hook(env: dict[str, str]) -> None:
    """Append the start-up hook's directory to the workers' PYTHONPATH in a
    context's worker environment, which holds the value its
    ``spark.executorEnv.PYTHONPATH`` resolved to from any source (defaults
    file, submit arguments, builder). Python functions, data sources and
    streaming runners created afterwards carry it to their processes."""
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if WORKER_HOOK_DIR not in parts:
        env["PYTHONPATH"] = os.pathsep.join(parts + [WORKER_HOOK_DIR])


#: The engine's one session-scoped memo: plan handles, fitted models, index
#: builds and small collected results, keyed ``(name, sf_dir, ...)``.
#: Every entry belongs to ``_memo_app``, the applicationId that built it
#: (not ``id(spark)``, which a session built after a stop can reuse); the
#: first call under any other application clears them all, so a stopped
#: session's DataFrames and models are never served to (or pinned beside)
#: a new one. Builds nest (ivfadc -> ivf -> table, model -> table), so the
#: dict is never iterated or locked while ``build`` runs.
_MEMO: dict[tuple, object] = {}
_memo_app: str | None = None
_MEMO_STATS: dict[str, dict[str, int]] = {}


def session_memo(spark: SparkSession, key: tuple, build):
    """Return the value memoized under ``key`` for this session's
    application, calling ``build()`` on a miss. Nothing is stored when
    ``build`` raises. Hits and misses are counted per name ``key[0]``."""
    global _memo_app
    app = spark.sparkContext.applicationId
    if app != _memo_app:
        _MEMO.clear()
        _memo_app = app
    stats = _MEMO_STATS.setdefault(key[0], {"hits": 0, "misses": 0})
    if key in _MEMO:
        stats["hits"] += 1
        return _MEMO[key]
    stats["misses"] += 1
    value = _MEMO[key] = build()
    return value


def memo_stats() -> dict[str, dict[str, int]]:
    """Hit and miss counts per memo name since the process started."""
    return {name: dict(counts) for name, counts in _MEMO_STATS.items()}


@contextmanager
def temp_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore the
    prior value (or unset if it had none) — the save/restore discipline
    shared by every plan that must flip a planner flag (o9, p18, s14)
    without leaking it into the rest of the shared session."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
