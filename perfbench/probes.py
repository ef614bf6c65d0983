"""Measurements taken from outside the engine.

* ``RssSampler`` — peak resident memory of this process and every process
  it started (the JVM and its Python workers), sampled from ``/proc``.
* ``tree_cpu_s``, ``jit_cpu_s`` — CPU time used by the same processes, and
  by the JVM's JIT compiler threads, read from ``/proc``.
* ``jvm_drift`` — live JVM threads and heap in use, read over Py4J.
* ``planner_phases`` — Catalyst analysis/optimization/planning times from
  a DataFrame's query-execution tracker.
* ``event_log_by_group`` — per-job-group executor totals parsed from
  Spark's uncompressed JSON event log.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listdir and open
        # comm may contain spaces and parentheses: the ppid is the second
        # field after the LAST ')'.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """``comm`` and the fields after it of a ``/proc/.../stat`` file."""
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def tree_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds (user + system) used so far by ``pid`` (``driver``), the
    JVM it launched (``jvm``) and every other process below it, the Python
    workers (``workers``). Children that have ended and been reaped count in
    their parent's totals, so a worker that exits between two readings is
    still counted."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in [pid, *descendants(pid)]:
        try:
            comm, f = _stat_fields(f"/proc/{p}/stat")
        except OSError:
            continue  # the process ended between listing and reading
        role = "driver" if p == pid else "jvm" if comm == "java" else "workers"
        out[role] += sum(int(x) for x in f[11:15]) / _TICK
    return out


#: JVM threads that compile: the JIT tiers. Spark's own code generation runs
#: on the thread that plans or executes the query and is not counted here.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of every JVM
    below ``pid``."""
    total = 0.0
    for p in descendants(pid):
        try:
            if _stat_fields(f"/proc/{p}/stat")[0] != "java":
                continue
            for t in os.listdir(f"/proc/{p}/task"):
                comm, f = _stat_fields(f"/proc/{p}/task/{t}/stat")
                if comm.startswith(_JIT_THREADS):
                    total += (int(f[11]) + int(f[12])) / _TICK
        except OSError:
            continue  # the process or thread ended while being read
    return total


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended while being sampled
    return 0


class RssSampler:
    """Samples the summed RSS of this process tree every ``interval`` s on a
    daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def jvm_drift(spark) -> dict:
    """Live JVM threads and heap in use (MB) right now."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    return {
        "threads": jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount(),
        "heap_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }


def planner_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s query execution. Forces physical
    planning first: before ``executedPlan()`` only analysis is recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        if summary.isDefined():
            out[name] = float(summary.get().durationMs())
    return out


#: Physical operators that cross the JVM/Python boundary: pandas and Arrow
#: UDFs, mapInArrow, and scans of the engine's Python data sources. The
#: event log does not name a Python data source write, so writes are not
#: counted.
_PYTHON_SCOPE = re.compile(
    r"InPandas|ArrowEvalPython|BatchEvalPython|InArrow|BatchScan json_manifest"
)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def event_log_by_group(path: str) -> dict[str, dict]:
    """Executor totals per job group from one JSON event log.

    Per group: jobs, stages, tasks, task run/CPU/GC ms, shuffle read and
    write bytes, spill bytes, ``python_stage_ms`` (task run time of stages
    with a Python-boundary operator), ``task_skew`` (max ÷ median task run
    time in the group's heaviest stage) and the job intervals (epoch ms).
    """
    stage_group: dict[int, str] = {}
    python_stage: set[int] = set()
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[int]] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0.0,
                "task_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "python_stage_ms": 0.0, "intervals": [], "stage_ids": [],
            },
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                name = _group(ev.get("Properties"))
                if name is not None:
                    jobs[ev["Job ID"]] = {"group": name, "start": ev["Submission Time"]}
                    g(name)["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    g(job["group"])["intervals"].append((job["start"], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                name = _group(ev.get("Properties"))
                info = ev["Stage Info"]
                if name is not None:
                    stage_group[info["Stage ID"]] = name
                    g(name)["stages"] += 1
                    g(name)["stage_ids"].append(info["Stage ID"])
                scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info["RDD Info"])
                if _PYTHON_SCOPE.search(scopes):
                    python_stage.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                name = stage_group.get(sid)
                m = ev.get("Task Metrics")
                if name is None or not m:
                    continue
                acc = g(name)
                run_ms = m["Executor Run Time"]
                acc["tasks"] += 1
                acc["task_run_ms"] += run_ms
                acc["task_cpu_ms"] += m["Executor CPU Time"] / 1e6
                acc["gc_ms"] += m["JVM GC Time"]
                rd = m["Shuffle Read Metrics"]
                acc["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                if sid in python_stage:
                    acc["python_stage_ms"] += run_ms
                stage_tasks.setdefault(sid, []).append(run_ms)
    for acc in groups.values():
        heaviest = max(
            (stage_tasks[s] for s in acc.pop("stage_ids") if s in stage_tasks),
            key=sum,
            default=[],
        )
        acc["task_skew"] = (
            max(heaviest) / max(statistics.median(heaviest), 1.0) if heaviest else 1.0
        )
    return groups


def uncovered_ms(t0_ms: float, t1_ms: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] not covered by any interval: the driver-side gap
    of a call, when ``intervals`` are its jobs."""
    covered, cursor = 0.0, t0_ms
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, t1_ms)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (t1_ms - t0_ms) - covered)
