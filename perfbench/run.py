"""Benchmark runner: one closed-loop client, one process, one local[4] session.

    python3 perfbench/run.py --workload lime_explain --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The corpus is built once per checkout
under ``.bench_build/perfbench/``; everything a run writes (Spark local
dirs, temp files, event log, lakehouse tables) lives in one temp root under
that directory and is deleted at exit.

``--trace 0`` runs set-up, one timed window and the correctness gate, and
prints the end-to-end metrics. ``--trace 1`` also enables Spark's JSON event
log, runs a second timed window with per-call probes (job groups, Catalyst
phase times, JVM threads and heap after every call) and per-layer probes,
writes the spans to ``.bench_build/perfbench/traces/`` and prints the
per-layer metrics. Both modes print a detail line (host stamp, every metric
of the workload, failures) before the final JSON line the contract reads.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = 4
SF = 0.1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _layout_problem() -> str | None:
    for rel in ("lime_on_spark_spark/session.py", "tests/compare.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} is missing: run from the root of a full checkout"
    return None


def _isolate(tmp: str, traced: bool) -> dict[str, str]:
    """Point every file Spark, the JVM and Python write at ``tmp``. Must run
    before pyspark launches the JVM, which reads PYSPARK_SUBMIT_ARGS."""
    dirs = {d: os.path.join(tmp, d) for d in ("tmp", "local", "scratch", "warehouse", "events", "tables")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        LIME_ON_SPARK_SCRATCH=dirs["scratch"],
        PYSPARK_PYTHON=sys.executable,
        # pandas-UDF and data-source workers import the package by name.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData"
        ),
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return dirs


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None  # not a git checkout


def _host(spark, args, sf_dir: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "commit": _git_commit(),
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
    }


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class Span:
    __slots__ = ("id", "name", "parent", "call", "start", "end", "jobs")

    @property
    def seconds(self) -> float:
        return self.end - self.start


class CallCx:
    """Handed to a call body. ``execute(df)`` marks the end of construction
    (time inside the entry function, eager actions included) and the start
    of execution; in a traced window it also reads the Catalyst phase times
    of ``df`` and moves the call's jobs to its execute job group."""

    def __init__(self, h: "Harness", call_id: str, probes: bool):
        self.h, self.id, self.probes = h, call_id, probes
        self.t_exec: float | None = None
        self.phases: dict = {}
        self.groups = [f"{call_id}:c", f"{call_id}:x"]
        self.progress: list = []

    def execute(self, df=None) -> None:
        if self.probes:
            from probes import planner_phases

            if df is not None:
                self.phases = planner_phases(df)
            self.h.sc.setJobGroup(self.groups[1], self.id)
        self.t_exec = time.perf_counter()

    def stream(self, query) -> None:
        """A streaming query was started: its jobs run in their own group,
        the query's run id."""
        self.execute()
        self.groups.append(str(query.runId))

    def set_progress(self, recent) -> None:
        self.progress = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in recent]


class Harness:
    def __init__(self, args, sf_dir: str, tmp: str, build_s: float):
        self.args, self.sf_dir, self.tmp, self.build_s = args, sf_dir, tmp, build_s
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.calls: list[dict] = []
        self.window_cpu: dict[str, dict[str, float]] = {}
        self.spark = self.sc = None

    @contextmanager
    def span(self, name: str, call: str | None = None):
        sp = Span()
        sp.id, sp.name, sp.call, sp.jobs = f"s{len(self.spans)}", name, call, 0
        sp.parent = self._open[-1].id if self._open else None
        self.spans.append(sp)
        self._open.append(sp)
        grouped = self.sc is not None and call is None
        if grouped:
            self.sc.setJobGroup(sp.id, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if grouped:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.id))
                self.sc.setJobGroup("harness", "harness")

    def span_seconds(self, name: str) -> float:
        return next(s.seconds for s in self.spans if s.name == name)

    def _run(self, call, rnd: int, window: str, probes: bool) -> dict:
        from probes import jvm_drift, tree_cpu_s

        if call.prepare is not None:
            call.prepare()
        call_id = f"c{len(self.calls)}"
        cx = CallCx(self, call_id, probes)
        if probes:
            self.sc.setJobGroup(cx.groups[0], call_id)
        rec = {"id": call_id, "window": window, "item": call.item, "kind": call.kind,
               "round": rnd, "instances": call.instances, "epoch0_ms": time.time() * 1000}
        cpu0 = sum(tree_cpu_s(os.getpid()).values())
        with self.span(f"call.{call.item}", call=call_id) as sp:
            try:
                failures = call.body(cx)
            except Exception as exc:  # a failed call is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failures = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"]
        cpu_s = sum(tree_cpu_s(os.getpid()).values()) - cpu0
        rec["epoch1_ms"] = time.time() * 1000
        t_exec = cx.t_exec if cx.t_exec is not None else sp.end
        rec.update(latency_s=sp.seconds, construct_s=t_exec - sp.start, execute_s=sp.end - t_exec,
                   cpu_s=cpu_s, failures=failures, progress=cx.progress)
        if len(cx.groups) > 2:  # a streaming call: construction ends at start()
            rec["start_s"] = rec["construct_s"]
        if probes:
            self.sc.setJobGroup("harness", "harness")
            rec.update(phases=cx.phases, groups=cx.groups, drift=jvm_drift(self.spark))
        self.calls.append(rec)
        return rec

    def warm(self, call) -> None:
        self._run(call, 0, "warmup", probes=False)

    def window(self, wl, rng, name: str, probes: bool) -> tuple[list[dict], float]:
        from probes import jit_cpu_s, tree_cpu_s

        if hasattr(wl, "start_window"):
            wl.start_window()
        calls = []
        host0, tree0, jit0 = _cpu_ticks(), tree_cpu_s(os.getpid()), jit_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with self.span(f"window.{name}"):
            for r in range(1, max(1, round(self.args.seconds / wl.round_s)) + 1):
                calls += [self._run(c, r, name, probes) for c in wl.round(rng)]
        wall = time.perf_counter() - t0
        host1, tree1, jit1 = _cpu_ticks(), tree_cpu_s(os.getpid()), jit_cpu_s(os.getpid())
        # Share of the host's CPU time the hypervisor gave to other guests
        # while the window ran: the main source of run-to-run spread on a
        # shared VM.
        self.steal_pct = 100.0 * (host1[7] - host0[7]) / max(1, sum(host1) - sum(host0))
        self.window_cpu[name] = {**{k: tree1[k] - tree0[k] for k in tree1}, "jvm_jit": jit1 - jit0}
        return calls, wall

    def run(self) -> dict:
        import numpy as np

        import workloads

        args = self.args
        traced = bool(args.trace)
        wl = workloads.make(args.workload)
        with self.span("session.get_spark"):
            from lime_on_spark_spark.session import get_spark

            self.spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS)
            self.sc = self.spark.sparkContext
        with self.span("session.registry_load"):
            from lime_on_spark_spark.plans import registry

            self.queries = registry.queries()
        with self.span("setup.warmup"):
            wl.bind(self)
            wl.setup(self)
        setup_s = time.perf_counter() - T_START - self.build_s
        host = _host(self.spark, args, self.sf_dir)

        rng = np.random.default_rng(args.seed)
        calls, wall = self.window(wl, rng, "timed", probes=False)
        out = {"setup_s": setup_s, "calls": calls, "wall": wall, "host": host}
        if traced:
            out["traced_calls"], out["traced_wall"] = self.window(wl, rng, "traced", probes=True)
        with self.span("gate"):
            out["gate"] = wl.gate(self)
        if traced:
            with self.span("layers"):
                out["layers"] = wl.layers(self, out["traced_calls"])
            out["drift"] = [{"call": c["id"], **c["drift"]} for c in out["traced_calls"]]
        out["workload"] = wl
        return out

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process this run
        started (the JVM and its Python workers) to end."""
        from probes import descendants

        if self.spark is None:
            return
        kids = descendants(os.getpid())
        gateway = self.sc._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while True:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.1)
        self.spark = None


def _call_metrics(calls: list[dict], wall: float, cpu: dict[str, float]) -> dict:
    lat = sorted(c["latency_s"] for c in calls)
    n = len(lat)
    # The highest percentile with at least ten calls above it; with ten
    # calls or fewer, the slowest call.
    tail_i = n - 11 if n >= 11 else n - 1
    items: dict[str, list] = {}
    for c in calls:
        items.setdefault(c["item"], []).append(c["latency_s"])
    return {
        **{f"p50_s.{k}": {"value": statistics.median(v), "unit": "s"} for k, v in sorted(items.items())},
        "call_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "call_tail_s": {"value": lat[tail_i], "unit": "s"},
        "call_tail_pct": {"value": 100.0 * (tail_i + 1) / n, "unit": "%"},
        "calls": {"value": n, "unit": "count"},
        "calls_per_s": {"value": n / wall, "unit": "1/s"},
        "call_cpu_p50_s": {"value": statistics.median(c["cpu_s"] for c in calls), "unit": "s"},
        "cpu_per_call_s": {"value": (cpu["driver"] + cpu["jvm"] + cpu["workers"]) / n, "unit": "s"},
    }


def _exec_metrics(calls: list[dict], groups: dict[str, dict]) -> dict:
    """Per-layer medians over the traced window's calls."""
    from probes import uncovered_ms

    keys = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_stage_ms")
    per_call = {k: [] for k in (*keys, "task_skew", "driver_gap_ms")}
    construct_jobs = []
    for c in calls:
        accs = [groups[g] for g in c["groups"] if g in groups]
        for k in keys:
            per_call[k].append(sum(a[k] for a in accs))
        per_call["task_skew"].append(max((a["task_skew"] for a in accs), default=1.0))
        intervals = [iv for a in accs for iv in a["intervals"]]
        per_call["driver_gap_ms"].append(uncovered_ms(c["epoch0_ms"], c["epoch1_ms"], intervals))
        construct_jobs.append(groups.get(c["groups"][0], {}).get("jobs", 0))
        c["exec"] = {k: v[-1] for k, v in per_call.items()}
    out = {f"spark.exec.{k}": statistics.median(v) for k, v in per_call.items()}
    out["plans.construct_jobs"] = statistics.median(construct_jobs)
    return out


def _layer_metrics(h: Harness, res: dict, groups: dict[str, dict]) -> dict:
    calls = res["traced_calls"]
    med = statistics.median
    out = {
        "session.get_spark_s": h.span_seconds("session.get_spark"),
        "session.registry_load_s": h.span_seconds("session.registry_load"),
        "plans.construct_s": med(c["construct_s"] for c in calls),
        "plans.execute_s": med(c["execute_s"] for c in calls),
    }
    for phase in ("analysis", "optimization", "planning"):
        vals = [c["phases"][phase] for c in calls if phase in c["phases"]]
        out[f"spark.plan.{phase}_ms"] = med(vals) if vals else 0.0
    out.update(_exec_metrics(calls, groups))
    drift = res["drift"]
    out["jvm.live_threads_growth"] = drift[-1]["threads"] - drift[0]["threads"]
    out["jvm.heap_used_mb"] = max(d["heap_mb"] for d in drift)
    out["trace.overhead_ratio"] = (len(calls) / res["traced_wall"]) / (len(res["calls"]) / res["wall"])
    for role, cpu_s in h.window_cpu["traced"].items():
        out[f"cpu.{role}_s"] = cpu_s / len(calls)
    out.update(res["layers"])
    if res["workload"].name == "lime_explain":
        out["lime.pandas_udf_stage_ms"] = out["spark.exec.python_stage_ms"]
    return out


def _write_trace(h: Harness, res: dict, layers: dict) -> str:
    path = os.path.join(BUILD, "traces", f"{h.args.workload}-seed{h.args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [
        {"id": s.id, "name": s.name, "parent": s.parent, "call": s.call,
         "start_s": s.start - T_START, "end_s": s.end - T_START, "jobs": s.jobs}
        for s in h.spans
    ]
    with open(path, "w") as fh:
        json.dump({"host": res["host"], "spans": spans, "calls": h.calls,
                   "drift": res["drift"], "layers": layers}, fh, indent=1, default=str)
    return os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    problem = _layout_problem()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import corpus
    import workloads
    from probes import RssSampler, event_log_by_group

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    spec = _spec()
    t_build = time.perf_counter()
    sf_dir = corpus.ensure(BUILD, SF)
    build_s = time.perf_counter() - t_build
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    h = None
    try:
        dirs = _isolate(tmp, bool(args.trace))
        h = Harness(args, sf_dir, dirs["tables"], build_s)
        with RssSampler() as rss:
            res = h.run()
            h.stop()
        calls, gate = res["calls"], res["gate"]
        every = [c for c in h.calls if c["window"] != "warmup"]
        attempted = len(every) + gate.attempted
        failures = [f"{c['id']} {c['item']}: {f}" for c in every for f in c["failures"]] + gate.failures
        failed = sum(1 for c in every if c["failures"]) + len(gate.failures)
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            **_call_metrics(calls, res["wall"], h.window_cpu["timed"]),
            **res["workload"].report(calls, res["wall"]),
            "failed_ratio": {"value": failed / attempted, "unit": "1"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
            "steal_pct": {"value": h.steal_pct, "unit": "%"},
            "build_s": {"value": build_s, "unit": "s"},
        }
        detail = {"detail": True, "host": res["host"], "metrics": metrics, "failures": failures}
        wanted = spec["end_to_end"]
        if args.trace:
            logs = os.listdir(dirs["events"])
            groups = event_log_by_group(os.path.join(dirs["events"], logs[0]))
            layers = _layer_metrics(h, res, groups)
            detail["layers"] = layers
            detail["trace_file"] = _write_trace(h, res, layers)
            metrics = {k: {"value": v, "unit": ""} for k, v in layers.items()}
            wanted = spec["per_layer"]
        print(json.dumps(detail), flush=True)
        final = {}
        for m in wanted:
            if m["name"] not in metrics:
                raise KeyError(f"metric {m['name']} was not measured")
            final[m["name"]] = {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": final}), flush=True)
        return 0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if h is not None:
            try:
                h.stop()
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
