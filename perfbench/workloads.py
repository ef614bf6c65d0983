"""The benchmark's workloads.

A workload is a set-up step plus rounds of calls. A call is one invocation
of an engine entry point run to completion: a registry query function plus
a ``noop`` write of its DataFrame, one ``lime.explain.explain_*`` batch
collected, or one manifest-connector operation. Each call body returns the
list of its correctness failures (empty when its output is right).

The workload seed permutes the order of a round and generates the call
inputs; every seed does the same amount of work. A run does a fixed number
of rounds, ``--seconds`` divided by the workload's ``round_s`` (its warm
round time on a 4-core host), so that every run of a workload does the
same calls whatever its speed.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from dataclasses import dataclass, field
from typing import Callable

import numpy as np


@dataclass
class Call:
    item: str  # what the call runs, e.g. "q1_pricing_summary" or "merge"
    kind: str  # the latency class it reports under, e.g. "commit"
    body: Callable  # body(cx) -> list[str] of failures
    instances: int = 0  # instances explained (LIME calls only)
    #: Generator work for the call (inputs, model bookkeeping), run before
    #: the call's clock starts.
    prepare: Callable | None = None


@dataclass
class GateResult:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        self.failures.extend(f"{name}: {p}" for p in problems)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# Registry rows (relational_mix, vector_pipeline)
# --------------------------------------------------------------------------

ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


class RegistryMix:
    """Rounds of registry query functions, each run with a ``noop`` write.

    The warm-up round collects every row instead and keeps the result, so
    the correctness gate can check it against the row's DuckDB oracle
    without running the Spark side again."""

    def __init__(self, name: str, rows: tuple[str, ...], round_s: float, operator_layers: bool):
        self.name = name
        self.rows = rows
        self.round_s = round_s
        self.operator_layers = operator_layers
        self._warm: dict[str, object] = {}

    def setup(self, h) -> None:
        q = h.queries
        for row in self.rows:

            def body(cx, row=row):
                df = q[row](h.spark, h.sf_dir)
                cx.execute(df)
                self._warm[row] = df.toPandas()
                return []

            h.warm(Call(row, "query", body))

    def round(self, rng) -> list[Call]:
        q = self._queries
        calls = []
        for row in rng.permutation(self.rows):

            def body(cx, row=str(row)):
                df = q[row](self._spark, self._sf_dir)
                cx.execute(df)
                df.write.format("noop").mode("overwrite").save()
                return []

            calls.append(Call(str(row), "query", body))
        return calls

    def bind(self, h) -> None:
        self._queries, self._spark, self._sf_dir = h.queries, h.spark, h.sf_dir

    def gate(self, h) -> GateResult:
        import duckdb
        from tests.compare import assert_frames_match

        from lime_on_spark_spark.plans import registry

        oracles = registry.oracle_sql()
        res = GateResult()
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{h.sf_dir}/{t}.parquet')"
                )
            for row in self.rows:
                try:
                    assert_frames_match(self._warm[row], con.execute(oracles[row]).df(), row)
                    res.check(row, [])
                except AssertionError as exc:
                    res.check(row, [str(exc).splitlines()[0][:300]])
        finally:
            con.close()
        return res

    def report(self, calls: list[dict], wall_s: float) -> dict:
        return {}

    def layers(self, h, calls: list[dict]) -> dict:
        return operator_layers(h) if self.operator_layers else {}


def operator_layers(h) -> dict:
    """Direct calls into ``operators`` on the corpus embeddings: the Lloyd
    loop, the PQ trainer and min-label connected components. Traced runs
    only; each is timed to completion."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.operators.connected_components import connected_components
    from lime_on_spark_spark.operators.kmeans import lloyd_kmeans
    from lime_on_spark_spark.operators.pq import train_pq
    from lime_on_spark_spark.sources.catalog import load_table

    emb = load_table(h.spark, h.sf_dir, "embeddings").select("vec_id", "embedding")
    out = {}
    iters = 3
    with h.span("operators.lloyd_kmeans") as sp:
        lloyd_kmeans(emb, k=8, iters=iters).write.format("noop").mode("overwrite").save()
    out["operators.lloyd_kmeans_s"] = sp.seconds
    out["operators.jobs_per_iteration"] = sp.jobs / iters
    with h.span("operators.train_pq") as sp:
        codes, _ = train_pq(emb, dim=64, m_subspaces=8, k=16, iters=iters)
        codes.write.format("noop").mode("overwrite").save()
    out["operators.train_pq_s"] = sp.seconds
    # A 1000-node graph of 125 eight-node chains, so min-label propagation
    # converges within its round budget.
    edges = (
        h.spark.range(0, 1000, 1, 4)
        .filter(F.col("id") % 8 != 7)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    with h.span("operators.connected_components") as sp:
        connected_components(edges).write.format("noop").mode("overwrite").save()
    out["operators.connected_components_s"] = sp.seconds
    return out


RELATIONAL_ROWS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "w1_order_rank_per_customer", "t1_tumbling_hour",
    "d1_exact_dedup", "d3_knn_cosine_topk", "j7_asof_join",
    "o15_aqe_bhj_conversion", "w12_median_joinback", "o16_window_group_limit",
)

VECTOR_ROWS = (
    "d39_kmeans_lloyd", "d91_pq_quantization", "d92_ivfadc_search",
    "d10b_cc_star", "d96_supplier_pagerank", "d45_minhash_banded_exact",
)


# --------------------------------------------------------------------------
# lime_explain
# --------------------------------------------------------------------------


class LimeExplain:
    """Direct ``explain_tabular`` (200 samples, k=6) calls on batches of 8,
    32 and 64 ``vec_id``s and ``explain_text`` (100 samples, k=5) calls on
    batches of 8 and 32 ``doc_id``s, the ids drawn by the seed.

    Five shapes, not four: with an odd number of latency classes per round
    the median call falls inside the middle class instead of on the border
    between two, where it would jump between them from run to run."""

    name = "lime_explain"
    round_s = 6.5
    SHAPES = (("tabular", 8), ("tabular", 32), ("tabular", 64), ("text", 8), ("text", 32))
    K = {"tabular": 6, "text": 5}

    #: Text batches draw only documents of this many words: an explanation's
    #: cost grows with the words it perturbs, and every seed must do the
    #: same work.
    TEXT_WORDS = (48, 52)

    def bind(self, h) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.h = h
        # The id pools are read with PyArrow, not the session: drawing the
        # inputs is the benchmark's work and costs the engine nothing.
        emb = pq.read_table(os.path.join(h.sf_dir, "embeddings.parquet"), columns=["vec_id"])
        self.vec_ids = np.sort(emb["vec_id"].to_numpy())
        docs = pq.read_table(os.path.join(h.sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        words = pc.list_value_length(pc.split_pattern(docs["text"], " "))
        lo, hi = self.TEXT_WORDS
        keep = pc.and_(pc.greater_equal(words, lo), pc.less_equal(words, hi))
        self.doc_ids = np.sort(docs["doc_id"].filter(keep).to_numpy())
        self._first: tuple | None = None

    def _explain(self, kind: str, ids: list[int], cx) -> list:
        from lime_on_spark_spark.lime.explain import explain_tabular, explain_text

        h = self.h
        if kind == "tabular":
            df = explain_tabular(h.spark, h.sf_dir, ids, num_samples=200, k=self.K[kind])
        else:
            df = explain_text(h.spark, h.sf_dir, ids, num_samples=100, k=self.K[kind])
        cx.execute(df)
        return df.collect()  # bounded: len(ids) * k rows

    def _call(self, kind: str, ids: list[int]) -> Call:
        def body(cx):
            rows = self._explain(kind, ids, cx)
            if self._first is None:
                self._first = (kind, ids, sorted(map(tuple, rows)))
            return _check_explanations(rows, ids, self.K[kind])

        return Call(f"{kind}{len(ids)}", kind, body, instances=len(ids))

    def _draw(self, rng, kind: str, n: int) -> list[int]:
        pool = self.vec_ids if kind == "tabular" else self.doc_ids
        return sorted(int(i) for i in rng.choice(pool, n, replace=False))

    def setup(self, h) -> None:
        from lime_on_spark_spark.lime.models import train_tabular_model, train_text_model

        with h.span("lime.train_model_miss"):
            train_tabular_model(h.spark, h.sf_dir)
            train_text_model(h.spark, h.sf_dir)
        # Calls keep getting cheaper for about four rounds after the models
        # exist: the third and fourth rounds still use 20-40% more CPU time
        # than later ones, mostly in JIT compilation, and how fast that
        # settles depends on the host. So four untimed rounds come first.
        warm_rng = np.random.default_rng(0)
        for _ in range(4):
            for call in self.round(warm_rng):
                h.warm(call)
        self._first = None

    def round(self, rng) -> list[Call]:
        calls = []
        for i in rng.permutation(len(self.SHAPES)):
            kind, n = self.SHAPES[i]
            calls.append(self._call(kind, self._draw(rng, kind, n)))
        return calls

    def gate(self, h) -> GateResult:
        """A repeat of the window's first batch must be bit-identical."""
        res = GateResult()
        kind, ids, first = self._first
        repeat = sorted(map(tuple, self._explain(kind, ids, NullCx())))
        res.check(
            f"{kind}{len(ids)} repeat",
            [] if repeat == first else ["repeat of the first batch is not bit-identical"],
        )
        return res

    def report(self, calls: list[dict], wall_s: float) -> dict:
        n = sum(c["instances"] for c in calls)
        return {"explanations_per_s": {"value": n / wall_s, "unit": "1/s"}}

    def layers(self, h, calls: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from lime_on_spark_spark.lime.explain import _corpus_means
        from lime_on_spark_spark.lime.models import (
            score_tabular,
            train_tabular_model,
            train_text_model,
        )
        from lime_on_spark_spark.lime.perturb import perturb_tabular
        from lime_on_spark_spark.sources.catalog import load_table

        out = {}
        with h.span("lime.train_model_hit") as hit:
            model = train_tabular_model(h.spark, h.sf_dir)
            train_text_model(h.spark, h.sf_dir)
        out["lime.train_model_miss_s"] = h.span_seconds("lime.train_model_miss")
        out["lime.train_model_hit_s"] = hit.seconds
        emb = load_table(h.spark, h.sf_dir, "embeddings")
        instances = emb.filter(F.col("vec_id") < 64).select(
            F.col("vec_id").alias("instance_id"),
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        samples = perturb_tabular(
            instances, mu=_corpus_means(h.spark, h.sf_dir), num_samples=200, seed=7
        )
        with h.span("lime.perturb") as sp:
            out["lime.perturb_rows"] = samples.count()  # bounded: one row
        out["lime.perturb_s"] = sp.seconds
        with h.span("lime.score") as sp:
            score_tabular(model, samples).write.format("noop").mode("overwrite").save()
        out["lime.score_s"] = sp.seconds
        out["lime.pandas_udf_stage_ms"] = _median([c["exec"]["python_stage_ms"] for c in calls if c.get("exec")])
        out.update(operator_layers(h))
        return out


def _check_explanations(rows, ids: list[int], k: int) -> list[str]:
    problems = []
    if len(rows) != len(ids) * k:
        problems.append(f"{len(rows)} rows, expected {len(ids)} x {k}")
    if sorted({r["instance_id"] for r in rows}) != sorted(ids):
        problems.append("explained instances differ from the requested ids")
    if not all(math.isfinite(r["weight"]) for r in rows):
        problems.append("non-finite weight")
    return problems


class NullCx:
    """A call context that records nothing (for checks outside calls)."""

    def execute(self, df=None) -> None:
        pass


# --------------------------------------------------------------------------
# lakehouse_cdc
# --------------------------------------------------------------------------

BUCKETS = 16
SCHEMA = "k bigint, bucket bigint, v double"


class Model:
    """What the generator knows the table holds: key -> (row id, v)."""

    def __init__(self):
        self.live: dict[int, tuple[int, float]] = {}
        self.next_row = 0
        self.next_key = 0

    def rows(self) -> set[tuple[int, int]]:
        return {(k, r) for k, (r, _) in self.live.items()}

    def put(self, k: int, v: float) -> None:
        self.live[k] = (self.next_row, v)
        self.next_row += 1

    def per_bucket(self, v_min: float | None = None) -> dict[int, tuple[int, float]]:
        out: dict[int, list] = {}
        for k, (_, v) in self.live.items():
            if v_min is None or v > v_min:
                acc = out.setdefault(k % BUCKETS, [0, 0.0])
                acc[0] += 1
                acc[1] += v
        return {b: (n, s) for b, (n, s) in out.items()}


def _buckets_match(got: dict, want: dict) -> list[str]:
    if set(got) != set(want):
        return [f"buckets {sorted(got)} != {sorted(want)}"]
    bad = [
        b for b in want
        if got[b][0] != want[b][0] or not math.isclose(got[b][1], want[b][1], rel_tol=1e-9, abs_tol=1e-6)
    ]
    return [f"bucket {b}: got {got[b]}, expected {want[b]}" for b in bad[:3]]


class LakehouseCdc:
    """Cycles of writes and reads against one ``json_manifest_sink`` table
    that starts empty: append, MERGE, DELETE, a filtered snapshot aggregate,
    the same aggregate time-travelled to the version before the DELETE, the
    change feed of the last two versions, and one ``availableNow`` run of a
    ``json_manifest_cdf_stream_source`` consumer that maintains a per-bucket
    view. Read cost grows with table history. Seven operations, an odd
    number of latency classes, keep the median call inside one class."""

    name = "lakehouse_cdc"
    APPEND, MERGE, DELETE = 20_000, 2_000, 500
    V_MIN = 0.25
    round_s = 9.0

    def bind(self, h) -> None:
        from lime_on_spark_spark.plans.sources_sinks import _register_manifest_classes
        from lime_on_spark_spark.sources.python_source import ManifestCDFStreamSource

        self.h = h
        _register_manifest_classes(h.spark)
        h.spark.dataSource.register(ManifestCDFStreamSource)
        self.tables = 0
        self._fresh_table()

    def _fresh_table(self) -> None:
        self.tables += 1
        base = os.path.join(self.h.tmp, f"table{self.tables}")
        self.path, self.ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
        self.model = Model()
        self.view: dict[int, list] = {}
        self.versions: list[set] = [set()]  # row sets at each committed version
        self.filtered: list[dict] = [{}]  # the snapshot aggregate at each version
        self.cycle = 0

    def setup(self, h) -> None:
        # One cycle on a throwaway table, at a tenth of the sizes, warms every
        # code path; the timed cycles then start from an empty table.
        warm_rng = np.random.default_rng(0)
        for call in self.round(warm_rng, scale=0.1):
            h.warm(call)
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
        self._fresh_table()

    def start_window(self) -> None:
        if self.cycle:
            shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
            self._fresh_table()

    def _commit(self) -> None:
        self.versions.append(self.model.rows())
        self.filtered.append(self.model.per_bucket(self.V_MIN))

    def _aggregate(self, cx, version: int | None = None) -> dict:
        from pyspark.sql import functions as F

        from lime_on_spark_spark.session import temp_conf

        spark = self.h.spark
        reader = spark.read.format("json_manifest_source").option("path", self.path)
        if version is not None:
            reader = reader.option("version", str(version))
        with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
            df = (
                reader.load()
                .filter(F.col("v") > self.V_MIN)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            )
            cx.execute(df)
            rows = df.collect()  # bounded: BUCKETS rows
        return {r["bucket"]: (r["n"], r["s"]) for r in rows}

    def round(self, rng, scale: float = 1.0) -> list[Call]:
        import pandas as pd
        from pyspark.sql import functions as F

        from lime_on_spark_spark.session import temp_conf
        from lime_on_spark_spark.sources.python_source import (
            delete_where_manifest_path,
            merge_into_manifest_path,
        )

        spark = self.h.spark
        self.cycle += 1
        n_append, n_merge, n_delete = (int(n * scale) for n in (self.APPEND, self.MERGE, self.DELETE))

        inputs: dict = {}

        def prep_append():
            lo = self.model.next_key
            keys = np.arange(lo, lo + n_append)
            vals = np.round(rng.random(n_append), 6)
            inputs["append"] = pd.DataFrame({"k": keys, "bucket": keys % BUCKETS, "v": vals})
            for k, v in zip(keys.tolist(), vals.tolist()):
                self.model.put(k, v)
            self.model.next_key = lo + n_append
            self._commit()

        def append(cx):
            df = spark.createDataFrame(inputs.pop("append"), SCHEMA).repartition(2)
            cx.execute(df)
            df.write.format("json_manifest_sink").option("path", self.path).mode("append").save()
            return []

        def prep_merge():
            keys = rng.choice(sorted(self.model.live), n_merge, replace=False)
            vals = np.round(rng.random(n_merge), 6)
            inputs["merge"] = pd.DataFrame({"k": keys, "bucket": keys % BUCKETS, "v": vals})
            for k, v in zip(keys.tolist(), vals.tolist()):
                self.model.put(k, v)
            self._commit()

        def merge(cx):
            updates = spark.createDataFrame(inputs.pop("merge"), SCHEMA).repartition(2)
            cx.execute()
            merge_into_manifest_path(spark, self.path, updates, "k")
            return []

        def prep_delete():
            lo = int(rng.integers(0, self.model.next_key - n_delete))
            inputs["delete"] = lo
            for k in range(lo, lo + n_delete):
                self.model.live.pop(k, None)
            self._commit()

        def delete(cx):
            lo = inputs.pop("delete")
            cx.execute()
            delete_where_manifest_path(spark, self.path, [("k", "ge", lo), ("k", "lt", lo + n_delete)])
            return []

        def snapshot(cx):
            return _buckets_match(self._aggregate(cx), self.filtered[-1])

        def time_travel(cx):
            version = len(self.versions) - 2
            return _buckets_match(self._aggregate(cx, version), self.filtered[version])

        def change_feed(cx):
            from lime_on_spark_spark.sources.python_source import _load_manifest

            v_to = len(self.versions) - 1
            if _load_manifest(self.path)["version"] != v_to:
                return [f"table is at v{_load_manifest(self.path)['version']}, model at v{v_to}"]
            with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
                df = (
                    spark.read.format("json_manifest_source").option("path", self.path)
                    .option("read_changes", "true")
                    .option("starting_version", str(v_to - 2))
                    .load()
                    .groupBy("_change_type")
                    .count()
                )
                cx.execute(df)
                got = {r["_change_type"]: r["count"] for r in df.collect()}  # bounded: 2 rows
            before, after = self.versions[v_to - 2], self.versions[v_to]
            want = {"insert": len(after - before), "delete": len(before - after)}
            want = {t: n for t, n in want.items() if n}
            return [] if got == want else [f"change counts {got}, expected {want}"]

        def consume(cx):
            def apply(batch_df, batch_id):
                deltas = batch_df.groupBy("bucket").agg(
                    F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(-1)).alias("dn"),
                    F.sum(F.when(F.col("_change_type") == "insert", F.col("v")).otherwise(-F.col("v"))).alias("ds"),
                )
                for r in deltas.collect():  # bounded: BUCKETS rows
                    acc = self.view.setdefault(r["bucket"], [0, 0.0])
                    acc[0] += r["dn"]
                    acc[1] += r["ds"]

            query = (
                spark.readStream.format("json_manifest_cdf_stream_source")
                .option("path", self.path).load()
                .writeStream.foreachBatch(apply)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            cx.stream(query)
            try:
                query.awaitTermination()
            finally:
                query.stop()
            cx.set_progress(query.recentProgress)
            got = {b: (n, s) for b, (n, s) in self.view.items() if n}
            return _buckets_match(got, self.model.per_bucket())

        return [
            Call("append", "commit", append, prepare=prep_append),
            Call("merge", "commit", merge, prepare=prep_merge),
            Call("delete", "commit", delete, prepare=prep_delete),
            Call("snapshot_read", "read", snapshot),
            Call("time_travel_read", "read", time_travel),
            Call("cdf_read", "read", change_feed),
            Call("consumer", "view", consume),
        ]

    def gate(self, h) -> GateResult:
        from pyspark.sql import functions as F

        from lime_on_spark_spark.session import temp_conf

        res = GateResult()
        with temp_conf(h.spark, "spark.sql.python.filterPushdown.enabled", "true"):
            rows = (
                h.spark.read.format("json_manifest_source").option("path", self.path).load()
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
                .collect()  # bounded: BUCKETS rows
            )
        want = self.model.per_bucket()
        res.check("full snapshot", _buckets_match({r["bucket"]: (r["n"], r["s"]) for r in rows}, want))
        res.check("view", _buckets_match({b: (n, s) for b, (n, s) in self.view.items() if n}, want))
        return res

    def report(self, calls: list[dict], wall_s: float) -> dict:
        def p50(kind):
            return {"value": _median([c["latency_s"] for c in calls if c["kind"] == kind]), "unit": "s"}

        return {"commit_p50_s": p50("commit"), "read_p50_s": p50("read"), "view_refresh_s": p50("view")}

    def layers(self, h, calls: list[dict]) -> dict:
        from lime_on_spark_spark.sources.python_source import _load_manifest

        out = {}
        for item, name in (
            ("append", "append_s"), ("merge", "merge_s"), ("delete", "delete_s"),
            ("snapshot_read", "snapshot_read_s"), ("time_travel_read", "time_travel_read_s"),
            ("cdf_read", "cdf_read_s"),
        ):
            out[f"sources.manifest.{name}"] = _median([c["latency_s"] for c in calls if c["item"] == item])
        reads = [(c["round"], c["latency_s"]) for c in calls if c["item"] == "snapshot_read"]
        out["sources.manifest.read_growth_s_per_cycle"] = (
            float(np.polyfit(*zip(*reads), 1)[0]) if len(reads) > 1 else 0.0
        )
        files = _load_manifest(self.path)["files"]
        live_bytes = sum(os.path.getsize(os.path.join(self.path, f["name"])) for f in files)
        out["sources.manifest.files_live"] = len(files)
        out["sources.manifest.dv_files"] = sum(1 for f in files if f.get("dv"))
        out["sources.manifest.bytes_per_live_row"] = live_bytes / max(1, len(self.model.live))
        consumers = [c for c in calls if c["item"] == "consumer"]
        progress = [p for c in consumers for p in c.get("progress", [])]
        out["streaming.trigger_ms"] = _median([p["durationMs"].get("triggerExecution", 0) for p in progress])
        out["streaming.batches"] = len(progress)
        out["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
        out["streaming.start_s"] = _median([c["start_s"] for c in consumers if "start_s" in c])
        return out


def make(name: str):
    if name == "relational_mix":
        return RegistryMix(name, RELATIONAL_ROWS, round_s=12.0, operator_layers=False)
    if name == "vector_pipeline":
        return RegistryMix(name, VECTOR_ROWS, round_s=40.0, operator_layers=True)
    if name == "lime_explain":
        return LimeExplain()
    if name == "lakehouse_cdc":
        return LakehouseCdc()
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("lime_explain", "lakehouse_cdc", "relational_mix", "vector_pipeline")
