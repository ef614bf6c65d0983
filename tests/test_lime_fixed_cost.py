"""Pins for what a warm batch LIME call pays whatever its batch.

A warm ``explain_tabular``/``explain_text`` call builds its plan in a fixed
number of Py4J round trips (the ids travel as one parsed ``IN``, the
call-invariant columns come from the session memo, the model's params were
sent when it was memoized), compiles no new Janino class at any batch
size (``get_spark()`` plans every ``IN`` as an ``InSet``, which codegen
does not inline, and a lone distinct id is padded so that the optimizer
cannot turn its ``IN`` into an ``=``), keeps
the ids in the parquet scan's pushed filters, and never carries the mask
``z`` through the JVM: the fit pass regenerates it with the sampler's own
hash twin, which the property test below holds to the ``z`` the public
samplers emit.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lime_on_spark_spark import session
from lime_on_spark_spark.lime import explain
from lime_on_spark_spark.lime.perturb import (
    _mask_twin,
    _text_samples,
    perturb_tabular,
    perturb_text,
    perturb_text_bow,
)
from lime_on_spark_spark.session import temp_conf

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def py4j_commands(spark):
    """Count the Py4J commands the calling thread sends (the finalizer
    thread's object detaches are not the call's plan)."""
    client = spark.sparkContext._gateway._gateway_client
    me, sent = threading.get_ident(), [0]
    real = client.send_command

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return real(*args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        del client.send_command


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _call(spark, sf_dir, kind, ids):
    if kind == "tabular":
        return explain.explain_tabular(spark, sf_dir, ids, num_samples=40, k=4)
    return explain.explain_text(spark, sf_dir, ids, num_samples=30, k=3)


def _ids(rng, n):
    return sorted(int(i) for i in rng.choice(500, n, replace=False))


@pytest.mark.parametrize("kind,budget", [("tabular", 200), ("text", 250)])
def test_warm_call_round_trips_are_bounded_and_do_not_grow_with_the_batch(
    spark, sf_dir, kind, budget
):
    rng = np.random.default_rng(17)
    for n in (8, 64):
        _call(spark, sf_dir, kind, _ids(rng, n)).collect()
    sent = {}
    for n in (8, 64):
        with py4j_commands(spark) as count:
            rows = _call(spark, sf_dir, kind, _ids(rng, n)).collect()
        sent[n] = count[0]
        assert len({r["instance_id"] for r in rows}) == n
    assert sent[8] == sent[64], sent
    assert sent[8] <= budget, sent


#: Fresh batches by id suffix: (distinct ids, copies of each). One id, and
#: one id repeated, both reach the optimizer as a one-element ``IN``.
_BATCHES = {"": (8, 1), "-one": (1, 1), "-duplicated": (1, 3)}


@pytest.mark.parametrize(
    "kind,distinct,copies",
    [
        pytest.param(kind, distinct, copies, id=kind + suffix)
        for suffix, (distinct, copies) in _BATCHES.items()
        for kind in ("tabular", "text")
    ],
)
def test_warm_call_with_fresh_ids_compiles_no_class(spark, sf_dir, kind, distinct, copies):
    # Each batch shape draws its own ids: a class compiled for another
    # shape's ids must not hide this one's.
    rng = np.random.default_rng([29, distinct, copies])
    for _ in range(2):
        _call(spark, sf_dir, kind, _ids(rng, distinct) * copies).collect()
    before = _compiles(spark)
    _call(spark, sf_dir, kind, _ids(rng, distinct) * copies).collect()
    assert _compiles(spark) - before == 0


def test_ids_stay_pushed_into_the_scan_and_no_lambda_is_interpreted(spark, sf_dir):
    ids = [3, 17, 250, 499]
    for kind, col in (("tabular", "vec_id"), ("text", "doc_id")):
        plan = _call(spark, sf_dir, kind, ids)._jdf.queryExecution().executedPlan().toString()
        pushed = re.search(rf"PushedFilters: \[In\({col}, \[([-\d,]+)\]\)\]", plan)
        assert pushed and sorted(map(int, pushed.group(1).split(","))) == ids, plan
        if kind == "tabular":
            assert "lambdafunction" not in plan.lower(), plan


def test_no_explainer_frame_carries_z(spark, sf_dir):
    frames = {
        "tabular": explain.explain_tabular(spark, sf_dir, [1, 2]),
        "regression": explain.explain_tabular_regression(spark, sf_dir, [1, 2]),
        "text": explain.explain_text(spark, sf_dir, [1, 2]),
        "text_bow": explain.explain_text(spark, sf_dir, [1, 2], bow=True),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert not re.search(r"(?<![\w.])z#\d+", plan), (name, plan)
        assert "MapInArrow" in plan, name


def test_ids_are_validated_before_any_job(spark, sf_dir):
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("lime-ids", "id validation")
    try:
        for bad in ([1.5], ["3"], [True], [2**63], [-(2**63) - 1], [None]):
            with pytest.raises(TypeError):
                explain.explain_tabular(spark, sf_dir, bad)
            with pytest.raises(TypeError):
                explain.explain_text(spark, sf_dir, bad)
        assert tracker.getJobIdsForGroup("lime-ids") == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert explain.explain_tabular(spark, sf_dir, []).collect() == []
    assert explain.explain_text(spark, sf_dir, []).collect() == []
    # NumPy ints and the bigint extremes are ids like any other.
    edge = [np.int64(5), -(2**63), 2**63 - 1, 7]
    rows = explain.explain_tabular(spark, sf_dir, edge, num_samples=20, k=2).collect()
    assert {r["instance_id"] for r in rows} == {5, 7}


def test_warm_memo_hit_sends_no_command(spark):
    session.session_memo(spark, ("t.warm",), lambda: 1)
    with py4j_commands(spark) as count:
        assert session.session_memo(spark, ("t.warm",), lambda: 2) == 1
    assert count[0] == 0


def test_worker_heap_is_frozen_once_per_process():
    """The passes freeze what a Python worker holds at their first batch,
    so the daemon's ``gc.collect()`` after each task skips the imported
    modules; a second pass in the same process freezes nothing more."""
    import subprocess
    import sys

    probe = (
        "import gc\n"
        "from lime_on_spark_spark.lime.perturb import _freeze_worker_heap\n"
        "_freeze_worker_heap()\n"
        "frozen = gc.get_freeze_count()\n"
        "young = [[i] for i in range(1000)]\n"
        "_freeze_worker_heap()\n"
        "print(frozen > 10000, gc.get_freeze_count() == frozen)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.split() == ["True", "True"], out


def _probs(df, key: str) -> dict:
    return {
        (r[key], r["sample_id"]): [p.hex() for p in r["probs"]]
        for r in df.select(key, "sample_id", "probs").collect()
    }


def test_probability_only_scoring_equals_model_transform(spark, sf_dir):
    """The scorers run a copy of the model that computes only probability
    (no rawPrediction or prediction, no label indexer): the probabilities
    are those of the fitted model's own ``transform``, bit for bit."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from lime_on_spark_spark.lime.models import (
        score_tabular,
        score_text,
        train_tabular_model,
        train_text_model,
    )
    from lime_on_spark_spark.sources.catalog import load_table

    model = train_tabular_model(spark, sf_dir)
    inst = load_table(spark, sf_dir, "embeddings").filter("vec_id < 6").selectExpr(
        "vec_id AS instance_id", "embedding AS x"
    )
    samples = perturb_tabular(inst, mu=explain._corpus_means(spark, sf_dir), num_samples=25)
    got = score_tabular(model, samples)
    assert "rawPrediction" not in got._jdf.queryExecution().analyzed().toString()
    want = model.transform(samples.withColumn("features", array_to_vector("raw")))
    want = want.withColumn("probs", vector_to_array("probability"))
    assert _probs(got, "instance_id") == _probs(want, "instance_id")

    pipeline, _labels = train_text_model(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 6")
    texts = perturb_text(docs.select("doc_id", "text"), num_samples=25).drop("text")
    # The probability-only pipeline has no label indexer, so no `lang`.
    got = score_text(pipeline, texts)
    want = pipeline.transform(
        perturb_text(docs.select("doc_id", "text", "lang"), num_samples=25)
        .drop("text")
        .withColumnRenamed("perturbed", "text")
    ).withColumn("probs", vector_to_array("probability"))
    assert _probs(got, "doc_id") == _probs(want, "doc_id")


# --------------------------------------------------------------------------
# The z twin against the samplers' z
# --------------------------------------------------------------------------
_SEEDS = st.one_of(
    st.integers(-(2**31), 2**31 - 1), st.integers(-(2**63), 2**63 - 1)
)
_TWIN = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
#: 1, and more samples than one Arrow batch holds under ``BATCH_LIMIT``.
_NUM_SAMPLES = st.sampled_from([1, 2, 13, 40])
BATCH_LIMIT = "16"


def _by_row(rows):
    return {(r[0], r["sample_id"]): r for r in rows}


@_TWIN
@given(
    id_type=st.sampled_from(["int", "bigint"]),
    ids=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=4, unique=True),
    big=st.booleans(),
    seed=_SEEDS,
    num_samples=_NUM_SAMPLES,
    d=st.integers(1, 9),
)
def test_tabular_z_twin_equals_sampler_z(spark, id_type, ids, big, seed, num_samples, d):
    if big and id_type == "bigint":
        ids = [i * 2**32 + 1 for i in ids]
    rows = [(i, [float(j) for j in range(d)]) for i in ids]
    inst = spark.createDataFrame(rows, f"instance_id {id_type}, x array<double>")
    with temp_conf(spark, BATCH_CONF, BATCH_LIMIT):
        got = perturb_tabular(inst, mu=[0.5] * d, num_samples=num_samples, seed=seed).collect()
    twin = _mask_twin(inst.schema, "instance_id", seed=seed, num_samples=num_samples, width=d)
    assert len(got) == len(ids) * num_samples
    for iid in ids:
        mine = sorted((r for r in got if r["instance_id"] == iid), key=lambda r: r["sample_id"])
        sample_id = np.array([r["sample_id"] for r in mine])
        assert twin(iid, sample_id, None).tolist() == [r["z"] for r in mine]


_WORDS = st.lists(st.sampled_from(["a", "b", "spark", "", "的"]), min_size=1, max_size=12)


@_TWIN
@given(
    id_type=st.sampled_from(["int", "bigint"]),
    docs=st.lists(_WORDS, min_size=1, max_size=4),
    seed=_SEEDS,
    num_samples=_NUM_SAMPLES,
    bow=st.booleans(),
)
def test_text_z_twin_equals_sampler_z(spark, id_type, docs, seed, num_samples, bow):
    rows = [(10 * i - 7, " ".join(words)) for i, words in enumerate(docs)]
    frame = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    sampler = perturb_text_bow if bow else perturb_text
    kwargs = dict(text_col="text", id_col="doc_id", num_samples=num_samples, seed=seed)
    with temp_conf(spark, BATCH_CONF, BATCH_LIMIT):
        public = _by_row(sampler(frame, num_samples=num_samples, seed=seed).collect())
        jvm_dist = _by_row(
            sampler(frame, num_samples=num_samples, seed=seed)
            .select("doc_id", "sample_id", ((1 - F.sqrt(F.col("n_kept") / F.size("z"))) * 100).alias("d"))
            .collect()
        )
        inner = _by_row(_text_samples(frame, bow=bow, with_dist=True, **kwargs).collect())
    assert public.keys() == inner.keys()
    assert len(public) == len(rows) * num_samples
    twin = _mask_twin(frame.schema, "doc_id", seed=seed, num_samples=num_samples)
    for doc_id, _text in rows:
        words = inner[(doc_id, 0)]["doc_words"]
        sample_id = np.arange(num_samples)
        assert twin(doc_id, sample_id, words).tolist() == [
            public[(doc_id, s)]["z"] for s in sample_id
        ]
        for s in sample_id:
            # The sampler's distance is the JVM's expression, bit for bit.
            assert inner[(doc_id, s)]["dist"].hex() == jvm_dist[(doc_id, s)]["d"].hex()
