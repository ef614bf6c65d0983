"""The Arrow samplers against the column expressions they replace.

`perturb_tabular`, `perturb_text` and `perturb_text_bow` build each
neighborhood in one `mapInArrow` pass driven by a NumPy twin of Spark's
`xxhash64`. These tests pin them bit for bit against references assembled
here from `with_samples` + `_bernoulli_keep` and the column expressions the
samplers used before (interpreted `transform`/`zip_with`/`aggregate`), and
pin the explainers against the reference pipeline with the label window,
the `zip_with` distance and the `groupBy(instance_id).applyInPandas` fit.
The explainers' own fit pass runs without a shuffle, keeps that equality
when neighborhoods span Arrow batches and partitions, and refuses
interleaved instance runs.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lime_on_spark_spark.lime import perturb
from lime_on_spark_spark.lime.perturb import (
    _bernoulli_keep,
    perturb_tabular,
    perturb_text,
    perturb_text_bow,
    with_samples,
)
from lime_on_spark_spark.session import temp_conf

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


# --------------------------------------------------------------------------
# References: the column-expression samplers
# --------------------------------------------------------------------------
def _ref_z(seed: int, id_col: str, width: Column) -> Column:
    keep = lambda i: _bernoulli_keep(  # noqa: E731
        seed, F.col(id_col), F.col("sample_id"), i
    )
    return F.when(F.col("sample_id") == 0, F.array_repeat(F.lit(1), width)).otherwise(
        F.transform(F.sequence(F.lit(0), width - 1), lambda i: keep(i).cast("int"))
    )


def ref_perturb_tabular(instances, *, x_col="x", id_col="instance_id", mu, num_samples, seed=7):
    d = len(mu)
    mu_col = F.array(*[F.lit(float(m)) for m in mu])
    samples = with_samples(instances, num_samples).withColumn(
        "z", _ref_z(seed, id_col, F.lit(d))
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: (
            F.element_at(F.col(x_col), i + 1).cast("double") * F.element_at(F.col("z"), i + 1)
            + F.element_at(mu_col, i + 1) * (1 - F.element_at(F.col("z"), i + 1))
        ),
    )
    return samples.withColumn("raw", raw)


def ref_perturb_text(docs, *, text_col="text", id_col="doc_id", num_samples, seed=7):
    samples = with_samples(docs, num_samples).withColumn("_toks", F.split(F.col(text_col), " "))
    toks = F.col("_toks")
    samples = samples.withColumn("z", _ref_z(seed, id_col, F.size(toks)))
    kept_words = F.array_compact(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda i: F.when(F.element_at(F.col("z"), i + 1) == 1, F.element_at(toks, i + 1)),
        )
    )
    return (
        samples.withColumn("perturbed", F.concat_ws(" ", kept_words))
        .withColumn("n_kept", F.aggregate("z", F.lit(0), lambda s, v: s + v))
        .drop("_toks")
    )


def ref_perturb_text_bow(docs, *, text_col="text", id_col="doc_id", num_samples, seed=7):
    samples = with_samples(docs, num_samples).withColumn("_toks", F.split(F.col(text_col), " "))
    samples = samples.withColumn("vocab", F.array_distinct(F.col("_toks")))
    samples = samples.withColumn("z", _ref_z(seed, id_col, F.size("vocab")))
    kept_words = F.filter(
        F.col("_toks"),
        lambda w: F.element_at(F.col("z"), F.array_position(F.col("vocab"), w).cast("int")) == 1,
    )
    return (
        samples.withColumn("perturbed", F.concat_ws(" ", kept_words))
        .withColumn("n_kept", F.aggregate("z", F.lit(0), lambda s, v: s + v))
        .drop("_toks")
    )


def _bits(v):
    """Exact-comparison key: floats by bit pattern (NaN == NaN, -0.0 != 0.0)."""
    if isinstance(v, float):
        return ("f64", struct.pack(">d", v).hex())
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _rows(df: DataFrame) -> list:
    return sorted((_bits(tuple(r)) for r in df.collect()), key=repr)


def assert_same(got: DataFrame, want: DataFrame) -> None:
    assert got.dtypes == want.dtypes
    got_rows, want_rows = _rows(got), _rows(want)
    assert len(got_rows) == len(want_rows)
    assert got_rows == want_rows


# --------------------------------------------------------------------------
# The hash twin
# --------------------------------------------------------------------------
INT_IDS = [0, 1, -1, 7, 123456, -(2**31), 2**31 - 1]
LONG_IDS = INT_IDS + [2**31, 2**31 + 5, 2**40 + 3, -(2**40), 2**63 - 1, -(2**63)]
SEEDS = [7, 0, -3, 2**31 - 1, -(2**31), 2**31 + 9, -(2**35)]


def _twin_hash(seed: int, ids: np.ndarray, long_ids: bool, sample_id: np.ndarray, pos: np.ndarray):
    id_hash = perturb._xxhash64_long if long_ids else perturb._xxhash64_int
    h = id_hash(ids, perturb._seed_hash(seed))
    h = perturb._xxhash64_int(sample_id, h)
    return perturb._xxhash64_int(pos, h).view(np.int64)


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_xxhash64_twin_matches_spark(spark, id_type):
    ids = INT_IDS if id_type == "int" else LONG_IDS
    grid = (
        spark.createDataFrame([(i,) for i in ids], f"id {id_type}")
        .crossJoin(spark.range(4).select(F.col("id").cast("int").alias("sample_id")))
        .crossJoin(spark.range(5).select(F.col("id").cast("int").alias("pos")))
    )
    cols = [F.col("id"), F.col("sample_id"), F.col("pos")]
    for j, seed in enumerate(SEEDS):
        cols += [
            F.xxhash64(F.lit(seed), "id", "sample_id", "pos").alias(f"h{j}"),
            _bernoulli_keep(seed, F.col("id"), F.col("sample_id"), F.col("pos")).alias(f"k{j}"),
        ]
    rows = grid.select(*cols).collect()
    assert len(rows) == len(ids) * 4 * 5
    id_arr = np.array([r["id"] for r in rows], dtype=np.int64)
    sample_id = np.array([r["sample_id"] for r in rows], dtype=np.int32)
    pos = np.array([r["pos"] for r in rows], dtype=np.int32)
    for j, seed in enumerate(SEEDS):
        got = _twin_hash(seed, id_arr, id_type == "bigint", sample_id, pos)
        assert got.tolist() == [r[f"h{j}"] for r in rows], seed
        assert ((got & 1) == 0).tolist() == [r[f"k{j}"] for r in rows], seed


def test_keep_mask_matches_bernoulli_keep(spark):
    """The sampler's (instance, sample, position) mask is `_bernoulli_keep`
    evaluated by Spark, with sample 0 all kept."""
    seed, S, width = 2**31 + 9, 6, 9
    ids = np.array(LONG_IDS, dtype=np.int64)
    h_id = perturb._xxhash64_long(ids, perturb._seed_hash(seed))
    mask = perturb._keep_mask(h_id, S, width)
    inst = spark.createDataFrame([(int(i),) for i in ids], "instance_id bigint")
    want = (
        with_samples(inst, S)
        .withColumn("z", _ref_z(seed, "instance_id", F.lit(width)))
        .collect()
    )
    index = {int(i): k for k, i in enumerate(ids)}
    for r in want:
        assert mask[index[r["instance_id"]], r["sample_id"]].astype(int).tolist() == r["z"]


def test_unsupported_id_types_raise_when_the_plan_is_built(spark):
    tab = spark.createDataFrame([("a", [1.0])], "instance_id string, x array<double>")
    dbl = spark.createDataFrame([(1.0, "a b")], "doc_id double, text string")
    dec = dbl.select(F.col("doc_id").cast("decimal(10,0)").alias("doc_id"), "text")
    with pytest.raises(TypeError, match="instance_id"):
        perturb_tabular(tab, mu=[0.0], num_samples=3)
    for docs in (dbl, dec):
        for sampler in (perturb_text, perturb_text_bow):
            with pytest.raises(TypeError, match="doc_id"):
                sampler(docs, num_samples=3)
    ok = spark.createDataFrame([(1, [1.0])], "instance_id bigint, x array<double>")
    with pytest.raises(TypeError, match="seed"):
        perturb_tabular(ok, mu=[0.0], num_samples=3, seed=2**64)


# --------------------------------------------------------------------------
# Sampler equivalence
# --------------------------------------------------------------------------
NAN, INF = float("nan"), float("inf")


@pytest.fixture(scope="module")
def tabular(spark):
    rows = [
        (0, [1.0, NAN, -0.0, 4.0, 0.5]),
        (-5, [-0.0, -0.0, -1.5, INF, -INF]),
        (2**31 + 7, [3.25, 1e-300, -2.0, 1e300, 7.0]),
        (12, [5.0, 6.0, None, 8.0, 0.1]),
        (13, None),
        (None, [0.25, -1.0, 2.0, -0.0, 9.0]),
    ] + [(100 + i, [float(i) / 3.0, -float(i), 0.0, 2.0**i, 1.0 / (i + 1)]) for i in range(11)]
    return spark.createDataFrame(rows, "instance_id bigint, x array<double>")


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (1, " leading space"),
        (2, "a double  space here"),
        (3, "trailing space "),
        (4, ""),
        (5, None),
        (-6, "spark join spark filter spark join"),
        (7, "naïve café 的 naïve 的"),
        (8, " "),
        (None, "no id here no"),
    ] + [(20 + i, " ".join(f"w{(i * j) % 7}" for j in range(i + 3))) for i in range(9)]
    return spark.createDataFrame(rows, "doc_id int, text string")


MU = [0.5, -0.0, 0.0, 1.25, -3.0]
TEXT_SAMPLERS = [(perturb_text, ref_perturb_text), (perturb_text_bow, ref_perturb_text_bow)]


@pytest.mark.parametrize("seed", [7, 2**31 + 9])
def test_perturb_tabular_equals_column_reference(spark, tabular, seed):
    kwargs = dict(mu=MU, num_samples=9, seed=seed)
    assert_same(perturb_tabular(tabular, **kwargs), ref_perturb_tabular(tabular, **kwargs))
    as_int = tabular.filter(F.abs("instance_id") < 2**31).select(
        F.col("instance_id").cast("int").alias("iid"),
        F.col("x").alias("feat"),
        F.lit("tag").alias("t"),
    )
    kwargs.update(x_col="feat", id_col="iid")
    assert_same(perturb_tabular(as_int, **kwargs), ref_perturb_tabular(as_int, **kwargs))


def test_perturb_tabular_float_input_equals_column_reference(spark):
    inst = spark.createDataFrame(
        [(1, [0.1, -0.0, 3.3]), (2, [float("nan"), 2.5, -1.0e-30])],
        "instance_id bigint, x array<float>",
    )
    kwargs = dict(mu=[0.2, 0.0, -0.7], num_samples=7, seed=3)
    assert_same(perturb_tabular(inst, **kwargs), ref_perturb_tabular(inst, **kwargs))


@pytest.mark.parametrize("sampler,ref", TEXT_SAMPLERS)
def test_text_samplers_equal_column_reference(spark, texts, sampler, ref):
    for seed in (7, -(2**35)):
        kwargs = dict(num_samples=11, seed=seed)
        assert_same(sampler(texts, **kwargs), ref(texts, **kwargs))


def test_samplers_on_zero_instances(spark, tabular, texts):
    none = tabular.filter(F.lit(False))
    assert_same(
        perturb_tabular(none, mu=MU, num_samples=4), ref_perturb_tabular(none, mu=MU, num_samples=4)
    )
    no_docs = texts.filter(F.lit(False))
    for sampler, ref in TEXT_SAMPLERS:
        assert_same(sampler(no_docs, num_samples=4), ref(no_docs, num_samples=4))


def test_samplers_over_many_arrow_batches(spark, tabular, texts):
    """Input split over several partitions and several Arrow batches each."""
    with temp_conf(spark, BATCH_CONF, "3"):
        tab = tabular.repartition(3, "instance_id")
        kwargs = dict(mu=MU, num_samples=5, seed=11)
        assert_same(perturb_tabular(tab, **kwargs), ref_perturb_tabular(tab, **kwargs))
        docs = texts.repartition(2, "doc_id")
        for sampler, ref in TEXT_SAMPLERS:
            assert_same(sampler(docs, num_samples=5), ref(docs, num_samples=5))


def _captured_pass(spark, monkeypatch, build_plan):
    """Build a sampler's plan, capturing the function it hands to
    `mapInArrow` so its batches can be inspected in this process."""
    captured = {}
    cls = type(spark.range(1))
    real = cls.mapInArrow

    def capture(self, func, schema, *args, **kwargs):
        captured["func"] = func
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInArrow", capture)
    build_plan()
    monkeypatch.undo()
    return captured["func"]


@pytest.mark.parametrize("num_samples", [3, 7, 10])
def test_output_batches_hold_whole_instances_within_the_session_limit(
    spark, monkeypatch, num_samples
):
    import pyarrow as pa

    limit = 7
    inst = spark.createDataFrame([(0, [1.0, 2.0])], "instance_id bigint, x array<double>")
    docs = spark.createDataFrame([(0, "a b a")], "doc_id bigint, text string")
    with temp_conf(spark, BATCH_CONF, str(limit)):
        plans = {
            "tabular": lambda: perturb_tabular(inst, mu=[0.0, 0.0], num_samples=num_samples),
            "text": lambda: perturb_text(docs, num_samples=num_samples),
            "bow": lambda: perturb_text_bow(docs, num_samples=num_samples),
        }
        passes = {name: _captured_pass(spark, monkeypatch, p) for name, p in plans.items()}
    # The limit is read when the plan is built, not when it runs.
    assert spark.conf.get(BATCH_CONF) != str(limit)
    inputs = {
        "tabular": [
            pa.RecordBatch.from_pydict(
                {"instance_id": pa.array(range(lo, lo + n), pa.int64()),
                 "x": pa.array([[float(i), -1.0] for i in range(n)], pa.list_(pa.float64()))}
            )
            for lo, n in ((0, 5), (5, 1), (6, 0), (6, 4))
        ],
    }
    inputs["text"] = inputs["bow"] = [
        pa.RecordBatch.from_pydict(
            {"doc_id": pa.array(range(lo, lo + n), pa.int64()),
             "text": pa.array(["x y z x"] * n, pa.string())}
        )
        for lo, n in ((0, 5), (5, 1), (6, 0), (6, 4))
    ]
    per_batch = max(1, limit // num_samples)
    for name, run in passes.items():
        out = list(run(iter(inputs[name])))
        seen = []
        for batch in out:
            ids = batch.column(0).to_numpy()
            sample_id = batch.column("sample_id").to_numpy()
            n = batch.num_rows // num_samples
            assert batch.num_rows == n * num_samples, name
            assert n <= per_batch, name
            assert batch.num_rows <= limit or n == 1, name
            assert sample_id.tolist() == list(range(num_samples)) * n, name
            assert (ids.reshape(n, num_samples) == ids[::num_samples, None]).all(), name
            seen += ids[::num_samples].tolist()
        assert seen == list(range(10)), name


# --------------------------------------------------------------------------
# Explain equivalence: the reference pipeline with the label window and the
# zip_with distance
# --------------------------------------------------------------------------
def _ref_with_label_prob(scored: DataFrame) -> DataFrame:
    argmax = (F.array_position(F.col("probs"), F.array_max("probs")) - 1).cast("int")
    target = F.max(F.when(F.col("sample_id") == 0, argmax)).over(Window.partitionBy("instance_id"))
    return scored.withColumn("target", target).withColumn(
        "y", F.element_at("probs", F.col("target") + 1)
    )


def ref_explain_tabular(
    spark, sf_dir, ids, *, num_samples=200, k=6, seed=7, alpha=1.0,
    feature_selection="highest_weights", kernel_scale=1.0, regression=False,
):
    from lime_on_spark_spark.lime.explain import TABULAR_SCHEMA, _corpus_means, _fit_group
    from lime_on_spark_spark.lime.kernel import (
        default_kernel_width,
        euclidean_distance,
        exponential_kernel,
    )
    from lime_on_spark_spark.lime.models import (
        score_regression,
        score_tabular,
        train_regression_model,
        train_tabular_model,
    )
    from lime_on_spark_spark.sources.catalog import load_table

    mu = _corpus_means(spark, sf_dir)
    width = default_kernel_width(len(mu))
    instances = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("instance_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    samples = ref_perturb_tabular(instances, mu=mu, num_samples=num_samples, seed=seed)
    if regression:
        scored = score_regression(train_regression_model(spark, sf_dir), samples)
    else:
        scored = _ref_with_label_prob(score_tabular(train_tabular_model(spark, sf_dir), samples))
        width *= kernel_scale
    weighted = scored.withColumn(
        "weight", exponential_kernel(euclidean_distance(F.col("raw"), F.col("x")), width)
    )
    return (
        weighted.select("instance_id", "sample_id", "z", "y", "weight")
        .groupBy("instance_id")
        .applyInPandas(
            lambda pdf: _fit_group(pdf, k, alpha, with_words=False, method=feature_selection),
            schema=TABULAR_SCHEMA,
        )
    )


def ref_explain_text(spark, sf_dir, ids, *, num_samples=100, k=5, seed=7, alpha=1.0, bow=False):
    from lime_on_spark_spark.lime.explain import TEXT_KERNEL_WIDTH, TEXT_SCHEMA, _fit_group
    from lime_on_spark_spark.lime.kernel import exponential_kernel
    from lime_on_spark_spark.lime.models import score_text, train_text_model
    from lime_on_spark_spark.sources.catalog import load_table

    instances = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isin(ids)).select(
        F.col("doc_id").alias("instance_id"), "text", "lang"
    )
    kwargs = dict(id_col="instance_id", num_samples=num_samples, seed=seed)
    if bow:
        samples = (
            ref_perturb_text_bow(instances, **kwargs)
            .withColumn("doc_words", F.col("vocab"))
            .drop("text", "vocab")
        )
    else:
        samples = ref_perturb_text(instances, **kwargs).withColumn(
            "doc_words", F.split("text", " ")
        ).drop("text")
    model, _labels = train_text_model(spark, sf_dir)
    scored = _ref_with_label_prob(score_text(model, samples))
    dist = (1 - F.sqrt(F.col("n_kept") / F.size("z"))) * 100
    weighted = scored.withColumn("weight", exponential_kernel(dist, TEXT_KERNEL_WIDTH))
    return (
        weighted.select(
            "instance_id", "sample_id", "z", F.col("doc_words").alias("words"), "y", "weight"
        )
        .groupBy("instance_id")
        .applyInPandas(
            lambda pdf: _fit_group(pdf, k, alpha, with_words=True), schema=TEXT_SCHEMA
        )
    )


TAB_IDS = [0, 3, 17, 42, 99, 250, 311, 499]
DOC_IDS = [1, 5, 8, 13, 21, 34, 55]


def test_explain_tabular_equals_reference(spark, sf_dir):
    from lime_on_spark_spark.lime.explain import explain_tabular

    assert_same(
        explain_tabular(spark, sf_dir, TAB_IDS), ref_explain_tabular(spark, sf_dir, TAB_IDS)
    )
    kwargs = dict(num_samples=120, k=4, seed=2**31 + 9, kernel_scale=0.5,
                  feature_selection="forward_selection")
    assert_same(
        explain_tabular(spark, sf_dir, TAB_IDS[:3], **kwargs),
        ref_explain_tabular(spark, sf_dir, TAB_IDS[:3], **kwargs),
    )


def test_explain_tabular_regression_equals_reference(spark, sf_dir):
    from lime_on_spark_spark.lime.explain import explain_tabular_regression

    assert_same(
        explain_tabular_regression(spark, sf_dir, TAB_IDS),
        ref_explain_tabular(spark, sf_dir, TAB_IDS, regression=True),
    )


@pytest.mark.parametrize("bow", [False, True])
def test_explain_text_equals_reference(spark, sf_dir, bow):
    from lime_on_spark_spark.lime.explain import explain_text

    assert_same(
        explain_text(spark, sf_dir, DOC_IDS, bow=bow),
        ref_explain_text(spark, sf_dir, DOC_IDS, bow=bow),
    )


# --------------------------------------------------------------------------
# The fit pass: each neighborhood fitted in the partition that built it
# --------------------------------------------------------------------------
def _explainers(spark, sf_dir):
    from lime_on_spark_spark.lime.explain import (
        explain_tabular,
        explain_tabular_regression,
        explain_text,
    )
    from lime_on_spark_spark.lime.image import explain_image

    return {
        "tabular": lambda: explain_tabular(spark, sf_dir, TAB_IDS),
        "regression": lambda: explain_tabular_regression(spark, sf_dir, TAB_IDS),
        "text": lambda: explain_text(spark, sf_dir, DOC_IDS),
        "image": lambda: explain_image(spark, sf_dir, DOC_IDS),
    }


def test_explainers_run_without_a_shuffle_or_grouped_pandas_stage(spark, sf_dir):
    for name, explain in _explainers(spark, sf_dir).items():
        plan = explain()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)


def _spread(sampler):
    """``sampler`` with its instance rows hash-partitioned three ways first."""
    return lambda instances, **kwargs: sampler(
        instances.repartition(3, "instance_id"), **kwargs
    )


def test_explainers_equal_reference_when_runs_span_batches_and_partitions(
    spark, sf_dir, monkeypatch
):
    from lime_on_spark_spark.lime import explain, image
    from lime_on_spark_spark.lime.explain import TABULAR_SCHEMA, _fit_group

    monkeypatch.setattr(explain, "_tabular_samples", _spread(explain._tabular_samples))
    monkeypatch.setattr(explain, "_text_samples", _spread(explain._text_samples))
    block_means = image.block_means
    monkeypatch.setattr(
        image, "block_means", lambda *a: block_means(*a).repartition(3, "instance_id")
    )
    # Every neighborhood (at least 64 rows) spans three or more batches.
    with temp_conf(spark, BATCH_CONF, "29"):
        got = {name: explain() for name, explain in _explainers(spark, sf_dir).items()}
        assert_same(got["tabular"], ref_explain_tabular(spark, sf_dir, TAB_IDS))
        assert_same(
            got["regression"], ref_explain_tabular(spark, sf_dir, TAB_IDS, regression=True)
        )
        assert_same(got["text"], ref_explain_text(spark, sf_dir, DOC_IDS))
        monkeypatch.setattr(
            image, "_fit_pass",
            lambda df, k, alpha: df.groupBy("instance_id").applyInPandas(
                lambda pdf: _fit_group(pdf, k, alpha, with_words=False),
                schema=TABULAR_SCHEMA,
            ),
        )
        assert_same(got["image"], _explainers(spark, sf_dir)["image"]())


def test_fit_pass_raises_when_an_instance_run_is_interleaved(spark):
    from lime_on_spark_spark.lime.explain import _fit_pass

    rows = [
        (iid, s, [1, s % 2], float(s), 1.0)
        for iid in (1, 2, 1)
        for s in range(3)
    ]
    frame = spark.createDataFrame(
        rows, "instance_id bigint, sample_id int, z array<int>, y double, weight double"
    ).coalesce(1)
    with pytest.raises(Exception, match="instance_id 1 appears again"):
        _fit_pass(frame, k=1, alpha=1.0).collect()
    assert _fit_pass(frame.filter("instance_id = 2"), k=1, alpha=1.0).count() == 1
