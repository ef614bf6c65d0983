"""Batch LIME explanation pipelines (SURVEY.md §2j rows L4, L8).

The Spark raison d'être: explain MANY instances at once. Shape (§3.3):

1. one `mapInArrow` pass turns each instance row into its num_samples
   neighborhood rows (L2/L3: deterministic xxhash64 masks, the
   reconstruction and the distance to the instance — NumPy over Arrow,
   see `perturb.py`); the masks themselves stay in that Python worker;
2. score every perturbation with the broadcast MLlib model (L4 — the only
   JVM↔model boundary, the fitted model's Java transformer);
3. kernel weights as one codegen'd column over the distance (L5);
4. one `mapInArrow` fit pass (`_fit_pass`) — it cuts each partition's
   batches into runs of equal instance_id, and when a run ends it fits
   that instance: the target class (the black box's first argmax on the
   unperturbed sample 0), closed-form ridge and feature selection in
   NumPy (L6/L7). It reads probs or y, the weights and the words from the
   Arrow columns and regenerates each instance's mask z from (instance_id,
   sample_id, seed, num_samples, width) with the sampler's own hash twin
   (`perturb._mask_twin`), bit-identical by construction.

Scale: no shuffle. The sampler emits each instance's whole neighborhood
as one run of rows inside one partition, and scoring and weighting are
narrow maps, so the fit runs where the neighborhood was built: one job,
one stage. Executor memory holds one run (num_samples rows) regardless of
corpus size. The pass raises on the executor if an instance_id shows up
again after its run closed, so a plan that breaks contiguity fails loudly
instead of fitting half-neighborhoods.

Per-call fixed cost: building a call's plan takes the same number of Py4J
round trips whatever the batch size. The ids reach the JVM as one parsed
``IN`` (`_ids_in`), which ``get_spark()`` sessions plan as an ``InSet``
that codegen does not inline, so a warm call compiles no new class; the
kernel column comes from the session memo and the model's params were
sent once, when it was memoized (`models._transform`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.lime.kernel import default_kernel_width, exponential_kernel
from lime_on_spark_spark.lime.perturb import (
    _freeze_worker_heap,
    _mask_twin,
    _tabular_samples,
    _text_samples,
)
from lime_on_spark_spark.lime.ridge import explain_with_data
from lime_on_spark_spark.lime.models import (
    score_tabular,
    score_text,
    train_tabular_model,
    train_text_model,
)
from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table

TABULAR_SCHEMA = (
    "instance_id bigint, feature_idx int, weight double, "
    "intercept double, r2 double, local_pred double"
)
TEXT_SCHEMA = (
    "instance_id bigint, feature_idx int, word string, weight double, "
    "intercept double, r2 double, local_pred double"
)

#: Upstream default kernel width for text explanations.
TEXT_KERNEL_WIDTH = 25.0


def _ids_in(column: str, ids) -> Column:
    """``column IN (ids)`` as one parsed expression: a single Py4J call
    whatever the number of ids (``isin`` costs about three per id).
    ``F.lit(False)`` for no ids. Raises TypeError, before any job runs,
    for an id that is not an integer or does not fit a bigint.

    One distinct id is padded with ``NULL``, which no id equals: the
    optimizer rewrites a one-element ``IN`` as ``=`` with the id inlined
    in the generated class, so every call with a new lone id compiled new
    classes. A filter drops the rows the padded ``IN`` makes NULL, as it
    drops the rows it makes false."""
    literals = []
    for i in ids:
        if isinstance(i, (bool, np.bool_)) or not isinstance(i, (int, np.integer)):
            raise TypeError(f"ids must be integers, got {i!r} ({type(i).__name__})")
        if not -(2**63) <= int(i) < 2**63:
            raise TypeError(f"id {int(i)} does not fit a bigint")
        literals.append(str(int(i)))
    if not literals:
        return F.lit(False)
    if len(set(literals)) == 1:
        literals.append("NULL")
    name = column.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(literals)})")


def _columns(spark: SparkSession, *exprs: str) -> list[Column]:
    """``exprs`` (a name or ``name AS alias``) as Columns, parsed once per
    session: they do not depend on a call's ids."""
    return session_memo(spark, ("lime.columns", exprs), lambda: [F.expr(e) for e in exprs])


def _kernel_weight(spark: SparkSession, width: float) -> Column:
    """The L5 ``weight`` over the sampler's ``dist`` column, built once per
    session and width: the same expression for every call."""
    return session_memo(
        spark,
        ("lime.kernel", width),
        lambda: exponential_kernel(F.col("dist"), width).alias("weight"),
    )

def _corpus_means(spark: SparkSession, sf_dir: str) -> list[float]:
    """Corpus per-dimension means, memoized per session: the corpus is
    immutable for a session, the agg is deterministic, and recomputing it
    per explain call puts a full posexplode-aggregate job in every
    invocation's wall-time."""

    def build() -> list[float]:
        emb = load_table(spark, sf_dir, "embeddings")
        as_double = F.transform("embedding", lambda v: v.cast("double"))
        mu_rows = (
            emb.select(F.posexplode(as_double).alias("pos", "v"))
            .groupBy("pos")
            .agg(F.avg("v").alias("mu"))
            .collect()  # bounded: d rows, one per embedding dimension
        )
        return [r["mu"] for r in sorted(mu_rows, key=lambda r: r["pos"])]

    return session_memo(spark, ("corpus_means", sf_dir), build)


def _fit_instance(
    instance_id: int,
    Z: np.ndarray,
    w: np.ndarray,
    *,
    y: np.ndarray | None = None,
    probs: np.ndarray | None = None,
    words: list[str] | None = None,
    k: int,
    alpha: float,
    method: str = "highest_weights",
) -> dict:
    """The L6/L7 fit of one neighborhood, rows in sample_id order: the
    output columns of TABULAR_SCHEMA (TEXT_SCHEMA with ``words``).
    Regression passes ``y``; a classifier passes ``probs`` instead."""
    if probs is not None:
        # Classifier: y = P(target) per sample, the target being the first
        # argmax of the black box on the unperturbed sample 0.
        y = probs[:, int(np.argmax(probs[0]))]
    idx, beta, intercept, r2, local_pred = explain_with_data(
        Z, y, w, k, alpha, method=method
    )
    out = {
        "instance_id": np.full(len(idx), instance_id, dtype=np.int64),
        "feature_idx": idx.astype(np.int32),
        "weight": beta,
        "intercept": np.repeat(intercept, len(idx)),
        "r2": np.repeat(r2, len(idx)),
        "local_pred": np.repeat(local_pred, len(idx)),
    }
    if words is not None:
        out["word"] = [words[i] for i in idx]
    return out


def _fit_group(
    pdf: pd.DataFrame,
    k: int,
    alpha: float,
    with_words: bool,
    method: str = "highest_weights",
) -> pd.DataFrame:
    """`_fit_instance` over one ``groupBy(instance_id).applyInPandas``
    group: the reference pipelines the fit pass is tested against."""
    pdf = pdf.sort_values("sample_id").reset_index(drop=True)
    probs = np.stack(pdf["probs"].to_numpy()) if "probs" in pdf else None
    return pd.DataFrame(
        _fit_instance(
            pdf["instance_id"].iloc[0],
            np.stack(pdf["z"].to_numpy()),
            pdf["weight"].to_numpy(dtype=np.float64),
            y=None if probs is not None else pdf["y"].to_numpy(dtype=np.float64),
            probs=probs,
            words=pdf["words"].iloc[0] if with_words else None,
            k=k,
            alpha=alpha,
            method=method,
        )
    )


def _fit_pass(
    frame: DataFrame,
    *,
    k: int,
    alpha: float,
    with_words: bool = False,
    method: str = "highest_weights",
    z_twin: Callable | None = None,
) -> DataFrame:
    """Fit every neighborhood of ``frame`` (instance_id, sample_id, z,
    probs or y, weight, and words when ``with_words``) in the partition
    that holds it, one `mapInArrow` pass with no shuffle. With ``z_twin``
    (a `perturb._mask_twin`, the explainers) the frame has no z: each
    instance's mask is regenerated from its id, sample ids and words.

    Contract: each instance's rows are one contiguous run within one
    partition — what the samplers emit and narrow maps keep. A run may
    span Arrow batches; it is fitted when the next id starts or the
    partition ends. An id that appears again after its run closed raises
    ValueError on the executor."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    ddl = TEXT_SCHEMA if with_words else TABULAR_SCHEMA
    out_schema = to_arrow_schema(StructType.fromDDL(ddl))
    classifier = "probs" in frame.columns

    def column(run: list, name: str):
        chunks = [part.column(name) for part in run]
        return chunks[0] if len(chunks) == 1 else pa.concat_arrays(chunks)

    def values(run: list, name: str) -> np.ndarray:
        return column(run, name).to_numpy(zero_copy_only=False)

    def matrix(run: list, name: str) -> np.ndarray:
        arr = column(run, name)
        return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), -1)

    def fit(instance_id: int, run: list) -> dict:
        sample_id = values(run, "sample_id")
        order = np.argsort(sample_id, kind="stable")
        words = column(run, "words")[int(order[0])].as_py() if with_words else None
        return _fit_instance(
            instance_id,
            matrix(run, "z")[order]
            if z_twin is None
            else z_twin(instance_id, sample_id[order], words),
            values(run, "weight")[order],
            y=None if classifier else values(run, "y")[order],
            probs=matrix(run, "probs")[order] if classifier else None,
            words=words,
            k=k,
            alpha=alpha,
            method=method,
        )

    def to_batch(fits: list[dict]) -> pa.RecordBatch:
        return pa.RecordBatch.from_pydict(
            {name: np.concatenate([f[name] for f in fits]) for name in out_schema.names},
            schema=out_schema,
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _freeze_worker_heap()
        closed: set[int] = set()
        current, parts = None, []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("instance_id")
            if ids.null_count:
                raise ValueError("the LIME fit pass needs a non-null instance_id")
            ids = ids.to_numpy()
            cuts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist(), len(ids)]
            fits = []
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                instance_id = int(ids[lo])
                if instance_id != current:
                    if parts:
                        fits.append(fit(current, parts))
                        closed.add(current)
                    if instance_id in closed:
                        raise ValueError(
                            f"instance_id {instance_id} appears again after its "
                            "run closed: the LIME fit pass needs each instance's "
                            "rows contiguous within one partition"
                        )
                    current, parts = instance_id, []
                parts.append(batch.slice(lo, hi - lo))
            if fits:
                yield to_batch(fits)
        if parts:
            yield to_batch([fit(current, parts)])

    return frame.mapInArrow(run, ddl)


def _tabular_neighborhoods(
    spark: SparkSession, sf_dir: str, instance_ids, num_samples: int, seed: int
):
    """The tabular explainers' samples (instance_id, sample_id, raw, dist),
    the z twin of their masks and d. The sampler reads the float32
    embedding and widens it to double exactly."""
    # Corpus per-dimension means (distributed agg; d rows to the driver,
    # cached per session × sf_dir).
    mu = _corpus_means(spark, sf_dir)
    instances = load_table(spark, sf_dir, "embeddings").filter(
        _ids_in("vec_id", instance_ids)
    ).select(*_columns(spark, "vec_id AS instance_id", "embedding"))
    samples = _tabular_samples(
        instances, x_col="embedding", id_col="instance_id", mu=mu,
        num_samples=num_samples, seed=seed, with_dist=True,
    )
    z_twin = _mask_twin(
        instances.schema, "instance_id", seed=seed, num_samples=num_samples, width=len(mu)
    )
    return samples, z_twin, len(mu)


def explain_tabular(
    spark: SparkSession,
    sf_dir: str,
    instance_ids: list[int],
    *,
    num_samples: int = 200,
    k: int = 6,
    seed: int = 7,
    alpha: float = 1.0,
    feature_selection: str = "highest_weights",
    kernel_scale: float = 1.0,
) -> DataFrame:
    """L8 tabular: one explanation row per (instance, selected feature).

    ``kernel_scale`` multiplies the default kernel width (0.75 * sqrt(d),
    the upstream constant) — the l14 sensitivity knob: a narrower kernel
    weights only the closest perturbations (local but noisy), a wider one
    smooths toward the global surrogate.
    """
    samples, z_twin, d = _tabular_neighborhoods(spark, sf_dir, instance_ids, num_samples, seed)
    model = train_tabular_model(spark, sf_dir)
    weight = _kernel_weight(spark, default_kernel_width(d) * kernel_scale)
    return _fit_pass(
        score_tabular(model, samples).select(
            *_columns(spark, "instance_id", "sample_id", "probs"), weight
        ),
        k=k, alpha=alpha, method=feature_selection, z_twin=z_twin,
    )


def explain_text(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: list[int],
    *,
    num_samples: int = 100,
    k: int = 5,
    seed: int = 7,
    alpha: float = 1.0,
    feature_selection: str = "highest_weights",
    bow: bool = False,
) -> DataFrame:
    """L8 text: word-level explanation of the lang classifier's prediction.

    ``bow=True`` is upstream lime_text's default: the interpretable
    feature is the DISTINCT word and masking removes every occurrence
    (perturb_text_bow); ``bow=False`` is the positional mode. The
    downstream pipeline is identical — only the z-space and the feature
    naming change (vocab words vs positioned words)."""
    docs = load_table(spark, sf_dir, "documents")
    instances = docs.filter(_ids_in("doc_id", doc_ids)).select(
        *_columns(spark, "doc_id AS instance_id", "text")
    )
    # "doc_words" not "words": the scoring pipeline's Tokenizer owns "words".
    # The sampler's dist is the cosine distance scaled by 100, as upstream
    # lime_text does before its width-25 kernel — without the scaling the
    # kernel is ~1 everywhere and weighting is a no-op.
    samples = _text_samples(
        instances, text_col="text", id_col="instance_id",
        num_samples=num_samples, seed=seed, bow=bow, with_dist=True,
    )
    model, _labels = train_text_model(spark, sf_dir)
    return _fit_pass(
        score_text(model, samples).select(
            *_columns(spark, "instance_id", "sample_id", "doc_words AS words", "probs"),
            _kernel_weight(spark, TEXT_KERNEL_WIDTH),
        ),
        k=k, alpha=alpha, with_words=True, method=feature_selection,
        z_twin=_mask_twin(instances.schema, "instance_id", seed=seed, num_samples=num_samples),
    )


def explain_tabular_regression(
    spark: SparkSession,
    sf_dir: str,
    instance_ids: list[int],
    *,
    num_samples: int = 200,
    k: int = 6,
    seed: int = 7,
    alpha: float = 1.0,
) -> DataFrame:
    """L8 in upstream mode='regression': identical pipeline to
    explain_tabular except y is the regressor's raw prediction (no
    target-class selection, no softmax)."""
    from lime_on_spark_spark.lime.models import (
        score_regression,
        train_regression_model,
    )

    samples, z_twin, d = _tabular_neighborhoods(spark, sf_dir, instance_ids, num_samples, seed)
    model = train_regression_model(spark, sf_dir)
    return _fit_pass(
        score_regression(model, samples).select(
            *_columns(spark, "instance_id", "sample_id", "y"),
            _kernel_weight(spark, default_kernel_width(d)),
        ),
        k=k, alpha=alpha, z_twin=z_twin,
    )
