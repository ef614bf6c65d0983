"""Batch LIME explanation pipelines (SURVEY.md §2j rows L4, L8).

The Spark raison d'être: explain MANY instances at once. Shape (§3.3):

1. one `mapInArrow` pass turns each instance row into its num_samples
   neighborhood rows (L2/L3: deterministic xxhash64 masks, the
   reconstruction and, for tabular, the euclidean distance — NumPy over
   Arrow, see `perturb.py`);
2. score every perturbation with the broadcast MLlib model (L4 — the only
   JVM↔model boundary, still DataFrame-native `model.transform`);
3. kernel weights as one codegen'd column over the distance (L5);
4. one `mapInArrow` fit pass (`_fit_pass`) — it cuts each partition's
   batches into runs of equal instance_id, and when a run ends it fits
   that instance: the target class (the black box's first argmax on the
   unperturbed sample 0), closed-form ridge and feature selection in
   NumPy (L6/L7), reading z, probs and y straight from the Arrow columns.

Scale: no shuffle. The sampler emits each instance's whole neighborhood
as one run of rows inside one partition, and scoring and weighting are
narrow maps, so the fit runs where the neighborhood was built: one job,
one stage. Executor memory holds one run (num_samples rows) regardless of
corpus size. The pass raises on the executor if an instance_id shows up
again after its run closed, so a plan that breaks contiguity fails loudly
instead of fitting half-neighborhoods.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.lime.kernel import default_kernel_width, exponential_kernel
from lime_on_spark_spark.lime.perturb import _tabular_samples, _text_samples
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
            .collect()
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
) -> DataFrame:
    """Fit every neighborhood of ``frame`` (instance_id, sample_id, z,
    probs or y, weight, and words when ``with_words``) in the partition
    that holds it, one `mapInArrow` pass with no shuffle.

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
        order = np.argsort(values(run, "sample_id"), kind="stable")
        return _fit_instance(
            instance_id,
            matrix(run, "z")[order],
            values(run, "weight")[order],
            y=None if classifier else values(run, "y")[order],
            probs=matrix(run, "probs")[order] if classifier else None,
            words=column(run, "words")[int(order[0])].as_py() if with_words else None,
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
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda v: v.cast("double"))
    # Corpus per-dimension means (distributed agg; d rows to the driver,
    # cached per session × sf_dir).
    mu = _corpus_means(spark, sf_dir)
    d = len(mu)

    instances = emb.filter(F.col("vec_id").isin(instance_ids)).select(
        F.col("vec_id").alias("instance_id"), as_double.alias("x")
    )
    samples = _tabular_samples(
        instances, x_col="x", id_col="instance_id", mu=mu,
        num_samples=num_samples, seed=seed, with_dist=True,
    )
    model = train_tabular_model(spark, sf_dir)
    weighted = score_tabular(model, samples).withColumn(
        "weight",
        exponential_kernel(F.col("dist"), default_kernel_width(d) * kernel_scale),
    )
    return _fit_pass(
        weighted.select("instance_id", "sample_id", "z", "probs", "weight"),
        k=k, alpha=alpha, method=feature_selection,
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
    instances = docs.filter(F.col("doc_id").isin(doc_ids)).select(
        F.col("doc_id").alias("instance_id"), "text", "lang"
    )
    # "doc_words" not "words": the scoring pipeline's Tokenizer owns "words".
    samples = _text_samples(
        instances, text_col="text", id_col="instance_id",
        num_samples=num_samples, seed=seed, bow=bow, with_words=True,
    )
    model, _labels = train_text_model(spark, sf_dir)
    scored = score_text(model, samples)
    # Cosine distance between binary z and the all-ones original:
    # 1 - sum(z) / (sqrt(sum(z)) * sqrt(d')) = 1 - sqrt(n_kept / d'),
    # scaled by 100 as upstream lime_text does before its width-25 kernel —
    # without the scaling the kernel is ~1 everywhere and weighting is a
    # no-op.
    dist = (1 - F.sqrt(F.col("n_kept") / F.size("z"))) * 100
    weighted = scored.withColumn(
        "weight", exponential_kernel(dist, TEXT_KERNEL_WIDTH)
    )
    return _fit_pass(
        weighted.select(
            "instance_id", "sample_id", "z",
            F.col("doc_words").alias("words"), "probs", "weight",
        ),
        k=k, alpha=alpha, with_words=True, method=feature_selection,
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

    mu = _corpus_means(spark, sf_dir)
    d = len(mu)
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda v: v.cast("double"))
    instances = emb.filter(F.col("vec_id").isin(instance_ids)).select(
        F.col("vec_id").alias("instance_id"), as_double.alias("x")
    )
    samples = _tabular_samples(
        instances, x_col="x", id_col="instance_id", mu=mu,
        num_samples=num_samples, seed=seed, with_dist=True,
    )
    model = train_regression_model(spark, sf_dir)
    weighted = score_regression(model, samples).withColumn(
        "weight", exponential_kernel(F.col("dist"), default_kernel_width(d))
    )
    return _fit_pass(
        weighted.select("instance_id", "sample_id", "z", "y", "weight"),
        k=k, alpha=alpha,
    )
