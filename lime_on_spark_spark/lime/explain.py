"""Batch LIME explanation pipelines (SURVEY.md §2j rows L4, L8).

The Spark raison d'être: explain MANY instances at once. Shape (§3.3):

1. one `mapInArrow` pass turns each instance row into its num_samples
   neighborhood rows (L2/L3: deterministic xxhash64 masks, the
   reconstruction and, for tabular, the euclidean distance — NumPy over
   Arrow, see `perturb.py`);
2. score every perturbation with the broadcast MLlib model (L4 — the only
   JVM↔model boundary, still DataFrame-native `model.transform`);
3. kernel weights as one codegen'd column over the distance (L5);
4. `groupBy(instance_id).applyInPandas` — one Arrow batch per instance
   holds its full neighborhood; the target class (the black box's first
   argmax on the unperturbed sample 0), closed-form ridge and feature
   selection run in NumPy (L6/L7).

Scale: one shuffle (the group-by on instance_id); each group is
num_samples rows regardless of corpus size, so executor memory is bounded
by the neighborhood, not the data. The target class is read inside the
group, where sample 0 already is, so no window or join branches the
perturb→score lineage.
"""

from __future__ import annotations

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


def _fit_group(
    pdf: pd.DataFrame,
    k: int,
    alpha: float,
    with_words: bool,
    method: str = "highest_weights",
) -> pd.DataFrame:
    pdf = pdf.sort_values("sample_id").reset_index(drop=True)
    Z = np.stack(pdf["z"].to_numpy())
    if "probs" in pdf:
        # Classifier: y = P(target) per sample, the target being the first
        # argmax of the black box on the unperturbed sample 0.
        probs = np.stack(pdf["probs"].to_numpy())
        y = probs[:, int(np.argmax(probs[0]))]
    else:
        y = pdf["y"].to_numpy(dtype=np.float64)
    w = pdf["weight"].to_numpy(dtype=np.float64)
    idx, beta, intercept, r2, local_pred = explain_with_data(
        Z, y, w, k, alpha, method=method
    )
    out = {
        "instance_id": np.repeat(pdf["instance_id"].iloc[0], len(idx)),
        "feature_idx": idx.astype(np.int32),
        "weight": beta,
        "intercept": np.repeat(intercept, len(idx)),
        "r2": np.repeat(r2, len(idx)),
        "local_pred": np.repeat(local_pred, len(idx)),
    }
    if with_words:
        words = pdf["words"].iloc[0]
        out["word"] = [words[i] for i in idx]
    return pd.DataFrame(out)


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
    return (
        weighted.select("instance_id", "sample_id", "z", "probs", "weight")
        .groupBy("instance_id")
        .applyInPandas(
            lambda pdf: _fit_group(pdf, k, alpha, with_words=False, method=feature_selection),
            schema=TABULAR_SCHEMA,
        )
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
    return (
        weighted.select(
            "instance_id", "sample_id", "z",
            F.col("doc_words").alias("words"), "probs", "weight",
        )
        .groupBy("instance_id")
        .applyInPandas(
            lambda pdf: _fit_group(pdf, k, alpha, with_words=True, method=feature_selection),
            schema=TEXT_SCHEMA,
        )
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
    return (
        weighted.select("instance_id", "sample_id", "z", "y", "weight")
        .groupBy("instance_id")
        .applyInPandas(
            lambda pdf: _fit_group(pdf, k, alpha, with_words=False),
            schema=TABULAR_SCHEMA,
        )
    )
