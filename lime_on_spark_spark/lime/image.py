"""Image-LIME over the multimodal blob column (SURVEY.md §2j row L12).

Upstream analogue [public, unverified locally]: ``lime_image.
LimeImageExplainer`` — segment the image into superpixels, perturb by
hiding segments (``hide_color=0``), score the black box, weight by an
exponential kernel over cosine distance (upstream width 0.25), fit the
weighted ridge over the binary segment mask.

Sandbox adaptation, stated honestly:
* No image codecs or ``skimage`` exist here, so the "image" is the
  synthetic 'raw' blob (utf-8 byte strip) and SEGMENTATION is the stub:
  8 contiguous byte blocks stand in for quickshift superpixels. The Spark
  plumbing — decode in a map-only Arrow stage, blobs never shuffled, only
  the 8-dim block-mean feature vector continues into the pipeline — is
  exactly the real-codec architecture.
* No vision model exists either, so the black box is a PLANTED linear
  scorer y = b + Σ w_s·(mean_s/255)·z_s. That choice makes the surrogate
  PROVABLE (y is exactly linear in z, so the full-width ridge must recover
  sign-correct weights with r² ≈ 1) and the block means are byte-exactly
  checkable against the hex-expansion SQL oracle (plans/multimodal_plans
  pattern).

Scale: decode + block means are one `mapInPandas` scan stage (Arrow
batches, no shuffle of bytes); the neighborhood explosion, masks, black
box, and kernel are JVM expressions; the ridge is L8's `_fit_pass` over
the runs the explosion emits — no shuffle anywhere, identical shape to L8.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.lime.explain import _fit_pass, _ids_in
from lime_on_spark_spark.lime.kernel import exponential_kernel
from lime_on_spark_spark.lime.perturb import _bernoulli_keep, with_samples
from lime_on_spark_spark.sources.catalog import load_table

#: Number of byte-block "superpixels".
N_SEGMENTS = 8

#: Planted black-box weights/bias (the linear scorer over scaled block means).
PLANTED_W = (3.0, -2.0, 1.5, -1.0, 2.5, -0.5, 1.0, -1.5)
PLANTED_B = 0.2

#: Upstream lime_image kernel width.
IMAGE_KERNEL_WIDTH = 0.25


def block_means(spark: SparkSession, sf_dir: str, doc_ids: list[int]) -> DataFrame:
    """Decode blobs once and emit (instance_id, bm array<double>): the mean
    byte value of each of the N_SEGMENTS contiguous blocks. Map-only Arrow
    stage — bytes never shuffle; block s covers [s·n/8, (s+1)·n/8)."""
    from lime_on_spark_spark.operators.multimodal import (
        attach_fake_blobs,
        decode_blob,
    )

    docs = load_table(spark, sf_dir, "documents").filter(_ids_in("doc_id", doc_ids))
    blobs = attach_fake_blobs(docs)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob, meta in zip(pdf["doc_id"], pdf["blob"], pdf["meta"]):
                arr = decode_blob(meta["fmt"], blob)
                n = arr.size
                bm = []
                for s in range(N_SEGMENTS):
                    lo, hi = s * n // N_SEGMENTS, (s + 1) * n // N_SEGMENTS
                    seg = arr[lo:hi]
                    bm.append(float(seg.mean()) if seg.size else 0.0)
                rows.append({"instance_id": doc_id, "bm": bm})
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(run, "instance_id bigint, bm array<double>")


def explain_image(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: list[int],
    *,
    num_samples: int = 64,
    seed: int = 11,
    alpha: float = 1.0,
) -> DataFrame:
    """Full image-LIME batch: one row per (instance, segment) with the
    surrogate weight. Full-width fit (k = N_SEGMENTS) so recovery of the
    planted scorer is provable."""
    bm = block_means(spark, sf_dir, doc_ids)
    samples = with_samples(bm, num_samples)
    z = F.when(
        F.col("sample_id") == 0, F.array_repeat(F.lit(1), N_SEGMENTS)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(N_SEGMENTS - 1)),
            lambda i: _bernoulli_keep(
                seed, F.col("instance_id"), F.col("sample_id"), i
            ).cast("int"),
        )
    )
    samples = samples.withColumn("z", z)

    w_col = F.array(*[F.lit(w) for w in PLANTED_W])
    kept_scaled = F.zip_with(
        F.col("bm"), F.col("z"), lambda m, zz: m / F.lit(255.0) * zz
    )
    y = F.lit(PLANTED_B) + F.aggregate(
        F.zip_with(kept_scaled, w_col, lambda t, ww: t * ww),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_kept = F.aggregate(F.col("z"), F.lit(0), lambda acc, v: acc + v)
    dist = 1 - F.sqrt(n_kept.cast("double") / F.lit(float(N_SEGMENTS)))
    weighted = samples.withColumn("y", y).withColumn(
        "weight", exponential_kernel(dist, IMAGE_KERNEL_WIDTH)
    )
    return _fit_pass(
        weighted.select("instance_id", "sample_id", "z", "y", "weight"),
        k=N_SEGMENTS, alpha=alpha,
    )


def expected_true_beta(bm: list[float]) -> np.ndarray:
    """The black box's exact coefficient on z_s: w_s · mean_s / 255."""
    return np.array(PLANTED_W) * np.asarray(bm) / 255.0
