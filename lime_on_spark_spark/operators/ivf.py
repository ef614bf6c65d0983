"""IVF (inverted-file) approximate nearest neighbor (north-star similarity
search: the cluster-probe scale path alongside LSH in plans/vectors.py).

Index = the engine's k-means cells over the embedding corpus (operators/
kmeans.py, so `kmeans_oracle_ctes` replays them). A query probes only the
`n_probe` nearest centroid cells, so the scan cost drops from O(corpus) to
O(corpus * n_probe / n_cells) while the in-cell ranking stays exact cosine.

Scale notes: the centroid table is tiny (k × d doubles) and driver-held;
cell assignment is the Lloyd loop's distributed argmin; the probe filter
is a partition-prunable `cell IN (...)` predicate. At 100 TB you'd persist
the assigned corpus bucketed by cell id — the probe then touches only
matching buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.functions.vector import cosine
from lime_on_spark_spark.operators.kmeans import _kmeans
from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table


def build_ivf_index(spark: SparkSession, sf_dir: str, n_cells: int = 16):
    """Fit k-means cells (3 Lloyd iterations, as `lloyd_kmeans`) and
    return (assigned_df, centroids ndarray): the corpus plus its final
    `cell`, and the centroids that assignment used. A cluster that empties
    drops out of Lloyd's cids, so cells renumber the surviving cids
    densely: centroid row i is cell i for every consumer.

    Memoized per session: an IVF index is built once and amortized over
    every query against the same corpus (d4_ivf_knn, d63b_* share one fit).
    """

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        codes, cent = _kmeans(emb, k=n_cells, iters=3)
        cids = sorted(cent)
        dense = F.create_map(*[F.lit(x) for i, c in enumerate(cids) for x in (c, i)])
        # localCheckpoint: the cached index must not re-run the fit lineage
        # on every consumer; k x d centroids + the assigned table are tiny
        # relative to any corpus where IVF matters.
        assigned = (
            emb.join(
                codes.select("vec_id", dense[F.col("cid").cast("int")].alias("cell")),
                "vec_id",
            )
            .select(*emb.columns, "cell")
            .localCheckpoint(eager=True)
        )
        return (assigned, np.array([cent[c] for c in cids]))

    return session_memo(spark, ("ivf", sf_dir, n_cells), build)


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    *,
    k: int = 10,
    n_probe: int = 4,
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Probe the n_probe nearest cells (centroid L2 rounded to 6 dp, ties
    to the lower cell), exact cosine top-k within them."""
    q = np.asarray(query_vec, dtype=np.float64)
    dists = np.round(np.linalg.norm(centroids - q, axis=1), 6)
    probe_cells = [int(c) for c in np.argsort(dists, kind="stable")[:n_probe]]
    q_col = F.array(*[F.lit(float(v)) for v in q])
    candidates = assigned.filter(F.col("cell").isin(probe_cells))
    if exclude_ids:
        candidates = candidates.filter(~F.col("vec_id").isin(list(exclude_ids)))
    return (
        candidates.select(
            "vec_id",
            "label",
            "cell",
            F.round(cosine(F.col("embedding"), q_col), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )
