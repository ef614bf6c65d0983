"""DataFrame-native Lloyd's k-means over embedding columns (SURVEY.md §2l
row D39; the honest training loop behind IVF-style cluster indexes and
SemDeDup-style semantic dedup).

k-means is the engine's one Lloyd loop (`operators/pq.py`, whose docstring
states the architecture and the determinism contract) with one subspace
holding the whole vector and one K. At 100 TB nothing changes shape: the
corpus never materializes on the driver, each iteration is one broadcast
plus one update shuffle over a corpus partitioned once upfront, and cost
is O(n·k·d / executors) per iteration, expressed in open DataFrame ops
so the oracle below can replay it. IVF's coarse cells
(`operators/ivf.py`) are this same fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lime_on_spark_spark.operators.pq import _lloyd


def _kmeans(
    emb: DataFrame, *, k: int, iters: int
) -> tuple[DataFrame, dict[int, list[float]]]:
    """The one-subspace call of :func:`pq._lloyd` over `emb(vec_id,
    embedding)`: ``(codes, centroids)`` with codes = (vec_id, cid, dist)
    and centroids = {cid: coords}, the ones the final assignment used."""
    whole = emb.select(
        "vec_id",
        F.lit(0).alias("m"),
        F.transform("embedding", lambda x: x.cast("double")).alias("sv"),
    )
    codes, cent = _lloyd(whole, m_subspaces=1, ks=(k,), iters=iters)
    return (
        codes.select("vec_id", "cid", "dist"),
        {cid: v for (_, _, cid), v in cent.items()},
    )


def lloyd_kmeans(emb: DataFrame, *, k: int = 8, iters: int = 3) -> DataFrame:
    """Run `iters` Lloyd assignments over `emb(vec_id, embedding)`.

    Returns the FINAL assignment as (vec_id, cid, dist) where dist is the
    rounded squared L2 to the winning centroid. Performs `iters`
    assignments with `iters - 1` centroid updates in between (a1 c1 a2 c2
    a3 for iters=3), matching the unrolled oracle CTE chain.
    """
    return _kmeans(emb, k=k, iters=iters)[0]


def kmeans_oracle_ctes(*, k: int = 8, iters: int = 3) -> str:
    """DuckDB CTE chain replaying :func:`lloyd_kmeans` exactly.

    Emits `emb`, `un`, `c0`, then a{i}/c{i} per iteration; the final
    assignment CTE is `a{iters}`. `c0` seeds from the k lowest distinct
    vec_ids ranked 0..k-1 as cid, as the engine does. Shared by every
    oracle that consumes the clustering (d39 inertia profile, d40 semantic
    dedup, d55 purity) so the two engines can never drift apart on the
    clustering itself.
    """
    parts = [
        """emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), un AS (
        SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM emb
    ), c0 AS (
        SELECT cid, cvec FROM (
            SELECT dense_rank() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
            FROM emb)
        WHERE cid < %d
    )"""
        % k
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM (
                SELECT e.vec_id, c.cid,
                       ROUND(list_sum(list_transform(list_zip(e.v, c.cvec),
                             x -> (x[1] - x[2]) * (x[1] - x[2]))), 6) AS dist
                FROM emb e CROSS JOIN c{i - 1} c))
        WHERE rn = 1
    )"""
        )
        if i < iters:
            parts.append(
                f"""c{i} AS (
        SELECT cid, list(cv ORDER BY pos) AS cvec FROM (
            SELECT a{i}.cid, u.pos, ROUND(AVG(u.val), 6) AS cv
            FROM a{i} JOIN un u USING (vec_id)
            GROUP BY a{i}.cid, u.pos)
        GROUP BY cid
    )"""
            )
    return ",\n    ".join(parts)
