"""Embedding clustering + semantic dedup (SURVEY.md §2l rows D39/D40).

D39 is a DataFrame-native Lloyd's k-means (`operators/kmeans.py`, the
one-subspace case of `operators/pq.py`'s Lloyd loop): driver-held k×d
centroids re-broadcast per iteration, JVM-expression distances,
map-side-combinable argmin, one-shuffle centroid updates. Every float is
rounded at the iteration boundary, so a DuckDB oracle can replay the WHOLE
training loop as an unrolled CTE chain and the two engines agree exactly.

D40 is SemDeDup (Abbas et al. 2023, arXiv:2303.09540) on those clusters:
semantic near-duplicates are detected by cosine similarity WITHIN each
k-means cluster only — the cluster structure bounds the pairwise cost
(O(Σ|cluster|²) ≪ O(n²)), which is the published method's entire point.
The keep-rule is the deterministic one: a vector is dropped iff a same-
cluster vector with a SMALLER vec_id is cosine-similar above the
threshold, so no connected-components pass is needed and the oracle is a
single self-join.

Scale notes: at 100 TB you raise k so cluster sizes stay bounded (SemDeDup
used k=11k on LAION); assignment stays a broadcast-hash join of the
corpus against the centroid table, the within-cluster join shuffles on
cid (AQE skew-split handles hot clusters), and nothing materializes on
the driver but the k×d centroid table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.functions.vector import cosine
from lime_on_spark_spark.operators.kmeans import kmeans_oracle_ctes, lloyd_kmeans
from lime_on_spark_spark.plans.registry import register
from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table

_KMEANS_CTES = kmeans_oracle_ctes(k=8, iters=3)

#: SemDeDup cosine threshold. This corpus's embeddings are near-orthogonal
#: random vectors, so few pairs clear it — the oracle recomputes the same
#: rule, so the (possibly small) drop count is still value-checked exactly.
_SEMDEDUP_TAU = 0.4


def _kmeans(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """The k=8, 3-iteration assignment d39, d40 and d55 share: its init
    and update collects run once per session."""
    return session_memo(
        spark, ("kmeans", sf_dir, 8, 3), lambda: lloyd_kmeans(emb, k=8, iters=3)
    )


# --------------------------------------------------------------------------
# D39 — Lloyd's k-means: per-cluster size + inertia after 3 iterations
# --------------------------------------------------------------------------
@register(
    "d39_kmeans_lloyd",
    oracle=f"""
    WITH {_KMEANS_CTES}
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(dist), 2)      AS inertia
    FROM a3
    GROUP BY cid
    """,
)
def d39_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 Lloyd's k-means, 3 assignments / 2 centroid updates, over the
    embedding corpus; output = per-cluster member count and inertia. The
    oracle replays the full training loop as an unrolled CTE chain
    (a1 c1 a2 c2 a3), value-checking every iteration transitively."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _kmeans(spark, sf_dir, emb)
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("dist"), 2).alias("inertia"),
    )


# --------------------------------------------------------------------------
# D40 — SemDeDup: within-cluster cosine near-dup drop counts
# --------------------------------------------------------------------------
@register(
    "d40_semantic_dedup",
    oracle=f"""
    WITH {_KMEANS_CTES},
    dropped AS (
        SELECT DISTINCT y.vec_id
        FROM a3 x
        JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN emb ex ON ex.vec_id = x.vec_id
        JOIN emb ey ON ey.vec_id = y.vec_id
        WHERE ROUND(list_cosine_similarity(ex.v, ey.v), 6) >= {_SEMDEDUP_TAU}
    )
    SELECT a3.cid,
           CAST(COUNT(*) AS BIGINT)        AS n_members,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped
    FROM a3
    LEFT JOIN dropped d ON a3.vec_id = d.vec_id
    GROUP BY a3.cid
    """,
)
def d40_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the d39 clusters: drop any vector with a smaller-id
    same-cluster neighbor at rounded cosine >= tau. Pairwise work happens
    ONLY within clusters (shuffle on cid), never corpus x corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _kmeans(spark, sf_dir, emb).select("vec_id", "cid")
    vecs = assigned.join(emb.select("vec_id", "embedding"), "vec_id")

    x = vecs.select(
        F.col("cid"),
        F.col("vec_id").alias("id_x"),
        F.col("embedding").alias("emb_x"),
    )
    y = vecs.select(
        F.col("cid"),
        F.col("vec_id").alias("id_y"),
        F.col("embedding").alias("emb_y"),
    )
    dropped = (
        x.join(y, "cid")
        .filter(F.col("id_x") < F.col("id_y"))
        .filter(
            F.round(cosine(F.col("emb_x"), F.col("emb_y")), 6) >= _SEMDEDUP_TAU
        )
        .select(F.col("id_y").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left"
        )
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.count("is_dropped").alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# D55 — cluster purity: the standard external cluster-quality metric
# (max label fraction per cluster) over the d39 assignment, joined to the
# embeddings' labels. On this corpus labels are random, so purity ~ the
# modal-label base rate — the oracle checks the VALUE, not a quality bar,
# replaying the same training loop CTEs. Ties on the modal label break to
# the smallest label id on both engines.
# --------------------------------------------------------------------------
@register(
    "d55_cluster_purity",
    oracle=f"""
    WITH {_KMEANS_CTES},
    labeled AS (
        SELECT a3.cid, e.label
        FROM a3 JOIN embeddings e ON e.vec_id = a3.vec_id
    ), lab_counts AS (
        SELECT cid, label, COUNT(*) AS n
        FROM labeled GROUP BY cid, label
    ), modal AS (
        SELECT cid, label AS modal_label, n AS modal_n FROM (
            SELECT cid, label, n,
                   row_number() OVER (PARTITION BY cid
                                      ORDER BY n DESC, label) AS rk
            FROM lab_counts) WHERE rk = 1
    ), tot AS (
        SELECT cid, COUNT(*) AS sz FROM labeled GROUP BY cid
    )
    SELECT m.cid,
           CAST(t.sz AS BIGINT)        AS n_members,
           CAST(m.modal_label AS INT)  AS modal_label,
           ROUND(m.modal_n * 1.0 / t.sz, 4) AS purity
    FROM modal m JOIN tot t USING (cid)
    """,
)
def d55_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _kmeans(spark, sf_dir, emb).select("vec_id", "cid")
    labeled = assigned.join(emb.select("vec_id", "label"), "vec_id")
    lab_counts = labeled.groupBy("cid", "label").agg(F.count("*").alias("n"))
    w = Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
    modal = (
        lab_counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cid",
            F.col("label").alias("modal_label"),
            F.col("n").alias("modal_n"),
        )
    )
    tot = labeled.groupBy("cid").agg(F.count("*").alias("sz"))
    return (
        modal.join(tot, "cid")
        .select(
            "cid",
            F.col("sz").cast("bigint").alias("n_members"),
            F.col("modal_label").cast("int").alias("modal_label"),
            F.round(F.col("modal_n") / F.col("sz"), 4).alias("purity"),
        )
    )


# --------------------------------------------------------------------------
# D96 — weighted PageRank (Brin & Page 1998; the d10/d10b iterative-graph
# family's centrality member): influence scores over the supplier
# co-order graph — nodes = suppliers, edge weight = how often two
# suppliers ship within the same order (a keyed equi-join on l_orderkey,
# never a cross join). The recurrence runs in INTEGER UNITS so it is
# exact and order-free in both engines: r0 = 1e9 // N, and each round
# r'(v) = B + Σ_u (85 * r(u) * w(u,v)) // (100 * wdeg(u)) with
# B = (15 * (1e9 // N)) // 100 — floor divisions replayed verbatim by
# DuckDB's `//`, so 10 unrolled iterations hash exactly (the d39
# unrolled-CTE discipline; no float accumulation anywhere).
# Scale: each round is two keyed shuffles (contribution join + node
# aggregate) with O(1) driver state; lineage is truncated per round
# (localCheckpoint, the d10 rule). Co-order multiplicity is the weight,
# so the complete-at-small-SF topology still carries signal.
# --------------------------------------------------------------------------
_D96_ITERS = 10
_D96_GRAPH_CTES = """
    WITH pairs AS (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, COUNT(*) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ), sym AS (
        SELECT sa AS a, sb AS b, w FROM pairs
        UNION ALL
        SELECT sb, sa, w FROM pairs
    ), nodes AS (
        SELECT DISTINCT a AS node FROM sym
    ), wdeg AS (
        SELECT a AS node, SUM(w) AS wd FROM sym GROUP BY a
    ), consts AS (
        SELECT CAST(1000000000 // COUNT(*) AS BIGINT) AS r0,
               CAST((15 * (1000000000 // COUNT(*))) // 100 AS BIGINT) AS b
        FROM nodes
    ), r0 AS (
        SELECT node, (SELECT r0 FROM consts) AS r FROM nodes
    )"""
_D96_ITER_CTES = "".join(
    f""", r{i} AS (
        SELECT n.node,
               (SELECT b FROM consts)
               + COALESCE(SUM((85 * r.r * s.w) // (100 * g.wd)), 0) AS r
        FROM nodes n
        LEFT JOIN sym s ON s.b = n.node
        LEFT JOIN r{i - 1} r ON r.node = s.a
        LEFT JOIN wdeg g ON g.node = s.a
        GROUP BY n.node
    )"""
    for i in range(1, _D96_ITERS + 1)
)


@register(
    "d96_supplier_pagerank",
    oracle=_D96_GRAPH_CTES + _D96_ITER_CTES + f"""
    SELECT CAST(node AS BIGINT) AS l_suppkey,
           CAST(r AS BIGINT) AS rank_u,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges
    FROM r{_D96_ITERS}
    ORDER BY r DESC, node
    LIMIT 10
    """,
)
def d96_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("sa"),
            F.col("b.l_suppkey").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # Graph metadata is bounded (|suppliers| nodes): checkpoint PAIRS
    # first so the heavy co-order self-join runs exactly once — both
    # unionAll branches of sym and the n_edges count below would
    # otherwise each recompute it.
    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.selectExpr("sa AS a", "sb AS b", "w").unionAll(
        pairs.selectExpr("sb AS a", "sa AS b", "w")
    )
    nodes = sym.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    # Pre-join each edge's source degree ONCE (r16 optimization): the
    # denominator 100*wd is per-source-constant across all 10 rounds, so
    # joining wdeg inside the loop repeated the same broadcast join 10
    # times. symw = (a, b, w, wd) is the round-invariant message graph.
    wdeg = sym.groupBy(F.col("a").alias("node")).agg(F.sum("w").alias("wd"))
    symw = (
        sym.join(wdeg.withColumnRenamed("node", "a"), "a")
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    n_edges = pairs.count()
    r0_val = 10**9 // n_nodes
    b_val = (15 * r0_val) // 100
    r = nodes.select("node", F.lit(r0_val).cast("bigint").alias("r"))
    for _ in range(_D96_ITERS):
        contrib = (
            symw.join(r, symw["a"] == r["node"])
            .select(
                F.col("b").alias("node"),
                F.expr("(85 * r * w) DIV (100 * wd)").alias("c"),
            )
        )
        r = (
            # No nodes re-join (r16 optimization): sym is SYMMETRIC, so
            # every node receives at least one contribution — the keyed
            # aggregate alone already covers the full node set, row for
            # row what the oracle's LEFT JOIN produces (its NULL branch
            # is unreachable for the same reason). Dropping the join
            # removes one broadcast exchange per round.
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.lit(b_val) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
            # Truncate the per-round lineage (the d10 discipline): 10
            # chained joins would otherwise replan the whole history.
            # EAGER on purpose: a lazy chain of 10 checkpoints makes every
            # round's AQE execution re-materialize its predecessors'
            # shuffle stages (measured 75 s vs ~6 s at sf0.1 in r16) —
            # one small job per round is the cheap side of that trade.
            .localCheckpoint(eager=True)
        )
    return (
        r.orderBy(F.desc("r"), F.asc("node"))
        .limit(10)
        .select(
            F.col("node").alias("l_suppkey"),
            F.col("r").alias("rank_u"),
            F.lit(n_nodes).cast("bigint").alias("n_nodes"),
            F.lit(n_edges).cast("bigint").alias("n_edges"),
        )
    )
