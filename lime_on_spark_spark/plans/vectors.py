"""Array/vector functions and similarity search (SURVEY.md §2h rows F4/F6,
§2k rows D2 MinHash-LSH near-dup, D3 brute-force kNN, D4 LSH ANN).

All vector math is pure JVM expressions (higher-order functions over the
64-d `embedding` array) — no Python UDFs in any hot path. Float32 elements
are cast to double *before* arithmetic so both engines accumulate in f64.

Scale notes:
* D3 brute-force kNN is O(n) per query against a broadcast query vector —
  correct for one query at any corpus size, but O(n·q) for q queries; at
  100 TB route multi-query workloads to D4.
* D2 is banded MinHash-LSH (`approxSimilarityJoin`), never the O(n²)
  all-pairs cross join: candidate pairs come from hash-bucket equi-joins.
* D4 (`BucketedRandomProjectionLSH`) is the scale path for ANN: buckets are
  an equi-join key, so lookups shuffle-prune instead of scanning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lime_on_spark_spark.functions.vector import cosine, dot, l2_norm, sq_l2
from lime_on_spark_spark.operators.exact_ntile import with_exact_ntile
from lime_on_spark_spark.operators.kmeans import kmeans_oracle_ctes
from lime_on_spark_spark.plans.registry import register
from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# F4 — array higher-order functions
# --------------------------------------------------------------------------
@register(
    "f4_array_hofs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER)                    AS dim,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           ROUND(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)
                                                              AS sum_sq,
           array_to_string(list_transform(
               list_slice(list_sort(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE))), 1, 4),
               x -> printf('%.3f', x)), ',')                  AS smallest4,
           list_contains(list_transform(embedding, x -> x > 1.0), true)
                                                              AS has_gt1
    FROM embeddings
    """,
)
def f4_array_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
            4,
        ).alias("sum_sq"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(as_double), 1, 4),
                lambda x: F.format_string("%.3f", x),
            ),
            ",",
        ).alias("smallest4"),
        F.array_contains(
            F.transform("embedding", lambda x: x > 1.0), True
        ).alias("has_gt1"),
    )


# --------------------------------------------------------------------------
# F6 — vector math: dot / norm / cosine against a fixed query vector
# --------------------------------------------------------------------------
@register(
    "f6_vector_math",
    oracle="""
    SELECT e.vec_id,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[])), 6)
                                                              AS dot_q,
           ROUND(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))), 6)
                                                              AS norm,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
                                                              AS cos_q
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    """,
)
def f6_vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 6).alias("dot_q"),
            F.round(l2_norm(F.col("embedding")), 6).alias("norm"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_q"),
        )
    )


# --------------------------------------------------------------------------
# D3 — brute-force kNN: cosine top-10 for one query vector (bench headline)
# --------------------------------------------------------------------------
@register(
    "d3_knn_cosine_topk",
    oracle="""
    SELECT e.vec_id,
           e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
                                                              AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def d3_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan + broadcast query vector + TakeOrderedAndProject: O(n) work,
    O(k) result — no shuffle of the corpus. Ordering is on the *rounded*
    similarity with vec_id tie-break so the top-k frontier is deterministic
    across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# D2 — near-duplicate detection via banded MinHash-LSH (rows-only: LSH is
# approximate, no SQL oracle; tests bound recall against brute force)
# --------------------------------------------------------------------------
@register("d2_minhash_near_dup")
def d2_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle → HashingTF → MinHash → banded bucket join (approxSimilarityJoin).

    Candidate pairs come from equi-joins on hash buckets — never the O(n²)
    cross product — so the plan survives corpus-scale inputs.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Word 3-gram shingles: robust to single-word edits, cheap in JVM exprs.
    # The token array is PROJECTED first — `slice(split(text), ...)` inside
    # the lambda would re-split the text per element (O(tokens²) per doc,
    # the d15 lesson); against a materialized column each slice is O(1).
    # Docs under 3 tokens have no 3-gram: filter BEFORE shingling (the
    # clamped sequence would otherwise emit a degenerate 1-2 word "shingle"
    # for them — the d59 bug class).
    shingled = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, greatest(size(toks) - 3, 0)),"
                " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
            ).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(feats)
    # Pre-compute signatures ONCE and cache: approxSimilarityJoin otherwise
    # re-runs the shingle→TF→MinHash lineage for BOTH sides of the self-join
    # (measured 10s → 1s at sf0.1). The cache is keyed on the logical plan,
    # so repeated invocations share one entry; at cluster scale this is the
    # standard persist-the-signatures pattern for LSH self-joins.
    feats = model.transform(feats).cache()
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


# --------------------------------------------------------------------------
# D4 — approximate NN at scale via random-projection LSH (rows-only)
# --------------------------------------------------------------------------
@register("d4_ann_lsh")
def d4_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH top-10 for the vec_id=0 query — the
    100-TB-viable ANN path (bucket equi-join instead of full scan)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", array_to_vector("embedding").alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(emb)
    key = emb.filter(F.col("vec_id") == 0).head()
    neighbors = model.approxNearestNeighbors(
        emb.filter(F.col("vec_id") != 0), key["features"], 10, distCol="l2_dist"
    )
    return neighbors.select(
        "vec_id", "label", F.round("l2_dist", 6).alias("l2_dist")
    )


# --------------------------------------------------------------------------
# D4b — ANN recall verdict: the LSH top-10 measured against the exact
# (brute-force) top-10 computed IN SPARK on the same data — both sides
# seed-deterministic, so the verdict is stable per corpus (observed recall
# 0.9-1.0 across sf0.001/0.01/0.1; bound at >= 0.8). Makes the ANN path
# oracle-checkable without the oracle having to reproduce the projections.
# --------------------------------------------------------------------------
@register(
    "d4_ann_recall",
    oracle="""
    SELECT 10 AS k, 10 AS n_returned, TRUE AS recall_ok
    FROM (SELECT 1)
    """,
)
def d4_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.plans.registry import queries

    ann = queries()["d4_ann_lsh"](spark, sf_dir).select("vec_id")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("x").alias("qx"))
    exact10 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.zip_with("x", "qx", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda s, v: s + v,
                )
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    hits = ann.join(exact10, "vec_id").count()
    returned = ann.count()
    return spark.createDataFrame(
        [(10, returned, hits / 10.0 >= 0.8)],
        "k int, n_returned bigint, recall_ok boolean",
    )


# --------------------------------------------------------------------------
# D2b — embedding-cosine near-dup via BRP-LSH (rows-only)
# --------------------------------------------------------------------------
@register(
    "d2_embedding_near_dup",
    # Exact brute-force twin. The LSH join's candidate set is seed-dependent
    # but its OUTPUT is exact-filtered by true distance, so false positives
    # are impossible; recall verified 100% against this oracle at
    # sf0.001/0.01/0.1 (this corpus's embeddings are near-orthogonal — the
    # >0.95 pair set is empty, which the oracle confirms differentially:
    # a bug that fabricates pairs fails the match).
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) > 0.95
    """,
)
def d2_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, found with euclidean LSH:
    for L2-normalized vectors ||a-b||^2 = 2 - 2cos(a,b), so cos > 0.95 is
    dist < sqrt(0.1). Bucketed approxSimilarityJoin, never all-pairs."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(emb)
    # Pre-compute bucket hashes once and cache (see d2_minhash_near_dup).
    emb = model.transform(emb).cache()
    pairs = model.approxSimilarityJoin(emb, emb, 0.3162, distCol="l2_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round(1 - F.col("l2_dist") * F.col("l2_dist") / 2, 6).alias("cos_sim"),
        )
    )


# --------------------------------------------------------------------------
# D4b — IVF cluster-probe ANN. The oracle replays the k-means fit (the
# final assignment a3 used centroids c2), numbers c2's cids densely as
# build_ivf_index does, probes the 4 cells nearest to vec 0 (L2 rounded
# to 6 dp, ties to the lower cell) and ranks their vectors as d3 does.
# --------------------------------------------------------------------------
@register(
    "d4_ivf_knn",
    oracle=f"""
    WITH {kmeans_oracle_ctes(k=16, iters=3)},
    qv AS (SELECT v FROM emb WHERE vec_id = 0),
    cells AS (
        SELECT cid, CAST(dense_rank() OVER (ORDER BY cid) - 1 AS INTEGER)
                   AS cell, ROUND(list_distance(cvec, qv.v), 6) AS d
        FROM c2 CROSS JOIN qv
    )
    SELECT e.vec_id, e.label, cells.cell,
           ROUND(list_cosine_similarity(emb.v, qv.v), 6) AS cos_sim
    FROM embeddings e JOIN emb USING (vec_id) JOIN a3 USING (vec_id)
    JOIN cells USING (cid) CROSS JOIN qv
    WHERE e.vec_id <> 0
      AND cid IN (SELECT cid FROM cells ORDER BY d, cid LIMIT 4)
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def d4_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file ANN: k-means cells + probe the 4 nearest cells, exact
    cosine top-10 inside them (operators/ivf.py)."""
    from lime_on_spark_spark.operators.ivf import build_ivf_index, ivf_topk

    assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=16)
    query = assigned.filter(F.col("vec_id") == 0).head()
    return ivf_topk(
        assigned,
        centroids,
        [float(v) for v in query["embedding"]],
        k=10,
        n_probe=4,
        exclude_ids=(0,),
    )


# --------------------------------------------------------------------------
# D11 — per-label embedding centroids (long form). posexplode keeps the
# whole computation in JVM expressions; the one shuffle is the (label, pos)
# aggregate with map-side combine — the centroid primitive under IVF cell
# assignment and class-prototype similarity checks.
# --------------------------------------------------------------------------
@register(
    "d11_label_centroids",
    oracle="""
    SELECT label, pos, ROUND(AVG(v), 6) AS centroid_val
    FROM (
        SELECT label,
               unnest(embedding)                  AS v,
               generate_subscripts(embedding, 1)  AS pos
        FROM embeddings
    ) unpacked
    GROUP BY label, pos
    """,
)
def d11_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
                "pos0", "v"
            ),
        )
        # DuckDB's generate_subscripts is 1-based; match it.
        .select("label", (F.col("pos0") + 1).alias("pos"), "v")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_val"))
    )


# --------------------------------------------------------------------------
# D3b — BATCH exact kNN: k nearest corpus vectors for EACH of a set of
# query vectors in one pass. The query block broadcasts (bounded batch),
# the corpus streams through once, and the per-query top-k is a windowed
# rank partitioned on query_id (WindowGroupLimit pushdown: each partition
# stops at k). This is the exact baseline the ANN paths (d4_*) are
# measured against at batch granularity; at web-scale query counts, route
# to IVF/LSH instead of broadcasting the query block.
# --------------------------------------------------------------------------
@register(
    "d3_batch_knn",
    oracle="""
    SELECT q.vec_id  AS query_id,
           e.vec_id  AS neighbor_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
                                                               AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
    WHERE e.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(q.embedding AS DOUBLE[])), 6) DESC,
                 e.vec_id
    ) <= 5
    """,
)
def d3_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_blk = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    sims = (
        emb.crossJoin(F.broadcast(queries_blk))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# D2c — MinHash-LSH recall verdict vs exact Jaccard (oracle-checkable twin
# of the rows-only d2_minhash_near_dup, same pattern as d4_ann_recall)
# --------------------------------------------------------------------------
@register(
    "d2_minhash_recall",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.doc_id,
               w1.word || ' ' || w2.word || ' ' || w3.word AS shingle
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7
    """,
)
def d2_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verdict twin for the rows-only MinHash-LSH near-dup join: the banded
    LSH candidate pairs must recall >= 80% of the EXACT word-3-gram Jaccard
    pairs at similarity >= 0.7. The oracle recomputes the exact pair count
    in SQL and pins recall_ok TRUE; both sides are deterministic (seeded
    MinHash, exact ground truth)."""
    from lime_on_spark_spark.plans.registry import queries

    qs = queries()
    lsh = qs["d2_minhash_near_dup"](spark, sf_dir).select("doc_a", "doc_b")
    exact = (
        qs["d2_ngram_jaccard"](spark, sf_dir)
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    n_exact = exact.count()
    hits = lsh.join(exact, ["doc_a", "doc_b"]).count()
    ok = n_exact == 0 or hits / n_exact >= 0.8
    return spark.createDataFrame(
        [(n_exact, ok)], "n_exact_pairs bigint, recall_ok boolean"
    )


# --------------------------------------------------------------------------
# D4c — IVF recall verdict vs the exact cosine top-10 (d3_knn_cosine_topk)
# computed in Spark on the same data. This corpus's embeddings are
# near-orthogonal random vectors — the WORST case for IVF (no cluster
# structure, so partial-probe recall is bounded by cell coverage and
# SF-dependent: 0.9 at sf0.001 and sf0.01, 1.0 at sf0.1 with 4/16
# cells). An
# absolute recall bound would therefore encode the corpus, not the
# operator. The verdict pins the two properties that hold at EVERY scale
# by construction: full probe (all 16 cells) is EXACT, and recall is
# monotone in n_probe (4 <= 8 <= 16 cells probed can only add candidates;
# the in-cell ranking is exact cosine). The cells are the deterministic
# k-means fit d4_ivf_knn's oracle replays; one index build serves all
# three probe levels. Same driver-checkable shape as
# d4_ann_recall.
# --------------------------------------------------------------------------
@register(
    "d4_ivf_recall",
    oracle="""
    SELECT 10 AS k, TRUE AS full_probe_exact, TRUE AS probe_monotone
    FROM (SELECT 1)
    """,
)
def d4_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.ivf import build_ivf_index, ivf_topk
    from lime_on_spark_spark.plans.registry import queries

    k = 10
    exact_ids = {
        r["vec_id"]
        for r in queries()["d3_knn_cosine_topk"](spark, sf_dir).collect()
    }
    # The memoized index is checkpointed: one build, three probes.
    assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=16)
    qv = [
        float(v)
        for v in assigned.filter(F.col("vec_id") == 0).head()["embedding"]
    ]

    def recall(n_probe: int) -> float:
        ids = {
            r["vec_id"]
            for r in ivf_topk(
                assigned, centroids, qv, k=k, n_probe=n_probe, exclude_ids=(0,)
            ).collect()
        }
        return len(ids & exact_ids) / k

    r4, r8, r16 = recall(4), recall(8), recall(16)
    return spark.createDataFrame(
        [(k, r16 == 1.0, 0.0 < r4 <= r8 <= r16)],
        "k int, full_probe_exact boolean, probe_monotone boolean",
    )


# --------------------------------------------------------------------------
# D32 — int8 scalar-quantized kNN: the storage/compute path for 100-TB
# embedding corpora. Per-dimension [min, max] over the corpus defines a
# linear uint8 code (v -> round((v-mn)*255/span)); search runs on the
# 4x-smaller codes and is verified against the exact float top-10 as a
# recall verdict. Engine-portability trick: the quantized codes are
# INTEGERS, so dot products and squared norms are exact bigint sums — no
# float-accumulation-order drift between Spark and the oracle; the single
# final cosine division is one IEEE op on identical ints. Plan shape: one
# posexplode agg for the dim stats (64 rows, broadcast back), map-side
# quantization via an indexed transform(), then the d3 broadcast-query
# scan; no shuffle of the corpus, no UDFs. At 100 TB the same codes would
# feed the IVF route (operators/ivf.py) — this query pins the quantizer's
# fidelity.
# --------------------------------------------------------------------------
@register(
    "d32_quantized_knn",
    oracle="""
    WITH vals AS (
        SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), dims AS (
        SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM vals GROUP BY pos
    ), qv AS (
        SELECT vec_id, pos,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND(((v - mn) * 255) / (mx - mn)) AS BIGINT)
               END AS q
        FROM vals JOIN dims USING (pos)
    ), q0 AS (SELECT pos, q FROM qv WHERE vec_id = 0),
    sims AS (
        SELECT qv.vec_id,
               SUM(qv.q * q0.q)       AS dp,
               SUM(qv.q * qv.q)       AS na,
               SUM(q0.q * q0.q)       AS nb
        FROM qv JOIN q0 USING (pos)
        WHERE qv.vec_id <> 0
        GROUP BY qv.vec_id
    ), top_q AS (
        SELECT vec_id FROM sims
        ORDER BY ROUND(dp / SQRT(na * 1.0 * nb), 6) DESC, vec_id
        LIMIT 10
    ), top_exact AS (
        SELECT e.vec_id FROM embeddings e
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id
        LIMIT 10
    ), qrange AS (
        SELECT MIN(q) AS qmin, MAX(q) AS qmax FROM qv
    ), recon AS (
        -- Quantizer guarantee: dequantized value within half a code step.
        SELECT MAX(ABS(mn + q * (mx - mn) / 255.0 - v)
                   - (CASE WHEN mx = mn THEN 0 ELSE (mx - mn) / 255.0 END) / 2.0)
               <= 1e-9 AS err_ok
        FROM qv JOIN dims USING (pos) JOIN vals USING (vec_id, pos)
    )
    SELECT 10 AS k,
           (SELECT COUNT(*) FROM top_q)                       AS n_returned,
           (SELECT COUNT(*) FROM top_q JOIN top_exact USING (vec_id)) AS n_hits,
           (SELECT err_ok FROM recon)                         AS recon_err_ok,
           (SELECT qmin >= 0 AND qmax <= 255 FROM qrange)     AS codes_in_range
    """,
)
def d32_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    # Per-dimension corpus stats: 64 rows, re-assembled into two array
    # literals on a single broadcast row (pos is 0-based here; the oracle's
    # UNNEST index is 1-based — both enumerate the same elements in order).
    stats = (
        emb.select(F.posexplode("x").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
            ).alias("mns"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
            ).alias("mxs"),
        )
    )
    quantize = lambda col: F.transform(  # noqa: E731
        col,
        lambda v, i: F.when(
            F.element_at("mxs", i + 1) == F.element_at("mns", i + 1), F.lit(0)
        )
        .otherwise(
            F.round(
                ((v - F.element_at("mns", i + 1)) * 255)
                / (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
            )
        )
        .cast("bigint"),
    )
    # Materialize the codes ONCE (the d2_minhash signature-cache pattern):
    # this query runs several actions (top-k, range check, recon verdict,
    # hit counts) and each would otherwise recompute stats + quantization.
    qv = (
        emb.crossJoin(F.broadcast(stats))
        .select("vec_id", quantize(F.col("x")).alias("q"))
        .localCheckpoint(eager=True)
    )
    q0 = qv.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    isum = lambda col: F.aggregate(col, F.lit(0).cast("bigint"), lambda s, v: s + v)  # noqa: E731
    sims = (
        qv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select(
            "vec_id",
            isum(F.zip_with("q", "qq", lambda a, b: a * b)).alias("dp"),
            isum(F.transform("q", lambda a: a * a)).alias("na"),
            isum(F.transform("qq", lambda b: b * b)).alias("nb"),
        )
    )
    top_q = (
        sims.orderBy(
            F.round(F.col("dp") / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6).desc(),
            F.asc("vec_id"),
        )
        .limit(10)
        .select("vec_id")
    )
    from lime_on_spark_spark.plans.registry import queries

    top_exact = queries()["d3_knn_cosine_topk"](spark, sf_dir).select("vec_id")
    qrange = qv.select(F.explode("q").alias("q")).agg(
        F.min("q").alias("qmin"), F.max("q").alias("qmax")
    )
    # Quantizer guarantee (the verdict): every dequantized element sits
    # within half a code step of the original — exact by construction, and
    # scale-stable (unlike top-10 recall on a structureless random corpus,
    # which both engines agree is ~6/10 here; n_hits stays informational).
    def elem_err(s_, i):
        mn = F.element_at("mns", i + 1)
        mx = F.element_at("mxs", i + 1)
        half = F.when(mx == mn, F.lit(0.0)).otherwise((mx - mn) / 255.0) / 2.0
        return F.abs(mn + s_["q"] * (mx - mn) / 255.0 - s_["x"]) - half

    recon = (
        qv.join(emb, "vec_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.array_max(
                F.transform(F.arrays_zip("q", "x"), elem_err)
            ).alias("err")
        )
        .agg((F.max("err") <= 1e-9).alias("err_ok"))
    )
    # Single DataFrame program (one action): the four verdict scalars are
    # 1-row aggregates crossJoined together — no driver collects, and the
    # whole pipeline runs as one job instead of five.
    n_hits = top_q.join(top_exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_ret = top_q.agg(F.count(F.lit(1)).alias("n_returned"))
    return (
        n_ret.crossJoin(n_hits)
        .crossJoin(recon)
        .crossJoin(qrange)
        .select(
            F.lit(10).alias("k"),
            "n_returned",
            "n_hits",
            F.col("err_ok").alias("recon_err_ok"),
            ((F.col("qmin") >= 0) & (F.col("qmax") <= 255)).alias(
                "codes_in_range"
            ),
        )
    )


# --------------------------------------------------------------------------
# D63 — contrastive training-pair mining (the data-prep step of SimCSE /
# DPR-style embedding training): for each query vector, the best
# SAME-label neighbor is the positive and the best DIFFERENT-label
# neighbor is the hard negative (the semi-hard mining rule of
# arXiv:1503.03832 FaceNet, simplified to hardest-in-batch). Query block =
# vec_id % 17 == 0, broadcast against the full corpus — the d3_batch_knn
# plan: ONE scan of the big side, per-query top-1 via partitioned rank.
# On a clustered corpus positives score above hard negatives; this corpus
# is structureless, so the row emits both similarities and lets the oracle
# pin them exactly rather than asserting an ordering the data can't
# support. At 100 TB the candidate set comes from IVF cell probes instead
# of the full scan — implemented as d63b_contrastive_ivf below, with
# d63b_contrastive_recall gating its recall against this exhaustive plan.
# --------------------------------------------------------------------------
@register(
    "d63_contrastive_pairs",
    oracle="""
    WITH sims AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               e.vec_id AS neighbor_id,
               e.label = q.label AS same_label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, label, embedding FROM embeddings
                    WHERE vec_id % 17 = 0) q
        WHERE e.vec_id <> q.vec_id
    ), best AS (
        SELECT query_id, q_label, same_label, cos_sim
        FROM sims
        QUALIFY row_number() OVER (
            PARTITION BY query_id, same_label
            ORDER BY cos_sim DESC, neighbor_id
        ) = 1
    )
    SELECT q_label AS label,
           COUNT(DISTINCT query_id) AS n_queries,
           ROUND(AVG(CASE WHEN same_label THEN cos_sim END), 5)
               AS avg_positive_sim,
           ROUND(AVG(CASE WHEN NOT same_label THEN cos_sim END), 5)
               AS avg_hard_negative_sim
    FROM best
    GROUP BY q_label
    """,
)
def d63_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_blk = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    sims = (
        emb.crossJoin(F.broadcast(queries_blk))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            (F.col("label") == F.col("q_label")).alias("same_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    best = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # countDistinct, not COUNT(*)/2: if a query lacked a same-label or
    # different-label neighbor the halved count would need a rounding rule
    # (DuckDB rounds double->bigint, Spark truncates) — distinct ids are
    # engine-agnostic.
    return best.groupBy(F.col("q_label").alias("label")).agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.round(
            F.avg(F.when(F.col("same_label"), F.col("cos_sim"))), 5
        ).alias("avg_positive_sim"),
        F.round(
            F.avg(F.when(~F.col("same_label"), F.col("cos_sim"))), 5
        ).alias("avg_hard_negative_sim"),
    )


def _contrastive_best(sims: DataFrame) -> DataFrame:
    """Per (query, same_label) best neighbor — the shared tail of the
    exhaustive (d63) and candidate-routed (d63b) mining plans."""
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _contrastive_ivf_best(
    spark: SparkSession, sf_dir: str, n_cells: int = 16, n_probe: int = 8
) -> DataFrame:
    """Candidate-routed contrastive mining: the 100 TB path d63's docstring
    promises. Instead of scoring every query against the FULL corpus, each
    query probes only its `n_probe` nearest IVF cells and the exact cosine
    runs on those candidates alone — scan cost drops to
    ~corpus * n_probe / n_cells while the rescoring stays exact.

    Shape: centroids are a broadcast k x d table; per-query probe-cell
    selection is a windowed rank over queries x centroids (bounded block);
    candidates come from ONE equi-join of the assigned corpus with the
    broadcast (query, cell) probe list — at 100 TB the corpus would be
    bucketed by cell id so the join prunes to matching buckets. Recall is
    tunable via n_probe and GATED, not assumed: d63b_contrastive_recall
    measures id-recall@1 and the sim gap against the exhaustive d63 plan.
    """
    from lime_on_spark_spark.operators.ivf import build_ivf_index

    assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=n_cells)
    cent = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "pcell int, cvec array<double>",
    )
    q = assigned.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "q_label",
        "q_emb",
        "pcell",
        sq_l2(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "pcell")
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_label", "q_emb", F.col("pcell").alias("cell"))
    )
    sims = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            (F.col("label") == F.col("q_label")).alias("same_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _contrastive_best(sims)


# --------------------------------------------------------------------------
# D63b — candidate-routed contrastive mining (rows-only): d63's hardest-
# in-corpus search through IVF cell probes + exact rescore instead of the
# exhaustive scan. Same output shape as d63. Its cells are the engine's
# k-means, which DuckDB replays (d4_ivf_knn's oracle does); this row has
# no oracle of its own, and d63b_contrastive_recall's oracle verdict pins
# its quality.
# --------------------------------------------------------------------------
@register("d63b_contrastive_ivf")
def d63b_contrastive_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = _contrastive_ivf_best(spark, sf_dir)
    return best.groupBy(F.col("q_label").alias("label")).agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.round(
            F.avg(F.when(F.col("same_label"), F.col("cos_sim"))), 5
        ).alias("avg_positive_sim"),
        F.round(
            F.avg(F.when(~F.col("same_label"), F.col("cos_sim"))), 5
        ).alias("avg_hard_negative_sim"),
    )


# --------------------------------------------------------------------------
# D63c — recall verdict for the candidate route (the d4_ann_recall / V2
# gate pattern): routed best-neighbor vs the exhaustive d63 plan, measured
# IN SPARK on identical data. Gates (empirical at sf0.01/sf0.1 with 8/16
# probes: recall@1 0.82-0.88, avg sim gap ~0.008): id-recall@1 >= 0.7 and
# mean positive/negative sim gap <= 0.02. Booleans only — SF-independent,
# so the oracle is a constant verdict row.
# --------------------------------------------------------------------------
@register(
    "d63b_contrastive_recall",
    oracle="""
    SELECT TRUE AS all_slots_covered, TRUE AS recall_ok, TRUE AS sim_gap_ok
    FROM (SELECT 1)
    """,
)
def d63b_contrastive_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    exact_sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            (F.col("label") == F.col("q_label")).alias("same_label"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    exact_best = _contrastive_best(exact_sims)
    routed_best = _contrastive_ivf_best(spark, sf_dir)
    j = routed_best.alias("r").join(
        exact_best.alias("e"), ["query_id", "same_label"]
    )
    row = j.agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.avg(
            F.when(
                F.col("r.neighbor_id") == F.col("e.neighbor_id"), 1.0
            ).otherwise(0.0)
        ).alias("recall1"),
        F.avg(F.col("e.cos_sim") - F.col("r.cos_sim")).alias("gap"),
    ).first()
    n_exact = exact_best.count()
    # Coalesce the aggregates: an empty routed/exact join yields NULL avg()s,
    # and None >= 0.7 would raise TypeError instead of producing the failing
    # verdict row this query exists to emit.
    recall1 = row["recall1"] if row["recall1"] is not None else 0.0
    gap = row["gap"] if row["gap"] is not None else float("inf")
    return spark.createDataFrame(
        [
            (
                row["n_joined"] == n_exact,
                recall1 >= 0.7,
                gap <= 0.02,
            )
        ],
        "all_slots_covered boolean, recall_ok boolean, sim_gap_ok boolean",
    )


# --------------------------------------------------------------------------
# D68 — hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
# Buettcher, SIGIR 2009): the standard way a RAG data pipeline merges a
# lexical ranking with a vector ranking without score calibration —
# fused = sum over systems of 1/(60 + rank). Lexical system: shared
# distinct 3-gram shingle count via the inverted-index equi-join (the d15
# shape, never doc x doc); vector system: cosine against the broadcast
# query block (the d3 shape). Both ranks are deterministic (count/sim
# desc, doc_id tie-break), so the fused top-5 is exact in both engines.
# A candidate missing from one system contributes only its present term —
# RRF's native behavior.
# --------------------------------------------------------------------------
@register(
    "d68_rrf_hybrid_search",
    oracle="""
    WITH queries AS (
        SELECT d.doc_id, d.text, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE d.doc_id % 100 = 7
    ), words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.doc_id,
               w1.word || ' ' || w2.word || ' ' || w3.word AS shingle
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
    ), lex AS (
        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
               COUNT(*) AS shared,
               ROW_NUMBER() OVER (
                   PARTITION BY q.doc_id
                   ORDER BY COUNT(*) DESC, c.doc_id
               ) AS lex_rank
        FROM queries q
        JOIN sh qs ON qs.doc_id = q.doc_id
        JOIN sh c ON c.shingle = qs.shingle AND c.doc_id <> q.doc_id
        GROUP BY q.doc_id, c.doc_id
        QUALIFY lex_rank <= 20
    ), vec AS (
        SELECT q.doc_id AS query_id, e.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.doc_id
                   ORDER BY ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id
               ) AS vec_rank
        FROM queries q
        JOIN embeddings e ON e.vec_id <> q.doc_id
        QUALIFY vec_rank <= 20
    ), fused AS (
        SELECT COALESCE(l.query_id, v.query_id) AS query_id,
               COALESCE(l.cand_id, v.cand_id) AS cand_id,
               ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
                     + COALESCE(1.0 / (60 + v.vec_rank), 0), 6) AS rrf,
               l.lex_rank, v.vec_rank
        FROM lex l
        FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.cand_id = v.cand_id
    )
    SELECT query_id, cand_id, rrf,
           CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(vec_rank AS INTEGER) AS vec_rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rk
          FROM fused)
    WHERE rk <= 5
    """,
)
def d68_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    queries_blk = (
        docs.filter(F.col("doc_id") % 100 == 7)
        .join(emb, docs.doc_id == emb.vec_id)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("q_text"),
            F.col("embedding").alias("q_emb"),
        )
    )
    # Lexical arm: inverted-index join on distinct 3-gram shingles.
    def shingles(df, id_col, text_col, out_id):
        return (
            df.select(F.col(id_col).alias(out_id), F.split(text_col, " ").alias("toks"))
            .filter(F.size("toks") >= 3)
            .select(
                out_id,
                F.explode_outer(
                    F.array_distinct(
                        F.expr(
                            "transform(sequence(0, size(toks) - 3),"
                            " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                        )
                    )
                ).alias("shingle"),
            )
        )

    q_sh = shingles(queries_blk, "query_id", "q_text", "query_id")
    c_sh = shingles(docs, "doc_id", "text", "cand_id")
    lex_w = Window.partitionBy("query_id").orderBy(
        F.desc("shared"), F.asc("cand_id")
    )
    lex = (
        q_sh.join(c_sh, "shingle")
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn("lex_rank", F.row_number().over(lex_w))
        .filter(F.col("lex_rank") <= 20)
        .select("query_id", "cand_id", "lex_rank")
    )
    # Vector arm: broadcast query block against the embedding scan.
    vec_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    vec = (
        emb.crossJoin(
            F.broadcast(queries_blk.select("query_id", "q_emb"))
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("vec_rank", F.row_number().over(vec_w))
        .filter(F.col("vec_rank") <= 20)
        .select("query_id", "cand_id", "vec_rank")
    )
    fused = (
        lex.join(vec, ["query_id", "cand_id"], "full_outer")
        .select(
            "query_id",
            "cand_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            "lex_rank",
            "vec_rank",
        )
    )
    top_w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("cand_id"))
    return (
        fused.withColumn("rk", F.row_number().over(top_w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "cand_id", "rrf", "lex_rank", "vec_rank")
    )


# --------------------------------------------------------------------------
# D69 — BM25 ranking (Robertson-Sparck Jones probabilistic weighting,
# k1=1.2 b=0.75 — the Okapi defaults and Lucene's scoring backbone): the
# exact lexical scorer d68's fused lexical arm approximates with raw
# overlap. Every factor comes from keyed aggregates over the token table:
# tf (doc_id,term), document length, idf from document frequency (the
# +1-inside-log variant, so idf > 0 always); idf and the corpus stats are
# vocab-bounded broadcasts. The scoring join is query-term x posting-list
# — the inverted-index discipline, never query x corpus.
# --------------------------------------------------------------------------
@register(
    "d69_bm25_ranking",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dlen AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dlen
    ), idf AS (
        SELECT term, ln((s.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats s
    ), q_terms AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id % 100 = 7
    ), scored AS (
        SELECT q.query_id, t.doc_id,
               ROUND(SUM(i.idf * t.tf * 2.2
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avg_dl))),
                     6) AS bm25
        FROM q_terms q
        JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_id
        JOIN idf i ON i.term = q.term
        JOIN dlen d ON d.doc_id = t.doc_id, stats s
        GROUP BY q.query_id, t.doc_id
    )
    SELECT query_id, doc_id, bm25, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def d69_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dlen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avg_dl")
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))  # 1-row corpus stats
        .select(
            "term",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ).alias("idf"),
        )
    )
    q_terms = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    scored = (
        q_terms.join(tf, "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(idf), "term")  # vocab-bounded
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avg_dl")))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    * (k1 + 1)
                    / (
                        F.col("tf")
                        + k1 * (1 - b + b * F.col("dl") / F.col("avg_dl"))
                    )
                ),
                6,
            ).alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "doc_id", "bm25", F.col("rk").cast("int").alias("rk"))
    )


# --------------------------------------------------------------------------
# D80 — Johnson-Lindenstrauss random projection (64 -> 16 dims) with a
# DETERMINISTIC sign matrix: s(i,j) = +-1 from the first md5 nibble of
# "i#j" (Achlioptas 2003 database-friendly projections use exactly such
# +-1 matrices). The matrix is precomputed driver-side with hashlib —
# bit-identical to the md5() the oracle evaluates in SQL — and enters the
# plan as a literal, so the projection is pure scan-stage arithmetic
# (no joins, no shuffle; the ANN-preprocessing shape that feeds d4's
# LSH at lower dimension). Sampled consecutive-pair distance ratios are
# oracle-exact; the verdict applies the JL distortion bound appropriate
# to k=16 (|ratio - 1| <= 0.9).
# --------------------------------------------------------------------------
@register(
    "d80_jl_projection",
    oracle="""
    WITH dims AS (SELECT unnest(range(0, 64)) AS i),
    outs AS (SELECT unnest(range(0, 16)) AS j),
    signs AS (
        SELECT i.i, o.j,
               CASE WHEN substr(md5(CAST(i.i AS VARCHAR) || '#'
                        || CAST(o.j AS VARCHAR)), 1, 1) < '8'
                    THEN 1.0 ELSE -1.0 END AS s
        FROM dims i, outs o
    ), vals AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings WHERE vec_id < 20
    ), proj AS (
        SELECT v.vec_id, s.j, SUM(v.x * s.s) / 4.0 AS y
        FROM vals v JOIN signs s ON s.i = v.i
        GROUP BY v.vec_id, s.j
    ), pd AS (
        SELECT a.vec_id AS va, SUM(POWER(a.y - b.y, 2)) AS pd2
        FROM proj a JOIN proj b ON a.vec_id + 1 = b.vec_id AND a.j = b.j
        GROUP BY a.vec_id
    ), od AS (
        SELECT a.vec_id AS va, SUM(POWER(a.x - b.x, 2)) AS od2
        FROM vals a JOIN vals b ON a.vec_id + 1 = b.vec_id AND a.i = b.i
        GROUP BY a.vec_id
    )
    SELECT pd.va, ROUND(pd.pd2 / od.od2, 6) AS dist_ratio,
           ABS(pd.pd2 / od.od2 - 1) <= 0.9 AS jl_ok
    FROM pd JOIN od ON pd.va = od.va
    """,
)
def d80_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    d_in, k = 64, 16

    def sign(i: int, j: int) -> float:
        # Same rule as the oracle's SQL md5: +1 iff first hex nibble < '8'.
        return 1.0 if hashlib.md5(f"{i}#{j}".encode()).hexdigest()[0] < "8" else -1.0

    signs = [[sign(i, j) for i in range(d_in)] for j in range(k)]
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    # Literal matrix -> 16 scan-stage dot products (aggregate over the
    # zipped sign row; no join, no shuffle).
    proj_cols = [
        F.expr(
            "aggregate(zip_with(embedding, array({signs}), "
            "(x, s) -> CAST(x AS DOUBLE) * s), CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v) / 4.0".format(
                signs=", ".join(f"CAST({s} AS DOUBLE)" for s in signs[j])
            )
        ).alias(f"y{j}")
        for j in range(k)
    ]
    proj = emb.select("vec_id", *proj_cols)
    b = proj.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        *[F.col(f"y{j}").alias(f"z{j}") for j in range(k)],
    )
    pd2 = sum(
        ((F.col(f"y{j}") - F.col(f"z{j}")) ** 2 for j in range(k)), F.lit(0.0)
    )
    pair = proj.join(b, "vec_id").select(
        F.col("vec_id").alias("va"), pd2.alias("pd2")
    )
    e2 = emb.select(
        (F.col("vec_id") - 1).alias("va"), F.col("embedding").alias("eb")
    )
    od = (
        emb.select(F.col("vec_id").alias("va"), "embedding")
        .join(e2, "va")
        .select(
            "va",
            F.expr(
                "aggregate(zip_with(embedding, eb, (x, y) ->"
                " power(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("od2"),
        )
    )
    return pair.join(od, "va").select(
        "va",
        F.round(F.col("pd2") / F.col("od2"), 6).alias("dist_ratio"),
        (F.abs(F.col("pd2") / F.col("od2") - 1) <= 0.9).alias("jl_ok"),
    )


# --------------------------------------------------------------------------
# D91 — product quantization (Jégou et al. 2011): the memory-compression
# half of the ANN stack next to d32's int8 scalar quantizer and d63b's IVF
# router — 64 float32 (256 B) -> 8 one-byte codes (32x), searched by ADC
# (sum of M table lookups; the scan touches only codes, full vectors are
# needed solely to rescore the shortlist). Training is the engine's one
# Lloyd loop over M subspaces in the same jobs (operators/pq.py).
# Verdict conversion (the l10v/d83 pattern): structural scalars are
# SQL-exact; model-dependent facts are booleans with wide measured margins
# on this structureless corpus —
#   * mse_capacity_monotone: K=16 quantization MSE < K=4 (measured 0.58
#     vs 0.81);
#   * shortlist_recall_ok: ADC shortlist L=100 captures exact top-10 at
#     >= 0.35 and >= 2x the L/n random baseline (measured 0.62 at
#     sf0.1 vs baseline 0.05; 0.86 at n=500 vs 0.20);
#   * exact_regime_ok: on a 16-vector sub-corpus with K=16 every
#     subvector is its own centroid — MSE exactly 0 and ADC distances
#     equal exact distances (the a26 exact-regime discipline).
# Determinism (two fits -> identical codes) is pinned in pytest.
# --------------------------------------------------------------------------
@register(
    "d91_pq_quantization",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT)        AS m_subspaces,
           CAST(16 AS BIGINT)       AS k_centroids,
           CAST(8 AS BIGINT)        AS code_bytes,
           CAST(256 AS BIGINT)      AS raw_bytes,
           32.0                     AS compression_ratio,
           TRUE                     AS mse_capacity_monotone,
           TRUE                     AS shortlist_recall_ok,
           TRUE                     AS exact_regime_ok
    FROM embeddings
    """,
)
def d91_pq_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.pq import (
        adc_distances,
        train_pq,
        train_pq_variants,
    )

    DIM, M, K, L, TOPK = 64, 8, 16, 100, 10
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()

    # K=16 and the K=4 capacity foil train in the SAME jobs (variant-
    # tagged centroids) — one Lloyd pass, not one per K.
    codes, cent = train_pq_variants(emb, dim=DIM, m_subspaces=M, ks=(K, 4))
    # Consumed by both MSE aggs AND the ADC join; persist so encoding runs
    # once. No explicit unpersist under the lazy-return contract — the
    # ContextCleaner reclaims the blocks on dereference and bench.py
    # clears the cache between ops (the prefix_sum.py note).
    codes = codes.persist()
    codes16 = codes.filter(F.col("kk") == K).drop("kk")
    cent16 = {(m, c): v for (kk, m, c), v in cent.items() if kk == K}
    # Both variants' MSE in ONE conditional aggregation, kept as a 1-row
    # FRAME (r16 optimization): it joins the verdict plan below instead of
    # being collected — previously two sequential whole-frame agg actions.
    mse_df = codes.agg(
        F.avg(F.when(F.col("kk") == K, F.col("dist"))).alias("mse16"),
        F.avg(F.when(F.col("kk") == 4, F.col("dist"))).alias("mse4"),
    )

    # 10 deterministic probe queries spread over the id range. ONE collect
    # also fetches the 16 exact-regime vectors used below (r17: the two
    # probe collects were separate jobs over the same cached table).
    step = max(1, n // 10)
    qids = [i * step for i in range(10)]
    qid_set = set(qids)
    probe_rows = (
        emb.filter(F.col("vec_id").isin(qids) | (F.col("vec_id") < 16))
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in probe_rows
        if int(r["vec_id"]) in qid_set
    ]
    approx = adc_distances(
        codes16, cent16, queries, m_subspaces=M, sub=DIM // M
    ).filter(F.col("qid") != F.col("vec_id"))
    wa = Window.partitionBy("qid").orderBy("approx", "vec_id")
    shortlist = approx.withColumn("rn", F.row_number().over(wa)).filter(
        F.col("rn") <= L
    )
    qdf = spark.createDataFrame(queries, "qid bigint, qv array<double>")

    vd = F.transform("embedding", lambda x: x.cast("double"))
    exact = (
        emb.crossJoin(F.broadcast(qdf))
        .select(
            "qid", "vec_id",
            F.round(sq_l2(vd, F.col("qv")), 6).alias("d2"),
        )
        .filter(F.col("qid") != F.col("vec_id"))
    )
    we = Window.partitionBy("qid").orderBy("d2", "vec_id")
    exact_top = exact.withColumn("rn", F.row_number().over(we)).filter(
        F.col("rn") <= TOPK
    )
    hits_df = exact_top.join(
        shortlist.select("qid", "vec_id"), ["qid", "vec_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("hits"))
    recall_denom = len(queries) * TOPK

    # Exact regime: 16 vectors, K=16 -> zero quantization error and ADC
    # distances equal to the exact ones for every (query, vector) pair.
    mini = emb.filter(F.col("vec_id") < 16)
    # iters=1: init IS the 16 vectors, so the first assignment is already
    # the fixed point (every subvector its own centroid, dist 0) — no
    # update pass needed to prove the exact regime.
    mcodes, mcent = train_pq(mini, dim=DIM, m_subspaces=M, k=16, iters=1)
    mini_mse_df = mcodes.agg(F.sum("dist").alias("mini_mse"))
    mq = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in probe_rows
        if int(r["vec_id"]) < 16
    ]
    mapprox = adc_distances(mcodes, mcent, mq, m_subspaces=M, sub=DIM // M)
    mexact = (
        mini.crossJoin(
            F.broadcast(spark.createDataFrame(mq, "qid bigint, qv array<double>"))
        )
        .select("qid", "vec_id", F.round(sq_l2(vd, F.col("qv")), 6).alias("d2"))
    )
    mism_df = (
        mapprox.join(mexact, ["qid", "vec_id"])
        .filter(F.abs(F.col("approx") - F.col("d2")) > 1e-4)
        .agg(F.count(F.lit(1)).alias("mism"))
    )

    # ONE DataFrame program for the verdict (the d32 pattern, r16): the
    # four 1-row verdict aggregates crossJoin into the returned plan, so
    # the whole tail is a single job instead of four sequential actions
    # (mse pass, recall-hits count, mini-MSE pass, ADC-mismatch count).
    # Comparisons are the same IEEE doubles the driver compared before;
    # coalesce keeps the booleans non-null on degenerate (empty) inputs.
    return (
        hits_df.crossJoin(mse_df)
        .crossJoin(mini_mse_df)
        .crossJoin(mism_df)
        .select(
            F.lit(n).cast("bigint").alias("n_vectors"),
            F.lit(M).cast("bigint").alias("m_subspaces"),
            F.lit(K).cast("bigint").alias("k_centroids"),
            F.lit(M).cast("bigint").alias("code_bytes"),
            F.lit(4 * DIM).cast("bigint").alias("raw_bytes"),
            F.lit((4.0 * DIM) / M).alias("compression_ratio"),
            F.coalesce(F.col("mse16") < F.col("mse4"), F.lit(False)).alias(
                "mse_capacity_monotone"
            ),
            (
                (F.col("hits") / recall_denom >= 0.35)
                & (F.col("hits") / recall_denom >= 2.0 * L / n)
            ).alias("shortlist_recall_ok"),
            (
                F.coalesce(F.col("mini_mse") == 0.0, F.lit(False))
                & (F.col("mism") == 0)
            ).alias("exact_regime_ok"),
        )
    )


# --------------------------------------------------------------------------
# D92 — IVFADC search (Jégou et al. 2011 §IV-B; the FAISS production ANN
# configuration): d63b's IVF routing composed with d91's PQ compression.
# The corpus is stored as (cell, vec_id, M residual-PQ codes); a query
# probes nearest cells driver-side under a MASS BUDGET (cells taken
# nearest-first while their total vector count stays within 40% of the
# corpus — a fixed n_probe turns k-means cell-size skew into an unbounded
# scan), ADC-scans ONLY those cells' codes ((qid,cell,m,cid)->distance
# table + one keyed sum — no full-precision
# vector is touched), and exact-rescores the L-candidate shortlist for
# the final top-k. Verdicts pin the properties that make this the shape
# that runs at 100 TB (measured: recall 0.73 at sf0.01 and 0.68 at
# sf0.1 vs the 0.55 bar; worst probed mass <= the 0.4 cap by
# construction):
#   * recall@10 vs the exhaustive scan above a measured-margin bar
#     (routing + compression don't break the answer);
#   * the WORST query's probed mass within the scan cap (the s14
#     fail-not-slow discipline: routing enforces the budget, the row
#     re-certifies it — a degraded-to-exhaustive scan FAILS);
#   * recall strictly above the scan fraction (a blind cap-sized random
#     scan with exact rescore would land at ~the cap: ADC ranking must
#     add value beyond its budget);
#   * every ADC distance summed exactly M subspace terms (no candidate
#     scored from a partial code).
# n_cells = floor(sqrt(n)) — the FAISS sizing rule, so cells keep ~sqrt(n)
# vectors at any corpus size. The index is memoized per session and
# corpus, and two builds are bit-identical (determinism pytest).
# --------------------------------------------------------------------------
@register(
    "d92_ivfadc_search",
    oracle="""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           (SELECT CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)
                                AS n_cells,
           CAST(8 AS BIGINT)    AS m_subspaces,
           CAST(128 AS BIGINT)  AS k_centroids,
           CAST(10 AS BIGINT)   AS n_queries,
           0.4                  AS scan_cap_frac,
           TRUE                 AS recall_ok,
           TRUE                 AS scan_bounded,
           TRUE                 AS beats_blind_scan,
           TRUE                 AS adc_terms_complete
    """,
)
def d92_ivfadc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from lime_on_spark_spark.operators.ivfadc import (
        build_ivfadc_index,
        ivfadc_adc_table,
        ivfadc_search,
    )

    DIM, M, K, L, TOPK, CAP = 64, 8, 128, 100, 10, 0.4
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    CELLS = int(math.sqrt(n))

    codes, pq_cent, centroids, cell_sizes = build_ivfadc_index(
        spark, sf_dir, dim=DIM, n_cells=CELLS,
        m_subspaces=M, k_centroids=K,
    )

    # The d91 probe scheme: 10 deterministic queries spread over the ids.
    step = max(1, n // 10)
    qids = [i * step for i in range(10)]
    qrows = (
        emb.filter(F.col("vec_id").isin(qids))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["v"]]) for r in qrows]

    dt, probes = ivfadc_adc_table(
        spark, queries, centroids, pq_cent, cell_sizes,
        scan_cap_frac=CAP, sub=DIM // M,
    )
    short = ivfadc_search(codes, dt, shortlist=L).persist()

    # Fail-not-slow: the WORST query's probed-cell mass must honor the
    # routing budget (enforced structurally in ivfadc_adc_table; re-
    # certified here so a routing regression fails the artifact).
    worst_frac = max(
        sum(cell_sizes.get(c, 0) for c in cells) / n
        for cells in probes.values()
    )
    # No candidate scored from a partial code: every ADC sum saw M terms.
    # Kept as a 1-row FRAME for the single-action verdict plan below (r16).
    terms_df = short.agg(
        F.min("n_terms").alias("lo"), F.max("n_terms").alias("hi")
    )

    # Exact rescore of the shortlist: full-precision distances for the L
    # candidates only (join back to the corpus + broadcast query block).
    qdf = spark.createDataFrame(queries, "qid bigint, qv array<double>")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    rescored = (
        short.select("qid", "vec_id")
        .join(emb, "vec_id")
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid", "vec_id", F.round(sq_l2(vd, F.col("qv")), 6).alias("d2")
        )
    )
    wr = Window.partitionBy("qid").orderBy("d2", "vec_id")
    final_topk = rescored.withColumn("rn", F.row_number().over(wr)).filter(
        F.col("rn") <= TOPK
    )

    # Ground truth: the exhaustive arm (10 broadcast probe rows x corpus —
    # deliberately bounded, the d91 oracle shape).
    exact = (
        emb.crossJoin(F.broadcast(qdf))
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", F.round(sq_l2(vd, F.col("qv")), 6).alias("d2"))
    )
    we = Window.partitionBy("qid").orderBy("d2", "vec_id")
    exact_top = exact.withColumn("rn", F.row_number().over(we)).filter(
        F.col("rn") <= TOPK
    )
    hits_df = exact_top.join(
        final_topk.select("qid", "vec_id"), ["qid", "vec_id"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("hits"))
    denom = len(queries) * TOPK
    # ONE DataFrame program for the verdict (the d32 pattern, r16): the
    # recall-hits count and the ADC-completeness agg ride the returned
    # plan instead of two sequential driver actions. `short` stays
    # persisted for the plan's two consumers — the ContextCleaner
    # reclaims it on dereference (the lazy-return contract).
    return hits_df.crossJoin(terms_df).select(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(CELLS).cast("bigint").alias("n_cells"),
        F.lit(M).cast("bigint").alias("m_subspaces"),
        F.lit(K).cast("bigint").alias("k_centroids"),
        F.lit(len(queries)).cast("bigint").alias("n_queries"),
        F.lit(CAP).alias("scan_cap_frac"),
        (F.col("hits") / denom >= 0.55).alias("recall_ok"),
        F.lit(bool(worst_frac <= CAP)).alias("scan_bounded"),
        (F.col("hits") / denom > CAP).alias("beats_blind_scan"),
        F.coalesce(
            (F.col("lo") == M) & (F.col("hi") == M), F.lit(False)
        ).alias("adc_terms_complete"),
    )


# --------------------------------------------------------------------------
# D94 — retrieval-quality evaluation (the BEIR/MTEB harness shape): every
# embedding-stack choice upstream (quantization, routing, dedup) is
# ultimately judged by ranking metrics, so the engine ships the metrics
# as an operator. Queries = every 17th vector (the d63b scheme),
# relevance = same label (planted structure), ranking = rounded cosine
# with vec_id tie-break (the d3 determinism rule). MRR@10 and nDCG@10
# are computed in INTEGER MICRO-UNITS with the 10 rank discounts
# PRECOMPUTED once and injected into both engines as literals — no
# runtime log2/rounding parity risk, and integer sums are order-free, so
# the metrics hash EXACTLY across engines (every label has >= 10
# relevant docs, making IDCG@10 the same constant for all queries).
# The ANN arm re-runs EVERY evaluation query through the d92 IVFADC
# index (memoized; its ADC table keeps the driver to probe-residual
# rows) and pins MRR(ann) >= 0.5 x MRR(exact) over the
# same query set AND the same denominator (empty shortlists score 0) —
# the quality bar that makes the compressed/routed stack usable for
# evaluation work, measured with margin at all three SFs.
# Scale: the exact arm is |Q| broadcast rows x corpus (the deliberately
# bounded d3 shape — at 100 TB you'd run it through d92 itself); the
# metric aggregation is one keyed pass.
# --------------------------------------------------------------------------
_D94_RR_UNITS = (1000000, 500000, 333333, 250000, 200000,
                 166667, 142857, 125000, 111111, 100000)
_D94_DISC_UNITS = (1000000, 630930, 500000, 430677, 386853,
                   356207, 333333, 315465, 301030, 289065)
_D94_IDCG = sum(_D94_DISC_UNITS)

def _d94_query_frame(emb: DataFrame) -> DataFrame:
    """The shared evaluation query set: every 17th vector."""
    return emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )


def _d94_topk_metrics(scored: DataFrame) -> DataFrame:
    """(qid, q_label, rr_u, dcg_u) from a (qid, q_label, label, cos_sim,
    vec_id) frame — rounded-cosine rank, literal unit lookups, integer
    sums (order-free, hash-exact)."""
    rr_u = F.array(*[F.lit(v) for v in _D94_RR_UNITS])
    disc_u = F.array(*[F.lit(v) for v in _D94_DISC_UNITS])
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    rel = F.col("label") == F.col("q_label")
    return top.groupBy("qid", "q_label").agg(
        F.max(
            F.when(rel, F.element_at(rr_u, F.col("rank"))).otherwise(0)
        ).alias("rr_u"),
        F.sum(
            F.when(rel, F.element_at(disc_u, F.col("rank"))).otherwise(0)
        ).alias("dcg_u"),
    )


def _d94_exact_perq_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, int, int]]:
    """(qid, q_label, rr_u, dcg_u) tuples for the dim-64 exact arm: |Q|
    broadcast queries × corpus scan, shared by d94 (its exact baseline +
    metric output) and d95 (its dim-64 Matryoshka arm — full embeddings
    are 64-d, so slice(1, 64) scores identically to the unsliced column).

    Memoized per session: the queries×corpus scan would otherwise run in
    both rows (the two most expensive in the battery), and it reduces to a
    tiny |Q|-row table of plain ints, so the COLLECTED rows are kept and
    the pass runs AT MOST ONCE per session per corpus."""

    def build() -> list[tuple[int, int, int, int]]:
        emb = load_table(spark, sf_dir, "embeddings")
        q = _d94_query_frame(emb)
        exact = (
            emb.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                "qid", "q_label", "vec_id", "label",
                F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                    "cos_sim"
                ),
            )
        )
        return [
            (int(r["qid"]), int(r["q_label"]), int(r["rr_u"]), int(r["dcg_u"]))
            for r in _d94_topk_metrics(exact).collect()
        ]

    return session_memo(spark, ("d94.perq", sf_dir), build)


@register(
    "d94_retrieval_eval",
    oracle=f"""
    WITH units(rank, rr_u, disc_u) AS (VALUES
        {", ".join(f"({p + 1}, {_D94_RR_UNITS[p]}, {_D94_DISC_UNITS[p]})" for p in range(10))}
    ), q AS (
        SELECT vec_id AS qid, label AS q_label, embedding AS q_emb
        FROM embeddings WHERE vec_id % 17 = 0
    ), ranked AS (
        SELECT q.qid, q.q_label, e.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.q_emb AS DOUBLE[])), 6) DESC, e.vec_id
               ) AS rank
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
    ), top AS (
        SELECT r.qid, r.q_label,
               CASE WHEN r.label = r.q_label THEN u.rr_u ELSE 0 END AS rr_u,
               CASE WHEN r.label = r.q_label THEN u.disc_u ELSE 0 END AS dcg_u
        FROM ranked r JOIN units u USING (rank)
        WHERE r.rank <= 10
    ), per_q AS (
        SELECT qid, q_label, MAX(rr_u) AS rr_u, SUM(dcg_u) AS dcg_u
        FROM top GROUP BY qid, q_label
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(rr_u) / (COUNT(*) * 1000000.0), 5)  AS mrr_at10,
           ROUND(SUM(dcg_u) / (COUNT(*) * {_D94_IDCG}.0), 5) AS ndcg_at10,
           TRUE AS ann_mrr_ok
    FROM per_q GROUP BY q_label
    """,
)
def d94_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from lime_on_spark_spark.operators.ivfadc import (
        build_ivfadc_index,
        ivfadc_adc_table,
        ivfadc_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _d94_query_frame(emb)
    # Exact arm: memoized per-query metric units (shared with d95 — one
    # queries×corpus scoring pass per session per corpus, not one per row).
    per_q = spark.createDataFrame(
        _d94_exact_perq_rows(spark, sf_dir),
        "qid bigint, q_label int, rr_u int, dcg_u bigint",
    )

    # ANN arm: EVERY evaluation query through the memoized IVFADC index
    # (the driver holds probe-residual rows only, the K-way codebook
    # expansion is a distributed join),
    # rescored by cosine; MRR(ann) must hold >= 0.5 x MRR(exact) over the
    # same query set (measured ratio 1.44 / 0.88 / 0.96 at sf0.001 /
    # sf0.01 / sf0.1 — the 0.5 bar keeps margin at every SF).
    DIM, M, K, CAP, L = 64, 8, 128, 0.4, 100
    n = emb.count()
    codes, pq_cent, centroids, cell_sizes = build_ivfadc_index(
        spark, sf_dir, dim=DIM, n_cells=int(math.sqrt(n)),
        m_subspaces=M, k_centroids=K,
    )
    sub_rows = q.select(
        "qid",
        F.transform("q_emb", lambda x: x.cast("double")).alias("v"),
    ).collect()
    queries = [(int(r["qid"]), [float(x) for x in r["v"]]) for r in sub_rows]
    dt, _ = ivfadc_adc_table(
        spark, queries, centroids, pq_cent, cell_sizes,
        scan_cap_frac=CAP, sub=DIM // M,
    )
    short = ivfadc_search(codes, dt, shortlist=L)
    ann_scored = (
        short.select("qid", "vec_id")
        .join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .join(
            F.broadcast(q.select("qid", "q_label", "q_emb")), "qid"
        )
        .select(
            "qid", "q_label", "vec_id", "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    # SAME denominator on both sides of the ratio: a query whose routed
    # shortlist came back empty contributes rr_u = 0 to the ANN average
    # (a left join against the full query set), never silently drops out
    # — otherwise ANN MRR would be biased upward over fewer queries.
    # The ANN-vs-exact MRR gate rides the returned plan as a broadcast
    # 1-row frame (r16 optimization): previously two .first() actions
    # executed the whole ANN arm eagerly and the result was collected and
    # re-created — three driver round-trips for one verdict boolean. The
    # ratio compares the same IEEE doubles the driver compared before.
    ann_avg = (
        per_q.select("qid")
        .join(
            _d94_topk_metrics(ann_scored).select("qid", "rr_u"),
            "qid",
            "left",
        )
        .agg(F.avg(F.coalesce(F.col("rr_u"), F.lit(0))).alias("ann_mrr"))
    )
    gate = ann_avg.crossJoin(per_q.agg(F.avg("rr_u").alias("exact_mrr"))).select(
        F.coalesce(
            F.col("ann_mrr") >= 0.5 * F.col("exact_mrr"), F.lit(False)
        ).alias("ann_mrr_ok")
    )
    return (
        per_q.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(
                F.sum("rr_u") / (F.count(F.lit(1)) * 1000000.0), 5
            ).alias("mrr_at10"),
            F.round(
                F.sum("dcg_u") / (F.count(F.lit(1)) * float(_D94_IDCG)), 5
            ).alias("ndcg_at10"),
        )
        .crossJoin(F.broadcast(gate))
        .select(
            "label", "n_queries", "mrr_at10", "ndcg_at10", "ann_mrr_ok"
        )
    )


# --------------------------------------------------------------------------
# D95 — Matryoshka / dimension-truncation retrieval eval: the production
# question behind MRL embeddings and PQ budgets — how much ranking
# quality survives if the index stores only the first d dimensions?
# Re-runs d94's exact metric arm at dim 64 (full) and dim 16 (prefix
# truncation = list slice, zero re-embedding) and emits per-dim MRR@10 /
# nDCG@10 in the same integer micro-units — every number SQL-exact in
# both engines (no verdict needed: the metrics themselves hash). The
# truncation is a SLICE, so at 100 TB this is a scan-width experiment,
# not a recompute; measured at sf0.1: dim-16 retains ~0.87 of full-dim
# MRR on this corpus (0.234 vs 0.268).
# --------------------------------------------------------------------------
@register(
    "d95_matryoshka_eval",
    oracle=f"""
    WITH units(rank, rr_u, disc_u) AS (VALUES
        {", ".join(f"({p + 1}, {_D94_RR_UNITS[p]}, {_D94_DISC_UNITS[p]})" for p in range(10))}
    ), dims(dim) AS (VALUES (64), (16)),
    q AS (
        SELECT vec_id AS qid, label AS q_label, embedding AS q_emb
        FROM embeddings WHERE vec_id % 17 = 0
    ), ranked AS (
        SELECT d.dim, q.qid, q.q_label, e.label,
               ROW_NUMBER() OVER (
                   PARTITION BY d.dim, q.qid
                   ORDER BY ROUND(list_cosine_similarity(
                       CAST(e.embedding[1:d.dim] AS DOUBLE[]),
                       CAST(q.q_emb[1:d.dim] AS DOUBLE[])), 6) DESC,
                   e.vec_id
               ) AS rank
        FROM embeddings e CROSS JOIN q CROSS JOIN dims d
        WHERE e.vec_id <> q.qid
    ), top AS (
        SELECT r.dim, r.qid,
               CASE WHEN r.label = r.q_label THEN u.rr_u ELSE 0 END AS rr_u,
               CASE WHEN r.label = r.q_label THEN u.disc_u ELSE 0 END AS dcg_u
        FROM ranked r JOIN units u USING (rank)
        WHERE r.rank <= 10
    ), per_q AS (
        SELECT dim, qid, MAX(rr_u) AS rr_u, SUM(dcg_u) AS dcg_u
        FROM top GROUP BY dim, qid
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(rr_u) / (COUNT(*) * 1000000.0), 5)  AS mrr_at10,
           ROUND(SUM(dcg_u) / (COUNT(*) * {_D94_IDCG}.0), 5) AS ndcg_at10
    FROM per_q GROUP BY dim
    """,
)
def d95_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = _d94_query_frame(emb)
    # dim-64 arm: the full embedding is 64-d, so slicing to 64 scores
    # identically to the unsliced column — this arm IS d94's exact arm
    # and comes from the shared memo (one queries×corpus pass per session
    # per corpus across both rows, the #1/#3 battery-cost fix).
    per_q_64 = spark.createDataFrame(
        [
            (64, qid, rr, dcg)
            for qid, _label, rr, dcg in _d94_exact_perq_rows(spark, sf_dir)
        ],
        "dim int, qid bigint, rr_u int, dcg_u bigint",
    )
    # dim-16 arm: prefix truncation is a list SLICE (scan-width
    # experiment, zero re-embedding) — only this arm rescans the corpus.
    scored_16 = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "q_label", "vec_id", "label",
            F.round(
                cosine(
                    F.slice("embedding", 1, 16), F.slice("q_emb", 1, 16)
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    per_q_16 = _d94_topk_metrics(scored_16).select(
        F.lit(16).alias("dim"),
        F.col("qid").cast("bigint").alias("qid"),
        F.col("rr_u").cast("int").alias("rr_u"),
        F.col("dcg_u").cast("bigint").alias("dcg_u"),
    )
    per_q = per_q_64.unionByName(per_q_16)
    return per_q.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.sum("rr_u") / (F.count(F.lit(1)) * 1000000.0), 5).alias(
            "mrr_at10"
        ),
        F.round(
            F.sum("dcg_u") / (F.count(F.lit(1)) * float(_D94_IDCG)), 5
        ).alias("ndcg_at10"),
    )


# --------------------------------------------------------------------------
# D98 — RAG context assembly: the inference-side composition of this
# engine's retrieval and packing halves (d3/d63b/d92 retrieve; d26/d90
# pack) that no row composed end-to-end: for each query, rank the
# corpus by cosine, shortlist top-20, then pack documents into a
# 2000-char context budget IN RANK ORDER (greedy prefix cut on the
# running total — the d26 budget shape; n_chars avoids tokenizer-parity
# risk, d5/d62 own tokenization). Output per query: how many documents
# made the context, the characters used, the summed similarity of what
# made it in, and the lead document. The brute cosine arm is the
# deliberately toy-scale exact baseline (the d3 contract); d63b/d92 own
# the routed/compressed scale path for the same shortlist.
# Scale: 10 broadcast probe rows x corpus scan + one per-query window
# over a 20-row shortlist — the corpus never self-joins or shuffles.
# --------------------------------------------------------------------------
@register(
    "d98_rag_context_assembly",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10
    ), scored AS (
        SELECT q.query_id, e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= 10
    ), ranked AS (
        SELECT query_id, doc_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, doc_id) AS rk
        FROM scored
    ), shortlist AS (
        SELECT r.*, d.n_chars,
               SUM(d.n_chars) OVER (PARTITION BY r.query_id ORDER BY r.rk
                                    ROWS UNBOUNDED PRECEDING) AS running
        FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
        WHERE r.rk <= 20
    ), ctx AS (SELECT * FROM shortlist WHERE running <= 2000)
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT)        AS n_ctx_docs,
           CAST(SUM(n_chars) AS BIGINT)    AS ctx_chars,
           ROUND(SUM(cos_sim), 6)          AS ctx_sim,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
                                           AS lead_doc
    FROM ctx GROUP BY query_id
    """,
)
def d98_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lime_on_spark_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "doc_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
    )
    rk_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("doc_id")
    )
    shortlist = (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= 20)
        .join(docs, "doc_id")
    )
    run_w = (
        Window.partitionBy("query_id")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ctx = shortlist.withColumn(
        "running", F.sum("n_chars").over(run_w)
    ).filter(F.col("running") <= 2000)
    return ctx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ctx_docs"),
        F.sum("n_chars").cast("bigint").alias("ctx_chars"),
        F.round(F.sum("cos_sim"), 6).alias("ctx_sim"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("lead_doc"),
    )


# --------------------------------------------------------------------------
# D108 — EMBEDDING-space benchmark decontamination: the semantic twin of
# the shingle decon family (d15/d34/d41 catch verbatim/near-verbatim
# overlap; paraphrased benchmark leakage needs embedding similarity —
# the phi/FineWeb-style decon stage). Benchmark = every 17th vector
# (d94's holdout convention), corpus = the rest; each corpus vector's
# max cosine against the benchmark is computed, and the flagged set is
# the TOP DECILE most benchmark-similar (rank-calibrated cut, the d99
# discipline — an absolute threshold is embedding-model-specific and
# degenerate on this corpus, where max cos ~ 0.25).
# Scale: the benchmark side is broadcast (bounded by definition — eval
# sets are thousands of rows); max-similarity folds map-side before one
# |corpus|-row shuffle of (vec_id, label, mc) — 20 bytes/vec, never
# embeddings; the decile cut is range-bucketed exact rank
# (operators/exact_ntile.py): percentile sketch → broadcast cut
# literals → per-range local row_number, so the cut never routes
# through a single-partition GlobalLimit or a partition-less window —
# orderBy().limit(ceil(n/10)) would degrade past
# topKSortFallbackThreshold to a full sort + one-task GlobalLimit
# pulling n/10 rows through one reducer at 100x scale. Census aggs are
# label-bounded. For benchmark sets too big to broadcast, route through
# the d63b IVF index (candidate cells only) instead of the dense
# crossJoin.
# Determinism: cosine accumulated in f64 left-to-right on both engines
# (the d3 contract), rounded to 6 before the max/rank; (mc, vec_id) is a
# unique rank key, so the decile frontier is exact.
# --------------------------------------------------------------------------
@register(
    "d108_semantic_decontamination",
    oracle="""
    WITH bench AS (
        SELECT embedding FROM embeddings WHERE vec_id % 17 = 0
    ), corpus AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id % 17 <> 0
    ), mx AS (
        SELECT c.vec_id, c.label,
               MAX(ROUND(list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6)) AS mc
        FROM corpus c CROSS JOIN bench b
        GROUP BY c.vec_id, c.label
    ), ranked AS (
        SELECT label, mc,
               row_number() OVER (ORDER BY mc DESC, vec_id) AS rn,
               COUNT(*) OVER () AS n
        FROM mx
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT)  AS n_corpus,
           CAST(SUM(CASE WHEN rn <= CEIL(n / 10.0) THEN 1 ELSE 0 END)
                AS BIGINT)           AS n_flagged,
           CAST(SUM(CASE WHEN rn > CEIL(n / 10.0) THEN 1 ELSE 0 END)
                AS BIGINT)           AS n_clean,
           MIN(CASE WHEN rn <= CEIL(n / 10.0) THEN mc END) AS min_flagged_sim
    FROM ranked
    GROUP BY label
    """,
)
def d108_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("embedding").alias("b_emb")
    )
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    mx = (
        corpus.crossJoin(F.broadcast(bench))
        .groupBy("vec_id", "label")
        .agg(
            F.max(F.round(cosine(F.col("embedding"), F.col("b_emb")), 6))
            .alias("mc")
        )
    )
    # THREE branches of the (now fully lazy, r17) exact_ntile plan read
    # mx — the percentile-sketch broadcast, the rank window, and the
    # per-range offsets frame — persist so the corpus x benchmark
    # similarity pass runs once, not three times. No explicit unpersist
    # is possible under the lazy-return contract (the d84 precedent):
    # the ContextCleaner reclaims the blocks once the returned plan is
    # dereferenced, and bench.py clears the cache between ops.
    mx = mx.persist()
    # Rank-safe decile cut: ntile(10) bucket 1 over (mc DESC, vec_id) is
    # exactly the top ceil(n/10) rows — SQL ntile gives the first
    # n % 10 buckets ceil(n/10) rows each — matching the oracle's
    # rn <= CEIL(n/10.0) frontier. with_exact_ntile range-buckets on a
    # broadcast percentile sketch, so no row count ever reaches the
    # driver and no single task sees more than one key range.
    ranked = with_exact_ntile(
        mx.withColumn("_neg_mc", -F.col("mc")),
        10,
        ["_neg_mc", "vec_id"],
        out_col="_decile",
    )
    tagged = ranked.withColumn("is_flagged", F.col("_decile") == 1)
    return tagged.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        F.sum(F.col("is_flagged").cast("int")).cast("bigint")
        .alias("n_flagged"),
        F.sum((~F.col("is_flagged")).cast("int")).cast("bigint")
        .alias("n_clean"),
        F.min(F.when(F.col("is_flagged"), F.col("mc")))
        .alias("min_flagged_sim"),
    )


# --------------------------------------------------------------------------
# D117 — MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998):
# the retrieval stage between ranking and consumption that d94/d98/d68
# stop short of — a top-k that is RELEVANT but not REDUNDANT. Greedy
# maximal marginal relevance over the query's shortlist:
#   pick_1 = argmax rel;  pick_t = argmax rel - max_{s in S} sim
# with vec_id tie-breaks, five picks from a 20-candidate shortlist.
# Near-duplicate hits (the thing dedup missed or retrieval re-surfaced)
# pay a similarity penalty against everything already selected, so the
# context window gets coverage instead of five copies of one cluster.
# lambda = 1/2, written SCALED BY 2 (score = rel - max sim — identical
# ordering) so scores stay on the 6-dp grid of their inputs: a 0.7/0.3
# split lands scores on exact 7th-digit halves where the two engines'
# ROUND directions disagree.
# Scale: relevance scoring is the corpus-scale part — ONE scan against
# the broadcast query vector ending in TakeOrderedAndProject (the d3
# shape, O(n) work / O(S) result); the greedy loop runs on the bounded
# S=20 shortlist (S^2 pairwise sims, driver state O(S^2) — the d60
# bounded-summary discipline). Both engines rank on 6-dp-rounded
# similarities, so the selection never hinges on a last-ulp float.
# --------------------------------------------------------------------------
_D117_STEP = """
    , sel{j} AS (SELECT vec_id FROM s{j} {prev})
    , s{k} AS (
        SELECT c.vec_id, c.rel,
               c.rel - (
                   SELECT MAX(s.sim) FROM sims s
                   WHERE s.a = c.vec_id
                     AND s.b IN (SELECT vec_id FROM sel{j})
               ) AS score
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{j})
        ORDER BY score DESC, c.vec_id
        LIMIT 1
    )"""

_D117_ORACLE = (
    """
    WITH cand AS (
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])),
                     6) AS rel,
               e.embedding
        FROM embeddings e
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id
        LIMIT 20
    ), sims AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])),
                     6) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), s1 AS (
        SELECT vec_id, rel, rel AS score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    + "".join(
        _D117_STEP.format(
            k=k,
            j=k - 1,
            prev=(
                f"UNION ALL SELECT vec_id FROM sel{k - 2}"
                if k > 2
                else ""
            ),
        )
        for k in range(2, 6)
    )
    + """
    SELECT * FROM (
        SELECT CAST(1 AS INT) AS rnk, vec_id, rel,
               ROUND(score, 6) AS mmr_score FROM s1
        UNION ALL SELECT 2, vec_id, rel, ROUND(score, 6) FROM s2
        UNION ALL SELECT 3, vec_id, rel, ROUND(score, 6) FROM s3
        UNION ALL SELECT 4, vec_id, rel, ROUND(score, 6) FROM s4
        UNION ALL SELECT 5, vec_id, rel, ROUND(score, 6) FROM s5
    )
    """
)


@register("d117_mmr_rerank", oracle=_D117_ORACLE)
def d117_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "rel"
            ),
            "embedding",
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(20)
        .cache()
    )
    # Pairwise sims among the bounded shortlist — the SAME cosine
    # expression as the relevance arm (d3/f6 parity discipline).
    a, b = cand.alias("a"), cand.alias("b")
    sim_rows = (
        a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("b.vec_id").alias("bi"),
            F.round(
                cosine(F.col("a.embedding"), F.col("b.embedding")), 6
            ).alias("sim"),
        )
        .collect()
    )
    sims = {(r["ai"], r["bi"]): r["sim"] for r in sim_rows}
    rels = {
        r["vec_id"]: r["rel"]
        for r in cand.select("vec_id", "rel").collect()
    }
    selected: list[tuple[int, float]] = []  # (vec_id, score)
    remaining = set(rels)
    for _ in range(5):
        if not remaining:  # shortlist smaller than k (empty corpus)
            break
        if selected:
            scored = [
                (
                    rels[c] - max(sims[(c, s)] for s, _ in selected),
                    c,
                )
                for c in remaining
            ]
        else:
            scored = [(rels[c], c) for c in remaining]
        best_score, best = max(scored, key=lambda t: (t[0], -t[1]))
        selected.append((best, best_score))
        remaining.discard(best)
    return spark.createDataFrame(
        [
            (i + 1, v, rels[v], round(s, 6))
            for i, (v, s) in enumerate(selected)
        ],
        "rnk int, vec_id bigint, rel double, mmr_score double",
    )


# --------------------------------------------------------------------------
# D120 — embedding centroid drift (r16): the VECTOR twin of the scalar
# drift monitors (d72 PSI, d73 KS) — "did my embedding pipeline shift
# between builds". The corpus splits into two snapshots by vec_id
# parity (stand-ins for build N and build N+1); per label the snapshot
# CENTROIDS are compared by cosine, and drift = 1 - cos. Cosine is
# scale-invariant, so the centroids are represented by per-dimension
# SUMS (no division — one fewer float op to disagree on): posexplode
# to (label, parity, dim) keys, ONE combinable sum agg, then a
# |labels| x 64 join and a per-label dot/norm reduction. Everything
# shuffled is dimension-keyed triples — never vectors, never rows;
# group count is bounded by |labels| x 2 x dims.
# --------------------------------------------------------------------------
@register(
    "d120_embedding_centroid_drift",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id % 2 AS parity, t.dim AS dim,
               CAST(embedding[t.dim] AS DOUBLE) AS x
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(dim)
    ), sums AS (
        SELECT label, parity, dim, SUM(x) AS s, COUNT(*) AS n
        FROM dims GROUP BY label, parity, dim
    ), paired AS (
        SELECT a.label, a.dim, a.s AS sa, b.s AS sb,
               a.n AS na, b.n AS nb
        FROM sums a JOIN sums b
          ON a.label = b.label AND a.dim = b.dim
         AND a.parity = 0 AND b.parity = 1
    )
    SELECT label,
           CAST(MAX(na) AS BIGINT)                  AS n_even,
           CAST(MAX(nb) AS BIGINT)                  AS n_odd,
           ROUND(SUM(sa * sb)
                 / (sqrt(SUM(sa * sa)) * sqrt(SUM(sb * sb))), 6)
                                                    AS centroid_cos,
           ROUND(1 - SUM(sa * sb)
                 / (sqrt(SUM(sa * sa)) * sqrt(SUM(sb * sb))), 6)
                                                    AS drift
    FROM paired
    GROUP BY label
    """,
)
def d120_embedding_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("parity"),
        F.posexplode("embedding").alias("dim0", "x0"),
    ).select(
        "label", "parity",
        (F.col("dim0") + 1).alias("dim"),  # ordinality parity w/ DuckDB
        F.col("x0").cast("double").alias("x"),
    )
    sums = dims.groupBy("label", "parity", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = sums.filter(F.col("parity") == 0).select(
        "label", "dim",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = sums.filter(F.col("parity") == 1).select(
        "label", "dim",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    paired = a.join(b, ["label", "dim"])
    cos = F.sum(F.col("sa") * F.col("sb")) / (
        F.sqrt(F.sum(F.col("sa") * F.col("sa")))
        * F.sqrt(F.sum(F.col("sb") * F.col("sb")))
    )
    return paired.groupBy("label").agg(
        F.max("na").cast("bigint").alias("n_even"),
        F.max("nb").cast("bigint").alias("n_odd"),
        F.round(cos, 6).alias("centroid_cos"),
        F.round(1 - cos, 6).alias("drift"),
    )
