"""LIME operator rows (SURVEY.md §2j): discretizer and kernel weights carry
full SQL oracles; the stochastic/model-dependent stages (perturb, explain,
pick, train) are rows-only with deterministic outputs (xxhash64 masks,
deterministic LBFGS fits) checked by unit tests in tests/test_lime.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.plans.registry import register
from lime_on_spark_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# L1 — quantile discretizer (exact percentile edges vs DuckDB quantile_cont)
# --------------------------------------------------------------------------
@register(
    "l1_discretizer",
    oracle="""
    WITH q AS (SELECT quantile_cont(c_acctbal, [0.25, 0.5, 0.75]) AS e
               FROM customer)
    SELECT CASE WHEN c_acctbal < e[1] THEN 0
                WHEN c_acctbal < e[2] THEN 1
                WHEN c_acctbal < e[3] THEN 2
                ELSE 3 END                                    AS bin,
           COUNT(*)                                           AS n,
           ROUND(MIN(c_acctbal), 2)                           AS lo,
           ROUND(MAX(c_acctbal), 2)                           AS hi
    FROM customer, q
    GROUP BY bin
    """,
)
def l1_discretizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.discretize import discretize

    cust = load_table(spark, sf_dir, "customer")
    binned, _edges = discretize(cust, "c_acctbal", out="bin")
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
    )


# --------------------------------------------------------------------------
# L5 — euclidean distance + exponential kernel weights (deterministic)
# --------------------------------------------------------------------------
@register(
    "l5_kernel_weights",
    oracle="""
    SELECT e.vec_id,
           ROUND(list_distance(CAST(e.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])), 6)      AS dist,
           ROUND(sqrt(exp(-pow(list_distance(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])), 2)
                          / 36.0)), 6)                                 AS kernel_weight
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    """,
)
def l5_kernel_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.kernel import (
        default_kernel_width,
        euclidean_distance,
        exponential_kernel,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    dist = euclidean_distance(F.col("embedding"), F.col("q_emb"))
    # d = 64 => default width 0.75 * 8 = 6, w^2 = 36 (pinned in the oracle).
    kernel = exponential_kernel(dist, default_kernel_width(64))
    return emb.crossJoin(F.broadcast(query)).select(
        "vec_id",
        F.round(dist, 6).alias("dist"),
        F.round(kernel, 6).alias("kernel_weight"),
    )


# --------------------------------------------------------------------------
# L2 — tabular perturbation sampler. The xxhash64 masks are deterministic
# but not SQL-reproducible; the a3 verdict pattern makes the entry
# oracle-checkable: exact sample count (structural, SQL-knowable) plus a
# Spark-computed binomial bound on the total kept-dimension count
# (49 perturbed samples × 64 fair coins + 64 always-kept dims of sample 0;
# 4σ band, and the draw is seed-deterministic so the verdict can't flip).
# --------------------------------------------------------------------------
@register(
    "l2_perturb_tabular",
    oracle="""
    SELECT vec_id AS instance_id, 50 AS n_samples, TRUE AS kept_rate_ok
    FROM embeddings WHERE vec_id < 2
    """,
)
def l2_perturb_tabular(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.perturb import perturb_tabular

    N, D = 50, 64
    mean = (N - 1) * D * 0.5 + D  # perturbed Bernoulli mass + sample 0
    band = 4 * ((N - 1) * D * 0.25) ** 0.5
    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("instance_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    samples = perturb_tabular(instances, mu=[0.0] * D, num_samples=N, seed=7)
    n_kept = F.aggregate("z", F.lit(0), lambda s, v: s + v)
    return samples.groupBy("instance_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.abs(F.sum(n_kept) - F.lit(mean)) < band).alias("kept_rate_ok"),
    )


# --------------------------------------------------------------------------
# L2b — Gaussian neighborhood sampler (upstream-fidelity mode). The draw is
# seeded-deterministic but not SQL-reproducible, so the query emits each
# instance's per-dimension moment VERDICTS (mean within 4·se of the center,
# std within 4·se of sigma) — the a3 oracle pattern: a broken sampler flips
# a boolean and fails the hash.
# --------------------------------------------------------------------------
@register(
    "l2_perturb_gaussian",
    oracle="""
    SELECT vec_id AS instance_id, 2000 AS n_samples,
           TRUE AS mean_ok, TRUE AS std_ok
    FROM embeddings WHERE vec_id < 2
    """,
)
def l2_perturb_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.perturb import perturb_tabular_gaussian

    D, N, SIGMA = 64, 2000, 0.5
    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("instance_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    samples = perturb_tabular_gaussian(
        instances, mu=[0.0] * D, sigma=[SIGMA] * D, num_samples=N, seed=7
    ).filter(F.col("sample_id") > 0)
    per_dim = samples.select(
        "instance_id", F.posexplode("raw").alias("dim", "v")
    ).groupBy("instance_id", "dim").agg(
        F.avg("v").alias("m"), F.stddev_samp("v").alias("s")
    )
    se_m = 4 * SIGMA / F.sqrt(F.lit(float(N - 1)))
    se_s = 4 * SIGMA / F.sqrt(F.lit(2.0 * (N - 1)))
    return per_dim.groupBy("instance_id").agg(
        (F.max(F.abs("m")) < se_m).alias("mean_ok"),
        (F.max(F.abs(F.col("s") - SIGMA)) < se_s).alias("std_ok"),
    ).select(
        "instance_id", F.lit(N).alias("n_samples"), "mean_ok", "std_ok"
    )


# --------------------------------------------------------------------------
# L2c — Gaussian sampler, `sample_around_instance=True` (upstream
# LimeTabularExplainer's flag: the neighborhood is centered on the
# instance itself instead of the training means — tighter local fidelity
# when the instance sits far from the corpus centroid). Same seeded
# mapInPandas draw as L2b; the moment verdict now checks each dimension's
# sample mean against THAT INSTANCE'S OWN x_d, which the oracle cannot
# know — so the verdict booleans carry the proof and the exact
# per-instance row count pins the sampler shape.
# --------------------------------------------------------------------------
@register(
    "l2c_around_instance",
    oracle="""
    SELECT vec_id AS instance_id, 2000 AS n_samples,
           TRUE AS mean_ok, TRUE AS std_ok
    FROM embeddings WHERE vec_id < 2
    """,
)
def l2c_around_instance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.perturb import perturb_tabular_gaussian

    D, N, SIGMA = 64, 2000, 0.5
    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("instance_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    samples = perturb_tabular_gaussian(
        instances, mu=[0.0] * D, sigma=[SIGMA] * D, num_samples=N, seed=7,
        sample_around_instance=True,
    ).filter(F.col("sample_id") > 0)
    centers = instances.select(
        "instance_id", F.posexplode("x").alias("dim", "x_d")
    )
    per_dim = (
        samples.select("instance_id", F.posexplode("raw").alias("dim", "v"))
        .groupBy("instance_id", "dim")
        .agg(F.avg("v").alias("m"), F.stddev_samp("v").alias("s"))
        .join(centers, ["instance_id", "dim"])
    )
    se_m = 4 * SIGMA / F.sqrt(F.lit(float(N - 1)))
    se_s = 4 * SIGMA / F.sqrt(F.lit(2.0 * (N - 1)))
    return per_dim.groupBy("instance_id").agg(
        (F.max(F.abs(F.col("m") - F.col("x_d"))) < se_m).alias("mean_ok"),
        (F.max(F.abs(F.col("s") - SIGMA)) < se_s).alias("std_ok"),
    ).select(
        "instance_id", F.lit(N).alias("n_samples"), "mean_ok", "std_ok"
    )


# --------------------------------------------------------------------------
# L3 — text perturbation sampler: same verdict pattern as L2, with the
# binomial bound scaled by each document's own word count (known to the
# oracle from the text itself).
# --------------------------------------------------------------------------
@register(
    "l3_perturb_text",
    oracle="""
    SELECT doc_id, 20 AS n_samples, TRUE AS kept_rate_ok
    FROM documents WHERE doc_id < 3
    """,
)
def l3_perturb_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.perturb import perturb_text

    N = 20
    docs = load_table(spark, sf_dir, "documents")
    instances = docs.filter(F.col("doc_id") < 3).select("doc_id", "text")
    samples = perturb_text(instances, num_samples=N, seed=7)
    n_words = F.size(F.split("text", " "))
    mean = (N - 1) * n_words * 0.5 + n_words
    band = 4 * F.sqrt((N - 1) * n_words * 0.25)
    return samples.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.abs(F.sum("n_kept") - F.max(mean)) < F.max(band)).alias(
            "kept_rate_ok"
        ),
    )


# --------------------------------------------------------------------------
# L8 — batch explain (tabular + text); L4/L6/L7 run inside
# --------------------------------------------------------------------------
@register("l8_batch_explain_tabular")
def l8_batch_explain_tabular(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_tabular

    out = explain_tabular(
        spark, sf_dir, [0, 1, 2, 3], num_samples=200, k=6, seed=7
    )
    return out.select(
        "instance_id",
        "feature_idx",
        F.round("weight", 6).alias("weight"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
        F.round("local_pred", 6).alias("local_pred"),
    )


@register("l8_batch_explain_text")
def l8_batch_explain_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_text

    out = explain_text(spark, sf_dir, [0, 1, 2], num_samples=100, k=5, seed=7)
    return out.select(
        "instance_id",
        "feature_idx",
        "word",
        F.round("weight", 6).alias("weight"),
        F.round("r2", 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# L9 — SP-LIME submodular pick over a batch of explanations
# --------------------------------------------------------------------------
@register("l9_sp_lime")
def l9_sp_lime(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from lime_on_spark_spark.lime.explain import explain_tabular
    from lime_on_spark_spark.lime.pick import submodular_pick

    expl = explain_tabular(
        spark, sf_dir, list(range(8)), num_samples=100, k=4, seed=7
    ).toPandas()
    ids = sorted(expl["instance_id"].unique())
    d = 64
    W = np.zeros((len(ids), d))
    for row in expl.itertuples(index=False):
        W[ids.index(row.instance_id), row.feature_idx] = row.weight
    picked = submodular_pick(W, k=3)
    return spark.createDataFrame(
        [(order, int(ids[i])) for order, i in enumerate(picked)],
        schema="pick_order int, instance_id bigint",
    )


# --------------------------------------------------------------------------
# L9v — SP-LIME coverage verdict (r6): driver-checkable twin of l9_sp_lime.
# The picked IDs are seed-deterministic but ridge-weight-dependent (no SQL
# derivation), so the oracle pins the INVARIANTS of greedy max-coverage
# instead: exactly k distinct picks, and — because greedy's first pick is
# argmax single-instance coverage and coverage is monotone — the picked
# set's coverage dominates the best single instance's. A greedy that
# degenerated (repeat picks, argmin bug, coverage not accumulating) fails
# one of these booleans.
# --------------------------------------------------------------------------
@register(
    "l9_sp_lime_verdict",
    oracle="""
    SELECT 3 AS k, 3 AS n_picked, TRUE AS picks_distinct,
           TRUE AS coverage_ge_best_single
    FROM (SELECT 1)
    """,
)
def l9_sp_lime_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from lime_on_spark_spark.lime.explain import explain_tabular
    from lime_on_spark_spark.lime.pick import submodular_pick

    expl = explain_tabular(
        spark, sf_dir, list(range(8)), num_samples=100, k=4, seed=7
    ).toPandas()
    ids = sorted(expl["instance_id"].unique())
    d = 64
    W = np.zeros((len(ids), d))
    for row in expl.itertuples(index=False):
        W[ids.index(row.instance_id), row.feature_idx] = row.weight
    picked = submodular_pick(W, k=3)

    A = np.abs(W)
    importance = np.sqrt(A.sum(axis=0))

    def coverage(rows: list[int]) -> float:
        covered = (A[rows] > 0).any(axis=0)
        return float(importance[covered].sum())

    best_single = max(coverage([i]) for i in range(A.shape[0]))
    return spark.createDataFrame(
        [
            (
                3,
                len(picked),
                len(set(picked)) == len(picked),
                coverage(picked) >= best_single - 1e-9,
            )
        ],
        "k int, n_picked int, picks_distinct boolean, "
        "coverage_ge_best_single boolean",
    )


# --------------------------------------------------------------------------
# L10 — model-to-explain training quality (rows-only; deterministic fit)
# --------------------------------------------------------------------------
@register(
    "l10_model_quality",
    # Verdict conversion (r6): per-label populations are SQL-exact; the
    # model-dependent part is a single boolean — overall train accuracy
    # must clear 1.5x chance (observed 0.215-0.45 across sf0.001/0.01/0.1
    # vs the 0.10 10-class chance floor; LBFGS fit is seed-fixed and
    # deterministic, so the margin cannot drift run-to-run). Exact
    # per-label accuracy stays pinned by tests/test_lime.py fixtures.
    oracle="""
    SELECT label, COUNT(*) AS n, TRUE AS acc_above_chance
    FROM embeddings GROUP BY label
    """,
)
def l10_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    from lime_on_spark_spark.lime.models import train_tabular_model

    emb = load_table(spark, sf_dir, "embeddings")
    model = train_tabular_model(spark, sf_dir)
    preds = model.transform(
        emb.select(
            "label", array_to_vector("embedding").alias("features")
        )
    )
    per_label = preds.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("prediction") == F.col("label").cast("double")).cast("int")
        ).cast("bigint").alias("n_correct"),
    )
    overall = per_label.agg(
        (F.sum("n_correct") / F.sum("n") >= 0.15).alias("acc_above_chance")
    )
    return per_label.crossJoin(F.broadcast(overall)).select(
        "label", "n", "acc_above_chance"
    )


# --------------------------------------------------------------------------
# L4 — black-box scoring of perturbations (rows-only; deterministic model)
# --------------------------------------------------------------------------
@register(
    "l4_score_perturbations",
    # Verdict conversion (r6): the probability VALUES are model-dependent,
    # but their invariants are mathematical — softmax rows sum to 1 and the
    # max of a 10-class distribution is >= 1/10 — and the sample count per
    # instance is exact (num_samples=50). The driver hash-checks all three.
    oracle="""
    SELECT vec_id AS instance_id, 50 AS n_scored,
           TRUE AS probs_sum_ok, TRUE AS top_prob_ge_uniform
    FROM embeddings WHERE vec_id < 2
    """,
)
def l4_score_perturbations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone L4: perturb two instances, score every perturbation with
    the broadcast MLlib model, verdict-summarize the probability mass per
    instance. (Inside L8 this stage is fused with L5/L6.)"""
    from lime_on_spark_spark.lime.models import score_tabular, train_tabular_model
    from lime_on_spark_spark.lime.perturb import perturb_tabular

    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("instance_id"),
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    samples = perturb_tabular(instances, mu=[0.0] * 64, num_samples=50, seed=7)
    model = train_tabular_model(spark, sf_dir)
    scored = score_tabular(model, samples)
    p_max = F.array_max("probs")
    p_sum = F.aggregate("probs", F.lit(0.0), lambda s_, v: s_ + v)
    return scored.groupBy("instance_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.max(F.abs(p_sum - 1.0)).alias("_sum_err"),
        F.min(p_max).alias("_min_top"),
    ).select(
        "instance_id",
        "n_scored",
        (F.col("_sum_err") < 1e-6).alias("probs_sum_ok"),
        (F.col("_min_top") >= 0.1 - 1e-9).alias("top_prob_ge_uniform"),
    )


# --------------------------------------------------------------------------
# L6/L7 — weighted ridge surrogate on a fully deterministic neighborhood
# (rows-only; no model in the loop, so the output is exactly reproducible)
# --------------------------------------------------------------------------
@register("l6_ridge_surrogate")
def l6_ridge_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone L6: fit the per-instance weighted ridge where y is a known
    linear function of the interpretable rep (y = 0.3*z0 + 0.2*z1 + 0.1),
    so the surrogate must recover ~those weights — a distributed end-to-end
    check of the LIME fit pass, reproducible bit-for-bit."""
    from lime_on_spark_spark.lime.explain import _fit_pass
    from lime_on_spark_spark.lime.perturb import perturb_tabular

    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("instance_id"),
        F.transform(
            F.slice("embedding", 1, 8), lambda v: v.cast("double")
        ).alias("x"),
    )
    samples = perturb_tabular(instances, mu=[0.0] * 8, num_samples=100, seed=7)
    with_y = samples.select(
        "instance_id",
        "sample_id",
        "z",
        (
            F.element_at("z", 1) * 0.3 + F.element_at("z", 2) * 0.2 + F.lit(0.1)
        ).cast("double").alias("y"),
        F.lit(1.0).alias("weight"),
    )
    out = _fit_pass(with_y, k=3, alpha=1.0)
    return out.select(
        "instance_id",
        "feature_idx",
        F.round("weight", 6).alias("weight"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# L1b — decile discretizer (upstream lime.discretize.DecileDiscretizer):
# same exact-percentile edges + chained-CASE assignment, 9 edges / 10 bins.
# --------------------------------------------------------------------------
@register(
    "l1_discretizer_deciles",
    oracle="""
    WITH q AS (SELECT quantile_cont(c_acctbal,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
               FROM customer)
    SELECT CASE WHEN c_acctbal < e[1] THEN 0
                WHEN c_acctbal < e[2] THEN 1
                WHEN c_acctbal < e[3] THEN 2
                WHEN c_acctbal < e[4] THEN 3
                WHEN c_acctbal < e[5] THEN 4
                WHEN c_acctbal < e[6] THEN 5
                WHEN c_acctbal < e[7] THEN 6
                WHEN c_acctbal < e[8] THEN 7
                WHEN c_acctbal < e[9] THEN 8
                ELSE 9 END                                    AS bin,
           COUNT(*)                                           AS n,
           ROUND(MIN(c_acctbal), 2)                           AS lo,
           ROUND(MAX(c_acctbal), 2)                           AS hi
    FROM customer, q
    GROUP BY bin
    """,
)
def l1_discretizer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.discretize import discretize

    cust = load_table(spark, sf_dir, "customer")
    probs = tuple(i / 10 for i in range(1, 10))
    binned, _edges = discretize(cust, "c_acctbal", out="bin", probs=probs)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
    )


# --------------------------------------------------------------------------
# L6b — ridge-surrogate verdict twin (oracle-checkable): on the known
# linear neighborhood (y = 0.3*z0 + 0.2*z1 + 0.1, zero noise), the fitted
# surrogate must recover the generating coefficients within ridge-shrinkage
# tolerance and fit near-perfectly. Oracle pins the deterministic instance
# list + TRUE (a3-verdict pattern), making the LIME fit pass
# driver-checkable instead of rows-only.
# --------------------------------------------------------------------------
@register(
    "l6_ridge_verdict",
    oracle="""
    SELECT vec_id AS instance_id, TRUE AS surrogate_ok
    FROM embeddings WHERE vec_id < 4
    """,
)
def l6_ridge_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.plans.registry import queries

    fit = queries()["l6_ridge_surrogate"](spark, sf_dir)
    # feature_idx 0/1 must carry ~0.3/~0.2 (ridge alpha=1.0 over 100
    # samples shrinks them slightly); r2 ~ 1 on the noiseless target.
    per_feat = fit.groupBy("instance_id").agg(
        F.max(F.when(F.col("feature_idx") == 0, F.col("weight"))).alias("w0"),
        F.max(F.when(F.col("feature_idx") == 1, F.col("weight"))).alias("w1"),
        F.max("r2").alias("r2"),
    )
    return per_feat.select(
        "instance_id",
        (
            (F.abs(F.col("w0") - 0.3) < 0.05)
            & (F.abs(F.col("w1") - 0.2) < 0.05)
            & (F.col("r2") > 0.9)
        ).alias("surrogate_ok"),
    )


# --------------------------------------------------------------------------
# L8b — batch-explain verdict (oracle-checkable): structural invariants of
# the full L8 pipeline (model in the loop, so weights are not hand-pinnable
# like l6_ridge_verdict) — R^2 in [0, 1], exactly k features per instance,
# finite weights, and bit-for-bit determinism across two independent runs
# with the same seed (the perturbation masks are xxhash64-derived and the
# model fit is cached + seed-fixed, so a second DAG must reproduce the
# first exactly).
# --------------------------------------------------------------------------
@register(
    "l8_explain_verdict",
    oracle="""
    SELECT vec_id AS instance_id, TRUE AS explain_ok
    FROM embeddings WHERE vec_id < 4
    """,
)
def l8_explain_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_tabular

    k = 6
    run1 = explain_tabular(spark, sf_dir, [0, 1, 2, 3], num_samples=200, k=k, seed=7)
    run2 = explain_tabular(spark, sf_dir, [0, 1, 2, 3], num_samples=200, k=k, seed=7)
    pair = run1.alias("a").join(
        run2.alias("b"),
        (F.col("a.instance_id") == F.col("b.instance_id"))
        & (F.col("a.feature_idx") == F.col("b.feature_idx")),
    )
    per_instance = pair.groupBy(F.col("a.instance_id").alias("instance_id")).agg(
        F.count(F.lit(1)).alias("n_features"),
        F.max(F.abs(F.col("a.weight") - F.col("b.weight"))).alias("max_dw"),
        F.min("a.r2").alias("r2_lo"),
        F.max("a.r2").alias("r2_hi"),
        F.max(
            (
                F.isnan("a.weight")
                | F.isnan("a.r2")
                | F.isnan("a.local_pred")
            ).cast("int")
        ).alias("any_nan"),
    )
    return per_instance.select(
        "instance_id",
        (
            (F.col("n_features") == k)
            & (F.col("max_dw") < 1e-9)
            & (F.col("r2_lo") >= 0.0)
            & (F.col("r2_hi") <= 1.0)
            & (F.col("any_nan") == 0)
        ).alias("explain_ok"),
    )


# --------------------------------------------------------------------------
# L11 — regression-mode LIME (upstream mode='regression'): the surrogate
# fits the regressor's raw predictions, no target class, no softmax. The
# black box here is a LinearRegression trained on a deterministic
# near-linear target, which makes the verdict STRONG: mask-perturbation is
# linear in z and the model is linear in x, so y(z) is exactly linear in z
# and the FULL-WIDTH surrogate (k = d = 64 — no selection residual; with
# k<d the unselected features' linear terms become irreducible residual
# and R² legitimately drops) must fit it almost perfectly. Each instance
# must also emit exactly d features with finite weights.
# --------------------------------------------------------------------------
@register(
    "l11_regression_explain",
    oracle="""
    SELECT vec_id AS instance_id, 64 AS n_features,
           TRUE AS r2_ok, TRUE AS weights_finite
    FROM embeddings WHERE vec_id < 4
    """,
)
def l11_regression_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_tabular_regression

    expl = explain_tabular_regression(
        spark, sf_dir, [0, 1, 2, 3], num_samples=200, k=64, seed=7
    )
    return expl.groupBy("instance_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_features"),
        (F.min("r2") >= 0.9).alias("r2_ok"),
        (
            F.max(F.abs("weight")).isNotNull()
            & ~F.max(F.isnan("weight").cast("int")).cast("boolean")
        ).alias("weights_finite"),
    )


# --------------------------------------------------------------------------
# L1c — entropy (MDL) discretizer: the third upstream discretizer mode
# (EntropyDiscretizer — supervised cuts accepted by the Fayyad-Irani MDL
# criterion). Spark reduces each feature to a bounded sufficient statistic
# (per-(feature, equi-width-bin) class histograms, one combinable groupBy;
# driver payload <= 64 x 32 x 10 cells regardless of corpus size) and the
# recursion runs on histograms in lime/mdl.py. The MDL recursion has no
# SQL form, so the oracle pins the frame (one row per feature) and the
# in-query validity verdicts: cuts strictly ascending and inside the
# feature's [min, max]. tests/test_lime.py pins the recursion itself on
# hand-built separable/noise histograms.
# --------------------------------------------------------------------------
@register(
    "l1_discretizer_entropy",
    oracle="""
    SELECT i - 1 AS feature_idx, TRUE AS cuts_ascending, TRUE AS cuts_in_range
    FROM UNNEST(generate_series(1, 64)) AS t(i)
    """,
)
def l1_discretizer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from lime_on_spark_spark.lime.mdl import mdl_cuts

    n_bins = 32
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("pos", "v"),
    )
    bounds = vals.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    binned = vals.join(F.broadcast(bounds), "pos").select(
        "pos",
        "label",
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * n_bins),
        ).cast("int").alias("bin"),
    )
    hist_rows = (
        binned.groupBy("pos", "bin", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    bound_rows = {r["pos"]: (r["mn"], r["mx"]) for r in bounds.collect()}
    n_classes = 10
    out = []
    for pos in sorted(bound_rows):
        mn, mx = bound_rows[pos]
        hist = np.zeros((n_bins, n_classes), dtype=np.int64)
        for r in hist_rows:
            if r["pos"] == pos:
                hist[r["bin"], r["label"]] = r["n"]
        edges = np.linspace(mn, mx, n_bins + 1)
        cuts = mdl_cuts(hist, edges)
        ascending = all(a < b for a, b in zip(cuts, cuts[1:]))
        in_range = all(mn <= c <= mx for c in cuts)
        out.append((pos, ascending, in_range))
    return spark.createDataFrame(
        out, "feature_idx int, cuts_ascending boolean, cuts_in_range boolean"
    )


# --------------------------------------------------------------------------
# L12 — image-LIME over the multimodal blob column (lime/image.py).
# Segmentation = 8 contiguous byte blocks (stub superpixels; no skimage in
# sandbox), black box = planted linear scorer over scaled block means —
# which makes the surrogate provable and the features byte-exactly
# SQL-checkable via the hex-expansion oracle.
# --------------------------------------------------------------------------
@register("l12_image_explain")
def l12_image_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only full pipeline: per (instance, segment) surrogate weight.
    Deterministic (xxhash64 masks, closed-form ridge); value-level checks
    live in l12_image_verdict and tests/test_lime_image.py."""
    from lime_on_spark_spark.lime.image import explain_image

    return explain_image(spark, sf_dir, [1, 2, 3, 7], num_samples=64)


@register(
    "l12_image_verdict",
    oracle="""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS nb
        FROM documents WHERE doc_id IN (1, 2, 3, 7)
    ), bytes AS (
        SELECT doc_id, nb,
               list_transform(
                   range(1, nb + 1),
                   i -> (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1)
                        * 16
                      + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)
               ) AS vals
        FROM b
    ), segs AS (
        SELECT doc_id, nb, vals, unnest(range(0, 8)) AS segment FROM bytes
    ), blk AS (
        SELECT doc_id, segment,
               list_slice(vals, (segment * nb) // 8 + 1,
                          ((segment + 1) * nb) // 8) AS seg_bytes
        FROM segs
    )
    SELECT doc_id                       AS instance_id,
           CAST(segment AS INTEGER)     AS segment,
           ROUND(CASE WHEN len(seg_bytes) = 0 THEN 0.0
                      ELSE list_sum(seg_bytes) * 1.0 / len(seg_bytes) END, 6)
                                        AS block_mean,
           TRUE                         AS sign_ok,
           TRUE                         AS r2_ok,
           TRUE                         AS deterministic
    FROM blk
    """,
)
def l12_image_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential + provability verdict for image-LIME: block means must
    byte-exactly match the hex-expansion oracle; the full-width ridge on an
    exactly-linear black box must be sign-correct per segment with r2 ~ 1;
    two runs must agree bit-for-bit (xxhash64 masks, closed-form fit)."""
    import numpy as np

    from lime_on_spark_spark.lime.image import (
        N_SEGMENTS,
        PLANTED_W,
        block_means,
        explain_image,
    )

    ids = [1, 2, 3, 7]
    bm_rows = {
        int(r["instance_id"]): list(r["bm"])
        for r in block_means(spark, sf_dir, ids).collect()
    }
    # Small alpha for the provability fit: the black box is EXACTLY linear
    # in z, so with negligible shrinkage the weighted ridge must reach
    # r2 ~ 1; upstream's default alpha=1 stays on l12_image_explain.
    e1 = explain_image(spark, sf_dir, ids, num_samples=64, alpha=0.01).collect()
    e2 = explain_image(spark, sf_dir, ids, num_samples=64, alpha=0.01).collect()
    k1 = sorted((r["instance_id"], r["feature_idx"], r["weight"], r["r2"]) for r in e1)
    k2 = sorted((r["instance_id"], r["feature_idx"], r["weight"], r["r2"]) for r in e2)
    deterministic = k1 == k2

    by_inst: dict[int, dict[int, float]] = {}
    r2s: dict[int, float] = {}
    for r in e1:
        by_inst.setdefault(int(r["instance_id"]), {})[int(r["feature_idx"])] = r[
            "weight"
        ]
        r2s[int(r["instance_id"])] = r["r2"]

    out = []
    for iid in ids:
        bm = bm_rows[iid]
        r2_ok = bool(r2s[iid] >= 0.99)
        for s in range(N_SEGMENTS):
            beta = by_inst[iid][s]
            sign_ok = bool(np.sign(beta) == np.sign(PLANTED_W[s] * bm[s]))
            out.append(
                (iid, s, round(bm[s], 6), sign_ok, r2_ok, deterministic)
            )
    return spark.createDataFrame(
        out,
        "instance_id bigint, segment int, block_mean double, "
        "sign_ok boolean, r2_ok boolean, deterministic boolean",
    )


# --------------------------------------------------------------------------
# L13 — explanation STABILITY across perturbation seeds. LIME's known
# weakness is seed sensitivity (weights move when the neighborhood
# resamples); the practitioner's check is to explain twice with different
# seeds and compare. On the planted-linear image black box stability is
# PROVABLE — both runs estimate the same exact coefficients, so per-
# segment weights must agree within an estimation-error bound and the
# top-|weight| segment must be identical — which turns the stability
# audit into a driver-checkable verdict instead of a judgment call.
# --------------------------------------------------------------------------
@register(
    "l13_lime_stability",
    oracle="""
    SELECT doc_id AS instance_id,
           unnest(range(0, 8)) AS segment,
           TRUE AS weight_stable, TRUE AS top_segment_stable
    FROM documents WHERE doc_id IN (1, 2, 3)
    """,
)
def l13_lime_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.image import explain_image

    ids = [1, 2, 3]
    runs = []
    for seed in (11, 12):
        rows = explain_image(
            spark, sf_dir, ids, num_samples=128, seed=seed, alpha=0.01
        ).collect()
        by = {}
        for r in rows:
            by[(int(r["instance_id"]), int(r["feature_idx"]))] = r["weight"]
        runs.append(by)

    out = []
    for iid in ids:
        w1 = {s: runs[0][(iid, s)] for s in range(8)}
        w2 = {s: runs[1][(iid, s)] for s in range(8)}
        top1 = max(w1, key=lambda s: abs(w1[s]))
        top2 = max(w2, key=lambda s: abs(w2[s]))
        top_ok = top1 == top2
        for s in range(8):
            out.append(
                (iid, s, bool(abs(w1[s] - w2[s]) < 0.05), bool(top_ok))
            )
    return spark.createDataFrame(
        out,
        "instance_id bigint, segment bigint, weight_stable boolean, "
        "top_segment_stable boolean",
    )


# --------------------------------------------------------------------------
# L3b — bag-of-words text perturbation (upstream lime_text's DEFAULT,
# bow=True): the feature is the distinct word; masking removes every
# occurrence. Verdict mirrors l3 with the bound over the VOCAB coin count
# (the oracle knows each doc's distinct-word count from the text itself),
# plus the all-or-nothing invariant the driver can hash: across samples,
# a word's occurrence count in the perturbed text is either 0 or its
# original multiplicity — never partial.
# --------------------------------------------------------------------------
@register(
    "l3b_perturb_text_bow",
    oracle="""
    SELECT doc_id, 20 AS n_samples, TRUE AS kept_rate_ok, TRUE AS all_or_nothing
    FROM documents WHERE doc_id < 3
    """,
)
def l3b_perturb_text_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.perturb import perturb_text_bow

    N = 20
    docs = load_table(spark, sf_dir, "documents")
    instances = docs.filter(F.col("doc_id") < 3).select("doc_id", "text")
    samples = perturb_text_bow(instances, num_samples=N, seed=7)

    d = F.size("vocab")
    mean = (N - 1) * d * 0.5 + d
    band = 4 * F.sqrt((N - 1) * d * 0.25)
    # all-or-nothing: per sample, occurrences of each vocab word in the
    # perturbed text are 0 or the original multiplicity.
    orig_cnt = lambda w: F.size(  # noqa: E731
        F.filter(F.split("text", " "), lambda t: t == w)
    )
    pert_cnt = lambda w: F.size(  # noqa: E731
        F.filter(F.split("perturbed", " "), lambda t: t == w)
    )
    ok_row = F.forall(
        "vocab",
        lambda w: (pert_cnt(w) == 0) | (pert_cnt(w) == orig_cnt(w)),
    )
    return samples.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        (F.abs(F.sum("n_kept") - F.max(mean)) < F.max(band)).alias(
            "kept_rate_ok"
        ),
        F.min(ok_row.cast("int")).cast("boolean").alias("all_or_nothing"),
    )


# --------------------------------------------------------------------------
# L8c — batch text explain in bag-of-words mode (upstream's default
# explain path: z over the distinct-word vocabulary). Rows-only like
# l8_batch_explain_text (stochastic model y), deterministic under the
# fixed seed; the bow invariants are oracle-checked by l3b.
# --------------------------------------------------------------------------
@register("l8_batch_explain_text_bow")
def l8_batch_explain_text_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_text

    return explain_text(
        spark, sf_dir, [1, 2, 3], num_samples=100, k=5, bow=True
    )


# --------------------------------------------------------------------------
# L14 — kernel-width sensitivity sweep: the robustness axis l13 (seed
# stability) doesn't cover — upstream LIME's one magic constant is the
# exponential kernel width (0.75 * sqrt(d)); an explanation that flips
# with the width is an artifact of the kernel, not a property of the
# model. Sweeps scales 0.5x / 1x / 2x through the FULL distributed L8
# pipeline (same perturbations, same scoring, only the locality weights
# change) and gates: adjacent-scale top-6 feature overlap >= 4/6 and the
# argmax |weight| feature identical at 1x vs 2x (measured: 6/6 overlap
# and identical argmax at every instance at sf0.001/0.01 — the 4/6 bar
# leaves margin, flagging only genuine kernel artifacts).
# Scale: three pipeline runs over |ids| broadcast instances; the corpus
# is scanned per run, never joined against itself.
# --------------------------------------------------------------------------
@register(
    "l14_kernel_width_sweep",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS instance_id,
           TRUE AS overlap_ok, TRUE AS top_stable
    FROM embeddings WHERE vec_id IN (1, 2, 3)
    """,
)
def l14_kernel_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import explain_tabular

    ids = [1, 2, 3]
    feats: dict[float, dict[int, set]] = {}
    tops: dict[float, dict[int, int]] = {}
    for scale in (0.5, 1.0, 2.0):
        by: dict[int, list] = {}
        for r in explain_tabular(
            spark, sf_dir, ids, kernel_scale=scale
        ).collect():
            by.setdefault(int(r["instance_id"]), []).append(
                (abs(r["weight"]), int(r["feature_idx"]))
            )
        feats[scale] = {i: {f for _, f in v} for i, v in by.items()}
        tops[scale] = {i: max(v)[1] for i, v in by.items()}
    out = []
    for i in ids:
        overlap_ok = (
            len(feats[0.5][i] & feats[1.0][i]) >= 4
            and len(feats[1.0][i] & feats[2.0][i]) >= 4
        )
        out.append(
            (i, bool(overlap_ok), bool(tops[1.0][i] == tops[2.0][i]))
        )
    return spark.createDataFrame(
        out, "instance_id bigint, overlap_ok boolean, top_stable boolean"
    )


# --------------------------------------------------------------------------
# L15 — LIME over CATEGORICAL features (upstream LimeTabularExplainer's
# categorical_features path [public, unverified locally]: a categorical
# column is perturbed by RESAMPLING from the training distribution's
# frequencies, and the interpretable representation is the binary
# indicator z = [sampled value == instance value] — not a discretizer
# bin). The corpus frequencies come from a distributed groupBy; the
# seeded per-instance sampler draws (lang, source) pairs from them in
# one Arrow batch stage; the surrogate is the shared closed-form
# weighted ridge. The black box is linear in z by construction
# (y = 3·z_lang − 2·z_source + 0.5), so the fit must recover the
# coefficients and an R² ≈ 1 — any sampler bias, kernel slip, or z
# mis-encoding breaks the weight verdicts. The match-rate verdicts pin
# the sampler to the EXACT corpus frequencies the oracle computes
# independently (P[z=1] = frequency of the instance's own category).
# Scale: frequency tables are category-bounded broadcasts; sampling and
# the per-instance fit are one mapInPandas/applyInPandas pass each —
# the l2b/l6 shape, thousands of instances in parallel at 100 TB.
# --------------------------------------------------------------------------
@register(
    "l15_categorical_explain",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS n FROM documents),
         fl AS (SELECT lang, COUNT(*) * 1.0 / (SELECT n FROM tot) AS p
                FROM documents GROUP BY lang),
         fs AS (SELECT source, COUNT(*) * 1.0 / (SELECT n FROM tot) AS p
                FROM documents GROUP BY source)
    SELECT d.doc_id                    AS instance_id,
           2000                        AS n_samples,
           ROUND(fl.p, 6)              AS freq_lang,
           ROUND(fs.p, 6)              AS freq_source,
           TRUE AS match_lang_ok, TRUE AS match_source_ok,
           TRUE AS w_lang_ok, TRUE AS w_source_ok, TRUE AS fit_ok
    FROM documents d
    JOIN fl ON fl.lang = d.lang
    JOIN fs ON fs.source = d.source
    WHERE d.doc_id < 2
    """,
)
def l15_categorical_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from lime_on_spark_spark.lime.ridge import weighted_ridge

    N, SEED = 2000, 11
    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.count()
    # Category-bounded frequency tables (the "training distribution").
    lang_rows = sorted(
        (r["lang"], r["c"]) for r in
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    src_rows = sorted(
        (r["source"], r["c"]) for r in
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    langs = [v for v, _ in lang_rows]
    p_lang = np.array([c for _, c in lang_rows], dtype=np.float64) / n_total
    srcs = [v for v, _ in src_rows]
    p_src = np.array([c for _, c in src_rows], dtype=np.float64) / n_total

    instances = docs.filter(F.col("doc_id") < 2).select(
        "doc_id", "lang", "source"
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                rng = np.random.default_rng(
                    np.random.PCG64(SEED + int(row.doc_id))
                )
                dl = rng.choice(len(langs), size=N, p=p_lang)
                ds = rng.choice(len(srcs), size=N, p=p_src)
                z1 = (np.array(langs)[dl] == row.lang).astype(np.float64)
                z2 = (np.array(srcs)[ds] == row.source).astype(np.float64)
                z1[0], z2[0] = 1.0, 1.0  # sample 0 = the instance itself
                yield pd.DataFrame(
                    {
                        "instance_id": int(row.doc_id),
                        "sample_id": np.arange(N),
                        "z_lang": z1,
                        "z_source": z2,
                    }
                )

    samples = instances.mapInPandas(
        sample,
        "instance_id bigint, sample_id bigint, z_lang double, z_source double",
    )
    # Deterministic linear black box + the LIME kernel on binary distance.
    scored = samples.withColumn(
        "y", 3.0 * F.col("z_lang") - 2.0 * F.col("z_source") + 0.5
    ).withColumn(
        "w",
        F.exp(
            -((1 - F.col("z_lang")) + (1 - F.col("z_source"))) / (0.75**2)
        ),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        Z = pdf[["z_lang", "z_source"]].to_numpy()
        beta, _, r2 = weighted_ridge(
            Z, pdf["y"].to_numpy(), pdf["w"].to_numpy(), alpha=1.0
        )
        # Perturbed samples only (sample 0 is the instance, z == 1).
        pert = pdf[pdf["sample_id"] > 0]
        return pd.DataFrame(
            {
                "instance_id": [int(pdf["instance_id"].iloc[0])],
                "rate_lang": [float(pert["z_lang"].mean())],
                "rate_source": [float(pert["z_source"].mean())],
                "w_lang": [float(beta[0])],
                "w_source": [float(beta[1])],
                "r2": [float(r2)],
            }
        )

    fits = scored.groupBy("instance_id").applyInPandas(
        fit,
        "instance_id bigint, rate_lang double, rate_source double,"
        " w_lang double, w_source double, r2 double",
    )
    freqs = instances.select(
        F.col("doc_id").alias("instance_id"),
        (F.col("lang")).alias("lang"),
        (F.col("source")).alias("source"),
    )
    # The exact frequencies were already collected for the sampler above;
    # rebuild the verdict-join frames from those lists instead of running
    # two more corpus scans (bit-identical: same count/n_total division).
    fl = spark.createDataFrame(
        [(v, c / n_total) for v, c in lang_rows], "lang string, p_l double"
    )
    fs_ = spark.createDataFrame(
        [(v, c / n_total) for v, c in src_rows], "source string, p_s double"
    )
    joined = (
        fits.join(freqs, "instance_id")
        .join(F.broadcast(fl), "lang")
        .join(F.broadcast(fs_), "source")
    )

    def band(p):
        # 5 sigma of a Bernoulli mean over N-1 draws, floored at 1%.
        return F.greatest(
            5 * F.sqrt(p * (1 - p) / F.lit(float(N - 1))), F.lit(0.01)
        )

    return joined.select(
        "instance_id",
        F.lit(N).alias("n_samples"),
        F.round("p_l", 6).alias("freq_lang"),
        F.round("p_s", 6).alias("freq_source"),
        (F.abs(F.col("rate_lang") - F.col("p_l")) < band(F.col("p_l"))).alias(
            "match_lang_ok"
        ),
        (
            F.abs(F.col("rate_source") - F.col("p_s")) < band(F.col("p_s"))
        ).alias("match_source_ok"),
        (F.abs(F.col("w_lang") - 3.0) < 0.3).alias("w_lang_ok"),
        (F.abs(F.col("w_source") + 2.0) < 0.3).alias("w_source_ok"),
        (F.col("r2") > 0.9).alias("fit_ok"),
    )


# --------------------------------------------------------------------------
# L16 — DELETION-TEST faithfulness (the standard post-hoc explanation
# audit — Samek et al. 2017's "most relevant first" deletion curve,
# RISE's deletion AUC): an explanation is FAITHFUL if removing the
# features it names moves the model more than removing a control set of
# the same size. The black box is a KNOWN sparse-linear function over
# the first 8 embedding dims (c = [0.5, 0.3, 0.15, then 0.01 tail]), so
# the audit has ground truth: LIME's top-3 must be exactly the signal
# dims {0, 1, 2} (picked_signal), and mask-to-baseline deletion of the
# top-3 must move f at least as much as deleting the {5, 6, 7} control
# set (faithful) — with this c, the signal/control effect ratio is
# >= 15x, checked at all three SFs. The effect is the STEPWISE
# deletion curve (remove one feature at a time, accumulate the
# absolute drops — the Samek formulation), closed-form under the
# mu = 0 baseline: sum_{i in S} |c_i * x_i|. The one-shot joint
# |f(x_del) - f(x)| is NOT used: signed contributions can cancel
# (observed on this corpus: instance 2's 0.5/0.3/0.15 contributions
# sum to ~0.002), which audits the arithmetic, not the explanation.
# Scale: the LIME fit is the l6/l8 fit pass (no shuffle); the
# audit itself is one explode-join of k rows per instance against the
# instance vector — bounded by k*|instances|, no extra corpus scan.
# --------------------------------------------------------------------------
_L16_C = (0.5, 0.3, 0.15, 0.01, 0.01, 0.01, 0.01, 0.01)


@register(
    "l16_deletion_faithfulness",
    oracle="""
    SELECT vec_id AS instance_id,
           CAST(3 AS BIGINT) AS n_top,
           TRUE AS picked_signal,
           TRUE AS faithful
    FROM embeddings WHERE vec_id < 4
    """,
)
def l16_deletion_faithfulness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.explain import _fit_pass
    from lime_on_spark_spark.lime.perturb import perturb_tabular

    d = len(_L16_C)
    c_arr = F.array(*[F.lit(float(c)) for c in _L16_C])
    emb = load_table(spark, sf_dir, "embeddings")
    instances = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("instance_id"),
        F.transform(
            F.slice("embedding", 1, d), lambda v: v.cast("double")
        ).alias("x"),
    )
    samples = perturb_tabular(
        instances, mu=[0.0] * d, num_samples=150, seed=7
    )
    # The known black box, evaluated on the RAW reconstruction (this is
    # what makes the deletion audit closed-form under the zero baseline).
    y = F.aggregate(
        F.zip_with(F.col("raw"), c_arr, lambda r, c: r * c),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    with_y = samples.select(
        "instance_id", "sample_id", "z",
        y.cast("double").alias("y"), F.lit(1.0).alias("weight"),
    )
    fit = _fit_pass(with_y, k=3, alpha=1.0)
    # Deletion audit: top-set effect from the ACTUAL picks, control-set
    # effect from the fixed tail dims {5, 6, 7}.
    contrib = fit.join(instances, "instance_id").select(
        "instance_id", "feature_idx",
        F.abs(
            F.element_at(c_arr, F.col("feature_idx") + 1)
            * F.element_at(F.col("x"), F.col("feature_idx") + 1)
        ).alias("step_drop"),
    )
    per_inst = contrib.groupBy("instance_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_top"),
        F.sum("step_drop").alias("top_effect"),
        F.sort_array(F.collect_list("feature_idx")).alias("picks"),
    )
    ctrl = instances.select(
        "instance_id",
        sum(
            F.abs(
                F.element_at(c_arr, i + 1) * F.element_at(F.col("x"), i + 1)
            )
            for i in (5, 6, 7)
        ).alias("ctrl_effect"),
    )
    return per_inst.join(ctrl, "instance_id").select(
        "instance_id", "n_top",
        (F.col("picks") == F.array(F.lit(0), F.lit(1), F.lit(2)))
        .alias("picked_signal"),
        (F.col("top_effect") >= F.col("ctrl_effect")).alias("faithful"),
    )


# --------------------------------------------------------------------------
# L17 — exact KernelSHAP (Lundberg & Lee, NeurIPS 2017 §4.1): the OTHER
# canonical local explainer, sharing LIME's surrogate machinery but with
# the Shapley kernel pi(z) = (M-1)/(C(M,|z|)|z|(M-|z|)) — the unique
# weighting whose weighted-least-squares solution IS the Shapley value.
# Exact mode: with M = 8 features all 2^8 coalitions enumerate
# DISTRIBUTIVELY (sequence + explode + popcount bits — scan-stage, the
# l2/l8 shape), the black-box is a broadcast linear scorer over the
# vec_id-0 embedding's first 8 dims, and the WLS solve runs on the
# collected 256 x 9 design (bounded by 2^M — the d60 bounded-summary
# discipline; sampled KernelSHAP is the scale path for large M). The
# full/empty coalitions carry the standard large-weight constraint
# pins (phi must satisfy efficiency: sum phi = f(x) - f(0)).
# Oracle: for a LINEAR model with baseline-zero masking the exact
# Shapley value is phi_i = beta_i * x_i — the oracle computes it
# straight from the parquet, so the solver's recovery is differentially
# checked to 6 dp (solver residual ~1e-9, far inside the rounding
# band). Efficiency and recovery verdicts ride beside the values.
# --------------------------------------------------------------------------
_L17_BETAS = (1.0, -2.0, 3.0, -1.5, 2.5, -0.5, 4.0, -3.0)


@register(
    "l17_kernel_shap",
    oracle="""
    WITH x AS (
        SELECT t.i AS feature,
               CAST(embedding[t.i + 1] AS DOUBLE) AS x_i,
               [1.0, -2.0, 3.0, -1.5, 2.5, -0.5, 4.0, -3.0][t.i + 1]
                   AS beta_i
        FROM (SELECT embedding FROM embeddings WHERE vec_id = 0),
             UNNEST(generate_series(0, 7)) AS t(i)
    )
    SELECT feature, ROUND(x_i, 6) AS x_i, beta_i,
           ROUND(beta_i * x_i, 6) AS phi,
           true AS recovered, true AS efficient
    FROM x
    """,
)
def l17_kernel_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import numpy as np

    from lime_on_spark_spark.lime.ridge import weighted_ridge

    M = 8
    emb = load_table(spark, sf_dir, "embeddings")
    inst = emb.filter(F.col("vec_id") == 0).select(
        *[
            F.element_at("embedding", i + 1).cast("double").alias(f"x{i}")
            for i in range(M)
        ]
    )
    betas = _L17_BETAS
    # All 2^M coalitions, generated scan-stage: bit i of z = membership.
    coal = inst.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(2**M - 1))).alias("z")
    )
    masked_score = sum(
        F.lit(betas[i])
        * F.col(f"x{i}")
        * ((F.shiftright("z", i) % 2) == 1).cast("double")
        for i in range(M)
    )
    size = sum(
        ((F.shiftright("z", i) % 2) == 1).cast("int") for i in range(M)
    )
    rows = coal.select(
        "z",
        size.alias("s"),
        masked_score.alias("fz"),
        *[
            ((F.shiftright("z", i) % 2) == 1).cast("double").alias(f"b{i}")
            for i in range(M)
        ],
        *[F.col(f"x{i}") for i in range(M)],
    ).collect()
    schema = (
        "feature int, x_i double, beta_i double, phi double,"
        " recovered boolean, efficient boolean"
    )
    if not rows:  # instance absent (empty corpus): nothing to explain
        return spark.createDataFrame([], schema)

    # Bounded 2^M x (M+1) design to the driver; Shapley-kernel WLS.
    Z = np.array([[r[f"b{i}"] for i in range(M)] for r in rows])
    y = np.array([r["fz"] for r in rows])
    w = np.empty(len(rows))
    for j, r in enumerate(rows):
        s = r["s"]
        if s == 0 or s == M:
            w[j] = 1e7  # constraint pin: phi respects f(0) and f(x)
        else:
            w[j] = (M - 1) / (math.comb(M, s) * s * (M - s))
    phi, intercept, _r2 = weighted_ridge(Z, y, w, alpha=0.0)
    x = [rows[0][f"x{i}"] for i in range(M)]
    f_full = float(sum(b * v for b, v in zip(betas, x)))
    efficient = abs(float(phi.sum()) + intercept - f_full) < 1e-6
    out = [
        (
            i,
            round(x[i], 6),
            betas[i],
            round(float(phi[i]), 6),
            abs(float(phi[i]) - betas[i] * x[i]) < 1e-6,
            efficient,
        )
        for i in range(M)
    ]
    return spark.createDataFrame(out, schema)
