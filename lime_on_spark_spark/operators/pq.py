"""The engine's Lloyd loop, and product quantization (Jégou et al. 2011)
built on it — the memory-compression half of the ANN stack (IVF routes the
search, `operators/ivf.py`; PQ shrinks what each cell stores: 64 float32 =
256 bytes -> M=8 one-byte codes, 32x).

Lloyd architecture (:func:`_lloyd`). The loop runs over a (vec_id, m, sv)
frame: M rows per vector, one per subspace. PQ feeds it the corpus split
into M subvectors; k-means (`operators/kmeans.py`) feeds it the whole
vector as m = 0. Every K of a variant set trains in the same jobs,
tagged kk.

* the frame is persisted, so its scan runs once and not once per action,
  and PRE-PARTITIONED on vec_id: hash partitioning on a subset of the
  argmin's grouping keys makes every iteration's assignment aggregation
  (and the returned codes' lineage) exchange-free, so one upfront shuffle
  replaces one per iteration. The ContextCleaner reclaims
  the blocks when the returned plan is dereferenced (the prefix_sum.py
  note); the partition count stays conf-driven;
* centroids are DRIVER state keyed (kk, m, cid) — ΣK·d doubles, bounded by
  construction — re-broadcast each iteration;
* assignment is an EQUI-join on the subspace id m (broadcast hash, never a
  cross join) -> squared-L2 -> per-(kk, vec_id, m) argmin via
  `min(struct(dist, cid))` (map-side combinable);
* the centroid update is one shuffle: the winning subvector rides the
  argmin struct (cid breaks every tie before sv is compared, and sv is
  group-constant), then posexplode -> avg per (kk, m, cid, pos) — no join
  back to the frame;
* the driver collects run with AQE off: their subplans are bounded and
  their only shuffle is the tiny update agg, so adaptive re-planning adds
  a scheduler job per exchange and buys nothing. Values do not depend on
  it: the cached partitioning fixes the avg's input layout, and the 6-dp
  round absorbs reduce-order noise.

Determinism contract (what lets `kmeans.kmeans_oracle_ctes` replay the loop
in DuckDB exactly): init = the K lowest DISTINCT vec_ids, ranked 0..K-1 as
cids — never `vec_id < K`, which trains fewer (or zero) centroids on ids
that are 1-based, offset, or filtered; distances rounded to 6 dp before the
argmin, ties to the lowest cid; centroid coordinates rounded to 6 dp per
iteration, so two fits iterate on identical centroids and produce
identical codes; a cluster with no members drops out.

ADC (asymmetric distance computation): a query never gets encoded — its
exact distance to every centroid forms a (m, cid) -> dt lookup table
(M*K entries, built driver-side from the driver-held centroids), and the
approximate distance to ANY encoded vector is a SUM OF M TABLE LOOKUPS:
one equi-join of the codes frame against the broadcast table + one keyed
agg. At 100 TB the scan touches only the 8-byte codes — the full-precision
corpus is needed solely to rescore the shortlist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lime_on_spark_spark.functions.vector import sq_l2


def _subvectors(emb: DataFrame, m_subspaces: int, sub: int) -> DataFrame:
    """(vec_id, m, sv): the corpus exploded to per-subspace rows."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    parts = [
        F.struct(
            F.lit(m).alias("m"), F.slice(v, m * sub + 1, sub).alias("sv")
        )
        for m in range(m_subspaces)
    ]
    return emb.select(
        "vec_id", F.explode(F.array(*parts)).alias("e")
    ).select("vec_id", "e.m", "e.sv")


def _lloyd(
    svf: DataFrame, *, m_subspaces: int, ks: tuple[int, ...], iters: int
) -> tuple[DataFrame, dict[tuple[int, int, int], list[float]]]:
    """Run `iters` Lloyd assignments over ``svf(vec_id, m, sv)``, which has
    ``m_subspaces`` rows per vec_id, for every K in ``ks``; `iters - 1`
    centroid updates fall in between (a1 c1 a2 c2 a3 for iters=3).

    Returns ``(codes, centroids)``: codes = (kk, vec_id, m, cid, dist), the
    final assignment with dist the rounded squared L2 to the winning
    centroid; centroids = {(kk, m, cid): coords}, the ones that assignment
    used.
    """
    from lime_on_spark_spark.session import temp_conf

    spark = svf.sparkSession
    svf = svf.repartition("vec_id").persist()

    # Every vec_id owns m_subspaces rows, so the (K_max+1)·M lowest-ordered
    # rows hold the K lowest distinct ids' subvectors plus one spare id;
    # the collect also materializes the persisted frame.
    kmax = max(ks)
    with temp_conf(spark, "spark.sql.adaptive.enabled", "false"):
        init = (
            svf.select("vec_id", "m", F.col("sv").alias("cvec"))
            .orderBy("vec_id", "m")
            .limit((kmax + 1) * m_subspaces)
            .collect()  # bounded: (K_max+1)·M rows.
        )
    low_ids = sorted({r["vec_id"] for r in init})[:kmax]
    rank = {vid: i for i, vid in enumerate(low_ids)}
    cent: dict[tuple[int, int, int], list[float]] = {
        (kk, int(r["m"]), rank[r["vec_id"]]): [float(x) for x in r["cvec"]]
        for r in init
        if r["vec_id"] in rank
        for kk in ks
        if rank[r["vec_id"]] < kk
    }

    codes: DataFrame | None = None
    for it in range(iters):
        cent_df = spark.createDataFrame(
            [(kk, m, c, v) for (kk, m, c), v in sorted(cent.items())],
            "kk int, m int, cid bigint, cvec array<double>",
        )
        scored = svf.join(F.broadcast(cent_df), "m").select(
            "kk", "vec_id", "m", "cid", "sv",
            F.round(sq_l2(F.col("sv"), F.col("cvec")), 6).alias("dist"),
        )
        if it < iters - 1:
            upd = (
                scored.groupBy("kk", "vec_id", "m")
                .agg(F.min(F.struct("dist", "cid", "sv")).alias("x"))
                .select(
                    "kk", "m",
                    F.col("x.cid").alias("cid"),
                    F.posexplode("x.sv").alias("pos", "val"),
                )
                .groupBy("kk", "m", "cid", "pos")
                .agg(F.round(F.avg("val"), 6).alias("cv"))
            )
            with temp_conf(spark, "spark.sql.adaptive.enabled", "false"):
                rows = upd.collect()  # bounded: ΣK·d rows.
            nxt: dict[tuple[int, int, int], dict[int, float]] = {}
            for r in rows:
                nxt.setdefault(
                    (int(r["kk"]), int(r["m"]), int(r["cid"])), {}
                )[int(r["pos"])] = float(r["cv"])
            cent = {
                key: [dims[p] for p in sorted(dims)]
                for key, dims in sorted(nxt.items())
            }
        else:
            codes = (
                scored.groupBy("kk", "vec_id", "m")
                .agg(F.min(F.struct("dist", "cid")).alias("x"))
                .select(
                    "kk", "vec_id", "m",
                    F.col("x.cid").alias("cid"),
                    F.col("x.dist").alias("dist"),
                )
            )
    assert codes is not None
    return codes, cent


def train_pq_variants(
    emb: DataFrame,
    *,
    dim: int,
    m_subspaces: int = 8,
    ks: tuple[int, ...] = (16,),
    iters: int = 3,
) -> tuple[DataFrame, dict[tuple[int, int, int], list[float]]]:
    """Train per-subspace codebooks for EVERY K in ``ks`` in the SAME jobs
    (centroids tagged by their variant, so the capacity-comparison
    training d91 needs costs one pass, not one per K).

    Returns ``(codes, centroids)``: codes = (kk, vec_id, m, cid, dist)
    with dist the rounded squared L2 to the winning centroid (the
    per-subspace quantization error), centroids = {(kk, m, cid): coords}
    driver state (bounded: sum(K)*dim doubles).
    """
    return _lloyd(
        _subvectors(emb, m_subspaces, dim // m_subspaces),
        m_subspaces=m_subspaces,
        ks=ks,
        iters=iters,
    )


def train_pq(
    emb: DataFrame,
    *,
    dim: int,
    m_subspaces: int = 8,
    k: int = 16,
    iters: int = 3,
) -> tuple[DataFrame, dict[tuple[int, int], list[float]]]:
    """Single-K convenience wrapper around :func:`train_pq_variants`.

    Returns ``(codes, centroids)``: codes = (vec_id, m, cid, dist),
    centroids = {(m, cid): coords} driver state.
    """
    codes, cent = train_pq_variants(
        emb, dim=dim, m_subspaces=m_subspaces, ks=(k,), iters=iters
    )
    return (
        codes.drop("kk"),
        {(m, c): v for (_, m, c), v in cent.items()},
    )


def adc_distances(
    codes: DataFrame,
    cent: dict[tuple[int, int], list[float]],
    queries: list[tuple[int, list[float]]],
    *,
    m_subspaces: int,
    sub: int,
) -> DataFrame:
    """(qid, vec_id, approx): ADC distance of every query to every encoded
    vector — one broadcast equi-join on (m, cid) + one keyed sum, the scan
    touching only codes."""
    spark = codes.sparkSession
    table = [
        (
            qid,
            m,
            cid,
            round(
                sum(
                    (qv[m * sub + j] - cv[j]) ** 2 for j in range(len(cv))
                ),
                6,
            ),
        )
        for qid, qv in queries
        for (m, cid), cv in cent.items()
    ]
    dt = spark.createDataFrame(table, "qid bigint, m int, cid bigint, dt double")
    return (
        codes.join(F.broadcast(dt), ["m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("dt").alias("approx"))
    )
