"""Focused pins for the r16 optimization-round internal changes.

Each test targets an internals change that kept an operator's OUTPUT
identical while restructuring how it executes:

* ``sources.catalog.load_table`` memoizes the lazy DataFrame handle per
  (application, sf_dir, table) — plans only, never results.
* ``connected_components`` detects convergence with an order-free
  signature (count + hash-sum) and runs the exact change-count join only
  when the signature matches.
* ``train_pq``'s init collects the K lowest distinct vec_ids' subvectors
  in ONE ordered-limit pass — must survive non-contiguous / offset ids
  (the bug class the old distinct+filter two-pass guarded against).
* ``train_pq``'s Lloyd update carries the winning subvector through the
  argmin struct instead of re-joining the subvector frame — updated
  centroids must equal an independent driver-side recomputation.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_load_table_memoizes_plan_handle(spark):
    from lime_on_spark_spark import session
    from lime_on_spark_spark.sources import catalog

    a = catalog.load_table(spark, SF_DIR, "nation")
    b = catalog.load_table(spark, SF_DIR, "nation")
    assert a is b, "same (app, sf_dir, table) must return the memoized handle"
    c = catalog.load_table(spark, "/root/testdata/sf0.01", "nation")
    assert c is not a, "a different corpus dir must not share the handle"
    # The handle is a PLAN, not a result: actions still scan the input.
    assert a.count() == 25

    # Stale-application eviction: keys from a dead appId are dropped on
    # the next call, so a new session never resurrects old plans.
    live, live_app = dict(session._MEMO), session._memo_app
    dead = ("table", SF_DIR, "region")
    session._memo_app = "app-dead-0000"
    session._MEMO[dead] = a
    try:
        catalog.load_table(spark, SF_DIR, "customer")
        assert dead not in session._MEMO
    finally:
        session._MEMO.update(live)
        session._memo_app = live_app


def test_min_label_cc_signature_convergence(spark):
    """A 2-component graph whose propagation needs >1 round: the
    signature path must see changing rounds (sig mismatch), then detect
    the fixed point via the confirm join — output identical to the
    transitive closure."""
    from lime_on_spark_spark.operators.connected_components import (
        connected_components,
    )

    # Chain 1-2-3-4 (diameter 3 -> several rounds) plus pair 10-11.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_train_pq_init_offset_noncontiguous_ids(spark):
    """The single ordered-limit init pass must pick the K lowest DISTINCT
    vec_ids even when ids are offset and non-contiguous."""
    from lime_on_spark_spark.operators.pq import train_pq

    rows = [(100 + 7 * i, [float((i * j) % 5) for j in range(8)])
            for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, cent = train_pq(emb, dim=8, m_subspaces=2, k=4, iters=1)
    # K=4 centroids per subspace, ranked 0..3 from the 4 lowest ids.
    assert {(m, c) for (m, c) in cent} == {
        (m, c) for m in range(2) for c in range(4)
    }
    # Every vector coded in every subspace; distances well-formed.
    out = codes.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {int(r["vec_id"]) for r in out} == {100 + 7 * i for i in range(6)}
    assert all(int(r["n"]) == 2 for r in out)


@pytest.mark.parametrize("name", ["d96_supplier_pagerank"])
def test_d96_symmetric_graph_full_node_coverage(spark, name):
    """The r16 d96 loop drops the per-round nodes re-join because the
    symmetric edge list guarantees every node a contribution; pin that
    the returned frame's n_nodes matches the distinct suppliers in the
    co-order graph (no node silently lost)."""
    from lime_on_spark_spark.plans import registry

    df = registry.queries()[name](spark, SF_DIR)
    rows = df.collect()
    assert rows, "top-k must be non-empty on the test corpus"
    n_nodes = rows[0]["n_nodes"]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb")
        )
    )
    expected = (
        pairs.select(F.col("sa").alias("s"))
        .union(pairs.select("sb"))
        .distinct()
        .count()
    )
    assert n_nodes == expected


def test_train_pq_update_centroids_match_reference(spark):
    """The Lloyd update derives each winner's subvector FROM the argmin
    struct (min(struct(dist, cid, sv))) instead of re-joining the
    subvector frame. Pin: after one update (iters=2), the returned
    centroids equal an independent driver-side recomputation — init from
    the K lowest ids, left-to-right sq_l2 fold rounded to 6 dp,
    (dist, cid) argmin, per-position mean rounded to 6 dp."""
    from lime_on_spark_spark.operators.pq import train_pq
    from lime_on_spark_spark.sources.catalog import load_table

    M, K, DIM = 8, 4, 64
    SUB = DIM // M
    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 24)
    )
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    low = sorted(vecs)[:K]
    cent0 = {
        (m, c): vecs[low[c]][m * SUB:(m + 1) * SUB]
        for m in range(M)
        for c in range(K)
    }
    sums: dict = {}
    counts: dict = {}
    for vid in sorted(vecs):
        v = vecs[vid]
        for m in range(M):
            sv = v[m * SUB:(m + 1) * SUB]
            _, win = min(
                (
                    round(
                        sum((a - b) ** 2 for a, b in zip(sv, cent0[(m, c)])),
                        6,
                    ),
                    c,
                )
                for c in range(K)
            )
            key = (m, win)
            s = sums.setdefault(key, [0.0] * SUB)
            counts[key] = counts.get(key, 0) + 1
            for i, a in enumerate(sv):
                s[i] += a
    want = {
        key: [round(x / counts[key], 6) for x in s]
        for key, s in sums.items()
    }

    _, cent_got = train_pq(emb, dim=DIM, m_subspaces=M, k=K, iters=2)
    assert cent_got == want
