"""Unit tests for the multimodal plumbing (stubbed decode) and IVF ANN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Multimodal: schema, determinism, checksum correctness, stub behavior
# --------------------------------------------------------------------------
def test_decode_stub_rejects_real_formats():
    from lime_on_spark_spark.operators.multimodal import decode_blob

    with pytest.raises(NotImplementedError):
        decode_blob("jpeg", b"\xff\xd8\xff")
    arr = decode_blob("raw", b"abc")
    assert arr.tolist() == [97, 98, 99]


def test_extract_features_schema_and_values(spark):
    from lime_on_spark_spark.operators.multimodal import (
        attach_fake_blobs,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "xyz")], "doc_id bigint, text string"
    )
    out = extract_features(attach_fake_blobs(docs))
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,fmt:string,n_bytes:int,checksum:bigint,"
        "feat:array<double>>"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # checksum = sum of utf-8 bytes; features normalized to sum 1
    assert rows[1]["checksum"] == ord("a") + ord("b")
    assert rows[1]["n_bytes"] == 2
    assert rows[2]["checksum"] == ord("x") + ord("y") + ord("z")
    for r in rows.values():
        assert len(r["feat"]) == 8
        assert sum(r["feat"]) == pytest.approx(1.0)


def test_extract_features_deterministic_on_corpus(spark, sf_dir):
    from lime_on_spark_spark.plans import registry

    q = registry.queries()["m1_multimodal_features"]
    r1 = sorted(map(tuple, q(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert r1 == r2
    assert r1[0][0] == "raw"


# --------------------------------------------------------------------------
# IVF: probing all cells reproduces exact brute-force top-k; partial probe
# returns correct similarity values for whatever it returns
# --------------------------------------------------------------------------
def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    from lime_on_spark_spark.operators.ivf import build_ivf_index, ivf_topk
    from lime_on_spark_spark.plans import registry

    assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=16)
    query = assigned.filter(F.col("vec_id") == 0).head()
    qvec = [float(v) for v in query["embedding"]]

    full = ivf_topk(
        assigned, centroids, qvec, k=10, n_probe=16, exclude_ids=(0,)
    ).select("vec_id", "label", "cos_sim")
    brute = registry.queries()["d3_knn_cosine_topk"](spark, sf_dir)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_ivf_partial_probe_values_correct(spark, sf_dir):
    from lime_on_spark_spark.operators.ivf import build_ivf_index, ivf_topk

    assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=16)
    query = assigned.filter(F.col("vec_id") == 0).head()
    qvec = np.array([float(v) for v in query["embedding"]])

    partial = ivf_topk(
        assigned, centroids, list(qvec), k=10, n_probe=4, exclude_ids=(0,)
    ).collect()
    assert 0 < len(partial) <= 10
    # every returned similarity must equal the exact cosine for that id
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in assigned.collect()
    }
    for r in partial:
        v = emb[r["vec_id"]]
        expected = float(v @ qvec / (np.linalg.norm(v) * np.linalg.norm(qvec)))
        assert r["cos_sim"] == pytest.approx(expected, abs=1e-6)
    # descending order
    sims = [r["cos_sim"] for r in partial]
    assert sims == sorted(sims, reverse=True)


def test_ivf_cells_stay_aligned_when_a_cluster_empties(spark, tmp_path):
    """The two lowest ids hold the same vector, so Lloyd's second seed ties
    the first everywhere, loses every member to it (ties go to the lower
    cid) and drops out after the first assignment. Cells must still index
    centroid rows: every vector's cell centroid is its nearest one, and a
    full probe equals the brute-force top-k."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lime_on_spark_spark.operators.ivf import build_ivf_index, ivf_topk

    n_cells = 6
    vecs = np.random.default_rng(7).normal(size=(40, 8)).astype(np.float32)
    vecs[1] = vecs[0]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(40)], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    assigned, centroids = build_ivf_index(spark, str(tmp_path), n_cells=n_cells)
    assert len(centroids) < n_cells  # the emptied cluster dropped out

    rows = assigned.collect()
    assert sorted(r["vec_id"] for r in rows) == list(range(40))
    for r in rows:
        d = np.linalg.norm(centroids - np.asarray(r["embedding"], np.float64), axis=1)
        assert d[r["cell"]] == pytest.approx(d.min(), abs=1e-6)

    v = vecs.astype(np.float64)
    cos = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    brute = sorted((-round(float(cos[i]), 6), i) for i in range(1, 40))[:10]
    full = ivf_topk(
        assigned, centroids, v[0].tolist(), k=10,
        n_probe=len(centroids), exclude_ids=(0,),
    ).collect()
    assert [r["vec_id"] for r in full] == [i for _, i in brute]
    for r, (neg, _) in zip(full, brute):
        assert r["cos_sim"] == pytest.approx(-neg, abs=1e-6)


def test_resize_deterministic_sampling(spark):
    from lime_on_spark_spark.operators.multimodal import (
        attach_fake_blobs,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnop")], "doc_id bigint, text string"
    )
    out = resize_images(attach_fake_blobs(docs), out_h=2, out_w=2).head()
    # 16 bytes sampled at indices (i*16)//4 = 0,4,8,12 -> 'a','e','i','m'
    assert out["n_px"] == 4
    assert out["px_checksum"] == ord("a") + ord("e") + ord("i") + ord("m")


def test_frame_sampling_every_k(spark):
    from lime_on_spark_spark.operators.multimodal import (
        attach_fake_blobs,
        sample_frames,
    )

    docs = spark.createDataFrame([(1, "x" * 300)], "doc_id bigint, text string")
    rows = sample_frames(
        attach_fake_blobs(docs), frame_size=64, every_k=2
    ).collect()
    # 300 bytes -> 5 frames (64,64,64,64,44); every 2nd -> frames 0,2,4
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 2, 4]
    sizes = {r["frame_idx"]: r["frame_bytes"] for r in rows}
    assert sizes == {0: 64, 2: 64, 4: 44}


def test_pq_codes_deterministic_and_exact_regime(spark, sf_dir):
    """d91's PQ trainer is deterministic (two independent fits -> identical
    (vec_id, m) -> cid code assignments) and exact in its exact regime: on
    a 16-vector sub-corpus with K=16 every subvector is its own centroid,
    so total quantization error is exactly zero."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.operators.pq import train_pq
    from lime_on_spark_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def fit_codes():
        codes, cent = train_pq(emb, dim=64, m_subspaces=8, k=16, iters=2)
        return (
            {(r["vec_id"], r["m"]): r["cid"] for r in codes.collect()},
            cent,
        )

    c1, cent1 = fit_codes()
    c2, cent2 = fit_codes()
    assert c1 == c2
    assert cent1 == cent2
    assert len(c1) == emb.count() * 8  # one code per (vector, subspace)
    assert all(0 <= cid < 16 for cid in c1.values())

    mini = emb.filter(F.col("vec_id") < 16)
    mcodes, _ = train_pq(mini, dim=64, m_subspaces=8, k=16, iters=2)
    assert mcodes.agg(F.sum("dist")).first()[0] == 0.0


def test_pq_init_invariant_to_vec_id_base(spark, sf_dir):
    """PQ init must seed from the K LOWEST vec_ids, not `vec_id < K`: on a
    corpus whose ids start at 10_000 the codebook still trains all K
    centroids and assigns codes identical (modulo the id shift) to the
    0-based twin's."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.operators.pq import train_pq
    from lime_on_spark_spark.sources.catalog import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 64)
    )
    base_codes, base_cent = train_pq(emb, dim=64, m_subspaces=8, k=8, iters=2)
    shifted = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    shift_codes, shift_cent = train_pq(
        shifted, dim=64, m_subspaces=8, k=8, iters=2
    )
    assert shift_cent == base_cent  # full K-centroid codebook, not empty
    got = {
        (r["vec_id"] - 10_000, r["m"]): r["cid"]
        for r in shift_codes.collect()
    }
    want = {(r["vec_id"], r["m"]): r["cid"] for r in base_codes.collect()}
    assert got == want


@pytest.mark.parametrize("shift", [1, 10_000])
def test_kmeans_init_invariant_to_vec_id_base(spark, sf_dir, shift):
    """k-means seeds like PQ, from the k LOWEST vec_ids: on ids shifted by
    ``shift`` all k centroids still train, the assignment equals the
    0-based one modulo the shift, and the DuckDB oracle chain replayed over
    the shifted table agrees with the engine."""
    import duckdb

    from lime_on_spark_spark.operators.kmeans import (
        kmeans_oracle_ctes,
        lloyd_kmeans,
    )
    from lime_on_spark_spark.sources.catalog import load_table

    k, iters = 8, 2
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 64)
    )
    shifted = emb.select((F.col("vec_id") + shift).alias("vec_id"), "embedding")
    # After one assignment every seed is its own nearest centroid, so each
    # of the k seeded centroids owns at least one vector.
    seeded = lloyd_kmeans(shifted, k=k, iters=1).collect()
    assert {r["cid"] for r in seeded} == set(range(k))

    def assignment(df, base):
        return {
            r["vec_id"] - base: (r["cid"], r["dist"])
            for r in lloyd_kmeans(df, k=k, iters=iters).collect()
        }

    got = assignment(shifted, shift)
    assert len(got) == 64
    assert got == assignment(emb, 0)

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT vec_id + {shift} AS vec_id, "
            f"embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            "WHERE vec_id < 64"
        )
        oracle = con.execute(
            f"WITH {kmeans_oracle_ctes(k=k, iters=iters)} "
            f"SELECT vec_id, cid, dist FROM a{iters}"
        ).fetchall()
    finally:
        con.close()
    assert {v - shift: c for v, c, _ in oracle} == {
        v: c for v, (c, _) in got.items()
    }
    for v, _, dist in oracle:
        assert dist == pytest.approx(got[v - shift][1], abs=1e-6)


def test_ivfadc_two_builds_identical_and_budget_enforced(spark, sf_dir):
    """d92's composed index is deterministic: two independent builds (cache
    cleared between) produce identical (cell, vec_id, m) -> cid codes and
    identical codebooks; and the mass-bounded router never exceeds its
    scan budget while always probing at least one cell."""
    from lime_on_spark_spark import session
    from lime_on_spark_spark.operators.ivfadc import (
        build_ivfadc_index,
        ivfadc_adc_table,
    )

    def build():
        for key in [k for k in session._MEMO if k[0] in ("ivf", "ivfadc")]:
            del session._MEMO[key]
        codes, pq_cent, centroids, cell_sizes = build_ivfadc_index(
            spark, sf_dir, dim=64, n_cells=8, m_subspaces=8, k_centroids=16
        )
        return (
            {
                (r["cell"], r["vec_id"], r["m"]): r["cid"]
                for r in codes.collect()
            },
            pq_cent,
            centroids.tolist(),
            cell_sizes,
        )

    c1, p1, cen1, sz1 = build()
    c2, p2, cen2, sz2 = build()
    assert c1 == c2
    assert p1 == p2
    assert cen1 == cen2
    assert sz1 == sz2
    # one code per (vector, subspace), every vector in exactly one cell
    assert len(c1) == sum(sz1.values()) * 8

    # Mass budget: with one fat cell holding 90% of the corpus, a router
    # that probed it alongside others would blow the cap; the budget must
    # hold for every query, and a query whose NEAREST cell is the fat one
    # must still probe it (>= 1 cell always).
    import numpy as np

    centroids = np.array([[0.0] * 64, [10.0] * 64, [20.0] * 64])
    sizes = {0: 900, 1: 50, 2: 50}
    queries = [(1, [0.0] * 64), (2, [20.0] * 64)]
    pq_cent = {(m, c): [0.0] * 8 for m in range(8) for c in range(2)}
    _, probes = ivfadc_adc_table(
        spark, queries, centroids, pq_cent, sizes,
        scan_cap_frac=0.2, sub=8,
    )
    # An empty cell (size 0) must never be probed — it buys nothing and
    # costs M*K broadcast rows; and the worst-frac re-certification in
    # d92 must not KeyError on it.
    _, probes_empty = ivfadc_adc_table(
        spark,
        queries,
        np.array([[0.0] * 64, [10.0] * 64, [20.0] * 64, [0.1] * 64]),
        pq_cent,
        {0: 900, 1: 50, 2: 50, 3: 0},
        scan_cap_frac=0.2,
        sub=8,
    )
    assert all(3 not in cells for cells in probes_empty.values())
    # query 1's nearest cell is the fat one (over budget on its own):
    # probed anyway, nothing else fits after it.
    assert probes[1] == [0]
    # query 2 fits both small cells (100 <= 200 budget), never the fat one.
    assert probes[2] == [2, 1]
    for cells in probes.values():
        assert len(cells) >= 1
