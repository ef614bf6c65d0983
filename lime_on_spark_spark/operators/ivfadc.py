"""IVFADC — the FAISS production ANN configuration (Jégou et al. 2011,
§IV-B): IVF cells route the search (operators/ivf.py), PQ codes compress
what each cell stores (operators/pq.py), and the two compose so a query
scans ONLY the compressed codes of the probed cells:

  1. coarse quantizer: the engine's k-means cells over the corpus (the
     d63b IVF index, memoized per session + corpus);
  2. residual encoding: every vector's RESIDUAL to its cell centroid is
     PQ-encoded (residuals cluster tighter than raw vectors, so the same
     codebook budget buys less quantization error — the reason FAISS
     encodes residuals, not vectors);
  3. search: for each query, the nearest cells are picked driver-side
     from the tiny centroid table under a MASS BUDGET (total probed
     vector count <= scan_cap_frac of the corpus, so cell-size skew can
     never silently degrade the scan to exhaustive); an ADC lookup table
     is built per (query, probed cell) from the QUERY's residual to that
     cell; the scan is an equi-join of that table against the codes of
     the probed cells only + one keyed sum — it never touches a
     full-precision vector;
  4. exact rescore: the ADC shortlist (L candidates) joins back to the
     full-precision corpus for exact distances; top-k comes from the
     rescored shortlist.

Scale: at 100 TB the corpus lives as (cell, vec_id, M one-byte codes) —
32x smaller than float32 — bucketed by cell id so a probe touches
n_probe/n_cells of the files; the ADC table is O(n_probe * M * K) doubles
per query, and only the L-row shortlist ever reads full
vectors. Driver state is the centroid table + codebooks: O(n_cells*dim +
M*K*dim/M) doubles, bounded by construction.

Determinism contract: the coarse cells and the PQ codebooks are both fits
of pq.py's one Lloyd loop and keep its contract (lowest-id init, 6-dp
rounding, lowest-cid ties), and every top-L/top-k window breaks ties on
vec_id — two builds produce identical codes and identical search results
(pinned in pytest).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.operators.ivf import build_ivf_index
from lime_on_spark_spark.operators.pq import train_pq
from lime_on_spark_spark.session import session_memo


def build_ivfadc_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    dim: int = 64,
    n_cells: int = 16,
    m_subspaces: int = 8,
    k_centroids: int = 16,
):
    """Fit (or fetch) the composed index.

    Returns ``(codes, pq_cent, centroids, cell_sizes)``: codes =
    (cell, vec_id, m, cid) — the residual PQ code of every corpus vector
    tagged with its IVF cell; pq_cent = {(m, cid): coords} driver-held
    codebooks; centroids = the coarse cell centroids (ndarray);
    cell_sizes = {cell: n_vectors} driver-held routing stats.

    Memoized per session: one build is amortized over every query against
    the same corpus.
    """

    def build():
        assigned, centroids = build_ivf_index(spark, sf_dir, n_cells=n_cells)
        # Residual = vector - its cell centroid, via a broadcast equi-join
        # on the cell id (n_cells rows — never a cross join) and one zip_with.
        cent_df = spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in enumerate(centroids)],
            "cell int, cvec array<double>",
        )
        residuals = (
            assigned.join(F.broadcast(cent_df), "cell")
            .select(
                "cell",
                "vec_id",
                F.zip_with(
                    "embedding", "cvec", lambda x, y: x.cast("double") - y
                ).alias("embedding"),
            )
        )
        codes, pq_cent = train_pq(
            residuals.select("vec_id", "embedding"),
            dim=dim,
            m_subspaces=m_subspaces,
            k=k_centroids,
        )
        # Codes tagged with their cell = the physical layout (at 100 TB:
        # bucketed files per cell). localCheckpoint: the cached index must
        # not re-run the Lloyd lineage on every consumer.
        coded = (
            codes.drop("dist")
            .join(residuals.select("cell", "vec_id"), "vec_id")
            .select("cell", "vec_id", "m", "cid")
            .localCheckpoint(eager=True)
        )
        cell_sizes = {
            int(r["cell"]): int(r["n"])
            for r in assigned.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()  # bounded: n_cells rows.
        }
        return (coded, pq_cent, centroids, cell_sizes)

    key = ("ivfadc", sf_dir, dim, n_cells, m_subspaces, k_centroids)
    return session_memo(spark, key, build)


def _select_probes(
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    cell_sizes: dict[int, int],
    scan_cap_frac: float,
) -> dict[int, list[int]]:
    """MASS-BOUNDED probe selection: for each query, cells are taken
    nearest-first (centroid L2, ties broken on cell id via argsort's
    stable order over the rounded distances) while the probed cells'
    total vector count stays within ``scan_cap_frac`` of the corpus —
    always at least one non-empty cell. A fixed n_probe turns k-means
    cell-size skew into an unbounded scan (one fat cell can hold half a
    small corpus); the mass budget makes the sub-linear-scan guarantee
    STRUCTURAL — routing enforces it, query rows only re-certify it.
    Empty cells are never probed (nothing to gain, M*K table rows to
    pay)."""
    n_total = sum(cell_sizes.values())
    budget = scan_cap_frac * n_total
    probes: dict[int, list[int]] = {}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        d = np.round(np.linalg.norm(centroids - q, axis=1), 6)
        cells: list[int] = []
        mass = 0
        for c in np.argsort(d, kind="stable"):
            size = cell_sizes.get(int(c), 0)
            if size == 0:
                continue
            if cells and mass + size > budget:
                continue  # a later, smaller cell may still fit the budget
            cells.append(int(c))
            mass += size
        probes[qid] = cells
    return probes


def ivfadc_adc_table(
    spark: SparkSession,
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    pq_cent: dict[tuple[int, int], list[float]],
    cell_sizes: dict[int, int],
    *,
    scan_cap_frac: float,
    sub: int,
):
    """ADC lookup table for every (query, probed cell). Probing =
    :func:`_select_probes`. Per probed cell the QUERY RESIDUAL to that
    cell is cut into subvectors: the driver holds only the probe list and
    these per-(query, cell, m) residual SUBVECTORS — |Q| * probes * M
    rows — and the K-way codebook expansion happens in a DISTRIBUTED
    broadcast join against the (m, cid, cvec) codebook frame, so the
    O(|Q| * probes * M * K) distance table never materializes on the
    driver.

    Returns ``(dt, probes)``: dt = a DataFrame (qid, cell, m, cid, dt),
    dt the rounded squared L2 of the residual subvector to the codebook
    entry; probes = {qid: [cell, ...]}.
    """
    from lime_on_spark_spark.functions.vector import sq_l2

    probes = _select_probes(queries, centroids, cell_sizes, scan_cap_frac)
    rows: list[tuple] = []
    m_subspaces = len(centroids[0]) // sub if len(centroids) else 0
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        cells = probes[qid]
        for cell in cells:
            qr = q - centroids[cell]
            for m in range(m_subspaces):
                rows.append(
                    (
                        qid,
                        cell,
                        m,
                        [float(x) for x in qr[m * sub:(m + 1) * sub]],
                    )
                )
    qsub = spark.createDataFrame(
        rows, "qid bigint, cell int, m int, qr array<double>"
    )
    cb = spark.createDataFrame(
        [(m, c, v) for (m, c), v in sorted(pq_cent.items())],
        "m int, cid bigint, cvec array<double>",
    )
    dt = qsub.join(F.broadcast(cb), "m").select(
        "qid",
        "cell",
        "m",
        "cid",
        F.round(sq_l2(F.col("qr"), F.col("cvec")), 6).alias("dt"),
    )
    return dt, probes


def ivfadc_search(
    codes: DataFrame, dt: DataFrame, *, shortlist: int
) -> DataFrame:
    """(qid, vec_id, approx, n_terms, rn): ADC distances over the probed
    cells' codes only — one equi-join on (cell, m, cid) + one keyed sum —
    with the per-query shortlist rank. The join against the per-query
    table restricts the scan to probed cells BY CONSTRUCTION (a cell
    absent from the table contributes no rows), so candidate counts
    derived from this frame certify the probe bound. No forced broadcast:
    the table scales with |Q| and AQE picks the strategy."""
    from pyspark.sql import Window

    approx = (
        codes.join(dt, ["cell", "m", "cid"])
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.round(F.sum("dt"), 6).alias("approx"),
            F.count("*").alias("n_terms"),
        )
    )
    w = Window.partitionBy("qid").orderBy("approx", "vec_id")
    return approx.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist
    )
