"""Deterministic synthetic corpus in the engine's ten-table layout.

The engine's queries read ``{sf_dir}/{table}.parquet`` for the TPC-H-ish
star schema (region nation customer supplier part orders lineitem), the
``events`` stream table and the multimodal ``documents``/``embeddings``
pair. This module writes those ten files from a fixed seed with the schemas
and value domains listed in FIXTURES.md, so the benchmark needs no corpus
outside its checkout. The corpus is a build product: it is generated once
per checkout and scale factor, and every workload seed reads the same one.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator changes, so a stale build is never reused.
VERSION = 1
CORPUS_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM")
P_ADJ = ("blue", "old", "large", "hot", "cold", "red", "small", "new")
P_NOUN = ("ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_MS = 86_400_000


def _epoch_ms(day: str) -> int:
    return int(np.datetime64(day, "ms").astype(np.int64))


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    lo_ms, hi_ms = _epoch_ms(lo), _epoch_ms(hi)
    d = rng.integers(0, (hi_ms - lo_ms) // _DAY_MS + 1, n)
    return pa.array(lo_ms + d * _DAY_MS, pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, from the fixed corpus seed."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start_ns = _epoch_ms("2024-01-01") * 1_000_000
    span_us = 30 * _DAY_MS * 1000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(start_ns + ts_us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 560.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_doc)
    label = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.08, (10, 64))
    emb = (centroids[label] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, i32),
        }
    )
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word salad over VOCAB, with 5% near-duplicates (an earlier text plus
    the token "dup") and a handful of exact duplicates, so the dedup and
    near-dup operators have positives to find."""
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n)]
    near = rng.choice(np.arange(1, n), n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.setdiff1d(np.arange(1, n), near), max(2, n // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 16}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def ensure(root: str, sf: float) -> str:
    """Return the corpus directory for ``sf`` under ``root``, building it
    first if absent. The build writes into a temporary sibling and renames
    it into place, so an interrupted build is never mistaken for a corpus."""
    dest = os.path.join(root, f"corpus-v{VERSION}-sf{sf:g}")
    if os.path.isdir(dest):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, dest)
    return dest
