"""Pins for ``session.session_memo``, the engine's one per-application memo.

Every session-scoped build (table plan handles, fitted models, corpus
means, IVF/IVFADC indexes, the d94 exact arm, d88's fixture frames) goes
through it, so one eviction rule and one hit/miss count cover them all.
"""
from __future__ import annotations

import pytest

from lime_on_spark_spark import session

#: One planted key per memo name in the library.
MEMO_KEYS = (
    ("table", "sf-dead", "region"),
    ("model", "sf-dead", "tabular"),
    ("model", "sf-dead", "text"),
    ("model", "sf-dead", "regression"),
    ("model", "sf-dead", "quality"),
    ("model", "sf-dead", "langid"),
    ("corpus_means", "sf-dead"),
    ("ivf", "sf-dead", 16, 42),
    ("ivfadc", "sf-dead", 64, 16, 8, 16, 42),
    ("d94.perq", "sf-dead"),
    ("d88.fixtures", "sf-dead"),
)


@pytest.fixture
def fresh_memo():
    """An empty memo and zeroed counts; the live entries come back after,
    so later tests keep their fitted models."""
    live, live_app = dict(session._MEMO), session._memo_app
    live_stats = {k: dict(v) for k, v in session._MEMO_STATS.items()}
    session._MEMO.clear()
    session._MEMO_STATS.clear()
    yield
    session._MEMO.update(live)
    session._memo_app = live_app
    session._MEMO_STATS.clear()
    session._MEMO_STATS.update(live_stats)


def test_dead_application_entries_evicted_for_every_memo(spark, sf_dir, fresh_memo):
    """Entries built under a stopped application never survive a call
    under the live one, whichever memo they belong to — a fitted MLlib
    model from a dead session must not stay pinned for the process."""
    from lime_on_spark_spark.sources.catalog import load_table

    session._memo_app = "app-dead-0000"
    for key in MEMO_KEYS:
        session._MEMO[key] = object()
    load_table(spark, sf_dir, "nation")
    assert not [k for k in MEMO_KEYS if k in session._MEMO]
    assert session._memo_app == spark.sparkContext.applicationId
    # A hit evicts too: plant again and look up a live entry.
    session._memo_app = "app-dead-0001"
    session._MEMO.update({key: object() for key in MEMO_KEYS})
    session._MEMO[("table", sf_dir, "nation")] = "live"
    load_table(spark, sf_dir, "nation")
    assert not [k for k in MEMO_KEYS if k in session._MEMO]


def test_memo_counts_stores_nothing_on_error_and_nests(spark, fresh_memo):
    calls = []

    def inner():
        calls.append("inner")
        return 1

    def outer():
        calls.append("outer")
        return session.session_memo(spark, ("t.inner",), inner) + 1

    assert session.session_memo(spark, ("t.outer",), outer) == 2
    assert session.session_memo(spark, ("t.outer",), outer) == 2
    assert session.session_memo(spark, ("t.inner",), inner) == 1
    assert calls == ["outer", "inner"]
    stats = session.memo_stats()
    assert stats["t.outer"] == {"hits": 1, "misses": 1}
    assert stats["t.inner"] == {"hits": 1, "misses": 1}

    def boom():
        raise RuntimeError("build failed")

    for _ in range(2):
        with pytest.raises(RuntimeError):
            session.session_memo(spark, ("t.boom",), boom)
    assert ("t.boom",) not in session._MEMO
    assert session.memo_stats()["t.boom"] == {"hits": 0, "misses": 2}


def test_d94_then_d95_shares_exact_arm(spark, sf_dir, fresh_memo):
    """d94 builds the exact arm once (a miss); d95 reuses it (a hit) and
    finds the embeddings plan handle already memoized."""
    from lime_on_spark_spark.plans.vectors import (
        d94_retrieval_eval,
        d95_matryoshka_eval,
    )

    d94_retrieval_eval(spark, sf_dir).collect()
    stats = session.memo_stats()
    assert stats["d94.perq"] == {"hits": 0, "misses": 1}
    assert ("table", sf_dir, "embeddings") in session._MEMO
    tables = stats["table"]

    d95_matryoshka_eval(spark, sf_dir).collect()
    stats = session.memo_stats()
    assert stats["d94.perq"] == {"hits": 1, "misses": 1}
    # d95 reads only embeddings: no new table miss, at least one hit.
    assert stats["table"]["misses"] == tables["misses"]
    assert stats["table"]["hits"] > tables["hits"]
