"""Unit/property tests for the data-selection operators (plans/datasel.py)
and the round-7 SQL-surface rows (LATERAL, recursive CTE, observe)."""

from __future__ import annotations

import pyspark.sql.functions as F

from lime_on_spark_spark.plans import registry
from lime_on_spark_spark.sources.catalog import load_table


def _rows(spark, sf_dir, name):
    return {r[0]: r for r in registry.queries()[name](spark, sf_dir).collect()}


# ---------------------------------------------------------------- d58


def test_temperature_mix_rates(spark, sf_dir):
    by_lang = _rows(spark, sf_dir, "d58_temperature_mix")
    assert len(by_lang) == 5
    for lang, r in by_lang.items():
        assert 0.0 < r["rate"] <= 1.0
        assert r["n_after"] <= r["n_before"]
    # Temperature smoothing: the highest-resource language gets the LOWEST
    # keep rate, the lowest-resource one the highest.
    ordered = sorted(by_lang.values(), key=lambda r: r["n_before"])
    assert ordered[0]["rate"] >= ordered[-1]["rate"]
    # alpha < 1 compresses the mix: post-sample lang shares are closer to
    # uniform than pre-sample shares (en share shrinks).
    tot_b = sum(r["n_before"] for r in by_lang.values())
    tot_a = sum(r["n_after"] for r in by_lang.values())
    en = by_lang["en"]
    assert en["n_after"] / tot_a < en["n_before"] / tot_b


def test_temperature_mix_deterministic(spark, sf_dir):
    q = registry.queries()["d58_temperature_mix"]
    a = sorted(map(tuple, q(spark, sf_dir).collect()))
    b = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert a == b


# ---------------------------------------------------------------- d56


def test_dsir_selects_target_like_docs(spark, sf_dir):
    by_lang = _rows(spark, sf_dir, "d56_dsir_selection")
    n_sel = {lang: r["n_selected"] for lang, r in by_lang.items()}
    assert sum(n_sel.values()) == 150
    docs = load_table(spark, sf_dir, "documents")
    base = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # The target language must be selected at a higher rate than every
    # other language (the whole point of importance resampling).
    rates = {lang: n_sel.get(lang, 0) / base[lang] for lang in base}
    assert rates["en"] == max(rates.values())
    # And en's selected share must exceed its corpus share.
    assert n_sel.get("en", 0) / 150 > base["en"] / sum(base.values())


# ---------------------------------------------------------------- d57


def test_repeated_ngrams_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = _rows(spark, sf_dir, "d57_repeated_ngrams")
    assert len(rows) == n_sources
    for r in rows.values():
        assert 0.0 <= r["avg_repeated_frac"] <= 1.0
        assert 0 <= r["n_flagged"] <= r["n_docs"]


# ---------------------------------------------------------------- p11/p12


def test_lateral_topk_shape(spark, sf_dir):
    out = registry.queries()["p11_lateral_topk"](spark, sf_dir).collect()
    per_nation: dict[str, list] = {}
    for r in out:
        per_nation.setdefault(r["n_name"], []).append(r["acctbal"])
    # <= 2 rows per nation, each list sorted descending.
    for vals in per_nation.values():
        assert len(vals) <= 2
        assert vals == sorted(vals, reverse=True)


def test_recursive_cte_conserves_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_groups = docs.select("source", "lang").distinct().count()
    out = registry.queries()["p12_recursive_cte"](spark, sf_dir).collect()
    # Closure partitions every doc into exactly one cluster per
    # (source, lang) group: sizes sum to |docs|, roots count to |groups|.
    assert sum(r["cluster_size"] * r["n_clusters"] for r in out) == n_docs
    assert sum(r["n_clusters"] for r in out) == n_groups


# ---------------------------------------------------------------- o5


def test_observed_metrics_match_direct_agg(spark, sf_dir):
    out = registry.queries()["o5_observed_metrics"](spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.max("l_suppkey").alias("max_suppkey"),
    ).collect()[0]
    assert tuple(out) == tuple(direct)


# ---------------------------------------------------------------- o6/d59/l2c


def test_dpp_fires_and_prunes(spark, sf_dir):
    out = registry.queries()["o6_dynamic_partition_pruning"](spark, sf_dir).collect()
    assert all(r["dpp_active"] for r in out)
    # Only Q2-1995 ship months survive the runtime prune.
    assert sorted(r["ship_month"] for r in out) == ["1995-04", "1995-05", "1995-06"]


def test_pmi_top_pairs(spark, sf_dir):
    out = registry.queries()["d59_pmi_cooccurrence"](spark, sf_dir).collect()
    assert len(out) == 10
    for r in out:
        assert r["wa"] <= r["wb"]
        assert r["c_pair"] >= 20
    pmis = [r["pmi"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_around_instance_moments(spark, sf_dir):
    out = registry.queries()["l2c_around_instance"](spark, sf_dir).collect()
    assert len(out) == 2
    assert all(r["mean_ok"] and r["std_ok"] for r in out)


# ---------------------------------------------------------------- d60


def test_bpe_merges_shape_and_determinism(spark, sf_dir):
    q = registry.queries()["d60_bpe_merges"]
    out = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert len(out) == 3
    for rnd, a, b, merged, wc in out:
        assert merged == a + b
        assert wc > 0
        assert len(a) >= 1 and len(b) >= 1
    # Learned merges must be distinct symbols pairs.
    assert len({(a, b) for _, a, b, _, _ in out}) == 3
    assert out == sorted(map(tuple, q(spark, sf_dir).collect()))


# ---------------------------------------------------------------- j7d/t21


def test_asof_nearest_dominates_both_directions(spark, sf_dir):
    nearest = {
        r["purchase_id"]: r
        for r in registry.queries()["j7_asof_nearest"](spark, sf_dir).collect()
    }
    back = {
        r["purchase_id"]: r
        for r in registry.queries()["j7_asof_join"](spark, sf_dir).collect()
    }
    assert set(nearest) == set(back)
    for pid, r in nearest.items():
        if r["nearest_click_ts"] is None:
            assert r["direction"] is None
            continue
        d_near = abs((r["ts"] - r["nearest_click_ts"]).total_seconds())
        b = back[pid]["last_click_ts"]
        if b is not None:
            d_back = (r["ts"] - b).total_seconds()
            assert d_near <= d_back  # never farther than the backward match
        if r["direction"] == "backward":
            assert r["nearest_click_ts"] == b


def test_streaming_observe_totals(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_table

    out = registry.queries()["t21_streaming_observe"](spark, sf_dir).collect()[0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert out["n_rows"] == n_events
    assert out["n_negative"] >= 0 and out["n_errors"] >= 0


def test_bpe_tokenize_applies_merges(spark, sf_dir):
    rules = {
        r["merged"]
        for r in registry.queries()["d60_bpe_merges"](spark, sf_dir).collect()
    }
    toks = registry.queries()["d62_bpe_tokenize"](spark, sf_dir).collect()
    assert len(toks) == 10
    # At least one learned multi-char merge must appear among the top
    # corpus tokens — proof the rewrite actually fired.
    assert any(t["token"] in rules for t in toks)
    counts = [t["weighted_count"] for t in toks]
    assert counts == sorted(counts, reverse=True)


def test_magic_byte_router_routes_all(spark, sf_dir):
    out = registry.queries()["m5_magic_byte_router"](spark, sf_dir).collect()
    assert {r["detected_fmt"] for r in out} == {"jpeg", "png", "riff", "raw"}
    assert all(r["all_routed_correctly"] for r in out)


def test_span_corruption_rates(spark, sf_dir):
    out = registry.queries()["d61_span_corruption"](spark, sf_dir).collect()
    for r in out:
        # Spans never outnumber masked tokens, and the Bernoulli(0.15)
        # mask rate lands near its mean.
        assert r["total_spans"] <= r["total_masked"]
        assert 0.05 < r["avg_mask_frac"] < 0.30


def test_contrastive_pairs_cover_all_labels(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_table

    out = registry.queries()["d63_contrastive_pairs"](spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    q_labels = {
        r["label"] for r in emb.filter(F.col("vec_id") % 17 == 0).select("label").distinct().collect()
    }
    assert {r["label"] for r in out} == q_labels
    for r in out:
        assert -1.0 <= r["avg_positive_sim"] <= 1.0
        assert -1.0 <= r["avg_hard_negative_sim"] <= 1.0
        assert r["n_queries"] >= 1


def test_winnowing_guarantee_on_shared_substring(spark, sf_dir):
    """Winnowing's core guarantee: two docs sharing a substring of length
    >= k + w - 1 (= 11 chars) MUST share at least one fingerprint. Build a
    tiny corpus with a planted 40-char shared span and check it."""
    import pyspark.sql.functions as F2
    from pyspark.sql import Window as W2

    k, w, m, posbase = 8, 4, 1 << 20, 10_000_000
    shared_span = "the quick brown fox jumps over the lazy"
    rows = [
        (1, "aaaa " + shared_span + " bbbb"),
        (2, "cccc dddd " + shared_span + " eeee"),
        (3, "totally unrelated content here with nothing in common xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    grams = docs.select(
        "doc_id",
        F2.explode(F2.expr(
            f"transform(sequence(1, length(text) - {k} + 1),"
            f" i -> struct(i AS pos, substr(text, i, {k}) AS g))"
        )).alias("kg"),
    ).select(
        "doc_id", F2.col("kg.pos").alias("pos"),
        F2.pmod(F2.conv(F2.substring(F2.md5("kg.g"), 1, 8), 16, 10).cast("long"),
                F2.lit(m)).alias("h"),
    )
    keyed = grams.select(
        "doc_id", "pos",
        (F2.col("h") * posbase + (posbase - 1 - F2.col("pos"))).alias("key"),
    )
    wdef = W2.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = (
        keyed.withColumn("wmin", F2.min("key").over(wdef))
        .withColumn("wn", F2.count(F2.lit(1)).over(wdef))
        .filter(F2.col("wn") == w)
        .select("doc_id", (F2.col("wmin") / posbase).cast("long").alias("fp"))
        .distinct()
    )
    fps = {
        d: {r["fp"] for r in sel.filter(F2.col("doc_id") == d).collect()}
        for d in (1, 2, 3)
    }
    assert fps[1] & fps[2], "docs sharing a 40-char span must share a fingerprint"


def test_winnowing_query_counts(spark, sf_dir):
    out = registry.queries()["d64_winnowing_fingerprints"](spark, sf_dir).collect()
    for r in out:
        assert r["avg_fingerprints"] > 0
        assert r["n_candidate_pairs"] >= 0


def test_curriculum_phases_are_exact_quartiles(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_table

    out = {r["phase"]: r for r in registry.queries()["d65_curriculum_phases"](spark, sf_dir).collect()}
    n = load_table(spark, sf_dir, "documents").count()
    assert sorted(out) == [1, 2, 3, 4]
    sizes = [out[p]["n_docs"] for p in (1, 2, 3, 4)]
    assert sum(sizes) == n
    assert max(sizes) - min(sizes) <= 1  # SQL ntile size contract
    # Curriculum ordering: phase scores are monotone.
    scores = [out[p]["avg_score"] for p in (1, 2, 3, 4)]
    assert scores == sorted(scores)


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir):
    tol = {
        r["purchase_id"]: r
        for r in registry.queries()["j7_asof_tolerance"](spark, sf_dir).collect()
    }
    back = {
        r["purchase_id"]: r
        for r in registry.queries()["j7_asof_join"](spark, sf_dir).collect()
    }
    assert set(tol) == set(back)
    for pid, r in tol.items():
        b_ts = back[pid]["last_click_ts"]
        if r["click_ts"] is not None:
            # A surviving match is the backward match, within the hour.
            assert r["click_ts"] == b_ts
            assert (r["ts"] - r["click_ts"]).total_seconds() <= 3600
        elif b_ts is not None:
            # Nulled only because the backward match was stale.
            assert (r["ts"] - b_ts).total_seconds() > 3600


def test_hll_overlap_estimate(spark, sf_dir):
    out = registry.queries()["d66_hll_overlap"](spark, sf_dir).collect()[0]
    assert out["estimate_within_tolerance"]
    assert 0 < out["overlap_exact"] <= min(out["n_train_exact"], out["n_bench_exact"])


def test_epoch_shuffle_properties(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_table

    out = registry.queries()["d67_epoch_shuffle_shards"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    by_epoch: dict[int, list] = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    for epoch, rows in by_epoch.items():
        assert len(rows) == 8  # every shard populated
        assert sum(r["n_docs"] for r in rows) == n_docs  # complete partition
        sizes = [r["n_docs"] for r in rows]
        assert max(sizes) - min(sizes) <= 1  # balanced shards
    # Different epochs must yield different permutations: the order
    # checksums cannot all coincide.
    cks0 = sorted(r["order_checksum"] for r in by_epoch[0])
    cks1 = sorted(r["order_checksum"] for r in by_epoch[1])
    assert cks0 != cks1


def test_rrf_fusion_properties(spark, sf_dir):
    out = registry.queries()["d68_rrf_hybrid_search"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) <= 5
        scores = sorted((r["rrf"] for r in rows), reverse=True)
        assert scores == [r for r in scores]  # already sorted desc set
        for r in rows:
            # At least one arm ranked the candidate; fused score is the
            # sum of present reciprocal terms.
            assert r["lex_rank"] is not None or r["vec_rank"] is not None
            expected = 0.0
            if r["lex_rank"] is not None:
                expected += 1.0 / (60 + r["lex_rank"])
            if r["vec_rank"] is not None:
                expected += 1.0 / (60 + r["vec_rank"])
            assert abs(r["rrf"] - round(expected, 6)) < 1e-9


def test_bm25_scores_positive_and_self_excluded(spark, sf_dir):
    out = registry.queries()["d69_bm25_ranking"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["doc_id"] != r["query_id"]
        assert r["bm25"] > 0  # +1-inside-log idf keeps scores positive
        assert 1 <= r["rk"] <= 5


def test_streaming_approx_distinct_verdicts(spark, sf_dir):
    out = registry.queries()["t22_streaming_approx_distinct"](spark, sf_dir).collect()
    assert out
    assert all(r["approx_within_3rsd"] for r in out)


def test_collation_merges_case_variants(spark, sf_dir):
    out = registry.queries()["f18_collation"](spark, sf_dir).collect()
    assert all(r["collation_merges_case"] for r in out)
    assert all(r["segment"] == r["segment"].lower() for r in out)
    assert all(r["n_case_variants"] == 2 for r in out)


def test_lsh_parameter_plan_scurve(spark, sf_dir):
    out = registry.queries()["d70_lsh_parameter_plan"](spark, sf_dir).collect()
    assert len(out) == 6
    for r in out:
        # S-curve sanity: monotone in s, threshold inside (0, 1).
        assert 0 < r["s_threshold"] < 1
        assert r["p_at_50"] <= r["p_at_80"] <= r["p_at_90"] <= 1.0
    # At least one config in the grid satisfies the planning SLO.
    assert any(r["meets_slo"] for r in out)


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    out = registry.queries()["d71_neyman_allocation"](spark, sf_dir).collect()
    assert abs(sum(r["neyman_alloc"] for r in out) - 100.0) < 0.01
    for r in out:
        assert r["neyman_alloc"] > 0


def test_psi_is_finite_and_small_for_random_halves(spark, sf_dir):
    out = registry.queries()["d72_psi_drift"](spark, sf_dir).collect()[0]
    # Even/odd doc_id halves share one distribution: PSI must be modest
    # (sampling noise only; the 0.1 textbook threshold may flip at tiny
    # corpus sizes, so bound it loosely here and exactly via the oracle).
    assert 0.0 <= out["psi"] < 0.5


def test_ks_statistic_bounds(spark, sf_dir):
    out = registry.queries()["d73_ks_test"](spark, sf_dir).collect()[0]
    assert 0.0 <= out["ks_stat"] <= 1.0
    assert out["ks_crit_05"] > 0
    assert out["same_distribution"] == (out["ks_stat"] < out["ks_crit_05"])


def test_chi2_top_tokens(spark, sf_dir):
    out = registry.queries()["d74_chi2_dependence"](spark, sf_dir).collect()
    assert len(out) == 10
    chis = [r["chi2"] for r in out]
    assert chis == sorted(chis, reverse=True)
    assert all(c >= 0 for c in chis)


def test_gini_bounds(spark, sf_dir):
    out = registry.queries()["d75_gini_concentration"](spark, sf_dir).collect()[0]
    assert 0.0 <= out["gini_tokens"] <= 1.0
    assert out["vocab_size"] > 0


def test_dynamic_overwrite_touches_only_en(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_table

    out = {
        r["lang"]: r
        for r in registry.queries()["s10_dynamic_partition_overwrite"](spark, sf_dir).collect()
    }
    orig = {
        r["lang"]: r
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("tc"))
        .collect()
    }
    for lang, r in out.items():
        assert r["n_docs"] == orig[lang]["n"]
        if lang == "en":
            assert r["total_chars"] == orig[lang]["tc"] + 1000 * orig[lang]["n"]
        else:
            assert r["total_chars"] == orig[lang]["tc"]


def test_zipf_fit_sane(spark, sf_dir):
    out = registry.queries()["d76_zipf_fit"](spark, sf_dir).collect()[0]
    assert out["zipf_slope"] < 0  # frequency decreases with rank
    assert 0.0 <= out["r2"] <= 1.0
    assert out["vocab_size"] > 0


def test_containment_dominates_jaccard(spark, sf_dir):
    out = registry.queries()["d77_containment_pairs"](spark, sf_dir).collect()
    assert out
    for r in out:
        # containment >= jaccard always (min(|A|,|B|) <= |A u B|).
        assert r["containment"] >= r["jaccard"]
        assert r["asymmetry"] >= 1.0
        assert 0 < r["containment"] <= 1.0


def test_kmv_estimate_close(spark, sf_dir):
    out = registry.queries()["d78_kmv_cardinality"](spark, sf_dir).collect()[0]
    assert out["within_tolerance"]
    assert out["kmv_estimate"] > 0


def test_analyze_stats_recorded(spark, sf_dir):
    out = registry.queries()["o8_analyze_table_stats"](spark, sf_dir).collect()[0]
    assert out["stats_match_actual"]


def test_good_turing_smoothing(spark, sf_dir):
    out = registry.queries()["d79_good_turing"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["r_star"] > 0
        assert 0.0 <= r["p0_unseen"] < 1.0


def test_pipe_syntax_matches_classic(spark, sf_dir):
    from lime_on_spark_spark.sources.catalog import load_tables

    load_tables(spark, sf_dir, ("lineitem",))
    piped = sorted(
        map(tuple, registry.queries()["p15_sql_pipe_syntax"](spark, sf_dir).collect())
    )
    classic = sorted(
        map(tuple, spark.sql(registry.oracle_sql()["p15_sql_pipe_syntax"]).collect())
    )
    assert piped == classic


def test_jl_projection_preserves_distances(spark, sf_dir):
    out = registry.queries()["d80_jl_projection"](spark, sf_dir).collect()
    assert len(out) == 19  # consecutive pairs in the 20-vector block
    assert all(r["jl_ok"] for r in out)
    assert all(r["dist_ratio"] > 0 for r in out)


def test_regression_aggs_consistent(spark, sf_dir):
    out = registry.queries()["a23_regression_aggs"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n"] > 0
        assert 0.0 <= r["r2"] <= 1.0
        # intercept + slope * avgx == avgy (OLS passes through the means).
        assert abs(r["intercept"] + r["slope"] * r["avg_qty"] - r["avg_price"]) < 1.0


def test_pmi_ansi_safe_on_tiny_docs(spark, tmp_path):
    """d59's window-pair filter must bound-check the INDEX, not the value:
    under ANSI mode (pyspark 4.x default) `w[i + 1]` on a 1-token doc throws
    INVALID_ARRAY_INDEX instead of returning NULL. A corpus of 1- and
    2-token docs must run clean and fabricate no (w, w) self-pairs."""
    from lime_on_spark_spark.plans.datasel import d59_pmi_cooccurrence

    docs = spark.createDataFrame(
        [(1, "solo", "en", "web", 4), (2, "two words", "en", "web", 9)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = d59_pmi_cooccurrence(spark, str(tmp_path)).collect()
    # c_pair >= 20 cutoff drops the single genuine pair; the point is that
    # the 1-token doc neither crashes the job nor emits a self-pair.
    assert rows == []


def test_quality_classifier_deterministic_and_separating(spark, sf_dir):
    """d83's fitted filter is deterministic (LBFGS on a fixed weak-label
    set: two fits -> the identical kept set) and actually separates its
    weak labels (per-source keep rates exist and are probabilities)."""
    from lime_on_spark_spark import session
    from lime_on_spark_spark.lime.models import score_quality, train_quality_model

    def kept_set():
        model, lo, hi = train_quality_model(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents")
        sc = score_quality(model, docs).filter(F.col("p_keep") >= 0.5)
        return {r["doc_id"] for r in sc.select("doc_id").collect()}, lo, hi

    first, lo, hi = kept_set()
    # Drop the cache so the second call genuinely refits.
    session._MEMO.pop(("model", sf_dir, "quality"))
    second, lo2, hi2 = kept_set()
    assert (lo, hi) == (lo2, hi2)
    assert first == second
    assert 0 < len(first)

    # The filter must agree with its weak labels at the extremes: every
    # bottom-quartile-TTR doc dropped, every top-quartile doc kept
    # (train acc 1.0 measured at all SFs — this pins it in the suite).
    model, _, _ = train_quality_model(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = F.size(F.array_distinct(toks)) / F.size(toks)
    sc = score_quality(model, docs.withColumn("q", q))
    bad = sc.filter(
        ((F.col("q") >= hi) & (F.col("p_keep") < 0.5))
        | ((F.col("q") <= lo) & (F.col("p_keep") >= 0.5))
    ).count()
    assert bad == 0


def test_ordered_prefix_sum_matches_global_window(spark):
    """The two-pass distributed scan must equal the single-task global
    window exactly — including near partition boundaries, with empty range
    partitions (num_partitions > distinct keys), and for bigint sums."""
    import random

    from pyspark.sql import Window

    from lime_on_spark_spark.operators.prefix_sum import ordered_prefix_sum

    rng = random.Random(7)
    rows = [(rng.randrange(10_000), rng.randrange(100)) for _ in range(5_000)]
    df = (
        spark.createDataFrame(rows, "k bigint, x bigint")
        .groupBy("k")
        .agg(F.sum("x").alias("x"), F.count(F.lit(1)).alias("c"))
    )
    got = ordered_prefix_sum(df, "k", ["x", "c"], num_partitions=16)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "k", F.sum("x").over(w).alias("tx"), F.sum("c").over(w).alias("tc")
    )
    j = got.select("k", "cum_x", "cum_c").join(want, "k")
    assert (
        j.filter(
            (F.col("cum_x") != F.col("tx")) | (F.col("cum_c") != F.col("tc"))
        ).count()
        == 0
    )
    # Degenerate partitioning: more partitions than keys.
    tiny = spark.createDataFrame([(1, 5), (2, 7), (3, 9)], "k bigint, x bigint")
    out = {
        r["k"]: r["cum_x"]
        for r in ordered_prefix_sum(tiny, "k", ["x"], num_partitions=16).collect()
    }
    assert out == {1: 5, 2: 12, 3: 21}
    # Double-typed sums: the offset seed must be the aggregate type's own
    # zero (an int 0 crashed createDataFrame for DoubleType).
    dbl = spark.createDataFrame(
        [(1, 0.5), (2, 1.25), (3, 2.0)], "k bigint, x double"
    )
    outd = {
        r["k"]: r["cum_x"]
        for r in ordered_prefix_sum(dbl, "k", ["x"], num_partitions=4).collect()
    }
    assert outd == {1: 0.5, 2: 1.75, 3: 3.75}


def test_langid_classifier_deterministic_and_fixture_exact(spark, sf_dir):
    """d88's langid model is deterministic (two independent fits -> the
    identical per-doc holdout predictions) and perfectly separates the
    planted fixture languages (measured acc 1.0 — the suite pins every
    holdout doc correct, well inside the query's 0.9/0.8 verdict bars).
    Fixture generation itself is md5-keyed: two builds are row-identical."""
    from lime_on_spark_spark import session
    from lime_on_spark_spark.lime.models import (
        langid_fixtures,
        score_langid,
        train_langid_model,
    )

    fx1 = {(r["i"], r["lang"], r["text"], r["is_holdout"])
           for r in langid_fixtures(spark).collect()}
    fx2 = {(r["i"], r["lang"], r["text"], r["is_holdout"])
           for r in langid_fixtures(spark).collect()}
    assert fx1 == fx2 and len(fx1) == 600

    def holdout_preds():
        model = train_langid_model(spark, sf_dir)
        hold = score_langid(
            model, langid_fixtures(spark).filter(F.col("is_holdout"))
        )
        return {r["i"]: (r["lang"], r["pred_lang"]) for r in hold.collect()}

    first = holdout_preds()
    session._MEMO.pop(("model", sf_dir, "langid"))
    second = holdout_preds()
    assert first == second
    # Perfect per-doc separation on the distinctive-vocabulary fixtures.
    assert all(lang == pred for lang, pred in first.values())
    assert len(first) > 0


# ---------------------------------------------------------------- d106/d107


def test_badwords_hits_whole_token_exact(spark):
    from lime_on_spark_spark.operators.c4_clean import badwords_hits

    df = spark.createDataFrame(
        [
            (1, "slow dup slow clean"),   # 3 hits (occurrences, not terms)
            (2, "slowly duplicate"),      # substring must NOT match
            (3, "clean text only"),       # survivor
        ],
        "id int, text string",
    )
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id", badwords_hits("text", ("dup", "slow")).alias("h")
        ).collect()
    }
    assert got == {1: 3, 2: 0, 3: 0}


def test_c4_sep_is_literal_not_regex(spark):
    """r16 (ADVICE): a regex-meaningful separator ('.', '|') must split
    literally — F.split takes a Java regex, but the documented DuckDB
    twin (string_split) is literal, so the operator quotes the sep."""
    from lime_on_spark_spark.operators.c4_clean import (
        badwords_hits,
        chunk_lines,
    )

    df = spark.createDataFrame(
        [(1, "slow.dup.clean"), (2, "a|dup|b")], "id int, text string"
    )
    got = {
        r["id"]: r["h"]
        for r in df.select(
            "id",
            badwords_hits("text", ("dup",), sep=".").alias("h"),
        ).collect()
    }
    # id 1 splits on literal '.' -> 1 hit; id 2 has no '.' -> whole text
    # is one token, no whole-token match.
    assert got == {1: 1, 2: 0}
    got2 = {
        r["id"]: r["h"]
        for r in df.select(
            "id", badwords_hits("text", ("dup",), sep="|").alias("h")
        ).collect()
    }
    assert got2 == {1: 0, 2: 1}
    lines = chunk_lines(df, "text", width=2, sep=".").collect()
    by_id = {}
    for r in lines:
        by_id.setdefault(r["id"], []).append((r["line_idx"], r["line"]))
    assert sorted(by_id[1]) == [(0, "slow dup"), (1, "clean")]
    assert sorted(by_id[2]) == [(0, "a|dup|b")]


def test_chunk_lines_reconstructs_text(spark, sf_dir):
    from lime_on_spark_spark.operators.c4_clean import chunk_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    lines = chunk_lines(docs, "text", width=10)
    # Joining every doc's lines back in line_idx order must reproduce the
    # original text exactly (no token lost, duplicated, or reordered).
    rebuilt = (
        lines.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_idx", "line"))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("re_text"),
            F.sum("n_words").alias("n_toks"),
        )
        .join(docs, "doc_id")
    )
    bad = rebuilt.filter(
        (F.col("re_text") != F.col("text"))
        | (F.col("n_toks") != F.size(F.split("text", " ")))
    ).count()
    assert bad == 0
    # Only the final chunk of a doc may be short.
    short_nonfinal = (
        lines.join(
            lines.groupBy("doc_id").agg(F.max("line_idx").alias("mx")),
            "doc_id",
        )
        .filter((F.col("n_words") < 10) & (F.col("line_idx") != F.col("mx")))
        .count()
    )
    assert short_nonfinal == 0


def test_dedup_lines_keep_first_semantics(spark):
    from lime_on_spark_spark.operators.c4_clean import dedup_lines_keep_first

    df = spark.createDataFrame(
        [
            (1, 0, "srcA", "x y z"),
            (2, 0, "srcB", "x y z"),   # dup of (1,0) — loses (doc_id later)
            (1, 1, "srcA", "q r s"),
            (3, 0, "srcC", "q r s"),   # dup of (1,1) — loses
            (3, 1, "srcC", "unique"),
        ],
        "doc_id long, line_idx long, source string, line string",
    )
    kept = {
        (r["doc_id"], r["line_idx"], r["source"])
        for r in dedup_lines_keep_first(df).collect()
    }
    assert kept == {(1, 0, "srcA"), (1, 1, "srcA"), (3, 1, "srcC")}


def test_badwords_composes_into_funnel(spark, sf_dir):
    """The d106 blocklist stage slots into the d49 funnel: applied to the
    quality stage, flagged + survivors partition it exactly, and the
    composed funnel stays monotone."""
    from lime_on_spark_spark.operators.c4_clean import badwords_hits
    from lime_on_spark_spark.plans.textpipe import _curation_stages

    st = _curation_stages(spark, sf_dir)
    quality = st["quality"]
    hits = badwords_hits("text", ("dup", "zzz_blocked_term"))
    blocked = quality.withColumn("h", hits)
    n_q = quality.count()
    n_flagged = blocked.filter(F.col("h") > 0).count()
    n_surv = blocked.filter(F.col("h") == 0).count()
    assert n_flagged + n_surv == n_q
    assert 0 < n_surv <= n_q
    # Composed stage is monotone w.r.t. the next funnel stage too: exact
    # dedup over the blocklist survivors can only shrink them.
    n_exact = (
        blocked.filter(F.col("h") == 0)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .count()
    )
    assert n_exact <= n_surv


def test_d107_stage_counts_monotone(spark, sf_dir):
    rows = registry.queries()["d107_c4_line_cleaning"](spark, sf_dir).collect()
    assert rows, "per-source profile must be non-empty"
    tot = {
        k: sum(r[k] for r in rows)
        for k in ("lines_in", "lines_minwords", "lines_terminal",
                  "lines_dedup", "docs_in", "docs_surviving")
    }
    assert (
        tot["lines_in"] >= tot["lines_minwords"] >= tot["lines_terminal"]
        >= tot["lines_dedup"] > 0
    )
    assert tot["docs_surviving"] <= tot["docs_in"]
