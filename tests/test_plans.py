"""Physical-plan regression tests: pin the scale-critical plan shapes.

Correctness is the oracle mirror's job; these tests pin HOW the engine
executes — the properties that decide whether a query survives a 100x
scale-up. A refactor that silently turns a broadcast dim chain into a
shuffle, or a windowed top-k into a global sort, passes every oracle check
but dies on a cluster; these assertions catch that class of regression.
"""

from __future__ import annotations

import re

from lime_on_spark_spark.plans import registry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _q(spark, sf_dir, name):
    return registry.queries()[name](spark, sf_dir)


def test_q5_dim_chain_broadcasts(spark, sf_dir):
    """q5's nation/region dims are geography-bounded: they must come in as
    broadcast joins, never a shuffle on the fact side's full width."""
    plan = _plan(_q(spark, sf_dir, "q5_region_revenue"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q3_has_no_forced_broadcast_on_unbounded_side(spark, sf_dir):
    """customer is unbounded at scale: the logical plan must carry NO forced
    broadcast hint on it (AQE may still convert at runtime — that's fine and
    not asserted either way)."""
    df = _q(spark, sf_dir, "q3_shipping_priority")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "hint" not in analyzed.lower(), analyzed


def test_w1_rank_filter_uses_window_group_limit(spark, sf_dir):
    """The rank<=k filter must push into the window operator
    (WindowGroupLimit) so each group stops after k rows instead of fully
    materializing and post-filtering."""
    plan = _plan(_q(spark, sf_dir, "w1_order_rank_per_customer"))
    assert "WindowGroupLimit" in plan, plan


def test_d3_knn_uses_take_ordered_not_global_sort(spark, sf_dir):
    """Brute-force kNN must end in TakeOrderedAndProject (per-partition
    top-k + merge), never a full global Sort of all similarities."""
    plan = _plan(_q(spark, sf_dir, "d3_knn_cosine_topk"))
    assert "TakeOrderedAndProject" in plan, plan


def test_d1_dedup_shuffles_digest_not_body(spark, sf_dir):
    """Exact dedup groups on sha2(text) — the shuffle must carry the 32-byte
    digest, not the document body."""
    plan = _formatted(_q(spark, sf_dir, "d1_dedup_keep_first"))
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    # the text column must never be an exchange partitioning key — the
    # digest lands in a _groupingexpression alias
    for key in keys:
        assert "text#" not in key, plan


def test_q1_scan_prunes_columns(spark, sf_dir):
    """q1 touches 7 of lineitem's 11 columns; the parquet scan's ReadSchema
    must not include the untouched ones (column pruning reached the scan)."""
    plan = _formatted(_q(spark, sf_dir, "q1_pricing_summary"))
    m = re.search(r"ReadSchema: struct<([^>\n]*)", plan)
    assert m is not None, plan
    read_cols = m.group(1)
    assert "l_partkey" not in read_cols and "l_suppkey" not in read_cols, read_cols


def test_q6_filters_push_to_scan(spark, sf_dir):
    """q6's date/discount/quantity predicates are sargable: they must appear
    in PushedFilters on the lineitem scan."""
    plan = _formatted(_q(spark, sf_dir, "q6_forecast_revenue"))
    m = re.search(r"PushedFilters: \[([^\]\n]*)", plan)
    assert m is not None and m.group(1).strip(), plan
    assert "l_shipdate" in m.group(1), plan


def test_no_cartesian_product_on_unbounded_sides(spark, sf_dir):
    """Every registered relational query must avoid CartesianProduct nodes —
    the only sanctioned cross joins are single-row scalar-subquery
    broadcasts (BroadcastNestedLoopJoin with a 1-row side)."""
    for name in (
        "q2_min_cost_supplier",
        "q11_important_stock",
        "q15_top_supplier",
        "q22_dormant_customers",
    ):
        plan = _plan(_q(spark, sf_dir, name))
        assert "CartesianProduct" not in plan, (name, plan)


def test_aqe_converts_small_filtered_side_to_broadcast(spark, sf_dir):
    """q3 carries NO forced broadcast hint on customer (unbounded at scale);
    the claim is that AQE converts it at RUNTIME when the filtered side is
    actually small. Execute the query, then check the final adaptive plan
    did use a broadcast join — the runtime half of the q3 design argument."""
    df = _q(spark, sf_dir, "q3_shipping_priority")
    df.collect()  # finalize THIS QueryExecution's adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "BroadcastHashJoin" in final, final


def test_d15_decontaminate_semi_joins_on_shingle(spark, sf_dir):
    """Decontamination must probe the benchmark set with a LEFT SEMI join
    keyed on the shingle — a full inner join would duplicate train docs per
    matching shingle and explode the row count at scale."""
    plan = _plan(_q(spark, sf_dir, "d15_decontaminate"))
    assert "LeftSemi" in plan, plan


def test_w8_ewma_partitions_by_segment(spark, sf_dir):
    """The EWMA window must be partitioned (by segment) — an unpartitioned
    running frame is a single-task sort at scale."""
    plan = _plan(_q(spark, sf_dir, "w8_ewma_daily_revenue"))
    assert re.search(r"hashpartitioning\(segment", plan), plan


def test_t9_funnel_no_cartesian(spark, sf_dir):
    """The click->purchase sequence match must stay an equi-join on user_id
    with the time bounds as residuals — never a cartesian/nested-loop over
    unbounded sides."""
    plan = _plan(_q(spark, sf_dir, "t9_conversion_funnel"))
    assert "CartesianProduct" not in plan, plan


def test_d2_jaccard_joins_on_hashed_shingles(spark, sf_dir):
    """The near-dup candidate self-join must shuffle 8-byte hashed keys,
    not raw shingle strings (shuffle width is the whole cost at scale)."""
    plan = _plan(_q(spark, sf_dir, "d2_ngram_jaccard"))
    assert re.search(r"hashpartitioning\(h#", plan), plan


def test_d31_bloom_bit_set_broadcasts(spark, sf_dir):
    """The Bloom bit set (<= m rows) must reach the probe side as a
    broadcast join — the whole point of the prefilter is that the probe
    never shuffles against the build side."""
    plan = _plan(_q(spark, sf_dir, "d31_bloom_prefilter"))
    assert "BroadcastHashJoin" in plan, plan


def test_j10_scd2_is_equi_join_not_nested_loop(spark, sf_dir):
    """The SCD2 join must be an equi-join on custkey with the validity
    range as a residual filter — never a nested-loop over the fact side."""
    plan = _plan(_q(spark, sf_dir, "j10_scd2_join"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_d30_perplexity_no_cartesian(spark, sf_dir):
    """Perplexity scoring is keyed equi-joins (bigram, word) end-to-end."""
    plan = _plan(_q(spark, sf_dir, "d30_perplexity_score"))
    assert "CartesianProduct" not in plan, plan


def test_d33_survivor_window_partitions_by_component(spark, sf_dir):
    """The survivor rank must window ONLY over clustered docs, partitioned
    by component — no single-task whole-corpus window."""
    plan = _plan(_q(spark, sf_dir, "d33_canonical_corpus"))
    assert "No Partition Defined" not in plan
    assert "partitionBy" not in plan or True  # window spec not in physical str
    # The physical plan's Window node must carry a partition spec:
    m = [ln for ln in plan.splitlines() if "Window" in ln and "row_number" in ln]
    assert all("component" in ln for ln in m), m


def test_d35_vocab_broadcasts_to_token_join(spark, sf_dir):
    """The top-V vocab is tiny and must broadcast; the token stream must
    never shuffle against it."""
    plan = _plan(_q(spark, sf_dir, "d35_oov_rate"))
    assert "BroadcastHashJoin" in plan, plan


def test_a17_rollup_joins_day_spine_not_events(spark, sf_dir):
    """The rolling merge joins the per-day sketch spine with itself; the
    events scan must appear exactly twice (daily sketches + the exact
    verdict side), never once per window."""
    plan = _plan(_q(spark, sf_dir, "a17_sketch_rollup"))
    assert plan.count("Scan parquet") <= 4, plan


def test_a19_sums_are_decimal_internally_string_at_boundary(spark, sf_dir):
    """The r14 boundary contract: the SUMs are exact decimal arithmetic
    INTERNALLY (widened past 18 digits — the partition-invariance
    property a19 exists to pin), but the output columns are strings,
    because DuckDB's pandas client demotes DECIMAL(>18) to float64 and
    the driver hash type-tags Decimal vs float (the r13 driver-red)."""
    df = _q(spark, sf_dir, "a19_decimal_money")
    kinds = dict(df.dtypes)
    assert kinds["gross"] == "string", kinds
    assert kinds["net"] == "string", kinds
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # A decimal SUM wrapped in the string cast — not a double sum cast,
    # not a string sum: the exactness lives under the boundary.
    assert "cast(sum(cast(l_extendedprice" in analyzed, analyzed
    assert "decimal(18,2)" in analyzed, analyzed
    assert "as string)" in analyzed, analyzed
    # The string renders the full scale (digit-exact, no float round-trip).
    from pyspark.sql import functions as F

    row = df.filter(F.col("l_returnflag") == "N").first()
    assert "." in row["gross"] and len(row["gross"].split(".")[1]) == 2
    assert "." in row["net"] and len(row["net"].split(".")[1]) == 4


def test_w9_single_shuffle_for_both_window_passes(spark, sf_dir):
    """lag-flag and cumsum share the same (custkey, date) ordering; Spark
    must plan ONE exchange for the window stage, not two."""
    plan = _plan(_q(spark, sf_dir, "w9_reset_running_sum"))
    import re as _re

    n_exchanges = len(_re.findall(r"Exchange hashpartitioning\(o_custkey", plan))
    assert n_exchanges <= 1, plan


def test_d45_band_join_is_equi_join(spark, sf_dir):
    """Banded MinHash candidates must come from an equi-join on (band,
    bkey), never an all-pairs product — the property that makes LSH an
    LSH."""
    plan = _plan(_q(spark, sf_dir, "d45_minhash_banded_exact"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_d39_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """The Lloyd assignment is corpus x broadcast(k centroids): the tiny
    centroid side must broadcast; the corpus must never shuffle for it."""
    plan = _plan(_q(spark, sf_dir, "d39_kmeans_lloyd"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # The join's corpus side is the cached, pre-partitioned frame itself:
    # no exchange between its scan and the join.
    lines = plan.splitlines()
    join = next(i for i, line in enumerate(lines) if "BroadcastHashJoin" in line)
    scan = next(
        i for i in range(join, len(lines)) if "InMemoryTableScan" in lines[i]
    )
    assert not any("Exchange" in line for line in lines[join + 1 : scan]), plan


def test_d47_chunking_is_scan_stage(spark, sf_dir):
    """CDC chunking must happen in the scan stage: exactly one exchange
    (the groupBy(source) aggregate), no join, no window."""
    plan = _plan(_q(spark, sf_dir, "d47_cdc_chunk_dedup"))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_d48_reservoir_uses_window_group_limit(spark, sf_dir):
    """Per-lang top-10 must run under WindowGroupLimit pushdown (each
    partition stops at k) — not a global sort."""
    plan = _plan(_q(spark, sf_dir, "d48_weighted_reservoir"))
    assert "WindowGroupLimit" in plan, plan


def test_a20_rescan_semi_joins_candidates(spark, sf_dir):
    """The exact rescan must semi-join the MG candidate set (broadcast),
    not recount the full vocabulary."""
    plan = _plan(_q(spark, sf_dir, "a20_heavy_hitters"))
    assert "LeftSemi" in plan, plan


def test_d49_funnel_reuses_cached_stages(spark, sf_dir):
    """The funnel's union branches must read stage outputs from cache
    (InMemoryTableScan), not re-execute the upstream pipeline per count."""
    plan = _plan(_q(spark, sf_dir, "d49_curation_funnel"))
    assert "InMemoryTableScan" in plan, plan


def test_d51_sweep_has_no_cartesian(spark, sf_dir):
    """The pair generation must stay an inverted-index equi-join on the
    shingle key; the cumulative histogram join is broadcast over 10 rows."""
    plan = _plan(_q(spark, sf_dir, "d51_threshold_sweep"))
    assert "CartesianProduct" not in plan, plan


def test_p10_subqueries_decorrelate_to_semi_anti_joins(spark, sf_dir):
    """Catalyst must lower EXISTS/NOT EXISTS/IN to semi/anti joins — a
    per-row subquery re-execution (nested loop over the outer) would be
    O(n*m) and die at scale."""
    plan = _plan(_q(spark, sf_dir, "p10_correlated_subqueries"))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_d56_dsir_ratio_join_broadcasts(spark, sf_dir):
    """The B=1024-row bucket-ratio table must broadcast back onto the token
    stream — a shuffle join keyed on the bucket would move the whole token
    explosion twice. Top-k must not be a global sort of all docs."""
    plan = _plan(_q(spark, sf_dir, "d56_dsir_selection"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_d58_rate_table_broadcasts(spark, sf_dir):
    """Per-lang rates (|langs| rows) join the scan via broadcast; the doc
    side never shuffles on lang."""
    plan = _plan(_q(spark, sf_dir, "d58_temperature_mix"))
    assert "BroadcastHashJoin" in plan, plan


def test_p11_lateral_lowers_to_ranked_join_not_loop(spark, sf_dir):
    """Catalyst must rewrite LATERAL + per-row LIMIT into a join shape (its
    DomainJoin decorrelation), never a per-nation re-execution; the window
    group-limit shows up as a rank filter on the customer side."""
    plan = _plan(_q(spark, sf_dir, "p11_lateral_topk"))
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_j7_nearest_single_shuffle(spark, sf_dir):
    """Both directions come out of ONE user_id sort — exactly one exchange
    below the window operators, no join node at all."""
    plan = _plan(_q(spark, sf_dir, "j7_asof_nearest"))
    assert "Join" not in plan.replace("unionByName", ""), plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan


def test_d60_pair_counts_are_partial_aggregated(spark, sf_dir):
    """BPE pair counting must map-side combine (partial HashAggregate
    before the exchange) — the pair key space is tiny next to the exploded
    pair stream."""
    from pyspark.sql import functions as F
    from lime_on_spark_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("c"))
        .select("c", F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|")).alias("s"))
    )
    pairs = (
        wf.select("c", F.expr("filter(split(s, '\\\\|'), x -> x != '')").alias("syms"))
        .select("c", F.explode(F.expr(
            "transform(sequence(0, size(syms) - 2),"
            " i -> struct(syms[i] AS a, syms[i + 1] AS b))")).alias("p"))
        .groupBy("p.a", "p.b").agg(F.sum("c").alias("wc"))
    )
    plan = _plan(pairs)
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_p14_sql_udf_inlines_no_python(spark, sf_dir):
    """SQL UDFs must inline at analysis time — zero Python eval nodes,
    aggregation stays in whole-stage codegen."""
    plan = _plan(_q(spark, sf_dir, "p14_sql_udf"))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_python_sink_abort_leaves_no_visible_output(spark, tmp_path):
    """s12's two-phase commit contract: a planted task failure must drive
    the abort path — no _MANIFEST.json, no committed part files, and the
    temp spool directory cleaned — so a crashed job can never leak partial
    output to readers."""
    import os

    import pytest

    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    ).repartition(4)
    path = str(tmp_path / "sink")
    with pytest.raises(Exception, match="planted failure"):
        (
            df.write.format("json_manifest_sink")
            .option("path", path)
            .option("fail_on_value", "42")
            .mode("append")
            .save()
        )
    assert not os.path.exists(os.path.join(path, "_MANIFEST.json"))
    # Any committed data file counts as a leak — match on suffix, not a
    # name prefix, so this guard survives part-file naming changes.
    visible = (
        [
            f
            for f in os.listdir(path)
            if f.endswith(".json") and not f.startswith("_")
        ]
        if os.path.exists(path)
        else []
    )
    assert visible == []
    spools = (
        [f for f in os.listdir(path) if f.startswith("_temp")]
        if os.path.exists(path)
        else []
    )
    for d in spools:
        assert os.listdir(os.path.join(path, d)) == []


def test_python_sink_commit_is_exact(spark, tmp_path):
    """Happy path: every row written through the Python sink comes back
    through the manifest exactly once, per-file counts included."""
    import json
    import os

    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    df = spark.createDataFrame(
        [(i, float(i) / 3) for i in range(1000)], "k bigint, v double"
    ).repartition(5)
    path = str(tmp_path / "sink")
    df.write.format("json_manifest_sink").option("path", path).mode("append").save()
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 1000
    assert len(manifest["files"]) == 5
    files = [os.path.join(path, f["name"]) for f in manifest["files"]]
    back = spark.read.schema(df.schema).json(files)
    assert back.count() == 1000
    assert {r["k"] for r in back.collect()} == set(range(1000))


def test_j11_hint_selects_shuffled_hash_join(spark, sf_dir):
    """The SHUFFLE_HASH hint must land as ShuffledHashJoin, and swapping it
    for MERGE on the identical query must land as SortMergeJoin — proving
    the hint surface actually steers the physical strategy rather than
    being silently dropped."""
    from lime_on_spark_spark.sources.catalog import load_table

    plan = _plan(_q(spark, sf_dir, "j11_join_strategy_hints"))
    assert "ShuffledHashJoin" in plan, plan

    cust = load_table(spark, sf_dir, "customer").hint("merge")
    orders = load_table(spark, sf_dir, "orders")
    twin = cust.join(orders, cust.c_custkey == orders.o_custkey).groupBy(
        "c_mktsegment"
    ).count()
    assert "SortMergeJoin" in _plan(twin), _plan(twin)


def test_stream_sink_replayed_batch_commit_is_idempotent(tmp_path):
    """s15's exactly-once contract: after checkpoint recovery Spark replays
    the last un-committed batch with the SAME batchId — a second commit for
    a batchId already in the manifest must be a no-op (no double-counted
    rows, no failed rename), while a new batchId appends normally."""
    import json
    import os

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestCommitMessage,
        JsonManifestStreamWriter,
    )

    path = str(tmp_path / "sink")
    os.makedirs(os.path.join(path, "_temp"))
    w = JsonManifestStreamWriter({"path": path}, ["i"])

    def spool(name, rows):
        p = os.path.join(path, "_temp", name)
        with open(p, "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps({"i": r}) + "\n")
        return p

    m0 = JsonManifestCommitMessage(spool("a-0", [1, 2]), "part-00000.json", 2)
    w.commit([m0], batchId=0)
    # replay of batch 0 (recovery path): must be skipped entirely
    w.commit(
        [JsonManifestCommitMessage(spool("a-0r", [1, 2]), "part-00000.json", 2)],
        batchId=0,
    )
    m1 = JsonManifestCommitMessage(spool("b-0", [3]), "part-00000.json", 1)
    w.commit([m1], batchId=1)
    with open(os.path.join(path, "_STREAM_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert [b["batch_id"] for b in manifest["batches"]] == [0, 1]
    assert manifest["total_rows"] == 3
    committed = sorted(
        f for f in os.listdir(path) if f.startswith("batch-")
    )
    assert committed == ["batch-00000-part-00000.json", "batch-00001-part-00000.json"]


def test_python_sink_append_merges_manifest(spark, tmp_path):
    """Two append-mode jobs to the SAME path must both survive: the second
    commit merges the manifest (and job-unique file prefixes prevent part
    name collisions) instead of orphaning the first job's rows."""
    import json
    import os

    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "sink")
    for lo, hi in ((0, 100), (100, 250)):
        (
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, hi)], "k bigint, v double"
            )
            .repartition(2)
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode("append")
            .save()
        )
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 250
    assert len(manifest["files"]) == 4
    files = [os.path.join(path, f["name"]) for f in manifest["files"]]
    back = spark.read.schema("k bigint, v double").json(files)
    assert {r["k"] for r in back.collect()} == set(range(250))


def test_pushdown_reader_rejects_unfaithful_filters(spark):
    """pushFilters must accept only what read() faithfully executes: an
    out-of-range bucket value and a second bucket conjunct go back to
    Spark (correct empty result), and of several LessThan(i) bounds the
    MINIMUM governs generation."""
    from lime_on_spark_spark.sources.python_source import FilteredSeriesSource

    from pyspark.sql import functions as F

    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:
        prev = None
    spark.conf.set(conf_key, "true")
    try:
        try:
            spark.dataSource.register(FilteredSeriesSource)
        except Exception:
            pass
        load = lambda: (  # noqa: E731
            spark.read.format("synthetic_series_pushdown")
            .option("n", 200)
            .option("partitions", 2)
            .load()
        )
        # bucket value outside 0..7: reader must NOT claim it.
        assert load().filter(F.col("bucket") == 9).count() == 0
        # two LessThan conjuncts: the tighter bound must govern.
        rows = load().filter((F.col("i") < 150) & (F.col("i") < 20)).collect()
        assert sorted(r["i"] for r in rows) == list(range(20))
        # contradictory double equality: at most one claimed, Spark's
        # residual makes the result empty.
        assert (
            load()
            .filter((F.col("bucket") == 3) & (F.col("bucket") == 4))
            .count()
            == 0
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def test_python_sink_overwrite_supersedes_prior_job(spark, tmp_path):
    """Overwrite mode must leave the directory equivalent to 'only the new
    job ever ran': the fresh manifest lists only the new files and the
    prior job's committed part files are deleted (not orphaned as
    duplicates for directory-globbing readers)."""
    import json
    import os

    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "sink")
    for mode, lo, hi in (("append", 0, 100), ("overwrite", 500, 550)):
        (
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, hi)], "k bigint, v double"
            )
            .repartition(2)
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode(mode)
            .save()
        )
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 50
    on_disk = [
        f for f in os.listdir(path) if f.endswith(".json") and not f.startswith("_")
    ]
    assert sorted(on_disk) == sorted(f["name"] for f in manifest["files"])
    back = spark.read.schema("k bigint, v double").json(
        [os.path.join(path, f) for f in on_disk]
    )
    assert {r["k"] for r in back.collect()} == set(range(500, 550))


def test_manifest_skipping_never_opens_pruned_file(spark, tmp_path):
    """s16's zone-map contract: a file whose [min, max] zone excludes the
    pushed predicate is PRUNED AT PLANNING — never opened. Proven by
    planting unparseable bytes in the pruned file: the filtered scan still
    answers exactly, while a full scan (which must open it) fails."""
    import json
    import os

    import pytest

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    from pyspark.sql import functions as F

    src = spark.range(0, 800, 1, 4).select(
        F.col("id").alias("i"), (F.col("id") % 7).cast("double").alias("v")
    )
    path = str(tmp_path / "skip")
    src.write.format("json_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    assert len(manifest["files"]) == 4
    assert manifest["schema"] == ["i bigint", "v double"]
    # Zones are disjoint range slices; poison the top file [600, 800).
    top = next(f for f in manifest["files"] if f["stats"]["i"]["min"] == 600)
    assert top["stats"]["i"]["max"] == 799
    with open(os.path.join(path, top["name"]), "w", encoding="utf-8") as fh:
        fh.write("NOT JSON {{{\n")
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
        )
        rows = back.filter(F.col("i") < 300).collect()
        # Row-exact THROUGH the surviving files: [0,200) passes whole, the
        # accepted filter trims [200,400) to [200,300) inside read().
        assert sorted(r["i"] for r in rows) == list(range(300))
        assert all(r["n_files_read"] == 2 and r["n_files_total"] == 4 for r in rows)
        # The full scan must open the poisoned file — and fail loudly.
        with pytest.raises(Exception):
            (
                spark.read.format("json_manifest_source")
                .option("path", path)
                .load()
                .collect()
            )


def test_manifest_skipping_boolean_filter_not_claimed(spark, tmp_path):
    """The s14 bool-guard, replayed on s16: EqualTo(flag, True) must NOT be
    claimed by pushFilters (bool is an int subclass), so Spark's residual
    filter still produces the right rows."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    src = spark.range(0, 100, 1, 2).select(
        F.col("id").alias("i"), (F.col("id") % 2 == 0).alias("flag")
    )
    path = str(tmp_path / "boolskip")
    src.write.format("json_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
        )
        got = sorted(
            r["i"] for r in back.filter(F.col("flag") == True).collect()  # noqa: E712
        )
    assert got == list(range(0, 100, 2))


def test_f22_udtf_partitions_by_key_and_matches_applyinpandas(spark, sf_dir):
    """f22's TABLE(...) PARTITION BY must hash-exchange the input on the
    partition key before the Python UDTF (one instance sees one whole
    group), and the per-group summary must equal the applyInPandas twin."""
    from lime_on_spark_spark.sources.catalog import load_table

    df = _q(spark, sf_dir, "f22_table_arg_udtf")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(partition_by_0" in plan, plan
    assert "PythonUDTF" in plan, plan

    def summarize(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_chars": [int(pdf["n_chars"].sum())],
                "n_sources": [pdf["source"].nunique()],
                "longest_doc": [int(pdf["n_chars"].max())],
            }
        )

    twin = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .applyInPandas(
            summarize,
            "lang string, n_docs bigint, total_chars bigint,"
            " n_sources bigint, longest_doc bigint",
        )
    )
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in twin.collect()}
    assert got == want and len(got) == 5


def test_manifest_time_travel_and_retention(spark, tmp_path):
    """s17's snapshot contract: each commit writes an immutable
    _MANIFEST-v{N}.json; with retain_history an overwrite keeps prior
    files so old versions stay readable; without it, superseded files are
    deleted (the pre-s17 glob-reader behavior, unchanged)."""
    import json
    import os

    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass

    def write(path, lo, hi, mode, retain):
        (
            spark.range(lo, hi, 1, 2)
            .select(F.col("id").alias("i"), (F.col("id") % 9).cast("double").alias("v"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", retain)
            .mode(mode)
            .save()
        )

    # Retained history: overwrite keeps v1's files; both versions read back.
    p1 = str(tmp_path / "tt")
    write(p1, 0, 100, "append", "true")
    write(p1, 500, 560, "overwrite", "true")
    with open(os.path.join(p1, "_MANIFEST.json"), encoding="utf-8") as fh:
        assert json.load(fh)["version"] == 2
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        v1 = (
            spark.read.format("json_manifest_source")
            .option("path", p1).option("version", 1).load()
        )
        assert sorted(r["i"] for r in v1.collect()) == list(range(100))
        latest = (
            spark.read.format("json_manifest_source").option("path", p1).load()
        )
        assert sorted(r["i"] for r in latest.collect()) == list(range(500, 560))

    # No retention: overwrite deletes superseded data files (v1 dangling).
    p2 = str(tmp_path / "nott")
    write(p2, 0, 50, "append", "false")
    with open(os.path.join(p2, "_MANIFEST-v1.json"), encoding="utf-8") as fh:
        v1_files = [f["name"] for f in json.load(fh)["files"]]
    write(p2, 90, 95, "overwrite", "false")
    for name in v1_files:
        assert not os.path.exists(os.path.join(p2, name)), name


def test_manifest_vacuum_respects_append_lineage(spark, tmp_path):
    """vacuum(retain_versions=2) must keep every file a RETAINED snapshot
    references — and append-mode snapshots reference their ancestors'
    files (the merge in commit()), so after append/append/overwrite only
    the v1 manifest expires and ZERO data files are reclaimable."""
    import os

    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
        vacuum_manifest_path,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "vac")
    for lo, hi, mode in ((0, 40, "append"), (40, 80, "append"), (0, 10, "overwrite")):
        (
            spark.range(lo, hi, 1, 2)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode(mode)
            .save()
        )
    report = vacuum_manifest_path(path, retain_versions=2)
    # v2 (an append) references v1's files, so retaining v2 retains them.
    assert report == {
        "removed_files": 0,
        "removed_manifests": 1,
        "version_floor": 2,
    }
    assert _load_manifest(path, 2)["total_rows"] == 80
    assert not os.path.exists(os.path.join(path, "_MANIFEST-v1.json"))
    # A deeper vacuum reclaims what only expired snapshots referenced.
    report2 = vacuum_manifest_path(path, retain_versions=1)
    assert report2["removed_files"] == 4  # v1+v2's four part files
    assert _load_manifest(path)["total_rows"] == 10


def test_manifest_nan_column_declines_pushdown(spark, tmp_path):
    """NaN values diverge between Python comparisons (NaN matches nothing)
    and Spark SQL (NaN > any double; NaN = NaN). The writer flags NaN
    columns in the zone stats, the reader declines filters on them, and
    Spark's residual filter keeps its own semantics — NaN rows survive
    `v > 0.0` exactly as they would on a parquet scan."""
    import math

    from pyspark.sql import functions as F

    from lime_on_spark_spark.plans.sources_sinks import (
        _register_manifest_classes,
    )
    from lime_on_spark_spark.session import temp_conf

    _register_manifest_classes(spark)
    src = spark.range(0, 20, 1, 2).select(
        F.col("id").alias("i"),
        F.when(F.col("id") % 5 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    path = str(tmp_path / "nanskip")
    src.write.format("json_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
        )
        rows = back.filter(F.col("v") > 0.0).collect()
        # Spark NaN ordering: NaN > 0.0 is TRUE, so i in {0,5,10,15} stays
        # (v=NaN), plus every i>0 with v=i. Only i=0's... v=NaN too: kept.
        assert sorted(r["i"] for r in rows) == list(range(20))
        assert sum(1 for r in rows if math.isnan(r["v"])) == 4
        # A filter on the NaN-free column is still claimed and row-exact.
        rows_i = back.filter(F.col("i") >= 10).collect()
        assert sorted(r["i"] for r in rows_i) == list(range(10, 20))
        assert all(r["n_files_read"] == 1 for r in rows_i)  # zone-pruned


def test_manifest_vacuum_skips_tmp_crash_remnant(spark, tmp_path):
    """A driver crash between writing _MANIFEST-v{N}.json.tmp and its
    os.replace leaves the .tmp on disk; vacuum must skip it (not crash on
    int('N.json')) and still reclaim expired versions."""
    import os

    from pyspark.sql import functions as F

    from lime_on_spark_spark.plans.sources_sinks import (
        _register_manifest_classes,
    )
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        vacuum_manifest_path,
    )

    _register_manifest_classes(spark)
    path = str(tmp_path / "tmpvac")
    for lo, hi, mode in ((0, 20, "append"), (0, 4, "overwrite")):
        (
            spark.range(lo, hi, 1, 2)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode(mode)
            .save()
        )
    remnant = os.path.join(path, "_MANIFEST-v2.json.tmp")
    with open(remnant, "w", encoding="utf-8") as fh:
        fh.write("{")  # truncated write: exactly what a crash leaves
    report = vacuum_manifest_path(path, retain_versions=1)
    assert report["removed_manifests"] == 1  # v1 expired despite remnant
    assert os.path.exists(remnant)  # inert, untouched
    assert _load_manifest(path)["total_rows"] == 4


def test_manifest_delete_vectors_lifecycle(spark, tmp_path):
    """s19's DV contract end-to-end: DELETE never rewrites a data file
    (byte-identical), a second DELETE merges into a fresh sidecar while
    the old snapshot keeps its own, appends after a DELETE don't
    resurrect deleted rows in total_rows, and vacuum reclaims DVs exactly
    when their last referencing snapshot expires."""
    import hashlib
    import json
    import os

    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        delete_where_manifest_path,
        vacuum_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "dv")
    (
        spark.range(0, 100, 1, 2)
        .select(F.col("id").alias("i"))
        .write.format("json_manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )

    def data_bytes():
        return {
            n: hashlib.md5(open(os.path.join(path, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(path))
            if n.endswith(".json") and not n.startswith(("_", "dv-"))
        }

    before = data_bytes()
    r1 = delete_where_manifest_path(spark, path, [("i", "lt", 10)])
    assert r1["rows_deleted"] == 10
    # Zone pruning composed into the delete scan: [0,50)/[50,100) files,
    # i < 10 can only touch the first.
    assert r1["files_scanned"] == 1 and r1["files_total"] == 2
    assert data_bytes() == before  # merge-on-read: nothing rewritten

    # Second DELETE overlapping file 1 again: merged sidecar, new version.
    r2 = delete_where_manifest_path(spark, path, [("i", "ge", 5), ("i", "lt", 20)])
    assert r2["rows_deleted"] == 10  # 10..19 (0..9 already deleted)
    assert data_bytes() == before
    m = _load_manifest(path)
    assert m["total_rows"] == 80
    dvs = {f["name"]: f.get("dv") for f in m["files"]}
    assert sum(1 for v in dvs.values() if v) == 1
    # v2's sidecar still exists and is referenced by the v2 snapshot.
    v2 = _load_manifest(path, 2)
    old_dv = next(f["dv"] for f in v2["files"] if f.get("dv"))
    assert os.path.exists(os.path.join(path, old_dv))

    # Append after DELETE: total_rows counts live rows only.
    (
        spark.range(100, 110, 1, 1)
        .select(F.col("id").alias("i"))
        .write.format("json_manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )
    assert _load_manifest(path)["total_rows"] == 90
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        got = sorted(
            r["i"]
            for r in spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .collect()
        )
        # Time travel to v1 (pre-delete) still reads all 100 rows.
        v1_n = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .option("version", 1)
            .load()
            .count()
        )
    assert got == list(range(20, 110))
    assert v1_n == 100

    # Vacuum to the latest snapshot only: v2's superseded sidecar is
    # reclaimed with its snapshot; the live sidecar survives.
    report = vacuum_manifest_path(path, retain_versions=1)
    assert not os.path.exists(os.path.join(path, old_dv))
    live_dv = next(f["dv"] for f in _load_manifest(path)["files"] if f.get("dv"))
    assert os.path.exists(os.path.join(path, live_dv))
    assert report["removed_files"] == 1  # exactly the expired sidecar
    with open(os.path.join(path, live_dv), encoding="utf-8") as fh:
        assert json.load(fh)["positions"] == list(range(20))


def test_manifest_schema_evolution_guards_and_pruning(spark, tmp_path):
    """s20's reconcile contract: appends may only ADD columns — dropping
    or retyping a committed column is refused; and zone-map pruning on a
    pre-evolution column still skips files after the schema widens."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "evo")

    def write(df, mode="append"):
        df.write.format("json_manifest_sink").option("path", path).mode(
            mode
        ).save()

    base = spark.range(0, 40, 1, 2).select(
        F.col("id").alias("i"), (F.col("id") % 3).alias("v")
    )
    write(base)
    # Evolution: add w.
    write(
        spark.range(40, 60, 1, 1).select(
            F.col("id").alias("i"),
            (F.col("id") % 3).alias("v"),
            F.lit("tag").alias("w"),
        )
    )
    # Drop: v missing -> refused.
    with pytest.raises(Exception, match="drops committed column"):
        write(spark.range(60, 70, 1, 1).select(F.col("id").alias("i")))
    # Retype: v becomes string -> refused.
    with pytest.raises(Exception, match="retypes committed column"):
        write(
            spark.range(60, 70, 1, 1).select(
                F.col("i" "d").alias("i"), F.lit("x").alias("v")
            )
        )
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
        )
        # Old files NULL-fill w; new file carries it.
        assert back.filter(F.col("w").isNull()).count() == 40
        assert back.filter(F.col("w") == "tag").count() == 20
        # Zone pruning on the pre-evolution column i: the band [0, 20)
        # lives in one of the three files.
        pruned = (
            back.filter(F.col("i") < 20)
            .agg(F.min("n_files_read"), F.min("n_files_total"))
            .first()
        )
        assert pruned[0] == 1 and pruned[1] == 3


def test_manifest_merge_upsert_contracts_and_atomicity(spark, tmp_path):
    """s22's MERGE contract: schema mismatch / duplicate keys / NULL keys
    refuse loudly before any file is touched; a merge is ONE snapshot
    (version +1) that never rewrites existing data files; prior DVs (from
    an earlier DELETE) are merged, not clobbered; and a key updated twice
    resolves to the latest value."""
    import hashlib
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        delete_where_manifest_path,
        merge_into_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "merge")
    (
        spark.range(0, 100, 1, 2)
        .select(F.col("id").alias("i"), (F.col("id") % 7).alias("v"))
        .write.format("json_manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )

    def data_bytes():
        return {
            n: hashlib.md5(open(os.path.join(path, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(path))
            if n.endswith(".json")
            and not n.startswith(("_", "dv-", "merge-"))
        }

    # Contract guards fire before any mutation.
    with pytest.raises(Exception, match="schema mismatch"):
        merge_into_manifest_path(
            spark, path, spark.range(3).select(F.col("id").alias("i")), "i"
        )
    dup = spark.createDataFrame([(1, 1), (1, 2)], "i bigint, v bigint")
    with pytest.raises(Exception, match="unique"):
        merge_into_manifest_path(spark, path, dup, "i")
    nulls = spark.createDataFrame([(None, 1)], "i bigint, v bigint")
    with pytest.raises(Exception, match="unique"):
        merge_into_manifest_path(spark, path, nulls, "i")
    assert _load_manifest(path)["version"] == 1  # nothing published

    before = data_bytes()
    # DELETE first (prior DV), then MERGE overlapping it.
    delete_where_manifest_path(spark, path, [("i", "lt", 10)])
    upd = spark.createDataFrame(
        [(5, 100), (50, 200), (150, 300)], "i bigint, v bigint"
    )
    report = merge_into_manifest_path(spark, path, upd, "i")
    # i=5 was already deleted -> INSERT; i=50 live -> UPDATE; i=150 new.
    assert report["version"] == 3
    assert report["rows_updated"] == 1
    assert report["rows_inserted"] == 2
    assert report["files_scanned"] == 2  # keys hit both files' zones
    assert data_bytes() == before  # merge-on-read: originals untouched
    m = _load_manifest(path)
    assert m["version"] == 3
    # 100 seeded - 10 deleted - 1 updated old row + 3 merge rows = 92.
    assert m["total_rows"] == 92

    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
        )
        got = {r["i"]: r["v"] for r in back.collect()}
    assert got[5] == 100 and got[50] == 200 and got[150] == 300
    assert got[49] == 49 % 7 and 9 not in got and len(got) == 92

    # Second MERGE on the same key: latest value wins, old merge file
    # DV'd — and the matched scan ZONE-PRUNES the [0, 49] file whose
    # stats provably exclude key 50.
    r2 = merge_into_manifest_path(
        spark,
        path,
        spark.createDataFrame([(50, 999)], "i bigint, v bigint"),
        "i",
    )
    assert r2["files_scanned"] < 4  # 4 files on disk, [0,49] pruned
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        v50 = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .filter(F.col("i") == 50)
            .collect()
        )
    assert [r["v"] for r in v50] == [999]


def test_manifest_stream_source_append_only_guard(spark, tmp_path):
    """s23's contract: a restarted stream over a path whose files were
    REMOVED (overwrite/compaction) fails loudly with the append-only
    error instead of silently re-bootstrapping or skipping."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        ManifestStreamSource,
    )

    for cls in (JsonManifestSink, ManifestStreamSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def write(lo, hi, mode):
        (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode(mode)
            .save()
        )

    def run():
        q = (
            spark.readStream.format("json_manifest_stream_source")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    write(0, 10, "append")
    write(10, 30, "append")
    run()
    assert spark.read.parquet(out).count() == 30
    # Overwrite removes the committed files -> the next run must refuse.
    write(100, 105, "overwrite")
    with pytest.raises(Exception, match="append-only"):
        run()


def test_manifest_cdf_contracts(spark, tmp_path):
    """s24's change-data-feed contracts: bad version ranges raise, a
    compaction between the endpoints appears as delete+reinsert churn
    whose signed aggregate cancels exactly (the d97 IVM invariant), a
    resurrected DV position (a RESTORE republishing a pre-DELETE entry)
    feeds as an ordinary insert, and vacuumed history fails with
    FileNotFoundError rather than under-reporting."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        changes_between_manifest_path,
        delete_where_manifest_path,
        vacuum_manifest_path,
    )
    from lime_on_spark_spark.session import temp_conf

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "cdf")
    series = spark.range(0, 200, 1, 2).select(
        F.col("id").alias("i"), (F.col("id") % 7).cast("double").alias("v")
    )
    series.write.format("json_manifest_sink").option("path", path).mode(
        "append"
    ).save()  # v1

    with pytest.raises(ValueError, match="v_from < v_to"):
        changes_between_manifest_path(spark, path, 1, 1)
    with pytest.raises(ValueError, match="v_from < v_to"):
        changes_between_manifest_path(spark, path, -1, 1)

    # DELETE then COMPACT (overwrite rewrite with retained history): the
    # feed across the compaction is full churn — every pre-image deleted,
    # every live row re-inserted — and the signed totals cancel to the
    # post-delete live state.
    delete_where_manifest_path(spark, path, [("i", "lt", 50)])  # v2
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .select("i", "v")
        )
        (
            live.repartition(2)
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("overwrite")
            .save()
        )  # v3
    feed = changes_between_manifest_path(spark, path, 1, 3)
    net = feed.select(
        F.sum(
            F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        ).alias("dn"),
        F.sum(
            F.when(F.col("_change_type") == "insert", F.col("v")).otherwise(
                -F.col("v")
            )
        ).alias("dv"),
    ).first()
    assert net["dn"] == -50  # net change = the 50 deleted rows
    deletes = feed.filter(F.col("_change_type") == "delete")
    inserts = feed.filter(F.col("_change_type") == "insert")
    assert deletes.count() == 200  # all v1 rows (churn: rewritten files)
    assert inserts.count() == 150  # live rows re-inserted by the compact

    # Resurrected DV position -> loud lineage error. Forge a v4 whose DV
    # for a v3 file is a strict SUBSET of nothing (v3 has no DVs, so
    # instead forge the FROM side: hand-write a manifest pair).
    m3 = _load_manifest(path, 3)
    forged_from = json.loads(json.dumps(m3))
    target = forged_from["files"][0]["name"]
    dv_name = f"dv-v99-{target}"
    with open(os.path.join(path, dv_name), "w", encoding="utf-8") as fh:
        json.dump({"file": target, "positions": [0]}, fh)
    forged_from["files"][0]["dv"] = dv_name
    forged_from["version"] = 4
    with open(
        os.path.join(path, "_MANIFEST-v4.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(forged_from, fh)
    m5 = json.loads(json.dumps(m3))
    m5["version"] = 5
    with open(
        os.path.join(path, "_MANIFEST-v5.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(m5, fh)
    # A DV that SHRINKS between snapshots is a resurrection — impossible
    # under forward DML but legitimate after s29 RESTORE republished a
    # pre-DELETE entry; the feed emits exactly the resurrected positions
    # as ordinary inserts (applying the feed reproduces v5).
    res = changes_between_manifest_path(spark, path, 4, 5).collect()
    assert [r["_change_type"] for r in res] == ["insert"]
    assert len(res) == 1  # exactly the one forged DV position

    # Vacuumed history: the FROM snapshot is gone -> loud, never silent.
    for n in ("_MANIFEST-v4.json", "_MANIFEST-v5.json", dv_name):
        os.remove(os.path.join(path, n))
    vacuum_manifest_path(path, retain_versions=1)
    with pytest.raises(FileNotFoundError):
        changes_between_manifest_path(spark, path, 1, 3)

    # Non-additive schema change (an overwrite may legally retype): the
    # feed must refuse loudly — pre-images would otherwise be cast under
    # the wrong type (miscast value or a raw executor crash).
    rp = str(tmp_path / "retype")
    (
        spark.range(0, 10, 1, 1)
        .select(F.col("id").alias("i"), F.col("id").cast("double").alias("v"))
        .write.format("json_manifest_sink")
        .option("path", rp)
        .option("retain_history", "true")
        .mode("append")
        .save()
    )
    (
        spark.range(0, 10, 1, 1)
        .select(F.col("id").alias("i"), F.col("id").cast("string").alias("v"))
        .write.format("json_manifest_sink")
        .option("path", rp)
        .option("retain_history", "true")
        .mode("overwrite")
        .save()
    )
    with pytest.raises(ValueError, match="non-additive"):
        changes_between_manifest_path(spark, rp, 1, 2)


def test_manifest_occ_expected_version(spark, tmp_path):
    """s25's optimistic-concurrency contract: expected_version=0 admits
    the bootstrap commit, a stale base refuses BEFORE any file lands (no
    spool litter, winner's manifest untouched), and the retry at the
    refreshed version commits."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "occ")

    def append(lo, hi, expected):
        w = (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode("append")
        )
        if expected is not None:
            w = w.option("expected_version", str(expected))
        w.save()

    append(0, 10, 0)  # bootstrap: empty table is version 0
    assert _load_manifest(path)["version"] == 1
    append(10, 20, 1)  # v2
    listing_before = sorted(os.listdir(path))
    with pytest.raises(Exception, match="concurrent commit conflict"):
        append(20, 30, 1)  # stale base
    assert sorted(os.listdir(path)) == listing_before  # nothing landed
    assert _load_manifest(path)["version"] == 2
    append(20, 30, 2)  # retry against the current snapshot
    m = _load_manifest(path)
    assert m["version"] == 3 and m["total_rows"] == 30


def test_manifest_txn_idempotency(spark, tmp_path):
    """t26's transaction contract: a replayed (txn_app, txn_version) is a
    silent no-op at-or-below the recorded version, independent apps don't
    interfere, the txn table survives DELETE, and a lone txn option
    raises."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
        delete_where_manifest_path,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "txn")

    def append(lo, hi, app=None, ver=None):
        w = (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode("append")
        )
        if app is not None:
            w = w.option("txn_app", app)
        if ver is not None:
            w = w.option("txn_version", str(ver))
        return w.save()

    append(0, 10, "a", 0)
    append(0, 10, "a", 0)  # exact replay: no-op
    assert _load_manifest(path)["total_rows"] == 10
    append(10, 30, "a", 1)
    append(5, 8, "a", 0)  # stale replay below the recorded version: no-op
    assert _load_manifest(path)["total_rows"] == 30
    append(100, 110, "b", 0)  # independent app commits fine
    m = _load_manifest(path)
    assert m["total_rows"] == 40 and m["txns"] == {"a": 1, "b": 0}
    delete_where_manifest_path(spark, path, [("i", "lt", 5)])
    m = _load_manifest(path)
    assert m["txns"] == {"a": 1, "b": 0}  # txn table survives DML
    append(30, 40, "a", 1)  # still a no-op AFTER the delete snapshot
    assert _load_manifest(path)["total_rows"] == 35
    # An app's FIRST commit must land whatever its version number — a -1
    # "nothing recorded" sentinel would silently no-op a negative-versioned
    # bootstrap (data loss); only a RECORDED >= version is a replay.
    append(200, 205, "c", -3)
    m = _load_manifest(path)
    assert m["total_rows"] == 40 and m["txns"]["c"] == -3
    append(205, 210, "c", -3)  # now recorded: the replay no-ops
    assert _load_manifest(path)["total_rows"] == 40
    with pytest.raises(Exception, match="together"):
        append(0, 1, "a", None)


def test_manifest_occ_atomic_version_slot(spark, tmp_path):
    """The OCC gate is ATOMIC, not just read-check-publish: a concurrent
    winner that has published its versioned snapshot but NOT yet the
    latest pointer (the exact interleaving a read-check cannot see — the
    loser still reads the old version and passes expected_version) is
    caught by the exclusive create of the version slot, and the loser's
    data files are un-published. Delta's putIfAbsent pattern."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        ManifestConflictError,
        _load_manifest,
        _publish_manifest,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "occ_atomic")

    def append(lo, hi, expected):
        (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("expected_version", str(expected))
            .mode("append")
            .save()
        )

    append(0, 10, 0)  # v1
    # Simulate the concurrent winner mid-publish: v2 snapshot exists,
    # latest pointer still at v1. The loser's read-check sees version 1,
    # matches expected_version=1, and would have overwritten v2 under
    # last-writer-wins; the exclusive create must refuse instead.
    winner = dict(_load_manifest(path))
    winner["version"] = 2
    with open(os.path.join(path, "_MANIFEST-v2.json"), "w") as fh:
        json.dump(winner, fh)
    listing_before = sorted(os.listdir(path))
    with pytest.raises(Exception, match="concurrent commit conflict"):
        append(10, 20, 1)
    # Winner's snapshot untouched, loser fully un-published (no data
    # files, no spool), latest pointer still the pre-race v1.
    assert sorted(os.listdir(path)) == listing_before
    assert json.load(open(os.path.join(path, "_MANIFEST-v2.json"))) == winner
    assert _load_manifest(path)["version"] == 1
    # _publish_manifest itself raises the typed conflict on a taken slot.
    with pytest.raises(ManifestConflictError):
        _publish_manifest(path, winner)


def test_manifest_txn_replay_wins_over_occ(spark, tmp_path):
    """A replayed (txn_app, txn_version) commit must NO-OP even when its
    expected_version is stale: the replay is stale by construction (its
    own first run moved the table), so evaluating the OCC gate first
    would raise a conflict on every foreachBatch retry that combines
    txn_* with expected_version — breaking exactly-once."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "txn_occ")

    def append(lo, hi, app, ver, expected):
        (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("txn_app", app)
            .option("txn_version", str(ver))
            .option("expected_version", str(expected))
            .mode("append")
            .save()
        )

    append(0, 10, "etl", 0, 0)  # v1: first run of batch 0
    assert _load_manifest(path)["version"] == 1
    append(10, 20, "etl", 1, 1)  # v2: batch 1
    # Retry of batch 0 after a checkpoint rollback: same options verbatim,
    # including the now-stale expected_version=0. Recorded txn wins —
    # silent no-op, never a conflict.
    append(0, 10, "etl", 0, 0)
    m = _load_manifest(path)
    assert m["version"] == 2 and m["total_rows"] == 20
    assert m["txns"] == {"etl": 1}


def test_manifest_bloom_soundness(spark, tmp_path):
    """s26's bloom soundness edges: a double column's bloom is PARTIAL
    (values not insertable) so the reader declines to prune with it; a
    table with one bloom-less file loses coverage entirely (prune only
    when EVERY file is provably complete); and a probe that bloom-hits a
    file is still row-filtered exactly."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass

    # PARTIAL: bloom requested on a double column -> every value skipped,
    # marked partial, reader must read ALL files (an int probe could
    # equal a double cell: 5 == 5.0).
    pd_path = str(tmp_path / "partial")
    (
        spark.range(0, 40, 1, 2)
        .select(F.col("id").alias("i"), F.col("id").cast("double").alias("x"))
        .write.format("json_manifest_sink")
        .option("path", pd_path)
        .option("bloom_columns", "x")
        .mode("append")
        .save()
    )
    m = _load_manifest(pd_path)
    assert all(f["bloom"]["x"]["partial"] for f in m["files"])
    # Reader-level: a PARTIAL bloom must never be accepted as a prune
    # source, whatever the probe class (through Spark SQL a literal
    # arrives cast to the column type, so this is the defense-in-depth
    # layer; zone maps may still prune the same probe legitimately).
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSourceReader,
    )

    rd = JsonManifestSourceReader({"path": pd_path})
    assert not rd._bloom_covered("x", 5)
    assert not rd._bloom_covered("x", "5")
    assert not rd._bloom_covered("x", 5.0)  # float probes never bloomable
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        got = (
            spark.read.format("json_manifest_source")
            .option("path", pd_path)
            .load()
            .filter(F.col("x") == 5.0)
            .collect()
        )
        # Zone maps (complete, sound) may prune; values must be exact.
        assert [r["i"] for r in got] == [5]

        # COVERAGE: one bloomed commit + one bloom-less append -> the
        # probe column is no longer provably complete in every file, so
        # pruning is declined (reads all 3 files) but rows stay exact.
        cv_path = str(tmp_path / "coverage")
        keyed = spark.range(0, 40, 1, 2).select(
            F.col("id").alias("i"), F.md5(F.col("id").cast("string")).alias("k")
        )
        (
            keyed.write.format("json_manifest_sink")
            .option("path", cv_path)
            .option("bloom_columns", "k")
            .mode("append")
            .save()
        )
        import hashlib

        probe = hashlib.md5(b"7").hexdigest()
        hit = (
            spark.read.format("json_manifest_source")
            .option("path", cv_path)
            .load()
            .filter(F.col("k") == probe)
            .collect()
        )
        assert [(r["i"], r["n_files_read"]) for r in hit] == [(7, 1)]
        (
            spark.range(40, 60, 1, 1)
            .select(
                F.col("id").alias("i"),
                F.md5(F.col("id").cast("string")).alias("k"),
            )
            .write.format("json_manifest_sink")
            .option("path", cv_path)
            .mode("append")
            .save()
        )
        hit2 = (
            spark.read.format("json_manifest_source")
            .option("path", cv_path)
            .load()
            .filter(F.col("k") == probe)
            .collect()
        )
        assert [(r["i"], r["n_files_read"]) for r in hit2] == [(7, 3)]


def test_manifest_cdf_stream_source_contracts(spark, tmp_path):
    """t27's source-level contracts, distinct from the s23 append-only
    source: a compaction between offsets streams as delete+reinsert
    churn (NOT an error), the schema carries _change_type, and a
    vacuumed checkpointed offset raises the loud retention error."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        ManifestCDFStreamSource,
        vacuum_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource, ManifestCDFStreamSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    src = str(tmp_path / "src")
    (
        spark.range(0, 100, 1, 2)
        .select(F.col("id").alias("i"), (F.col("id") % 5).cast("double").alias("v"))
        .write.format("json_manifest_sink")
        .option("path", src)
        .option("retain_history", "true")
        .mode("append")
        .save()
    )  # v1

    seen: list = []

    def collect_batch(df, bid):
        seen.append(
            {
                r["_change_type"]: r["n"]
                for r in df.groupBy("_change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        )

    def run(ck):
        q = (
            spark.readStream.format("json_manifest_cdf_stream_source")
            .option("path", src)
            .load()
            .writeStream.foreachBatch(collect_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    ck = str(tmp_path / "ck")
    run(ck)
    assert seen == [{"insert": 100}]
    # COMPACTION between offsets: an overwrite rewrite. The s23 source
    # refuses this; the CDF source streams it as cancelling churn.
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = (
            spark.read.format("json_manifest_source")
            .option("path", src)
            .load()
            .select("i", "v")
        )
        (
            live.repartition(1)
            .write.format("json_manifest_sink")
            .option("path", src)
            .option("retain_history", "true")
            .mode("overwrite")
            .save()
        )  # v2
    seen.clear()
    run(ck)
    assert seen == [{"delete": 100, "insert": 100}]

    # Vacuumed offset: a restart whose checkpointed version is gone must
    # fail loudly with the retention message, never under-report.
    (
        spark.range(100, 120, 1, 1)
        .select(F.col("id").alias("i"), (F.col("id") % 5).cast("double").alias("v"))
        .write.format("json_manifest_sink")
        .option("path", src)
        .option("retain_history", "true")
        .mode("append")
        .save()
    )  # v3
    vacuum_manifest_path(src, retain_versions=1)  # drops v1, v2
    seen.clear()
    with pytest.raises(Exception, match="vacuumed"):
        run(ck)


def test_manifest_cdf_reader_edges(spark, tmp_path):
    """s28 edge contracts: an empty version range yields zero rows (not an
    error), ending_version defaults to latest, and the reader needs no
    pushdown session conf (it declines pushdown entirely)."""
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "cdfr")
    for lo, hi in ((0, 30), (30, 50)):
        (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .mode("append")
            .save()
        )

    def read_changes(start, end=None):
        rd = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .option("read_changes", "true")
            .option("starting_version", start)
        )
        if end is not None:
            rd = rd.option("ending_version", end)
        return rd.load()

    # Note: NO temp_conf(filterPushdown) anywhere in this test.
    assert read_changes(2, 2).count() == 0  # empty range
    assert read_changes(1, 2).count() == 20  # exactly the second commit
    full = read_changes(0)  # ending defaults to latest
    assert full.count() == 50
    assert full.filter(F.col("_change_type") != "insert").count() == 0


def test_cdf_update_pairing_contracts(spark, tmp_path):
    """s27's update-pairing guards: a typo'd key raises even on an empty
    change range, and a window containing a compaction refuses pairing
    loudly (churn would read as phantom updates) while the plain feed
    still works across it."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        changes_between_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "pair")

    def write(lo, hi, mode):
        (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"), (F.col("id") % 3).cast("double").alias("v"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode(mode)
            .save()
        )

    write(0, 20, "append")  # v1
    write(20, 30, "append")  # v2
    with pytest.raises(ValueError, match="update_key not in schema"):
        # A zero-change range (v2 == v2 is invalid; use a no-op-ish narrow
        # range) must still validate the key: (1, 2] has only inserts but
        # the typo is caught before any scan regardless.
        changes_between_manifest_path(spark, path, 1, 2, update_key="nope")
    # Compaction between the endpoints: plain feed streams churn...
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .select("i", "v")
        )
        (
            live.repartition(1)
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("overwrite")
            .save()
        )  # v3
    plain = changes_between_manifest_path(spark, path, 1, 3)
    assert plain.count() == 20 + 30  # 20 churn deletes + 30 reinserts
    # ...but pairing refuses: every unchanged key would become an update.
    with pytest.raises(ValueError, match="undefined across a compaction"):
        changes_between_manifest_path(spark, path, 1, 3, update_key="i")


def test_manifest_restore_contract(spark, tmp_path):
    """s29's RESTORE edges beyond the registry row: invalid targets are
    refused with the valid range, restore publishes FORWARD (a second
    restore can undo the first), restore-to-current-content is a legal
    no-op-shaped commit, and the txn table rides along from the CURRENT
    snapshot (a replayed foreachBatch commit must still no-op after a
    restore)."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
        restore_manifest_path,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "restore")

    def append(lo, hi, app=None, ver=None):
        w = (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("append")
        )
        if app is not None:
            w = w.option("txn_app", app).option("txn_version", str(ver))
        w.save()

    append(0, 10, "etl", 0)   # v1
    append(10, 30, "etl", 1)  # v2
    with pytest.raises(ValueError, match="valid targets: 1..2"):
        restore_manifest_path(spark, path, to_version=5)
    with pytest.raises(ValueError, match="valid targets"):
        restore_manifest_path(spark, path, to_version=0)
    stats = restore_manifest_path(spark, path, to_version=1)  # -> v3
    assert stats == {
        "restored_from": 1,
        "new_version": 3,
        "files_restored": 1,
        "total_rows": 10,
    }
    m = _load_manifest(path)
    assert m["version"] == 3 and m["total_rows"] == 10
    # The txn table survived the restore: a replay of batch 1 must no-op
    # even though its rows are not in the restored content.
    append(10, 30, "etl", 1)
    assert _load_manifest(path)["total_rows"] == 10
    # Restore is itself restorable (roll the rollback forward again).
    stats2 = restore_manifest_path(spark, path, to_version=2)  # -> v4
    assert stats2["new_version"] == 4
    assert _load_manifest(path)["total_rows"] == 30
    # Restoring to the version we just republished is legal and content-
    # preserving (Delta allows a no-op-shaped restore commit).
    stats3 = restore_manifest_path(spark, path, to_version=4)
    assert stats3["new_version"] == 5
    assert _load_manifest(path)["total_rows"] == 30


def test_a27_digest_determinism_and_bounds():
    """The a27 digest helpers are deterministic and rank-accurate on a
    known array: equal-count chunking reproduces exact quantiles when
    K >= n, and the merged estimate lands within one chunk width on a
    uniform grid."""
    import pandas as pd

    from lime_on_spark_spark.plans.aggregates import (
        _a27_digest,
        _a27_merge_quantiles,
    )

    vals = list(range(100))  # uniform grid 0..99
    pdf = pd.DataFrame({"n_regionkey": [0] * 100, "c_acctbal": vals})
    d1 = _a27_digest(pdf)
    d2 = _a27_digest(pdf.sample(frac=1.0, random_state=7))  # order-invariant
    pd.testing.assert_frame_equal(
        d1.reset_index(drop=True), d2.reset_index(drop=True)
    )
    est = _a27_merge_quantiles(d1)
    assert abs(est["est_p50"].iloc[0] - 49.5) <= 100 / 16 + 1
    assert abs(est["est_p90"].iloc[0] - 89.5) <= 100 / 16 + 1


def test_manifest_shallow_clone_isolation(spark, tmp_path):
    """s31's clone edges beyond the registry row: cloning onto an
    existing table refuses, the clone does not inherit the source's txn
    table (clone resets stream identity — Delta semantics), vacuum on
    the CLONE removes symlinks while source bytes survive, and a
    source-side append after cloning is invisible to the clone (the
    clone is a snapshot fork, not a view)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_manifest,
        clone_manifest_path,
        vacuum_manifest_path,
    )

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")

    def append(path, lo, hi, txn=False):
        w = (
            spark.range(lo, hi, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("append")
        )
        if txn:
            w = w.option("txn_app", "etl").option("txn_version", "7")
        w.save()

    append(src, 0, 10, txn=True)
    stats = clone_manifest_path(spark, src, dst)
    assert stats == {"files_cloned": 1, "total_rows": 10, "src_version": 1}
    m = _load_manifest(dst)
    assert "txns" not in m  # clone resets txn identity
    # A txn the source already recorded must still APPLY on the clone.
    append(dst, 10, 20, txn=True)
    assert _load_manifest(dst)["total_rows"] == 20
    with pytest.raises(ValueError, match="already a table"):
        clone_manifest_path(spark, src, dst)
    # Source-side append after the clone: invisible to the clone.
    append(src, 100, 150)
    assert _load_manifest(src)["total_rows"] == 60
    assert _load_manifest(dst)["total_rows"] == 20
    # Vacuum the CLONE down to its latest snapshot: only clone-local
    # names (symlinks + its own files) are candidates; source data files
    # must survive with their bytes intact.
    src_files_before = sorted(os.listdir(src))
    vacuum_manifest_path(dst, retain_versions=1)
    assert sorted(os.listdir(src)) == src_files_before
    assert _load_manifest(src)["total_rows"] == 60


def test_manifest_check_constraints_validation(spark, tmp_path):
    """s32's option-parse edges: a typo'd column or unknown op fails at
    write setup (never silently un-enforced), and malformed entries are
    refused with the expected shape in the message."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    try:
        spark.dataSource.register(JsonManifestSink)
    except Exception:
        pass
    path = str(tmp_path / "check_opts")

    def write(checks):
        (
            spark.range(0, 5, 1, 1)
            .select(F.col("id").alias("i"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("check_constraints", json.dumps(checks))
            .mode("append")
            .save()
        )

    with pytest.raises(Exception, match="not in schema"):
        write([["nope", "ge", 0]])
    with pytest.raises(Exception, match="op must be one of"):
        write([["i", "between", 0]])
    with pytest.raises(Exception, match="col, op, value"):
        write([["i", "ge"]])
    write([["i", "ge", 0]])  # valid constraint commits


def test_manifest_rename_column_interactions(spark, tmp_path):
    """s33 edges beyond the registry row: MERGE keyed on a renamed
    column translates its scan and zone stats; the skipping reader
    zone-prunes on a renamed column across mixed file generations
    (files written before AND after the rename agree on physical keys);
    double rename composes (b->c after a->b keeps physical 'a'); RESTORE
    to the pre-rename snapshot restores the old logical name; and rename
    validation refuses unknown/duplicate names."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        merge_into_manifest_path,
        rename_column_manifest_path,
        restore_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "ren")

    def write(lo, hi, colname="v", parts=2):
        (
            spark.range(lo, hi, 1, parts)
            .select(
                F.col("id").alias("i"),
                (F.col("id") * 10).alias(colname),
            )
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("append")
            .save()
        )

    write(0, 1000)  # v1: (i, v), 2 files with disjoint i zones
    rename_column_manifest_path(spark, path, "v", "val")  # v2
    with pytest.raises(ValueError, match="not in schema"):
        rename_column_manifest_path(spark, path, "v", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column_manifest_path(spark, path, "i", "val")
    write(1000, 1500, colname="val", parts=1)  # v3: post-rename file

    # MERGE keyed on the RENAMED value column: scan + zone stats must
    # translate (key uniqueness holds: val = i * 10).
    updates = spark.range(0, 3, 1, 1).select(
        (F.col("id") + 500).alias("i"), (F.col("id") * 10).alias("val")
    )
    stats = merge_into_manifest_path(spark, path, updates, "val")
    # Update keys are val in (0, 10, 20) -> matched table rows i=0,1,2
    # (val = i*10), which get DV'd; the update rows (i=500/501/502 with
    # val 0/10/20) land as a new file.
    assert stats["rows_updated"] == 3

    def read(**opts):
        rd = spark.read.format("json_manifest_source").option("path", path)
        for k, v in opts.items():
            rd = rd.option(k, v)
        return rd.load()

    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        # Zone pruning on the renamed column across 3 file generations:
        # val >= 12000 lives only in the post-rename file.
        pruned = read().filter(F.col("val") >= 12000)
        rows = pruned.collect()
        assert {r["i"] for r in rows} == set(range(1200, 1500))
        assert all(r["n_files_read"] < r["n_files_total"] for r in rows)
        total = read().count()
    assert total == 1500  # 1000 + 500 + 3 updates - 3 DV'd

    # Double rename: physical key stays the ORIGINAL 'v'.
    r2 = rename_column_manifest_path(spark, path, "val", "measurement")
    assert r2["physical_name"] == "v"
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        s_all = read().agg(F.sum("measurement")).first()[0]
    # The merge removed vals (0, 10, 20) at i=0,1,2 and re-inserted the
    # same values at i=500/501/502 — the value sum is invariant.
    assert s_all == sum(i * 10 for i in range(1500))

    # RESTORE to v1 brings back the pre-rename LOGICAL name.
    restore_manifest_path(spark, path, to_version=1)
    m = _load_manifest(path)
    assert [d.split(" ", 1)[0] for d in m["schema"]] == ["i", "v"]
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        assert read().agg(F.sum("v")).first()[0] == sum(
            i * 10 for i in range(1000)
        )


def test_manifest_drop_column_interactions(spark, tmp_path):
    """s34 edges beyond the registry row: a drop is metadata-only (the
    data files are byte-identical across it); the tombstone forces a
    FRESH physical key on re-add (recorded in column_mapping, old rows
    read NULL); RENAME onto a dropped logical name is legal and resolves
    through the mapping (never the buried key); DELETE after the drop
    works; RESTORE to the pre-drop snapshot resurrects the column with
    its original values; and validation refuses unknown/last-column
    drops."""
    import hashlib
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        delete_where_manifest_path,
        drop_column_manifest_path,
        rename_column_manifest_path,
        restore_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "drop")

    def write(df):
        (
            df.write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("append")
            .save()
        )

    def read(**opts):
        rd = spark.read.format("json_manifest_source").option("path", path)
        for k, v in opts.items():
            rd = rd.option(k, v)
        return rd.load()

    write(
        spark.range(0, 1000, 1, 2).select(
            F.col("id").alias("i"),
            (F.col("id") * 10).alias("v"),
            (F.col("id") % 5).cast("double").alias("aux"),
        )
    )  # v1: (i, v, aux)
    v1_files = [f["name"] for f in _load_manifest(path)["files"]]
    digest_before = {
        n: hashlib.md5(
            open(os.path.join(path, n), "rb").read()
        ).hexdigest()
        for n in v1_files
    }

    with pytest.raises(ValueError, match="not in schema"):
        drop_column_manifest_path(spark, path, "nope")
    stats = drop_column_manifest_path(spark, path, "aux")  # v2
    assert stats == {"new_version": 2, "physical_name": "aux"}
    m = _load_manifest(path)
    assert m["dropped_physical"] == ["aux"]
    assert [d.split(" ", 1)[0] for d in m["schema"]] == ["i", "v"]

    # Re-add 'aux': fresh physical key, recorded in the mapping; the
    # 1000 buried values never surface (old files NULL-fill).
    write(
        spark.range(1000, 1100, 1, 1).select(
            F.col("id").alias("i"),
            (F.col("id") * 10).alias("v"),
            F.lit(7.0).alias("aux"),
        )
    )  # v3
    m = _load_manifest(path)
    phys = m["column_mapping"]["aux"]
    assert phys != "aux" and phys.startswith("aux#")
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        got = read().agg(
            F.count("aux").alias("n"),
            F.sum("aux").alias("s"),
            F.sum(
                (F.col("aux").isNotNull() & (F.col("i") < 1000)).cast("int")
            ).alias("resurrected"),
        ).first()
    assert (got["n"], got["s"], got["resurrected"]) == (100, 700.0, 0)
    # Filtering on the re-added column stays correct even though old
    # files carry no stats for the fresh key (pushdown must decline,
    # never mis-prune).
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        assert read().filter(F.col("aux") == 7.0).count() == 100

    # Metadata-only: every v1 data file is byte-identical after the
    # whole drop + re-add lifecycle.
    digest_after = {
        n: hashlib.md5(
            open(os.path.join(path, n), "rb").read()
        ).hexdigest()
        for n in v1_files
    }
    assert digest_after == digest_before

    # DELETE on a surviving column after the drop: DV path unaffected.
    d = delete_where_manifest_path(spark, path, [("i", "lt", 10)])
    assert d["rows_deleted"] == 10

    # RENAME onto the dropped logical name is legal: 'v' -> 'aux' keeps
    # physical 'v'; reads return v's values, never the buried aux key.
    r = rename_column_manifest_path(spark, path, "v", "aux2")
    assert r["physical_name"] == "v"
    rename_column_manifest_path(spark, path, "aux2", "v")  # back

    # Cannot drop down to an empty schema.
    drop_column_manifest_path(spark, path, "aux")
    drop_column_manifest_path(spark, path, "v")
    with pytest.raises(ValueError, match="only column"):
        drop_column_manifest_path(spark, path, "i")
    m = _load_manifest(path)
    # Tombstones accumulate: original 'aux', the re-added fresh key, 'v'.
    assert set(m["dropped_physical"]) == {"aux", phys, "v"}

    # RESTORE to v1: the pre-drop schema AND values come back.
    restore_manifest_path(spark, path, to_version=1)
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        s = read().agg(F.sum("aux")).first()[0]
    assert s == float(sum(i % 5 for i in range(1000)))


def test_manifest_generated_columns_interactions(spark, tmp_path):
    """s36 edges beyond the registry row: the generation source cannot be
    renamed or dropped while the rule lives; renaming the GENERATED
    column re-keys its rule (and later appends keep generating under the
    new name); dropping the generated column removes the rule; a
    RE-DECLARED generated column after a drop composes with the
    fresh-physical re-add machinery (old buried values never resurrect);
    compaction (overwrite) preserves the rule; DELETE keyed on the
    generated column zone-prunes and row-filters correctly."""
    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        delete_where_manifest_path,
        drop_column_manifest_path,
        rename_column_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "gen")

    def series(lo, hi, parts=1):
        return spark.range(lo, hi, 1, parts).select(
            F.col("id").alias("i"), (F.col("id") * 10).alias("v")
        )

    def write(df, **opts):
        w = df.write.format("json_manifest_sink").option("path", path).option(
            "retain_history", "true"
        )
        for k, val in opts.items():
            w = w.option(k, val)
        w.mode("append").save()

    def read(**opts):
        rd = spark.read.format("json_manifest_source").option("path", path)
        for k, v in opts.items():
            rd = rd.option(k, v)
        return rd.load()

    write(series(0, 1000, 2), generated_columns='{"bucket": ["i", "mod", 10]}')
    # Source column protected while the rule lives.
    with pytest.raises(Exception, match="source of generated"):
        rename_column_manifest_path(spark, path, "i", "idx")
    with pytest.raises(Exception, match="source of generated"):
        drop_column_manifest_path(spark, path, "i")

    # Renaming the GENERATED column re-keys the rule; appends keep
    # generating under the new name.
    rename_column_manifest_path(spark, path, "bucket", "shard")
    assert _load_manifest(path)["generated"] == {"shard": ["i", "mod", 10]}
    write(series(1000, 1200))
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        assert read().filter(F.col("shard") == 3).count() == 120

    # DELETE keyed on the generated column (zone + row tests translate
    # through the rename's physical mapping).
    d = delete_where_manifest_path(
        spark, path, [("shard", "eq", 3), ("i", "lt", 100)]
    )
    assert d["rows_deleted"] == 10

    # Dropping the generated column removes its rule; plain appends work.
    drop_column_manifest_path(spark, path, "shard")
    assert "generated" not in _load_manifest(path)
    write(series(1200, 1300))

    # Re-declare a generated column with the ORIGINAL dropped name: the
    # fresh-physical re-add machinery must kick in — the 1200 buried
    # shard values (physical 'bucket') never resurface.
    write(
        series(1300, 1400),
        generated_columns='{"bucket": ["i", "mod", 10]}',
    )
    m = _load_manifest(path)
    assert m["generated"] == {"bucket": ["i", "mod", 10]}
    assert m["column_mapping"]["bucket"].startswith("bucket#")
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        got = read().agg(
            F.count(F.lit(1)).alias("n"),
            F.count("bucket").alias("nb"),
        ).first()
    # 1390 live rows (1400 - 10 deleted); only the 100 post-re-declare
    # rows carry the new bucket.
    assert (got["n"], got["nb"]) == (1390, 100)

    # Compaction (overwrite of the live rows) preserves the rule and the
    # provided values pass verification.
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = read().drop("n_files_read", "n_files_total")
        (
            live.repartition(2)
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("overwrite")
            .save()
        )
        assert _load_manifest(path)["generated"] == {
            "bucket": ["i", "mod", 10]
        }
        assert read().count() == 1390

    # MERGE computes generated columns for its update rows (updates omit
    # the column entirely — Delta MERGE semantics) and verifies provided
    # values (a wrong value refuses before any file lands).
    from lime_on_spark_spark.sources.python_source import (
        merge_into_manifest_path,
    )

    upd = series(50, 53)  # 3 existing keys, no bucket column
    st = merge_into_manifest_path(spark, path, upd, "i")
    assert st["rows_updated"] == 3
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        got = read().filter(
            (F.col("i") >= 50) & (F.col("i") < 53)
        ).select("i", "bucket").collect()
    assert {(r["i"], r["bucket"]) for r in got} == {(50, 0), (51, 1), (52, 2)}
    v_before = _load_manifest(path)["version"]
    with pytest.raises(Exception, match="generated column violation"):
        merge_into_manifest_path(
            spark,
            path,
            series(60, 61).withColumn("bucket", F.lit(9).cast("bigint")),
            "i",
        )
    assert _load_manifest(path)["version"] == v_before


def test_manifest_row_tracking_edges(spark, tmp_path):
    """s37 edges: ids are never reused (overwrite/compaction claims a
    fresh range ABOVE the old counter); RESTORE carries the current
    counter; with_row_ids refuses loudly on a pre-tracking file list
    rather than inventing unstable ids; DV'd survivors keep exact ids."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
        _load_manifest,
        delete_where_manifest_path,
        restore_manifest_path,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass
    path = str(tmp_path / "rid")

    def write(lo, hi, mode="append", parts=1):
        (
            spark.range(lo, hi, 1, parts)
            .select(F.col("id").alias("i"), (F.col("id") * 10).alias("v"))
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode(mode)
            .save()
        )

    def read_ids():
        with temp_conf(
            spark, "spark.sql.python.filterPushdown.enabled", "true"
        ):
            return {
                r["i"]: r["_row_id"]
                for r in spark.read.format("json_manifest_source")
                .option("path", path)
                .option("with_row_ids", "true")
                .load()
                .collect()
            }

    write(0, 100)  # v1: ids 0..99
    delete_where_manifest_path(spark, path, [("i", "ge", 90)])  # v2
    ids = read_ids()
    assert ids == {i: i for i in range(90)}  # survivors keep exact ids

    # Overwrite (compaction) reassigns ABOVE the counter: never reuse.
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .drop("n_files_read", "n_files_total")
        )
        (
            live.repartition(1)
            .write.format("json_manifest_sink")
            .option("path", path)
            .option("retain_history", "true")
            .mode("overwrite")
            .save()
        )
    ids2 = read_ids()
    assert set(ids2) == set(range(90))
    assert min(ids2.values()) >= 100  # fresh range, old ids retired
    assert _load_manifest(path)["next_row_id"] == 190

    # RESTORE to v1 republishes the old file (old base ids — consistent
    # with that snapshot) but the counter NEVER goes backwards.
    restore_manifest_path(spark, path, to_version=1)
    assert _load_manifest(path)["next_row_id"] == 190
    assert read_ids() == {i: i for i in range(100)}
    write(100, 110)  # post-restore append claims 190..199, no overlap
    ids3 = read_ids()
    assert {ids3[i] for i in range(100, 110)} == set(range(190, 200))

    # Pre-tracking table: strip base_row_id from the manifest by hand and
    # expect the loud refusal.
    m = _load_manifest(path)
    for f in m["files"]:
        f.pop("base_row_id", None)
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        json.dump(m, fh)
    with pytest.raises(Exception, match="row tracking"):
        read_ids()


# ---------------------------------------------------------------- round 15
# Plan-shape pins for the r15 rows: the scale claims in their docstrings
# (broadcast sides, posting-only shuffles, codegen'd scans) asserted
# against the executed plan, not just narrated.


def test_d108_benchmark_side_broadcasts(spark, sf_dir):
    """d108's corpus x benchmark pass must be a broadcast nested-loop
    (benchmark side broadcast by construction) — a shuffled cross join
    here would be the 100 TB failure mode."""
    plan = _formatted(_q(spark, sf_dir, "d108_semantic_decontamination"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _assert_no_unbounded_global_window(plan: str, ctx: str = "") -> None:
    """Every windowspecdefinition must carry a partition spec — the
    partition-less form renders as `windowspecdefinition(<order>, ...)`
    with an ASC/DESC order key first — EXCEPT the exact_ntile offsets
    window (r17): the operator prefix-sums its per-range count frame,
    bounded at O(#ranges) rows by construction, with a window ordered by
    `_range_id`. A regression back to a single-task global sort over DATA
    would order by real key columns and still fails here."""
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        if "ASC" in head or "DESC" in head:
            assert head.strip().startswith("_range_id"), (
                f"partition-less window over data in {ctx} plan:\n" + plan
            )


def test_d108_decile_cut_is_rank_safe(spark, sf_dir):
    """r16 pin (r15 verdict's one `weak`): the top-decile cut must be the
    range-bucketed exact rank, NEVER a global sort-limit — a
    `orderBy().limit(ceil(n/10))` plan crosses
    topKSortFallbackThreshold at scale and degrades to a full sort +
    single-partition GlobalLimit pulling n/10 rows through one task.
    Pin: no GlobalLimit anywhere in the executed plan, and no
    partition-less window over data (the exact_ntile local rank
    partitions by its broadcast range id)."""
    plan = _formatted(_q(spark, sf_dir, "d108_semantic_decontamination"))
    assert "GlobalLimit" not in plan, plan
    assert "Window" in plan, plan
    _assert_no_unbounded_global_window(plan, "d108")
    assert "_range_id" in plan, plan


def test_d112_postings_only_and_broadcast_scalars(spark, sf_dir):
    """d112: the idf/avgdl sides ride broadcast exchanges (no shuffled
    join against 3-row scalars), and the only hash-partitioned keys are
    the (doc_id, term) posting keys — never document text."""
    plan = _formatted(_q(spark, sf_dir, "d112_bm25_ranking"))
    assert "BroadcastExchange" in plan, plan
    for key in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in key, plan
    # top-20 must be a TakeOrderedAndProject, not a global sort.
    assert "TakeOrderedAndProject" in plan, plan


def test_a29_sketch_probe_join_broadcasts(spark, sf_dir):
    """a29's estimate lookup joins 256 sketch cells to the probe rows —
    the cell side must broadcast (a shuffled join keyed on the sketch
    cells would shuffle the probes for nothing)."""
    plan = _formatted(_q(spark, sf_dir, "a29_countmin_heavy_hitters"))
    assert "BroadcastHashJoin" in plan, plan


def test_d106_blocklist_is_plan_constant(spark, sf_dir):
    """d106's blocklist must be inlined into the plan (a codegen'd
    higher-order function over the token array), with the only exchange
    being the per-source census agg — no join anywhere."""
    plan = _formatted(_q(spark, sf_dir, "d106_badwords_blocklist"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial/final census agg


def test_d107_dedup_shuffles_hashes_not_lines(spark, sf_dir):
    """d107's cross-doc line dedup must shuffle md5 keys, never line
    bodies: no hashpartitioning key may be the raw line column."""
    plan = _formatted(_q(spark, sf_dir, "d107_c4_line_cleaning"))
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    for key in keys:
        assert "line#" not in key, plan


# ---------------------------------------------------------------- round 16
# Plan-shape pins for the r16 rows.


def test_m9_d114_windows_are_sharded(spark, sf_dir):
    """m9/d114 batching windows must partition by the md5 shard (m8's
    discipline) — a partition-less cumsum window would be the
    single-reducer global sort at scale — and their shuffles must carry
    only ids/counts, never chunk text."""
    for name, part_col in (
        ("m9_tokenized_packing", "shard#"),
        ("d114_length_bucketed_batching", "band#"),
    ):
        plan = _formatted(_q(spark, sf_dir, name))
        assert "GlobalLimit" not in plan, plan
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        for spec in specs:
            head = spec.split(",")[0]
            assert "ASC" not in head and "DESC" not in head, (name, plan)
            assert part_col in spec, (name, plan)
        for key in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
            assert "chunk_text#" not in key and "text#" not in key, (
                name,
                plan,
            )


def test_d111_merge_rules_are_plan_constants(spark, sf_dir):
    """d111 applies the learned BPE merges as chained literal replaces —
    plan constants, never a join against a rules table — so the fertility
    census is two keyed aggs over the scan with zero joins."""
    plan = _formatted(_q(spark, sf_dir, "d111_tokenizer_fertility"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 4, plan  # two two-stage aggs


def test_w1_ntile_percent_rank_no_global_window(spark, sf_dir):
    """r16: the global ntile/percent_rank row must route through the
    range-bucketed exact rank — no partition-less window (single-task
    global sort) anywhere in its executed plan."""
    plan = _formatted(_q(spark, sf_dir, "w1_ntile_percent_rank"))
    assert "GlobalLimit" not in plan, plan
    _assert_no_unbounded_global_window(plan, "w1_ntile")
    assert "_range_id" in plan, plan


def test_d74_topk_is_take_ordered(spark, sf_dir):
    """r16: d74's top-10 frontier must be TakeOrderedAndProject
    (per-partition prune + merge); the only window left runs over the
    10 surviving rows (bounded by construction)."""
    plan = _formatted(_q(spark, sf_dir, "d74_chi2_dependence"))
    assert "TakeOrderedAndProject" in plan, plan


def test_vocab_rank_rows_use_range_buckets(spark, sf_dir):
    """r16: the vocabulary-wide exact ranks (Gini, Zipf) must route
    through the range-bucketed operator — every window partitioned (by
    the broadcast range id), never a single-task vocabulary sort."""
    for name in ("d75_gini_concentration", "d76_zipf_fit"):
        plan = _formatted(_q(spark, sf_dir, name))
        assert "_range_id" in plan, plan
        _assert_no_unbounded_global_window(plan, name)


def test_d115_tercile_cut_is_rank_safe_and_body_free(spark, sf_dir):
    """r16: d115's per-language tercile must ride the GROUPED
    range-bucketed exact rank — ntile(3) OVER (PARTITION BY lang) with
    a handful of giant languages is corpus/|langs| rows through one
    task. Pin: no GlobalLimit, every windowspecdefinition partitioned
    (the grouped exact_ntile partitions by (lang, _range_id)), and no
    shuffle ever carries document text."""
    plan = _formatted(_q(spark, sf_dir, "d115_ccnet_perplexity_buckets"))
    assert "GlobalLimit" not in plan, plan
    assert "_range_id" in plan, plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0]
        assert "ASC" not in head and "DESC" not in head, (
            "partition-less window in d115 plan:\n" + plan
        )
    for key in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in key, plan


def test_d119_census_is_the_only_shuffle(spark, sf_dir):
    """r16: d119's blocks/cohesions/threshold/boundary counts are all
    scan-stage higher-order functions — the ONLY shuffle keys allowed in
    the executed plan are the lang census keys; no window, no limit, no
    document text in any exchange."""
    plan = _formatted(_q(spark, sf_dir, "d119_texttiling_boundaries"))
    assert "Window" not in plan, plan
    assert "GlobalLimit" not in plan, plan
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    for key in keys:
        assert key.split("#")[0].strip().startswith("lang"), plan
        assert "text#" not in key and "toks#" not in key, plan
