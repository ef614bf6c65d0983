"""Focused pins for the r17 optimization changes.

Each test pins the CONTRACT an optimization relies on, so a later edit
that silently reverts the optimization (or breaks its equivalence
argument) fails here rather than in a bench regression:

* exact_ntile is one lazy plan — construction schedules no job, and the
  result still equals SQL ntile/row_number exactly;
* the manifest writer's one columnar spool publishes identical parsed
  rows, zone stats and blooms with and without write-time rules;
* the PQ subvector frame's pre-partitioning removes the per-iteration
  argmin shuffle from the codes lineage;
* the streaming thread-leak confs are set by ``get_spark()`` and left
  alone by ``configure()`` on sessions the engine did not build.
"""
from __future__ import annotations

import json
import math
import os

from pyspark.sql import functions as F


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_exact_ntile_construction_is_lazy(spark):
    """r17: with_exact_ntile must schedule ZERO jobs at construction —
    the sketch and the per-range counts ride the returned plan (the
    former eager first()+collect() are gone) — and the result must still
    equal the single-task SQL ntile/row_number on a unique order key."""
    from lime_on_spark_spark.operators.exact_ntile import with_exact_ntile

    df = spark.range(0, 977).select(
        (F.col("id") * 37 % 1009).alias("k"), F.col("id").alias("uid")
    )
    before = _jobs(spark)
    ranked = with_exact_ntile(
        df, 7, ["k", "uid"], out_col="b", rank_col="r", total_col="t"
    )
    assert _jobs(spark) == before, "exact_ntile construction ran a job"

    from pyspark.sql import Window

    w = Window.orderBy("k", "uid")
    want = {
        (r["k"], r["uid"]): (r["b"], r["r"], r["t"])
        for r in df.withColumn("b", F.ntile(7).over(w))
        .withColumn("r", F.row_number().over(w).cast("long"))
        .withColumn("t", F.lit(977).cast("long"))
        .collect()
    }
    got = {
        (r["k"], r["uid"]): (r["b"], r["r"], r["t"])
        for r in ranked.collect()
    }
    assert got == want


def test_grouped_exact_ntile_construction_is_lazy(spark):
    """r17: the grouped twin is also one lazy plan (the per-cell count
    collect is gone) and still equals the partitioned SQL ntile."""
    from lime_on_spark_spark.operators.exact_ntile import (
        with_grouped_exact_ntile,
    )

    df = spark.range(0, 600).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 53 % 701).alias("k"),
        F.col("id").alias("uid"),
    )
    before = _jobs(spark)
    ranked = with_grouped_exact_ntile(df, 4, ["g"], ["k", "uid"], out_col="b")
    assert _jobs(spark) == before, "grouped exact_ntile construction ran a job"

    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("k", "uid")
    want = {
        (r["g"], r["k"], r["uid"]): r["b"]
        for r in df.withColumn("b", F.ntile(4).over(w)).collect()
    }
    got = {(r["g"], r["k"], r["uid"]): r["b"] for r in ranked.collect()}
    assert got == want


def test_manifest_spool_paths_agree(spark, tmp_path):
    """The one columnar spool publishes identical parsed rows, zone stats
    (incl. the NaN flag) and blooms whether or not rules are in force.
    The same frame is written twice — plain, and with a CHECK constraint
    that never fires (its masks run and flag nothing); a third write
    carries NaN (the stdlib encoder must keep it, since orjson would
    write null, and the stats must flag it)."""
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
    df = spark.range(0, 500, 1, 3).select(
        F.col("id").alias("i"),
        ((F.col("id") * F.col("id") % 97) / 10.0).alias("v"),
        F.concat(F.lit("k"), (F.col("id") % 11).cast("string")).alias("tag"),
    )
    p_fast = str(tmp_path / "fast")
    p_rows = str(tmp_path / "rows")
    df.write.format("json_manifest_sink").option("path", p_fast).option(
        "bloom_columns", "tag"
    ).mode("append").save()
    (
        df.write.format("json_manifest_sink")
        .option("path", p_rows)
        .option("bloom_columns", "tag")
        # A CHECK that never fires: the rule masks run on every batch.
        .option("check_constraints", '[["i", "ge", -1]]')
        .mode("append")
        .save()
    )

    def table_state(path):
        m = _load_manifest(path)
        rows = []
        for f in m["files"]:
            with open(os.path.join(path, f["name"]), encoding="utf-8") as fh:
                rows += [json.loads(line) for line in fh]
        stats = [
            {k: f["stats"][k] for k in sorted(f["stats"])}
            for f in sorted(m["files"], key=lambda f: f["stats"]["i"]["min"])
        ]
        blooms = sorted(
            f["bloom"]["tag"]["bits"] for f in m["files"]
        )
        rows.sort(key=lambda r: r["i"])
        return rows, stats, blooms, m["total_rows"]

    assert table_state(p_fast) == table_state(p_rows)

    # NaN payloads must keep the stdlib encoder (orjson would rewrite NaN
    # to null) and flag the zone.
    p_nan = str(tmp_path / "nan")
    nan_df = spark.range(0, 8, 1, 1).select(
        F.col("id").alias("i"),
        F.when(F.col("id") == 3, float("nan"))
        .otherwise(F.col("id").cast("double"))
        .alias("x"),
    )
    nan_df.write.format("json_manifest_sink").option("path", p_nan).mode(
        "append"
    ).save()
    m = _load_manifest(p_nan)
    assert m["files"][0]["stats"]["x"]["has_nan"] is True
    from lime_on_spark_spark.session import temp_conf

    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        back = (
            spark.read.format("json_manifest_source")
            .option("path", p_nan)
            .load()
            .collect()
        )
    assert sum(1 for r in back if r["x"] is not None and math.isnan(r["x"])) == 1
    assert len(back) == 8


def test_pq_codes_lineage_has_no_argmin_shuffle(spark):
    """r17: with svf persisted pre-partitioned on vec_id, the returned
    codes frame's argmin aggregation must NOT re-shuffle by
    (kk, vec_id, m) — the only hash exchange below the agg is the one
    persisted repartition."""
    from lime_on_spark_spark.operators.pq import train_pq

    emb = spark.range(0, 64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (j + 3)) % 17).cast("double") for j in range(16)]
        ).alias("embedding"),
    )
    codes, cent = train_pq(emb, dim=16, m_subspaces=4, k=4, iters=2)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    import re

    for key in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "vec_id" not in key or "m#" not in key, (
            "argmin re-shuffled by (vec_id, m):\n" + plan
        )
    # The cached subvector frame feeds the agg directly.
    assert "InMemoryTableScan" in plan, plan


def test_streaming_query_leaves_no_checkpoint_manager_threads(spark, tmp_path):
    """r17: Spark 4.1's ChecksumCheckpointFileManager leaks its thread
    pool (~112 threads per availableNow query) when a query terminates,
    degrading every later query in a long-lived session 2-6x (measured:
    d91 5.6s -> 11.8s after 16 streaming rows). The session disables
    checkpoint-file checksums (ephemeral checkpoint dirs have nothing
    durable to protect), so a terminated query must leave ZERO such
    threads — and state-store providers unload on commit."""
    assert (
        spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
        == "false"
    )
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.unloadOnCommit")
        == "true"
    )

    src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    agg = src.groupBy().count()
    q = (
        agg.writeStream.format("memory")
        .queryName("t_leak_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(60), "availableNow query did not terminate in 60 s"

    jvm = spark.sparkContext._jvm
    tg = jvm.java.lang.Thread.currentThread().getThreadGroup()
    while tg.getParent() is not None:
        tg = tg.getParent()
    # enumerate() silently drops threads that do not fit: grow the array
    # until the snapshot leaves room to spare.
    size = tg.activeCount() + 200
    while True:
        arr = jvm.java.lang.reflect.Array.newInstance(
            jvm.java.lang.Thread._java_lang_class, size
        )
        n = tg.enumerate(arr, True)
        if n < size:
            break
        size *= 2
    leaked = [
        arr[i].getName()
        for i in range(n)
        if arr[i] is not None
        and "ChecksumCheckpointFileManager" in arr[i].getName()
    ]
    assert leaked == [], f"leaked checkpoint-manager threads: {leaked[:5]}"


def test_configure_leaves_streaming_confs_to_the_session_owner(spark):
    """``get_spark()`` sets the two streaming confs above and the InSet
    threshold; ``configure()``, which runs on sessions the engine did not
    build, must not force them (checkpoint corruption detection and the
    planner's thresholds stay the host session's own)."""
    from lime_on_spark_spark.session import OWN_SESSION_CONFS, configure

    foreign = spark.newSession()
    for key in OWN_SESSION_CONFS:
        foreign.conf.unset(key)
    configure(foreign)
    settings = foreign._jsparkSession.sessionState().conf().getAllConfs()
    assert [key for key in OWN_SESSION_CONFS if settings.contains(key)] == []
    assert configure(foreign).conf.get("spark.sql.session.timeZone") == "UTC"
