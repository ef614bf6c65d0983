"""MERGE validation on the manifest connector (``merge_into_manifest_path``).

The update keys are validated from the one key collect the matched-row scan
needs anyway, so a MERGE runs no separate aggregate job. The counting must
stay Spark's: NULLs are not keys, and NaN keys count as one distinct value.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def table(spark, tmp_path):
    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    spark.dataSource.register(JsonManifestSink)
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(float(i), i) for i in range(6)], "k double, v bigint"
    ).coalesce(1).write.format("json_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    return path


def _spark_message(updates) -> str:
    """The message the aggregate validation (count(*), countDistinct(k),
    count(k)) raised before the merge validated from collected keys."""
    c = updates.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("k").alias("d"),
        F.count("k").alias("nn"),
    ).first()
    assert c["n"] != c["d"] or c["nn"] != c["n"]
    return f"MERGE updates must be non-NULL-unique on 'k': {c['n']} rows, {c['d']} distinct keys"


@pytest.mark.parametrize(
    "keys",
    [
        [1.0, None, 2.0],
        [1.0, 1.0, 2.0],
        [float("nan"), float("nan"), 2.0],
        [None, None],
        [0.0, -0.0],
        [float("nan"), None, float("nan"), 3.0, 3.0],
    ],
    ids=["null", "duplicate", "two-nan", "two-null", "signed-zero", "mixed"],
)
def test_bad_update_keys_raise_the_aggregate_message(spark, table, keys):
    from lime_on_spark_spark.sources.python_source import merge_into_manifest_path

    updates = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k double, v bigint"
    )
    want = _spark_message(updates)
    with pytest.raises(ValueError) as err:
        merge_into_manifest_path(spark, table, updates, "k")
    assert str(err.value) == want


def test_merge_runs_no_validation_job(spark, table):
    """A MERGE of two updated and one new key runs four jobs: the eager
    checkpoint, the key collect, the matched-row scan and the spool write.
    The aggregate validation that ran between the first two (three jobs
    under AQE: its two shuffle stages and the result) is gone."""
    from lime_on_spark_spark.sources.python_source import merge_into_manifest_path

    tracker = spark.sparkContext.statusTracker()
    updates = spark.createDataFrame(
        [(1.0, 10), (4.0, 40), (9.0, 90)], "k double, v bigint"
    )
    spark.sparkContext.setJobGroup("merge-jobs", "merge job count")
    try:
        out = merge_into_manifest_path(spark, table, updates, "k")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert (out["rows_updated"], out["rows_inserted"]) == (2, 1)
    assert len(tracker.getJobIdsForGroup("merge-jobs")) == 4


def test_merge_keys_match_as_python_set_membership(spark, tmp_path):
    """A NaN update key matches no stored row (not even a stored NaN), and
    a 0.0 key matches a stored -0.0 row: `k in keys` semantics, which an
    Arrow membership test alone inverts in both cases (it compares bits).
    A NaN key must not hide the other keys from the zone pruning of a
    NaN-free file either. Pinned through rows_updated and the
    deletion-vector positions."""
    import json
    import math
    import os

    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        _load_dv,
        _load_manifest,
        merge_into_manifest_path,
    )

    spark.dataSource.register(JsonManifestSink)
    path = str(tmp_path / "keys")
    for rows in ([(float("nan"), 0), (-0.0, 1), (2.0, 2)], [(5.0, 3), (6.0, 4)]):
        spark.createDataFrame(rows, "k double, v bigint").coalesce(1).write.format(
            "json_manifest_sink"
        ).option("path", path).mode("append").save()
    stored = _load_manifest(path)["files"]
    updates = spark.createDataFrame(
        [(float("nan"), 10), (0.0, 11), (5.0, 12)], "k double, v bigint"
    )
    out = merge_into_manifest_path(spark, path, updates, "k")
    assert (out["rows_updated"], out["rows_inserted"]) == (2, 1)
    dvs = {
        f["name"]: _load_dv(path, f["dv"])
        for f in _load_manifest(path)["files"]
        if f.get("dv")
    }
    nan_file = next(f["name"] for f in stored if f["stats"]["k"]["has_nan"])
    plain_file = next(f["name"] for f in stored if not f["stats"]["k"]["has_nan"])
    assert dvs == {nan_file: [1], plain_file: [0]}  # the -0.0 and 5.0 rows
    with open(os.path.join(path, nan_file), encoding="utf-8") as fh:
        assert math.copysign(1.0, json.loads(fh.readlines()[1])["k"]) == -1.0
