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
