"""One Python worker pool per session.

The manifest connector's DML scan and change feed run as DataFrame Arrow
tasks (``python_source._arrow_tasks``), so every engine Python task of a
session runs in the one SQL worker pool. A Python RDD job would start a
second ``pyspark.daemon`` with workers of its own: the JVM keys its worker
factories by the worker's environment, and PythonRDD's differs from the
SQL runners'. A zone test that prunes every file runs no scan job at all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group: str, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return out, len(tracker.getJobIdsForGroup(group))


def _table(spark, path: str) -> None:
    from lime_on_spark_spark.sources.python_source import JsonManifestSink

    spark.dataSource.register(JsonManifestSink)
    spark.createDataFrame(
        [(float(i), i) for i in range(6)], "k double, v bigint"
    ).repartition(2).write.format("json_manifest_sink").option(
        "path", path
    ).mode("append").save()


def test_a_delete_the_zones_prune_runs_no_job(spark, tmp_path):
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        delete_where_manifest_path,
    )

    path = str(tmp_path / "t")
    _table(spark, path)
    out, jobs = _jobs(
        spark,
        "delete-pruned",
        lambda: delete_where_manifest_path(spark, path, [("k", "gt", 100.0)]),
    )
    assert jobs == 0
    assert (out["rows_deleted"], out["files_scanned"]) == (0, 0)
    assert _load_manifest(path)["total_rows"] == 6


def test_a_merge_the_zones_prune_runs_no_scan_job(spark, tmp_path):
    """Three jobs: the eager checkpoint, the key collect and the spool
    write; a MERGE that matches runs a fourth, the scan."""
    from lime_on_spark_spark.sources.python_source import merge_into_manifest_path

    path = str(tmp_path / "t")
    _table(spark, path)
    updates = spark.createDataFrame([(50.0, 1), (60.0, 2)], "k double, v bigint")
    out, jobs = _jobs(
        spark,
        "merge-pruned",
        lambda: merge_into_manifest_path(spark, path, updates, "k"),
    )
    assert jobs == 3
    assert (out["rows_updated"], out["rows_inserted"], out["files_scanned"]) == (0, 2, 0)


_PROBE = """
import json, os, sys
import pyarrow as pa
from lime_on_spark_spark.session import get_spark
from lime_on_spark_spark.sources.python_source import (
    JsonManifestSink, changes_between_manifest_path, delete_where_manifest_path,
    merge_into_manifest_path,
)
spark = get_spark("one-pool-probe", cpus=2)
spark.dataSource.register(JsonManifestSink)
path = sys.argv[1]

def frame(keys):
    # From Arrow: a frame built from a Python list runs a Python RDD itself.
    return spark.createDataFrame(
        pa.table({"k": keys, "v": [k / 2 for k in keys]}), "k bigint, v double"
    )

frame(list(range(100))).repartition(2).write.format("json_manifest_sink").option(
    "path", path).mode("append").save()
delete_where_manifest_path(spark, path, [("k", "lt", 10)])
merge_into_manifest_path(spark, path, frame([20, 200]), "k")
changes = changes_between_manifest_path(spark, path, 1, 3).collect()
jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
pools = 0
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().decode().split("\\0")
    except OSError:
        continue
    if ppid == jvm and argv[1:4] == ["-m", "pyspark.daemon", "pyspark.worker"]:
        pools += 1
print(json.dumps({"pools": pools, "changes": sorted(
    (r["k"], r["_change_type"]) for r in changes if r["k"] >= 9)}))
spark.stop()
"""


def test_dml_and_the_change_feed_run_in_one_worker_pool(tmp_path):
    """A fresh session that runs a DELETE, a MERGE and a change feed has
    one ``pyspark.daemon pyspark.worker`` among the JVM's children."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "t")],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["changes"] == [
        [9, "delete"], [20, "delete"], [20, "insert"], [200, "insert"],
    ]
    assert got["pools"] == 1
