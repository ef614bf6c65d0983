"""DELETE on the manifest connector against its reader.

``delete_where_manifest_path`` matches rows with the reader's own
accepted-filter mask, so a DELETE removes exactly the rows a read with
the same conjuncts returns: NULL never matches, a NaN cell never matches
(IEEE comparison, not Spark's NaN-above-all ordering), and mixed int/float
bounds compare exactly, as Python does.
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

ROWS = [
    # i bigint, s string, n bigint (NULLs), x double (NaN, ±0.0, ±inf)
    (0, "a", 1, 0.5),
    (1, "b", None, math.nan),
    (2, "b", 3, -0.0),
    (3, None, 2, 0.0),
    (4, "c", None, math.inf),
    (5, "a", 0, -2.5),
    (2**53 + 1, "é", 5, None),
    (-(2**53) - 1, "", -1, -math.inf),
    (7, "b", 2, math.nan),
]

CASES = {
    "int-range": [("i", "ge", 2), ("i", "lt", 6)],
    "string-eq": [("s", "eq", "b")],
    "string-gt": [("s", "gt", "a")],
    "null-int": [("n", "le", 2)],
    "nan-double-gt": [("x", "gt", 0.0)],
    "nan-double-le": [("x", "le", 0.0)],
    "signed-zero": [("x", "eq", -0.0)],
    "int-float-bound": [("i", "lt", 4.5)],
    "int-float-bound-big": [("i", "ge", 9007199254740992.0)],
    "int-float-bound-eq": [("i", "eq", 2.0), ("n", "ge", 0)],
    "double-big-int-bound": [("x", "lt", 2**60 + 1)],
}

#: Conjuncts Spark pushes into the reader unchanged (no NaN in the column,
#: no cast around the attribute): there the Spark read must agree too.
SPARK_PUSHED = {"int-range", "string-eq", "string-gt", "null-int"}


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        spark.dataSource.register(cls)
    path = str(tmp_path_factory.mktemp("delete") / "t")
    spark.createDataFrame(ROWS, "i bigint, s string, n bigint, x double").repartition(
        2
    ).write.format("json_manifest_sink").option("path", path).option(
        "retain_history", "true"
    ).mode("append").save()
    return path


def _reader_ids(path, accepted=()) -> set:
    """Row ids the reader's read() returns with `accepted` as its accepted
    filters (in-process: the reader's own row filter, no Spark job)."""
    from lime_on_spark_spark.sources.python_source import JsonManifestSourceReader

    reader = JsonManifestSourceReader({"path": path, "with_row_ids": "true"})
    reader.accepted = [(tag, col, v) for col, tag, v in accepted]
    return {
        rid
        for part in reader.partitions()
        for batch in reader.read(part)
        for rid in batch.column("_row_id").to_pylist()
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_delete_removes_exactly_what_the_reader_returns(spark, table, case):
    from lime_on_spark_spark.session import temp_conf
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        delete_where_manifest_path,
        restore_manifest_path,
    )

    conjuncts = CASES[case]
    v1 = 1
    before = _reader_ids(table)
    want = _reader_ids(table, conjuncts)
    assert want and want != before, "a case must match some rows, not all"
    if case in SPARK_PUSHED:
        ops = {"eq": "__eq__", "lt": "__lt__", "le": "__le__", "gt": "__gt__", "ge": "__ge__"}
        cond = F.lit(True)
        for col, tag, v in conjuncts:
            cond = cond & getattr(F.col(col), ops[tag])(F.lit(v))
        with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
            got = (
                spark.read.format("json_manifest_source").option("path", table)
                .option("with_row_ids", "true").load().filter(cond)
                .select("_row_id").collect()
            )
        assert {r[0] for r in got} == want
    out = delete_where_manifest_path(spark, table, conjuncts)
    try:
        assert out["rows_deleted"] == len(want)
        assert before - _reader_ids(table) == want
        # Rows a deletion vector already holds are not deleted twice.
        again = delete_where_manifest_path(spark, table, conjuncts)
        assert again["rows_deleted"] == 0
    finally:
        restore_manifest_path(spark, table, v1)
    assert _reader_ids(table) == before
    assert _load_manifest(table)["commit_info"]["op"] == "RESTORE"
