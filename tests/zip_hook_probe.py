"""Probes that report, from each Python process Spark starts, whether the
zipimport compile cache is installed there and how often it was used.

Each report is ``(where, pid, installed, hits, misses)``. The probes cover
a ``mapInArrow`` task, a Python data-source read with filter pushdown (the
pushdown and planning processes plus the read task), a Python data-source
write (the writer-creation and commit processes plus the write task) and an
``availableNow`` Python streaming source (the runner plus the read task).

``python -m tests.zip_hook_probe <out_dir>`` runs them under a session the
engine did not build, set up only through ``configure()``, and prints the
reports as one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

SCHEMA = "where string, pid long, installed boolean, hits long, misses long"


def report(where: str) -> tuple:
    import zipimport

    mod = sys.modules.get("lime_on_spark_spark._zipimport")
    stats = mod.compile_stats if mod is not None else {"hits": 0, "misses": 0}
    installed = mod is not None and zipimport._compile_source is getattr(
        mod, "cached_compile_source", None
    )
    return (where, os.getpid(), installed, stats["hits"], stats["misses"])


class ProbeReadSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zip_hook_probe_read"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "ProbeReader":
        return ProbeReader()


class ProbeReader(DataSourceReader):
    def __init__(self) -> None:
        self.reports = [report("read.create_reader")]

    def pushFilters(self, filters):
        self.reports.append(report("read.pushdown"))
        yield from filters

    def partitions(self):
        return [InputPartition(self.reports + [report("read.plan")])]

    def read(self, partition):
        yield from partition.value
        yield report("read.task")


class ProbeWriteSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zip_hook_probe_write"

    def writer(self, schema, overwrite: bool) -> "ProbeWriter":
        return ProbeWriter(self.options["path"])


class ProbeWriterMessage(WriterCommitMessage):
    def __init__(self, reports) -> None:
        self.reports = reports


class ProbeWriter(DataSourceWriter):
    def __init__(self, path: str) -> None:
        self.path = path
        self.reports = [report("write.create_writer")]

    def write(self, iterator):
        for _ in iterator:
            pass
        return ProbeWriterMessage(self.reports + [report("write.task")])

    def commit(self, messages) -> None:
        out = [r for m in messages for r in m.reports] + [report("write.commit")]
        with open(self.path, "w", encoding="utf-8") as fh:
            json.dump(out, fh)


class ProbeStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zip_hook_probe_stream"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> "ProbeStreamReader":
        return ProbeStreamReader()


class ProbeStreamReader(DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        return {"offset": 1}

    def partitions(self, start: dict, end: dict):
        return [InputPartition([report("stream.runner")])]

    def read(self, partition):
        yield from partition.value
        yield report("stream.task")

    def commit(self, end: dict) -> None:
        pass


def run_probes(spark, out_dir: str) -> list[tuple]:
    """Run every probe in ``spark``; return all reports."""
    from pyspark.sql import functions as F

    for cls in (ProbeReadSource, ProbeWriteSource, ProbeStreamSource):
        spark.dataSource.register(cls)

    def arrow_probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [dict(zip(("where", "pid", "installed", "hits", "misses"),
                      report("mapInArrow.task")))]
        )

    one = spark.range(1, numPartitions=1)
    rows = [tuple(r) for r in one.mapInArrow(arrow_probe, SCHEMA).collect()]

    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        read = spark.read.format("zip_hook_probe_read").load()
        rows += [tuple(r) for r in read.filter(F.col("pid") > 0).collect()]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)

    commit_path = os.path.join(out_dir, "write_reports.json")
    one.write.format("zip_hook_probe_write").option("path", commit_path).mode(
        "append"
    ).save()
    with open(commit_path, encoding="utf-8") as fh:
        rows += [tuple(r) for r in json.load(fh)]

    stream_out = os.path.join(out_dir, "stream_out")
    q = (
        spark.readStream.format("zip_hook_probe_stream").load()
        .writeStream.format("parquet")
        .option("path", stream_out)
        .option("checkpointLocation", os.path.join(out_dir, "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "the probe stream did not finish"
    rows += [tuple(r) for r in spark.read.parquet(stream_out).collect()]
    return rows


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    from lime_on_spark_spark.session import configure

    session = configure(
        SparkSession.builder.master("local[1]")
        .appName("zip-hook-probe-foreign")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        print(json.dumps(run_probes(session, sys.argv[1])))
    finally:
        session.stop()
