"""The manifest connector's one commit path (``_commit_snapshot``).

Every operation publishes its snapshot through the same function: a
commit that loses the race for its version slot removes every file it
wrote, and the table state (txns, column mapping, dropped-column
tombstones, generated columns, the row-id counter) rides every commit
unless the operation's documented contract overrides it.
"""
from __future__ import annotations

import json
import os

import pytest

from lime_on_spark_spark.session import temp_conf


@pytest.fixture
def sources(spark):
    from lime_on_spark_spark.sources.python_source import (
        JsonManifestSink,
        JsonManifestSource,
    )

    for cls in (JsonManifestSink, JsonManifestSource):
        spark.dataSource.register(cls)


def _read(spark, path: str, version: int | None = None) -> list[tuple]:
    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        r = spark.read.format("json_manifest_source").option("path", path)
        if version is not None:
            r = r.option("version", str(version))
        df = r.load()
        return sorted(
            tuple(r) for r in df.drop("n_files_read", "n_files_total").collect()
        )


def _write(spark, path: str, n: int = 10) -> None:
    spark.createDataFrame(
        [(i, i * 10) for i in range(n)], "i bigint, v bigint"
    ).repartition(2).write.format("json_manifest_sink").option(
        "path", path
    ).mode("append").save()


@pytest.mark.parametrize("op", ["append", "delete", "merge", "clone"])
def test_a_lost_race_leaves_nothing_behind(spark, sources, tmp_path, op):
    """A commit whose `_MANIFEST-v{N+1}.json` slot is already taken raises
    ManifestConflictError and leaves no data file, DV sidecar, symlink or
    spool directory behind: the listing is the pre-commit one plus the
    planted slot, and the table reads as before. The clone's source
    carries a deletion vector, so both kinds of link are covered."""
    from lime_on_spark_spark.sources.python_source import (
        ManifestConflictError,
        _load_manifest,
        clone_manifest_path,
        delete_where_manifest_path,
        merge_into_manifest_path,
    )

    path = str(tmp_path / "t")
    _write(spark, path)
    if op == "clone":
        delete_where_manifest_path(spark, path, [("i", "lt", 2)])
        src, path = path, str(tmp_path / "clone")
        os.makedirs(path)
        prior, rows = 0, []
    else:
        prior = _load_manifest(path)["version"]
        rows = _read(spark, path)
    with open(os.path.join(path, f"_MANIFEST-v{prior + 1}.json"), "w") as fh:
        json.dump({"version": prior + 1}, fh)
    listing = sorted(os.listdir(path))

    if op == "clone":
        with pytest.raises(ManifestConflictError):
            clone_manifest_path(spark, src, path)
        assert sorted(os.listdir(path)) == listing
        return
    if op == "append":
        with pytest.raises(Exception, match="ManifestConflictError"):
            spark.createDataFrame(
                [(i, i) for i in range(10, 14)], "i bigint, v bigint"
            ).repartition(2).write.format("json_manifest_sink").option(
                "path", path
            ).mode("append").save()
    elif op == "delete":
        with pytest.raises(ManifestConflictError):
            delete_where_manifest_path(spark, path, [("i", "lt", 5)])
    else:
        updates = spark.createDataFrame(
            [(1, -1), (7, -7), (20, -20)], "i bigint, v bigint"
        )
        with pytest.raises(ManifestConflictError):
            merge_into_manifest_path(spark, path, updates, "i")

    assert sorted(os.listdir(path)) == listing
    assert _load_manifest(path)["version"] == prior
    assert _read(spark, path) == rows


@pytest.mark.parametrize("op", ["delete", "merge", "clone"])
def test_a_failed_pointer_write_keeps_the_claimed_snapshot(
    spark, sources, tmp_path, monkeypatch, op
):
    """Once `_MANIFEST-v{N}.json` is claimed the commit is durable: a
    failure writing the `_MANIFEST.json` pointer after it propagates but
    removes nothing, so every data file, DV sidecar and link v{N} lists
    is still there and v{N} reads by version."""
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        clone_manifest_path,
        delete_where_manifest_path,
        merge_into_manifest_path,
    )

    path = str(tmp_path / "t")
    _write(spark, path)
    delete_where_manifest_path(spark, path, [("i", "lt", 2)])
    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == "_MANIFEST.json":
            raise OSError(28, "No space left on device")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    if op == "delete":
        with pytest.raises(OSError, match="No space"):
            delete_where_manifest_path(spark, path, [("i", "ge", 8)])
        version = 3
    elif op == "merge":
        updates = spark.createDataFrame(
            [(3, -3), (20, -20)], "i bigint, v bigint"
        )
        with pytest.raises(OSError, match="No space"):
            merge_into_manifest_path(spark, path, updates, "i")
        version = 3
    else:
        path = str(tmp_path / "clone")
        with pytest.raises(OSError, match="No space"):
            clone_manifest_path(spark, str(tmp_path / "t"), path)
        version = 1
    monkeypatch.setattr(os, "replace", real_replace)

    with open(os.path.join(path, f"_MANIFEST-v{version}.json")) as fh:
        snapshot = json.load(fh)
    listed = [f["name"] for f in snapshot["files"]]
    listed += [f["dv"] for f in snapshot["files"] if "dv" in f]
    assert listed and all(os.path.exists(os.path.join(path, n)) for n in listed)
    assert len(_read(spark, path, version)) == snapshot["total_rows"]
    if op != "clone":
        assert _load_manifest(path)["version"] == version - 1


def test_a_table_without_row_ids_gains_them_on_any_commit(
    spark, sources, tmp_path
):
    """A table written before row tracking (no `next_row_id`, no
    `base_row_id`) gets ids on its next commit of any kind, a
    metadata-only one included: its files claim contiguous ranges from 0
    in name order and the snapshot gains the `row_tracking` writer
    feature."""
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        rename_column_manifest_path,
    )

    path = str(tmp_path / "t")
    _write(spark, path)
    legacy = _load_manifest(path)
    legacy.pop("next_row_id")
    legacy.pop("writer_features")
    for f in legacy["files"]:
        f.pop("base_row_id")
    for name in ("_MANIFEST.json", "_MANIFEST-v1.json"):
        with open(os.path.join(path, name), "w") as fh:
            json.dump(legacy, fh)

    rename_column_manifest_path(spark, path, "v", "w")
    m = _load_manifest(path)
    assert m["version"] == 2
    names = sorted(f["name"] for f in legacy["files"])
    counts = {f["name"]: f["n_rows"] for f in legacy["files"]}
    bases = [sum(counts[n] for n in names[:k]) for k in range(len(names))]
    assert [(f["name"], f["base_row_id"]) for f in m["files"]] == list(
        zip(names, bases)
    )
    assert m["next_row_id"] == 10
    assert m["writer_features"] == ["row_tracking"]


def test_table_state_rides_every_commit(spark, sources, tmp_path):
    """One table carrying a txn, a rename's column mapping, a drop's
    tombstone, a generated column and row ids goes through every
    operation; after each, the five state keys, the feature lists, the
    version and the op DESCRIBE HISTORY reports are the docstrings'
    contracts: the writer records its txn and keeps the rest, an
    overwrite keeps the mapping, tombstones and rules and continues the
    counter, DELETE and MERGE carry everything (MERGE's re-inserted rows
    claim fresh ids), RESTORE takes schema, mapping, tombstones and rules
    from the target and txns and the counter from the current snapshot,
    RENAME and DROP change only their own key, and CLONE starts a new
    table at v1 without the txn table."""
    from lime_on_spark_spark.sources.python_source import (
        _load_manifest,
        clone_manifest_path,
        delete_where_manifest_path,
        drop_column_manifest_path,
        history_manifest_path,
        merge_into_manifest_path,
        rename_column_manifest_path,
        restore_manifest_path,
    )

    path = str(tmp_path / "t")
    gen = {"g": ["i", "div", 10]}

    def write(df, mode="append", **options):
        w = df.write.format("json_manifest_sink").option("path", path)
        for k, v in options.items():
            w = w.option(k, v)
        w.mode(mode).save()

    write(
        spark.createDataFrame(
            [(i, i, -i) for i in range(20)], "i bigint, v bigint, aux bigint"
        ).repartition(2),
        generated_columns=json.dumps(gen),
        txn_app="app",
        txn_version="1",
    )
    rename_column_manifest_path(spark, path, "v", "w")
    drop_column_manifest_path(spark, path, "aux")
    state = {
        "txns": {"app": 1},
        "column_mapping": {"w": "v"},
        "dropped_physical": ["aux"],
        "generated": gen,
        "next_row_id": 20,
    }

    def check(table: str, version: int, op: str, dv: bool) -> None:
        m = _load_manifest(table)
        assert {k: m.get(k) for k in state} == state, op
        want_reader = {"column_mapping", "dropped_columns", "deletion_vectors"}
        if not state["column_mapping"]:
            want_reader.discard("column_mapping")
        if not state["dropped_physical"]:
            want_reader.discard("dropped_columns")
        if not dv:
            want_reader.discard("deletion_vectors")
        assert m.get("reader_features", []) == sorted(want_reader), op
        assert m["writer_features"] == ["generated_columns", "row_tracking"], op
        assert m["version"] == version
        last = history_manifest_path(table)[0]
        assert (last["version"], last["op"]) == (version, op)

    check(path, 3, "DROP COLUMN", dv=False)

    write(
        spark.createDataFrame([(i, i) for i in range(20, 25)], "i bigint, w bigint"),
        txn_app="app",
        txn_version="2",
    )
    state["txns"] = {"app": 2}
    state["next_row_id"] += 5
    check(path, 4, "APPEND", dv=False)

    with temp_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        live = (
            spark.read.format("json_manifest_source")
            .option("path", path)
            .load()
            .drop("n_files_read", "n_files_total")
        )
        write(live.repartition(2), mode="overwrite", retain_history="true")
    state["next_row_id"] += 25  # the rewritten rows claim fresh ids
    check(path, 5, "OVERWRITE", dv=False)

    delete_where_manifest_path(spark, path, [("i", "lt", 3)])
    check(path, 6, "DELETE", dv=True)

    merge_into_manifest_path(
        spark,
        path,
        spark.createDataFrame([(4, -4), (30, 30)], "i bigint, w bigint"),
        "i",
    )
    state["next_row_id"] += 2  # the updated and the inserted row
    check(path, 7, "MERGE", dv=True)

    # v2 is post-rename, pre-drop: its schema still holds aux, so nothing
    # is tombstoned; its txn table ({"app": 1}) and counter (20) are not
    # taken.
    restore_manifest_path(spark, path, 2)
    state["dropped_physical"] = None
    check(path, 8, "RESTORE", dv=False)
    assert [d.split(" ")[0] for d in _load_manifest(path)["schema"]] == [
        "i", "w", "aux", "g"
    ]

    rename_column_manifest_path(spark, path, "w", "x")
    state["column_mapping"] = {"x": "v"}
    check(path, 9, "RENAME COLUMN", dv=False)

    drop_column_manifest_path(spark, path, "aux")
    state["dropped_physical"] = ["aux"]
    check(path, 10, "DROP COLUMN", dv=False)

    dst = str(tmp_path / "clone")
    clone_manifest_path(spark, path, dst)
    check(path, 10, "DROP COLUMN", dv=False)  # the source is untouched
    state["txns"] = None
    check(dst, 1, "CLONE", dv=False)
    assert _read(spark, dst) == _read(spark, path)
