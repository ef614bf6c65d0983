"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API).

The S6 surface: when a feed has no built-in connector (an internal queue,
a bespoke binary format, a metered API), Spark 4 lets the connector live in
Python while the SCAN stays distributed — each `InputPartition` is read by
its own executor task, so throughput scales with partition count exactly
like a file source. This module ships a deterministic synthetic-series
source (closed-form rows, so a SQL oracle can reproduce it exactly) as the
template: partition planning in `partitions()`, per-task row generation in
`read()`.

Scale notes: `partitions()` runs on the driver and must stay O(#partitions)
— here it emits one `InputPartition` per slice descriptor, never rows. All
row materialization happens inside `read()` on executors.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class SyntheticSeriesSource(DataSource):
    """`spark.read.format("synthetic_series").option("n", N)` — N rows of
    (i, v, bucket) with v = (i² mod 97)/10 and bucket = i mod 8."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_series"

    def schema(self) -> str:
        return "i BIGINT, v DOUBLE, bucket INT"

    def reader(self, schema) -> "SyntheticSeriesReader":
        return SyntheticSeriesReader(self.options)


class SyntheticSeriesReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 4))

    def partitions(self):  # driver-side: O(#partitions) descriptors only
        per = -(-self.n // self.num_partitions)  # ceil
        return [
            InputPartition((p * per, min((p + 1) * per, self.n)))
            for p in range(self.num_partitions)
            if p * per < self.n
        ]

    def read(self, partition: InputPartition):  # executor-side row gen
        yield from _series_batches(*partition.value)


def _series_batches(lo: int, hi: int, step: int = 1):
    """The closed-form (i, v, bucket) series as ONE Arrow RecordBatch —
    vectorized row generation (guide §4.2) with values bit-identical to
    the scalar loop: i*i stays well inside int64 for every supported n,
    i*i%97 is an exact small int, and /10.0 is one IEEE double division
    in both paths."""
    if hi <= lo:
        return
    import numpy as np
    import pyarrow as pa

    i = np.arange(lo, hi, step, dtype=np.int64)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(i),
            pa.array((i * i % 97) / 10.0),
            pa.array((i % 8).astype(np.int32)),
        ],
        names=["i", "v", "bucket"],
    )


# ---------------------------------------------------------------------------
# Streaming variant (S11): the Spark 4 Python streaming data source API.
# Unlike SimpleDataSourceStreamReader (driver-side reads, prototyping only),
# DataSourceStreamReader keeps the scan DISTRIBUTED: latestOffset() runs on
# the driver and advances the watermark of available data, partitions(start,
# end) plans O(#slices) descriptors, and read(partition) materializes rows
# on executors — the same task fan-out as the batch source above. The
# source is finite and closed-form (rows [0, n) in fixed micro-batch
# blocks), so a SQL oracle reproduces the union of all micro-batches
# exactly — pinning exactly-once delivery across batch boundaries.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamReader  # noqa: E402


class SyntheticStreamSource(DataSource):
    """`spark.readStream.format("synthetic_stream")` — rows (i, v, bucket)
    with v = (i² mod 97)/10, bucket = i mod 8, emitted in `rows_per_batch`
    blocks until `n` rows have been produced."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_stream"

    def schema(self) -> str:
        return "i BIGINT, v DOUBLE, bucket INT"

    def streamReader(self, schema) -> "SyntheticStreamReader":
        return SyntheticStreamReader(self.options)


class SyntheticStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 600))
        self.rows_per_batch = int(options.get("rows_per_batch", 250))
        self.num_partitions = int(options.get("partitions", 4))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        # One block of new data becomes available per micro-batch planning
        # cycle, capped at the finite end — driver-side bookkeeping only.
        cur = getattr(self, "_cur", 0)
        self._cur = min(cur + self.rows_per_batch, self.n)
        return {"offset": self._cur}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        if hi <= lo:
            return [InputPartition((lo, lo))]
        per = -(-(hi - lo) // self.num_partitions)  # ceil
        return [
            InputPartition((lo + p * per, min(lo + (p + 1) * per, hi)))
            for p in range(self.num_partitions)
            if lo + p * per < hi
        ]

    def read(self, partition: InputPartition):  # executor-side row gen
        yield from _series_batches(*partition.value)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the source is synthetic


# ---------------------------------------------------------------------------
# Batch writer variant (S12): the Spark 4 Python DataSource WRITE path —
# the missing quadrant of the custom-connector matrix (s6 read-batch, s11
# read-stream). Two-phase commit, the same contract as the JVM
# FileCommitProtocol:
#
#   * write(iterator) runs once per partition ON EXECUTORS, spools rows to
#     a task-unique temp file under the job's spool dir (task-unique via
#     TaskContext partitionId + taskAttemptId, so a speculative or retried
#     attempt can never clobber another attempt's spool), and returns a
#     picklable commit message (temp path, final name, row count).
#   * commit(messages) runs ON THE DRIVER only after every task succeeded:
#     it renames each temp file to its final name and writes _MANIFEST.json
#     listing the committed files + per-file row counts. Readers consume
#     ONLY manifest-listed files — data is invisible until the atomic
#     manifest write, so a crashed job leaks no partial output.
#   * abort(messages) deletes the spool directory; messages may contain
#     None for tasks that failed before returning one, so cleanup scans the
#     directory instead of trusting the message list.
#
# Scale: one spool file per partition, zero driver data movement — the
# driver touches only O(#partitions) commit messages and filenames.
# ---------------------------------------------------------------------------

import json as _json
import os as _os
import shutil as _shutil

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

try:  # fast JSON-lines spooling (guide §4.2: vectorize the per-task work)
    import orjson as _orjson
except ImportError:  # pragma: no cover — stdlib json path stays correct
    _orjson = None


def _spool_plain_batch(batch, fh) -> None:
    """Spool one Arrow RecordBatch as JSON lines (no per-row rules).

    orjson when every float is finite — orjson silently rewrites NaN/
    Infinity to null, while the row-at-a-time path wrote bare NaN/Infinity
    tokens (stdlib json), so non-finite batches keep the stdlib encoder to
    preserve the on-disk values exactly. Key order (schema order) and the
    parsed-back values are identical either way; only whitespace differs,
    which no reader observes (every consumer parses the line)."""
    rows = batch.to_pylist()
    if _orjson is not None:
        import pyarrow as _pa
        import pyarrow.compute as _pc

        for i, field in enumerate(batch.schema):
            if _pa.types.is_floating(field.type):
                col = batch.column(i).drop_null()
                if len(col) and not _pc.all(_pc.is_finite(col)).as_py():
                    break
        else:
            d = _orjson.dumps
            fh.write(b"".join(d(r) + b"\n" for r in rows))
            return
    for vals in rows:
        fh.write((_json.dumps(vals) + "\n").encode("utf-8"))


def _bloom_bit_positions(column: str, value, m: int, k: int) -> list[int]:
    """The k bloom bit positions for one (column, value) pair — md5-keyed
    (the repo-wide determinism discipline) and shared verbatim by the
    writer's insert and the reader's membership probe, so the two sides
    can never drift. Values are serialized as str(value); only str/int
    values are bloomable (see JsonManifestWriter._bloomable)."""
    import hashlib as _hashlib

    out = []
    for j in range(k):
        h = _hashlib.md5(
            f"{column}|{value}|{j}".encode("utf-8")
        ).hexdigest()
        out.append(int(h, 16) % m)
    return out


class JsonManifestCommitMessage(WriterCommitMessage):
    def __init__(
        self,
        temp_path: str,
        final_name: str,
        n_rows: int,
        stats: dict | None = None,
        blooms: dict | None = None,
    ) -> None:
        self.temp_path = temp_path
        self.final_name = final_name
        self.n_rows = n_rows
        # Per-column {"min": x, "max": x} zone maps over the spooled rows
        # (None for all-NULL columns) — the data-skipping metadata the s16
        # reader prunes whole files with.
        self.stats = stats
        # Per-column bloom filters ({"m", "k", "bits": hex}) for the
        # writer's bloom_columns allowlist — the s26 point-lookup skipping
        # metadata (zone maps can't prune scattered/hash-like values).
        self.blooms = blooms


class JsonManifestSink(DataSource):
    """``df.write.format("json_manifest_sink").option("path", p).save()`` —
    JSON-lines files committed atomically via a driver-written manifest.

    Option ``fail_on_value`` (int): a planted poison — any task whose rows
    contain that value in their first field raises mid-write, driving the
    job down the abort path (used by tests to prove no partial output is
    ever visible).

    DEPLOYMENT REQUIREMENT — shared filesystem: executors spool with
    `open()` and the driver's commit() publishes with `os.replace()`, so
    `path` must be a filesystem BOTH driver and executors mount (local
    mode, NFS, a FUSE-mounted object store). On a cluster without one, the
    driver cannot see the spool files and commit() fails loudly with
    FileNotFoundError — port write()/commit() to a storage client (S3/HDFS
    multipart + manifest PUT) to deploy there. The two-phase *protocol*
    (spool → message → atomic manifest) carries over unchanged; only the
    byte transport is local-filesystem-specific."""

    @classmethod
    def name(cls) -> str:
        return "json_manifest_sink"

    def writer(self, schema, overwrite: bool) -> "JsonManifestWriter":
        return JsonManifestWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "JsonManifestStreamWriter":
        return JsonManifestStreamWriter(
            self.options, [f.name for f in schema.fields]
        )


#: Generated-column expression ops (s36): integer-exact derivations a
#: zone map can skip on. Deliberately tiny — a generated column exists to
#: be a pruning key (day bucket, shard, modulus), not a compute surface.
_GEN_OPS = {
    "div": lambda a, b: a // b,
    "mod": lambda a, b: a % b,
    "mul": lambda a, b: a * b,
    "add": lambda a, b: a + b,
}


class JsonManifestWriter(DataSourceArrowWriter):
    def __init__(self, options, schema, overwrite: bool = True) -> None:
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_manifest_sink requires option 'path'")
        self.fields = [f.name for f in schema.fields]
        # Column DDL recorded in the manifest so readers are
        # self-describing (no schema option / inference on read).
        self.schema_ddl = [
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        ]
        self.overwrite = overwrite
        # Job-unique (full uuid — a truncated id could collide across the
        # lifetime of a long-lived path and silently overwrite a prior
        # job's part file): prefixes final names AND the spool directory,
        # so concurrent appends to one path can never clobber each other's
        # spools. The manifest read-modify-write in commit() still assumes
        # ONE committing driver at a time per path — the same single-writer
        # contract as Spark's own FileCommitProtocol without a catalog.
        self.job_id = _uuid.uuid4().hex
        poison = options.get("fail_on_value")
        self.poison = int(poison) if poison is not None else None
        # Time travel (s17): overwrite normally deletes superseded files;
        # with retain_history they stay on disk so every prior
        # _MANIFEST-v{N}.json remains fully readable (Delta/Iceberg
        # retention semantics — reclaiming them is an explicit vacuum,
        # never a side effect of a write).
        self.retain_history = str(
            options.get("retain_history", "false")
        ).lower() in ("true", "1")
        # Optional stats allowlist (csv of column names): zone maps over a
        # long text column embed its full min/max VALUES in every manifest
        # snapshot — useless for pruning and heavy to parse. Callers that
        # write document bodies restrict stats to the columns they band-
        # filter on (d93). Default: stats on every column (s12/s16).
        sc = options.get("stats_columns")
        self.stats_columns = (
            {c.strip() for c in sc.split(",") if c.strip()}
            if sc is not None
            else None
        )
        # OPTIMISTIC CONCURRENCY (s25): a writer declares the snapshot
        # version its plan was BASED ON; commit() refuses loudly if another
        # commit landed in between (the Delta/Iceberg commit-protocol
        # check). Without it, last-writer-wins silently drops the
        # interleaved commit's rows from append lineage.
        ev = options.get("expected_version")
        self.expected_version = int(ev) if ev is not None else None
        # IDEMPOTENT TRANSACTIONS (t26): (txn_app, txn_version) is the
        # Delta `txn` primitive — the manifest records the highest version
        # committed per app, and a replayed commit (streaming batch retry
        # after checkpoint rollback) with version <= recorded is a NO-OP,
        # making foreachBatch sinks exactly-once.
        self.txn_app = options.get("txn_app")
        tv = options.get("txn_version")
        self.txn_version = int(tv) if tv is not None else None
        if (self.txn_app is None) != (self.txn_version is None):
            raise ValueError(
                "txn_app and txn_version must be provided together"
            )
        # PER-FILE BLOOM FILTERS (s26): point-lookup skipping for columns
        # whose values are scattered (a zone map on a hash-like string
        # spans the whole domain in every file and prunes nothing). One
        # bloom per (file, column); the reader prunes files whose bloom
        # provably lacks an EqualTo literal. False positives only — a
        # bloom can admit a dead file, never skip a live one.
        bc = options.get("bloom_columns")
        self.bloom_columns = (
            {c.strip() for c in bc.split(",") if c.strip()}
            if bc is not None
            else set()
        )
        # Opt-in allowlist: an unknown name is a caller error (a typo'd
        # column would silently write NO bloom and the reader would
        # silently never prune — the validate-up-front discipline).
        unknown = self.bloom_columns - set(self.fields)
        if unknown:
            raise ValueError(
                f"bloom_columns not in schema: {sorted(unknown)}"
            )
        self.bloom_bits = int(options.get("bloom_bits", 16384))
        if self.bloom_bits <= 0 or self.bloom_bits % 8:
            # Positions are computed mod bloom_bits over a bits//8-byte
            # array: a non-multiple-of-8 would IndexError inside executor
            # tasks; fail at option parse instead.
            raise ValueError(
                f"bloom_bits must be a positive multiple of 8, got "
                f"{self.bloom_bits}"
            )
        self.bloom_k = int(options.get("bloom_k", 6))
        if self.bloom_k <= 0:
            raise ValueError(f"bloom_k must be positive, got {self.bloom_k}")
        # CHECK CONSTRAINTS (s32): the Delta `ALTER TABLE ADD CONSTRAINT
        # CHECK` primitive, enforced at WRITE time — a violating row fails
        # its executor task, the job aborts, and the table is untouched
        # (no spool file is ever renamed in). JSON list of [col, op, value]
        # conjuncts sharing _ROW_TESTS with DELETE/skipping; SQL 3VL: only
        # a row where the predicate is FALSE violates — NULL passes (the
        # Delta/ANSI CHECK semantics; use a NOT NULL column for presence).
        # Validated up-front: a typo'd column or op must fail at option
        # parse, not silently never-enforce.
        # COLUMN MAPPING (s33): data files are keyed by PHYSICAL names.
        # The incoming DataFrame speaks logical (the current schema), so
        # the executor spool translates keys at the disk boundary; stats
        # and bloom keys follow. Loaded once at plan time (single-writer
        # contract, same as the schema the reconcile compares against).
        try:
            _prior = _load_manifest(self.path)
        except FileNotFoundError:
            _prior = {}
        self.colmap = dict(_prior.get("column_mapping", {}))
        # DROP COLUMN (s34): a logical column RE-ADDED after a drop gets a
        # FRESH physical name (Delta's fresh-field-id semantics) — the
        # dropped column's physical key still sits in every old data file,
        # so reusing it would silently resurrect the dropped values under
        # the new column. Old files lack the fresh key and NULL-fill.
        self._added_map: dict[str, str] = {}
        _dropped = set(_prior.get("dropped_physical", []))
        # GENERATED COLUMNS (s36): Delta's `GENERATED ALWAYS AS (expr)` —
        # a derived integer column computed AT WRITE TIME from a source
        # column (`{"name": [src, op, operand]}`, op in _GEN_OPS), so zone
        # maps and blooms cover it and readers can skip on the derived key
        # without computing anything. The rule is declared once (option
        # `generated_columns`, JSON) and rides the manifest like
        # column_mapping: later appends re-apply it without re-declaring.
        # If the incoming DataFrame ALREADY carries the column, every
        # provided value is verified against the expression (Delta
        # semantics: a mismatch fails the task, the table is untouched);
        # if absent, the spool computes it.
        self.generated: dict[str, list] = dict(_prior.get("generated", {}))
        gc = options.get("generated_columns")
        if gc is not None:
            rules = _json.loads(gc)
            for name, rule in rules.items():
                if not (isinstance(rule, list) and len(rule) == 3):
                    raise ValueError(
                        f"generated_columns entries are [src, op, operand]:"
                        f" {name}={rule}"
                    )
                src_col, op, operand = rule
                if op not in _GEN_OPS:
                    raise ValueError(
                        f"generated column op must be one of "
                        f"{sorted(_GEN_OPS)}: {op}"
                    )
                if src_col not in self.fields:
                    raise ValueError(
                        f"generated column source not in schema: {src_col!r}"
                    )
                if not isinstance(operand, int) or (
                    op in ("div", "mod") and operand == 0
                ):
                    raise ValueError(
                        f"generated column operand must be a non-zero int"
                        f" for {op}: {operand!r}"
                    )
            self.generated.update(
                {n: list(r) for n, r in rules.items()}
            )
        for name, (src_col, _op, _operand) in self.generated.items():
            if src_col in self.fields and name not in self.fields:
                # Auto-computed: extend the committed schema (the incoming
                # DF never carries the column).
                self.fields.append(name)
                self.schema_ddl.append(f"{name} bigint")
        # Fresh-physical re-adds run AFTER generated columns extend
        # self.fields: a re-declared generated column whose name was
        # dropped earlier must ALSO get a fresh key, or the old buried
        # values would resurrect under it (pytest-pinned).
        if _dropped:
            _prior_logical = {
                ddl.split(" ", 1)[0] for ddl in _prior.get("schema", [])
            }
            _occupied = set(self.colmap.values()) | _dropped | _prior_logical
            for c in self.fields:
                if c in _prior_logical or c in self.colmap or c not in _dropped:
                    continue
                k = _prior.get("version", 0) + 1
                fresh = f"{c}#{k}"
                while fresh in _occupied:
                    k += 1
                    fresh = f"{c}#{k}"
                self.colmap[c] = fresh
                self._added_map[c] = fresh
        cc = options.get("check_constraints")
        if cc is not None:
            checks = _json.loads(cc)
            for c in checks:
                if not (isinstance(c, list) and len(c) == 3):
                    raise ValueError(
                        f"check_constraints entries are [col, op, value]: {c}"
                    )
                col, tag, _ = c
                if col not in self.fields:
                    raise ValueError(f"check constraint column not in schema: {col}")
                if tag not in _ROW_TESTS:
                    raise ValueError(
                        f"check constraint op must be one of "
                        f"{sorted(_ROW_TESTS)}: {tag}"
                    )
            self.checks = [tuple(c) for c in checks]
        else:
            self.checks = []

    def _spool_dir(self) -> str:
        return _os.path.join(self.path, f"_temp-{self.job_id}")

    @staticmethod
    def _bloomable(v) -> bool:
        # str/int only: floats have no canonical text form shared between
        # writer and reader (repr drift), bools would alias 0/1.
        return type(v) is not bool and isinstance(v, (int, str))

    def write(self, iterator):  # executor-side: spool one partition
        # Arrow writer (guide §4): rows arrive as pyarrow RecordBatches —
        # no per-row Row construction or per-value converters. Batches
        # without per-row rules spool through the vectorized path; any
        # batch with rules in force (generated columns, poison, CHECKs,
        # column mapping) or with non-JSON-native column types runs the
        # original row-at-a-time body, preserving the pinned per-row
        # failure semantics (first offending row raises, same message).
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        temp_dir = self._spool_dir()
        _os.makedirs(temp_dir, exist_ok=True)
        temp = _os.path.join(temp_dir, f"attempt-{pid}-{attempt}.json")
        n = 0
        # Streaming per-column min/max (non-NULL values only; bool excluded
        # — bool<int comparisons would poison an int column's zone; NaN
        # excluded — `v < NaN` is always False, so a leading NaN would
        # freeze the zone at NaN and prune files that match). One dict
        # update per row, no buffering: the spool stays O(1) memory.
        mins: dict = {}
        maxs: dict = {}
        nans: set = set()
        statable = (int, float, str)
        # Streaming bloom build: one bitarray per allowlisted column,
        # k md5-derived bit inserts per row — O(m/8) memory per column,
        # never a value set (the 100 TB shape: the filter IS the state).
        bloom_bits = {
            self.colmap.get(c, c): bytearray(self.bloom_bits // 8)
            for c in self.bloom_columns
            if c in self.fields
        }
        bloom_partial: set = set()
        # Stats allowlist in physical terms (rows are translated below).
        pstats_columns = (
            {self.colmap.get(c, c) for c in self.stats_columns}
            if self.stats_columns is not None
            else None
        )
        # Per-row rules force the row path: their failure semantics (raise
        # on the FIRST offending row, exact message) and the logical->
        # physical key translation are row-scoped by contract.
        rules = bool(
            self.generated or self.checks or self.colmap
            or self.poison is not None
        )
        with open(temp, "wb") as fh:
            for batch in iterator:
                if not rules and self._spool_batch_vectorized(
                    batch, fh, mins, maxs, bloom_bits, bloom_partial,
                    pstats_columns,
                ):
                    n += batch.num_rows
                    continue
                n += self._spool_batch_rows(
                    batch, fh, mins, maxs, nans, statable, bloom_bits,
                    bloom_partial, pstats_columns,
                )
        # Columns excluded by the stats allowlist must be ABSENT from the
        # dict, not present with min=None: a None zone reads as "all NULL,
        # prunable", which would unsoundly skip files for filters on a
        # merely-untracked column (absence makes the reader decline).
        stats = {
            k: {
                "min": mins.get(k),
                "max": maxs.get(k),
                "has_nan": k in nans,
            }
            for k in (self.colmap.get(c, c) for c in self.fields)
            if pstats_columns is None or k in pstats_columns
        }
        blooms = {
            c: {
                "m": self.bloom_bits,
                "k": self.bloom_k,
                "partial": c in bloom_partial,
                "bits": bytes(bits).hex(),
            }
            for c, bits in bloom_bits.items()
        }
        return JsonManifestCommitMessage(
            temp,
            f"job-{self.job_id}-part-{pid:05d}.json",
            n,
            stats,
            blooms or None,
        )

    def _spool_batch_rows(
        self, batch, fh, mins, maxs, nans, statable, bloom_bits,
        bloom_partial, pstats_columns,
    ) -> int:
        """The original row-at-a-time spool body, over one Arrow batch —
        the path every rule-bearing write takes, so the per-row failure
        semantics (first offending row raises, exact message) and the
        logical->physical key translation are unchanged."""
        n = 0
        for vals in batch.to_pylist():
            # GENERATED COLUMNS (s36): compute when absent; verify
            # when provided (a mismatch fails the task before any
            # spool file is renamed in — the table stays untouched).
            # A provided NULL is treated as absent (computed).
            for gname, (gsrc, gop, goperand) in self.generated.items():
                s = vals.get(gsrc)
                expect = None if s is None else _GEN_OPS[gop](s, goperand)
                if vals.get(gname) is not None and vals[gname] != expect:
                    raise ValueError(
                        f"generated column violation: {gname} = "
                        f"{vals[gname]!r} but {gsrc} {gop} "
                        f"{goperand} = {expect!r}"
                    )
                vals[gname] = expect
            if self.poison is not None and vals[self.fields[0]] == self.poison:
                raise RuntimeError(
                    f"planted failure on {self.fields[0]}={self.poison}"
                )
            for col, tag, bound in self.checks:
                x = vals.get(col)
                # 3VL: NULL never VIOLATES a CHECK (ANSI/Delta).
                if x is not None and not _ROW_TESTS[tag](x, bound):
                    raise ValueError(
                        f"check constraint violated: {col} {tag} "
                        f"{bound!r} fails for row {vals!r}"
                    )
            if self.colmap:
                # Disk boundary: logical row -> physical JSON keys.
                vals = {
                    self.colmap.get(k, k): v for k, v in vals.items()
                }
            for c, bits in bloom_bits.items():
                v = vals.get(c)
                if v is None:
                    continue  # NULL never matches an eq probe (3VL)
                if not self._bloomable(v):
                    # A non-insertable value (float/bool) could still
                    # equal an int probe (5.0 == 5): mark the bloom
                    # PARTIAL so the reader declines to prune with it.
                    bloom_partial.add(c)
                    continue
                for pos in _bloom_bit_positions(
                    c, v, self.bloom_bits, self.bloom_k
                ):
                    bits[pos // 8] |= 1 << (pos % 8)
            for k, v in vals.items():
                if pstats_columns is not None and k not in pstats_columns:
                    continue
                if v is None or type(v) is bool or not isinstance(v, statable):
                    continue
                if isinstance(v, float) and v != v:
                    nans.add(k)  # flagged so the reader declines filters
                    continue
                if k not in mins or v < mins[k]:
                    mins[k] = v
                if k not in maxs or v > maxs[k]:
                    maxs[k] = v
            fh.write((_json.dumps(vals) + "\n").encode("utf-8"))
            n += 1
        return n

    def _spool_batch_vectorized(
        self, batch, fh, mins, maxs, bloom_bits, bloom_partial,
        pstats_columns,
    ) -> bool:
        """Column-at-a-time spool of one rule-free Arrow batch (guide §4.2).

        Declines (returns False, caller takes the row path) when a column
        type falls outside the JSON-native set, when a float column holds
        a non-finite value (orjson rewrites NaN/Infinity to null; stdlib
        json writes the bare tokens the readers round-trip), or when
        orjson is unavailable. Stats/bloom updates compute the exact same
        values as the per-row path: min/max over non-NULL values (bool
        columns excluded; UTF-8 byte order == code-point order for str),
        bloom inserts over the distinct non-NULL values (idempotent bits),
        float/bool bloom columns marked partial iff any non-NULL value."""
        if _orjson is None:
            return False
        if batch.num_rows == 0:
            return True
        import pyarrow as _pa
        import pyarrow.compute as _pc

        for field in batch.schema:
            t = field.type
            if not (
                _pa.types.is_integer(t)
                or _pa.types.is_floating(t)
                or _pa.types.is_string(t)
                or _pa.types.is_large_string(t)
                or _pa.types.is_boolean(t)
                or _pa.types.is_null(t)
            ):
                return False
        for i, field in enumerate(batch.schema):
            if _pa.types.is_floating(field.type):
                col = batch.column(i).drop_null()
                if len(col) and not _pc.all(_pc.is_finite(col)).as_py():
                    return False
        for i, field in enumerate(batch.schema):
            name = field.name
            col = batch.column(i)
            if name in bloom_bits:
                nn = col.drop_null()
                if len(nn):
                    if _pa.types.is_boolean(field.type) or _pa.types.is_floating(
                        field.type
                    ):
                        bloom_partial.add(name)
                    else:
                        bits = bloom_bits[name]
                        for v in _pc.unique(nn).to_pylist():
                            for pos in _bloom_bit_positions(
                                name, v, self.bloom_bits, self.bloom_k
                            ):
                                bits[pos // 8] |= 1 << (pos % 8)
            if pstats_columns is not None and name not in pstats_columns:
                continue
            if _pa.types.is_boolean(field.type) or _pa.types.is_null(
                field.type
            ):
                continue
            nn = col.drop_null()
            if len(nn):
                mm = _pc.min_max(nn)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
        d = _orjson.dumps
        fh.write(b"".join(d(r) + b"\n" for r in batch.to_pylist()))
        return True

    def commit(self, messages):  # driver-side: publish atomically
        mp = _os.path.join(self.path, "_MANIFEST.json")
        prior: dict | None = None
        prior_files: list = []
        prior_version = 0
        if _os.path.exists(mp):
            with open(mp, encoding="utf-8") as fh:
                prior = _json.load(fh)
            prior_files = prior["files"]
            prior_version = prior.get("version", 0)
        # IDEMPOTENT TRANSACTION (t26): a replayed (txn_app, txn_version)
        # commit is a silent NO-OP — the exactly-once contract for
        # foreachBatch sinks retrying after checkpoint rollback. Checked
        # BEFORE the OCC gate: a replayed commit is stale by construction
        # (its work already landed, so the table moved past its snapshot),
        # and raising a concurrent-commit conflict on it would break
        # exactly-once whenever txn_* and expected_version are combined —
        # "already recorded" must win regardless of snapshot staleness.
        txns = dict((prior or {}).get("txns", {}))
        if self.txn_app is not None:
            # "No entry yet" must be distinguished from "entry >= version":
            # a -1 sentinel would silently no-op an app's FIRST commit when
            # its version numbering starts negative — data loss, the exact
            # failure the txn primitive exists to prevent.
            if (
                self.txn_app in txns
                and txns[self.txn_app] >= self.txn_version
            ):
                _shutil.rmtree(self._spool_dir(), ignore_errors=True)
                return
            txns[self.txn_app] = self.txn_version
        # OPTIMISTIC CONCURRENCY (s25): validated BEFORE any spool file is
        # renamed in — a refused commit leaves the directory exactly as the
        # winning writer published it (the spool is reclaimed below). This
        # read-check catches serialized interleavings early with a precise
        # message; the ATOMIC guarantee is _publish_manifest's exclusive
        # create of the version slot, which catches true races too.
        if (
            self.expected_version is not None
            and prior_version != self.expected_version
        ):
            _shutil.rmtree(self._spool_dir(), ignore_errors=True)
            raise ManifestConflictError(
                "concurrent commit conflict: this write was based on "
                f"version {self.expected_version}, but the table is now at "
                f"version {prior_version}; re-plan against the current "
                "snapshot and retry"
            )
        files = []
        for m in messages:
            final = _os.path.join(self.path, m.final_name)
            _os.replace(m.temp_path, final)
            entry = {"name": m.final_name, "n_rows": m.n_rows}
            if getattr(m, "stats", None) is not None:
                entry["stats"] = m.stats
            if getattr(m, "blooms", None):
                entry["bloom"] = m.blooms
            files.append(entry)
        schema_ddl = self.schema_ddl
        if not self.overwrite:
            # Append mode: merge with the prior jobs' manifest — replacing
            # it wholesale would silently orphan (and thus "delete", for
            # manifest-driven readers) every previously committed row.
            files = prior_files + files
            if prior is not None:
                # SCHEMA EVOLUTION (s20): an append may ADD columns — the
                # committed schema becomes the new superset and readers
                # NULL-fill old files for the added columns. Dropping or
                # retyping an existing column is refused loudly: silently
                # narrowing the schema would hide committed data.
                prior_cols = dict(
                    ddl.split(" ", 1) for ddl in prior.get("schema", [])
                )
                new_cols = dict(ddl.split(" ", 1) for ddl in schema_ddl)
                # A column ADDED after a rename must not reuse a physical
                # name a renamed column still occupies on disk: logical
                # 'a' renamed to 'b' keeps physical key 'a' in every
                # file, so a new logical 'a' would silently alias it.
                taken = set((prior.get("column_mapping") or {}).values())
                for c in new_cols.keys() - prior_cols.keys():
                    # Compare in PHYSICAL terms: a re-added DROPPED name
                    # was already remapped to a fresh physical at plan
                    # time (s34), so only a live renamed physical refuses.
                    if self.colmap.get(c, c) in taken:
                        raise ValueError(
                            f"added column '{c}' collides with the "
                            "physical name of a renamed column; pick a "
                            "different name"
                        )
                for c, t in prior_cols.items():
                    if c not in new_cols:
                        raise ValueError(
                            f"append drops committed column '{c}'; "
                            "schema evolution only adds columns"
                        )
                    if new_cols[c] != t:
                        raise ValueError(
                            f"append retypes committed column '{c}': "
                            f"{t} -> {new_cols[c]}"
                        )
        version = prior_version + 1
        # ROW TRACKING (s37): every data file owns a contiguous row-id
        # range [base_row_id, base_row_id + n_rows); fresh files claim
        # ids from the table's monotone counter in sorted-name order.
        # Ids are NEVER reused — an overwrite continues the counter.
        next_rid = int((prior or {}).get("next_row_id", 0))
        for f in sorted(files, key=lambda f: f["name"]):
            if "base_row_id" not in f:
                f["base_row_id"] = next_rid
                next_rid += f["n_rows"]
        manifest = {
            "files": sorted(files, key=lambda f: f["name"]),
            # Live rows = physical rows minus deletion-vector rows; append-
            # carried prior entries keep their "dv"/"n_deleted" keys, so an
            # append after a DELETE must not resurrect the deleted count.
            "total_rows": sum(
                f["n_rows"] - f.get("n_deleted", 0) for f in files
            ),
            "schema": schema_ddl,
            "version": version,
        }
        if txns:
            manifest["txns"] = txns
        # COLUMN MAPPING rides every commit: physical names are forever
        # (even an overwrite keeps the table's logical->physical map so
        # files written before and after agree on disk keys).
        merged_map = dict((prior or {}).get("column_mapping") or {})
        merged_map.update(self._added_map)  # fresh physicals for re-adds
        if merged_map:
            manifest["column_mapping"] = merged_map
        # DROPPED-physical tombstones are forever (like the mapping): the
        # dropped keys still exist in old data files, so every future
        # commit must keep refusing/remapping against them.
        if (prior or {}).get("dropped_physical"):
            manifest["dropped_physical"] = prior["dropped_physical"]
        # GENERATED COLUMNS (s36) ride every commit (prior rules were
        # merged into self.generated at plan time).
        if self.generated:
            manifest["generated"] = self.generated
        manifest["next_row_id"] = next_rid
        # DESCRIBE HISTORY (s35): every publish stamps what it did — the
        # audit record Delta exposes per commit.
        manifest["commit_info"] = {
            "op": "OVERWRITE" if self.overwrite else "APPEND",
            "n_files_added": len(files) if self.overwrite else len(messages),
            "n_rows_written": sum(m.n_rows for m in messages),
        }
        try:
            _publish_manifest(self.path, manifest)
        except ManifestConflictError:
            # Lost the atomic race for the version slot: un-publish this
            # commit's data files (they are invisible to manifest readers,
            # but leaving them would litter the directory for globbers)
            # and reclaim the spool before surfacing the conflict.
            for m in messages:
                try:
                    _os.remove(_os.path.join(self.path, m.final_name))
                except OSError:
                    pass
            _shutil.rmtree(self._spool_dir(), ignore_errors=True)
            raise
        if self.overwrite and not self.retain_history:
            # The new manifest supersedes the old one; delete the files it
            # listed (and their deletion-vector sidecars), or every
            # overwrite leaves the "replaced" rows on disk as duplicates
            # for any reader that globs the directory. (Older
            # _MANIFEST-v*.json become dangling — time travel requires
            # retain_history.)
            for f in prior_files:
                for name in (f["name"], f.get("dv")):
                    if name is None:
                        continue
                    try:
                        _os.remove(_os.path.join(self.path, name))
                    except OSError:
                        pass
        # Spool litter from failed/speculative task attempts is invisible
        # to readers but accumulates; the job is done with its spool dir.
        _shutil.rmtree(self._spool_dir(), ignore_errors=True)

    def abort(self, messages):  # driver-side: no partial output survives
        _shutil.rmtree(self._spool_dir(), ignore_errors=True)


# ---------------------------------------------------------------------------
# Batch reader with FILTER PUSHDOWN (S14): the Spark 4.1 `pushFilters`
# quadrant of the Python connector matrix (s6 read, s11 stream-read, s12
# write). For a metered API or database-backed source, shipping predicates
# INTO the connector is the difference between reading a partition and
# reading the world; this reader handles EqualTo(bucket) by striding the
# series (step 8 from the first matching i — it generates 1/8th of the
# rows, never filters after the fact) and LessThan(i) by clamping the
# partition planning range, and returns every other filter to Spark.
#
# Every emitted row carries `pushed` = "both filters actually arrived via
# pushFilters", so the SQL oracle (which pins pushed = TRUE) FAILS if
# planning ever stops calling pushFilters — the correctness artifact
# itself certifies the pushdown happened, not just that values match.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import EqualTo, LessThan  # noqa: E402


class FilteredSeriesSource(DataSource):
    """`spark.read.format("synthetic_series_pushdown")` — the s6 series
    with `pushFilters` support for EqualTo(bucket) / LessThan(i)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_series_pushdown"

    def schema(self) -> str:
        return "i BIGINT, v DOUBLE, bucket INT, pushed BOOLEAN"

    def reader(self, schema) -> "FilteredSeriesReader":
        return FilteredSeriesReader(self.options)


class FilteredSeriesReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 4))
        self.eq_bucket = None
        self.lt_i = None

    def pushFilters(self, filters):
        # Runs once at planning; mutations here are visible to
        # partitions()/read(). ACCEPTING a filter removes it from the Spark
        # plan, so accept only what read()/partitions() faithfully execute
        # and yield everything else back:
        #   * several LessThan(i) conjuncts may arrive (Catalyst does not
        #     collapse them) — keeping the MINIMUM satisfies all accepted
        #     bounds, so all are safe to accept;
        #   * at most ONE EqualTo(bucket) with a generatable value (int in
        #     0..7) is accepted; a second conjunct or an out-of-range /
        #     non-int value goes back to Spark, whose residual filter then
        #     yields the correct (possibly empty) result.
        for f in filters:
            # type(...) is int, NOT isinstance: bool is an int subclass, so
            # isinstance would claim EqualTo(bucket, True) as bucket == 1
            # and remove the filter from the Spark plan while read()
            # generates rows for the wrong comparison.
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("bucket",)
                and self.eq_bucket is None
                and type(f.value) is int
                and 0 <= f.value <= 7
            ):
                self.eq_bucket = int(f.value)
            elif isinstance(f, LessThan) and f.attribute == ("i",) and (
                type(f.value) is int
            ):
                self.lt_i = (
                    int(f.value)
                    if self.lt_i is None
                    else min(self.lt_i, int(f.value))
                )
            else:
                yield f

    def partitions(self):  # driver-side: clamp the range BEFORE slicing
        hi = self.n if self.lt_i is None else min(self.n, self.lt_i)
        per = -(-hi // self.num_partitions)  # ceil
        return [
            InputPartition((p * per, min((p + 1) * per, hi)))
            for p in range(self.num_partitions)
            if p * per < hi
        ]

    def read(self, partition: InputPartition):  # executor-side: stride
        lo, hi = partition.value
        pushed = self.eq_bucket is not None and self.lt_i is not None
        if self.eq_bucket is None:
            start, step = lo, 1
        else:  # first i >= lo with i % 8 == eq_bucket, then stride 8
            start, step = lo + (self.eq_bucket - lo) % 8, 8
        import pyarrow as pa

        for batch in _series_batches(start, hi, step):
            yield batch.append_column(
                "pushed", pa.array([pushed] * batch.num_rows)
            )


# ---------------------------------------------------------------------------
# Streaming writer variant (S15): the Spark 4 Python STREAMING sink —
# the last quadrant of the custom connector matrix (s6 read, s11
# stream-read, s12 write, s14 pushdown). Same two-phase contract as the
# batch writer, but commit(messages, batchId) runs once per MICRO-BATCH:
# it publishes that batch's spools as batch-<id>-part-*.json and appends a
# batch entry to _STREAM_MANIFEST.json via read-modify-write (driver-side,
# single-threaded per query). Replayed batch ids (checkpoint recovery
# re-runs the last un-committed batch) are detected in the manifest and
# SKIPPED — the idempotent-commit discipline that makes the sink
# exactly-once end-to-end, pinned by the conservation oracle. Same
# shared-filesystem deployment requirement as the batch writer above:
# the driver renames executor spool files, so `path` must be mounted by
# both; port the byte transport to a storage client for object stores.
# ---------------------------------------------------------------------------

class JsonManifestStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options, field_names) -> None:
        import uuid as _uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_manifest_sink requires option 'path'")
        self.fields = field_names
        # Query-unique spool dir (same isolation as the batch writer): a
        # restarted query instance never shares spools with its
        # predecessor's stragglers.
        self.query_id = _uuid.uuid4().hex

    def write(self, iterator):  # executor-side: spool one partition
        # Arrow batches in (guide §4); the spool bytes parse back to the
        # same rows as the row-at-a-time path (see _spool_plain_batch).
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        temp_dir = _os.path.join(self.path, f"_temp-{self.query_id}")
        _os.makedirs(temp_dir, exist_ok=True)
        temp = _os.path.join(temp_dir, f"attempt-{pid}-{attempt}.json")
        n = 0
        with open(temp, "wb") as fh:
            for batch in iterator:
                _spool_plain_batch(batch, fh)
                n += batch.num_rows
        return JsonManifestCommitMessage(temp, f"part-{pid:05d}.json", n)

    def _manifest_path(self) -> str:
        return _os.path.join(self.path, "_STREAM_MANIFEST.json")

    def commit(self, messages, batchId: int) -> None:  # driver, per batch
        mp = self._manifest_path()
        manifest = {"batches": [], "total_rows": 0}
        if _os.path.exists(mp):
            with open(mp, encoding="utf-8") as fh:
                manifest = _json.load(fh)
        if any(b["batch_id"] == batchId for b in manifest["batches"]):
            # Replay after checkpoint recovery: already published — a
            # second rename would fail and a second entry would double
            # count. Exactly-once = skip, but DELETE the replay's spools
            # (every recovery would otherwise strand one file per
            # partition under _temp, unbounded over the query lifetime).
            for m in messages:
                if m is not None:
                    try:
                        _os.remove(m.temp_path)
                    except OSError:
                        pass
            return
        files = []
        for m in messages:
            final_name = f"batch-{batchId:05d}-{m.final_name}"
            _os.replace(m.temp_path, _os.path.join(self.path, final_name))
            files.append({"name": final_name, "n_rows": m.n_rows})
        manifest["batches"].append(
            {"batch_id": batchId, "files": sorted(files, key=lambda f: f["name"])}
        )
        manifest["total_rows"] += sum(f["n_rows"] for f in files)
        tmp = mp + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            _json.dump(manifest, fh)
        _os.replace(tmp, mp)

    def abort(self, messages, batchId: int) -> None:
        _shutil.rmtree(
            _os.path.join(self.path, f"_temp-{self.query_id}"),
            ignore_errors=True,
        )


# ---------------------------------------------------------------------------
# Manifest-driven batch reader with DATA SKIPPING (S16): the lakehouse
# zone-map primitive, fusing the two connector halves that already exist —
# the s12 writer records per-file per-column min/max stats in
# _MANIFEST.json, and this reader runs the s14 `pushFilters` machinery
# against those stats to prune WHOLE FILES before partition planning. At
# 100 TB this is the difference between reading a partition and reading
# the world: a predicate on a clustered column skips every file whose
# [min, max] zone excludes it, and the skipped files are never opened
# (pinned by a test that plants unparseable bytes in a pruned file).
#
# Accepted comparison filters are ALSO applied row-level in read() —
# accepting a filter removes it from the Spark plan, so the connector must
# execute it exactly, not merely prune with it (zone overlap does not
# imply every row matches). Every emitted row carries (n_files_read,
# n_files_total), so the SQL oracle pins files_read < files_total — the
# correctness artifact fails, not just slows down, if skipping stops
# working.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    GreaterThan,
    GreaterThanOrEqual,
    LessThanOrEqual,
)


#: PROTOCOL FEATURE GATES (s39 — Delta's reader/writer table features):
#: the feature names this build understands. A manifest stamped with a
#: required feature outside these sets means a FUTURE writer produced
#: data this code cannot interpret correctly (unknown DV encoding, an
#: unknown schema transform, ...) — every entry point refuses loudly
#: instead of silently misreading, exactly Delta's protocol-version
#: contract. _load_manifest is the single choke point: scans, CDF,
#: streams, DML, DDL, vacuum and history ALL gate here (vacuum on an
#: ununderstood table could delete files an unknown feature still
#: references).
_SUPPORTED_FEATURES = {
    "deletion_vectors",
    "column_mapping",
    "dropped_columns",
    "generated_columns",
    "row_tracking",
}


class UnsupportedTableFeatureError(ValueError):
    """The manifest requires a table feature this build does not know."""


def _load_manifest(path: str, version=None) -> dict:
    """Load a sink directory's manifest: the latest (_MANIFEST.json) or,
    for time travel, the immutable snapshot _MANIFEST-v{N}.json. Snapshots
    are fully readable as long as the writes used retain_history (s17).
    Refuses manifests requiring unknown table features (s39)."""
    name = "_MANIFEST.json" if version is None else f"_MANIFEST-v{int(version)}.json"
    with open(_os.path.join(path, name), encoding="utf-8") as fh:
        manifest = _json.load(fh)
    unknown = (
        set(manifest.get("reader_features", []))
        | set(manifest.get("writer_features", []))
    ) - _SUPPORTED_FEATURES
    if unknown:
        raise UnsupportedTableFeatureError(
            f"table at {path} (v{manifest.get('version')}) requires "
            f"features this build does not support: {sorted(unknown)}; "
            "upgrade before reading or writing"
        )
    return manifest


class ManifestConflictError(ValueError):
    """A commit lost the race for its version slot (or retried after a
    crash that already published the slot). Re-plan against the current
    snapshot and retry with the next version."""


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomically publish a manifest: versioned snapshot FIRST (via an
    EXCLUSIVE create), then the latest pointer.

    The versioned snapshot `_MANIFEST-v{N}.json` is the commit record and
    is claimed atomically — written to a temp file, then hard-linked into
    place (`os.link` fails with EEXIST if v{N} already exists). This is
    Delta's putIfAbsent pattern: two concurrent commits that both planned
    against v{N-1} race for the v{N} slot and exactly one wins; the loser
    gets :class:`ManifestConflictError` instead of silently overwriting
    the winner's snapshot and latest pointer (last-writer-wins data loss).
    Without the exclusive create, the OCC ``expected_version`` gate in
    commit() only catches SERIALIZED interleavings — its read-check-publish
    is not atomic.

    Crash semantics: a crash between the two writes leaves a readable
    v{N} and a stale latest pointer — never a latest pointing at a missing
    snapshot. A blind retry of that commit then conflicts on v{N} (the
    slot is taken — the commit IS durable); the caller must re-plan from
    the current snapshot, exactly as with a lost race.

    Shared by the batch writer's commit(), DELETE, and MERGE (which are
    otherwise a single-writer contract — this makes a violated contract
    loud instead of lossy)."""
    reader_features = sorted(
        ({"deletion_vectors"} if any(
            f.get("dv") for f in manifest.get("files", [])
        ) else set())
        | ({"column_mapping"} if manifest.get("column_mapping") else set())
        | ({"dropped_columns"} if manifest.get("dropped_physical") else set())
    )
    writer_features = sorted(
        ({"generated_columns"} if manifest.get("generated") else set())
        | ({"row_tracking"} if manifest.get("next_row_id") is not None
           else set())
    )
    if reader_features:
        manifest["reader_features"] = reader_features
    if writer_features:
        manifest["writer_features"] = writer_features
    vp = _os.path.join(path, f"_MANIFEST-v{manifest['version']}.json")
    mp = _os.path.join(path, "_MANIFEST.json")
    tmp = vp + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        _json.dump(manifest, fh)
    try:
        _os.link(tmp, vp)  # atomic claim of the version slot (EEXIST loses)
    except FileExistsError:
        raise ManifestConflictError(
            "concurrent commit conflict: version "
            f"{manifest['version']} was already published at {vp}; "
            "re-plan against the current snapshot and retry"
        ) from None
    finally:
        try:
            _os.remove(tmp)
        except OSError:
            pass
    tmp = mp + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        _json.dump(manifest, fh)
    _os.replace(tmp, mp)


def _scan_file_for_deletes(
    path: str,
    name: str,
    conjuncts: list,
    prior_dv: set,
) -> list[int]:
    """Executor-side: line positions in one data file matching EVERY
    (column, tag, value) conjunct (NULL never matches any — 3VL),
    excluding already-deleted rows. Runs where the reader runs (shared-fs
    contract, python_source.py:180); returns O(#matches) positions — the
    deletion-vector payload."""
    out: list[int] = []
    with open(_os.path.join(path, name), encoding="utf-8") as fh:
        for pos, line in enumerate(fh):
            if pos in prior_dv:
                continue
            vals = _json.loads(line)
            ok = True
            for column, tag, value in conjuncts:
                x = vals.get(column)
                if x is None or not _ROW_TESTS[tag](x, value):
                    ok = False
                    break
            if ok:
                out.append(pos)
    return out


def delete_where_manifest_path(spark, path: str, conjuncts: list) -> dict:
    """Row-level DELETE on a `json_manifest_sink` directory via DELETION
    VECTORS — the Delta/Iceberg merge-on-read primitive: data files are
    NEVER rewritten (pinned byte-identical in pytest); each affected file
    gains a position-list sidecar (`dv-v{N}-{file}`) and a new manifest
    snapshot references it. Readers anti-apply the DV; time travel to the
    pre-delete snapshot still reads every row; vacuum reclaims DVs with
    the snapshots that reference them.

    ``conjuncts`` is a list of (column, tag, value) triples ANDed
    together, each tag one of the _ROW_TESTS comparisons (eq/lt/le/gt/
    ge); predicate semantics are exactly the reader's accepted-filter
    semantics (NULL never matches; a NaN cell never matches — Python
    comparison semantics, NOT Spark's NaN-orders-above-all). Conjuncts
    are validated against the committed schema before any task runs —
    a class-mismatched value is a loud driver-side ValueError.

    Scale shape: the matching-position scan runs DISTRIBUTED (one task
    per candidate file, zone-pruned first — a clustered predicate scans
    the zone, not the world); the driver holds O(#deleted) positions —
    the same asymptotics as Delta's DV bitmaps — and the commit is a
    driver-side metadata publish. Same single-writer contract as the
    writer's commit().
    """
    manifest = _load_manifest(path)
    files = [dict(f) for f in manifest["files"]]
    # Validate conjuncts against the committed schema UP FRONT: a value
    # whose comparison class mismatches its column would otherwise raise a
    # bare TypeError inside an executor task mid-DELETE (the reader can
    # silently decline such a filter back to Spark; a DELETE has no one to
    # decline to, so it must refuse loudly before any work runs).
    numeric_ddl = (
        "tinyint", "smallint", "int", "bigint", "long",
        "float", "double", "decimal",
    )
    col_types = {
        ddl.split(" ", 1)[0]: ddl.split(" ", 1)[1]
        for ddl in manifest["schema"]
    }
    for column, tag, value in conjuncts:
        if tag not in _ROW_TESTS:
            raise ValueError(f"unsupported DELETE comparison tag: {tag!r}")
        if column not in col_types:
            raise ValueError(f"DELETE on unknown column: {column!r}")
        if type(value) is bool or not isinstance(value, (int, float, str)):
            raise ValueError(
                f"unsupported DELETE value for {column!r}: {value!r}"
            )
        want_numeric = col_types[column].split("(")[0] in numeric_ddl
        if want_numeric != isinstance(value, (int, float)):
            raise ValueError(
                f"DELETE value class mismatches column {column!r} "
                f"({col_types[column]}): {value!r}"
            )
    # COLUMN MAPPING (s33): validation speaks logical (the schema); the
    # file scan and zone stats are keyed physical.
    _cmap = manifest.get("column_mapping", {})
    conjuncts = [(_cmap.get(c, c), tag, v) for c, tag, v in conjuncts]

    def _zone_may_match(entry: dict) -> bool:
        # Every conjunct must overlap the file's zone; any conjunct that
        # provably excludes the whole zone skips the file. A conjunct
        # without usable stats is simply inconclusive (scan, never skip
        # unsoundly).
        for column, tag, value in conjuncts:
            stats = (entry.get("stats") or {}).get(column)
            if stats is None or stats.get("has_nan", True):
                continue
            lo, hi = stats.get("min"), stats.get("max")
            if lo is None:
                return False  # all-NULL zone: the conjunct matches nothing
            if type(lo) is bool or isinstance(value, bool):
                continue
            if isinstance(value, (int, float)) != isinstance(
                lo, (int, float)
            ):
                continue
            if not _ZONE_TESTS_BY_TAG[tag](lo, hi, value):
                return False
        return True

    candidates = [f for f in files if _zone_may_match(f)]
    prior_dvs = {
        f["name"]: set(_load_dv(path, f["dv"])) if f.get("dv") else set()
        for f in candidates
    }
    scanned = (
        spark.sparkContext.parallelize(
            [f["name"] for f in candidates], max(1, len(candidates))
        )
        .map(
            lambda name: (
                name,
                _scan_file_for_deletes(
                    path, name, conjuncts, prior_dvs[name]
                ),
            )
        )
        .collect()
    )
    new_hits = {name: pos for name, pos in scanned if pos}
    version = manifest.get("version", 0) + 1
    n_new_deleted = 0
    dv_written = 0
    for f in files:
        hits = new_hits.get(f["name"])
        if not hits:
            continue
        merged = sorted(set(prior_dvs.get(f["name"], set())) | set(hits))
        dv_name = f"dv-v{version}-{f['name']}"
        tmp = _os.path.join(path, dv_name + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            _json.dump({"file": f["name"], "positions": merged}, fh)
        _os.replace(tmp, _os.path.join(path, dv_name))
        f["dv"] = dv_name
        f["n_deleted"] = len(merged)
        n_new_deleted += len(hits)
        dv_written += 1
    new_manifest = {
        "files": files,
        "total_rows": sum(f["n_rows"] - f.get("n_deleted", 0) for f in files),
        "schema": manifest["schema"],
        "version": version,
    }
    if manifest.get("txns"):
        new_manifest["txns"] = manifest["txns"]
    if manifest.get("column_mapping"):
        new_manifest["column_mapping"] = manifest["column_mapping"]
    if manifest.get("dropped_physical"):
        new_manifest["dropped_physical"] = manifest["dropped_physical"]
    if manifest.get("generated"):
        new_manifest["generated"] = manifest["generated"]
    if manifest.get("next_row_id") is not None:
        new_manifest["next_row_id"] = manifest["next_row_id"]
    new_manifest["commit_info"] = {
        "op": "DELETE",
        "rows_deleted": n_new_deleted,
    }
    _publish_manifest(path, new_manifest)
    return {
        "version": version,
        "rows_deleted": n_new_deleted,
        "dv_files_written": dv_written,
        "files_scanned": len(candidates),
        "files_total": len(files),
    }


def _load_dv(path: str, dv_name: str) -> list[int]:
    with open(_os.path.join(path, dv_name), encoding="utf-8") as fh:
        return _json.load(fh)["positions"]


def _scan_file_for_keys(
    path: str, name: str, key_col: str, keys: frozenset, prior_dv: set
) -> tuple[list[int], list]:
    """Executor-side: (line positions, matched key values) for rows whose
    key is in ``keys`` (the MERGE matched-row scan), excluding
    already-deleted rows."""
    out: list[int] = []
    matched: list = []
    with open(_os.path.join(path, name), encoding="utf-8") as fh:
        for pos, line in enumerate(fh):
            if pos in prior_dv:
                continue
            k = _json.loads(line).get(key_col)
            if k in keys:
                out.append(pos)
                matched.append(k)
    return out, matched


def merge_into_manifest_path(spark, path: str, updates, key_col: str) -> dict:
    """MERGE (upsert) into a `json_manifest_sink` directory — the Delta
    MERGE INTO primitive on the merge-on-read connector: matched keys are
    logically deleted via s19 deletion vectors, the updates land as new
    data files, and BOTH changes publish as ONE atomic snapshot (readers
    never observe the delete without the insert).

    Contract: ``updates`` must carry exactly the committed schema (MERGE
    does not evolve — s20 owns that) and be unique on ``key_col``; both
    are validated loudly before any file is touched. The matched-position
    scan ships the update KEY SET to one task per candidate data file —
    sized by the update batch, the CDC shape (at true 100 TB-batch scale
    you'd swap the set for a join against a keyed index; the snapshot
    protocol is unchanged). Updates spool per-partition on executors
    (task-unique temp names, retry/speculation-safe) and only
    driver-confirmed spools are renamed in — the s12 two-phase commit.

    Returns {"version", "rows_updated", "rows_inserted", "files_added"}.
    Same single-writer contract as commit().
    """
    import uuid as _uuid

    manifest = _load_manifest(path)
    files = [dict(f) for f in manifest["files"]]
    schema_ddl = manifest["schema"]
    got_ddl = [
        f"{f.name} {f.dataType.simpleString()}" for f in updates.schema.fields
    ]
    # GENERATED COLUMNS (s36): updates MAY omit generated columns (the
    # spool computes them, Delta MERGE semantics); when provided, every
    # value is verified against the rule below.
    generated = manifest.get("generated", {})
    ddl_no_gen = [
        d for d in schema_ddl if d.split(" ", 1)[0] not in generated
    ]
    if got_ddl != schema_ddl and got_ddl != ddl_no_gen:
        raise ValueError(
            f"MERGE schema mismatch: table {schema_ddl} vs updates {got_ddl}"
        )
    fields = [ddl.split(" ", 1)[0] for ddl in schema_ddl]
    if key_col not in fields:
        raise ValueError(f"MERGE key column not in schema: {key_col!r}")

    # Pin ONE evaluation of the updates plan: validation, the key-set
    # collect, and the spool job below would otherwise each recompute it —
    # a nondeterministic source (sample(), a re-read of a changing table)
    # could then be validated against different rows than it spools,
    # publishing a silently torn snapshot.
    updates = updates.localCheckpoint(eager=True)
    rows = updates.select(key_col).collect()  # bounded: one row per update key
    # Validate from the collected keys, counting as Spark's count(*) and
    # countDistinct(key) would: NULLs are not keys, and every NaN is one
    # distinct key (0.0 and -0.0 already are one).
    nan = float("nan")
    keys = frozenset(
        nan if isinstance(k, float) and k != k else k
        for (k,) in rows
        if k is not None
    )
    if len(rows) != len(keys):  # a duplicate or a NULL key
        raise ValueError(
            f"MERGE updates must be non-NULL-unique on {key_col!r}: "
            f"{len(rows)} rows, {len(keys)} distinct keys"
        )

    # Matched-row scan: one task per candidate file, update key set in the
    # task closure (bounded by the update batch — the CDC contract). The
    # candidate list is ZONE-PRUNED first with the key column's manifest
    # stats (the s16/s19 machinery): a file whose [min, max] zone holds
    # none of the update keys is never opened.
    sorted_keys = sorted(keys)
    # COLUMN MAPPING (s33): the scan and stats are keyed physical.
    cmap = manifest.get("column_mapping", {})
    pkey = cmap.get(key_col, key_col)

    def _zone_has_key(entry: dict) -> bool:
        import bisect as _bisect

        stats = (entry.get("stats") or {}).get(pkey)
        if stats is None or stats.get("has_nan", True):
            return True  # no usable stats: scan, never skip unsoundly
        lo, hi = stats.get("min"), stats.get("max")
        if lo is None:
            return False  # all-NULL zone: no key can match
        if type(lo) is bool or isinstance(sorted_keys[0], bool):
            return True
        if isinstance(sorted_keys[0], (int, float)) != isinstance(
            lo, (int, float)
        ):
            return True
        i = _bisect.bisect_left(sorted_keys, lo)
        return i < len(sorted_keys) and sorted_keys[i] <= hi

    candidates = [f for f in files if _zone_has_key(f)]
    prior_dvs = {
        f["name"]: set(_load_dv(path, f["dv"])) if f.get("dv") else set()
        for f in candidates
    }
    scanned = (
        spark.sparkContext.parallelize(
            [f["name"] for f in candidates], max(1, len(candidates))
        )
        .map(
            lambda name: (
                name,
                _scan_file_for_keys(
                    path, name, pkey, keys, prior_dvs[name]
                ),
            )
        )
        .collect()
    )
    new_hits = {name: pos for name, (pos, _) in scanned if pos}
    # Matched = by KEY (the table side may legitimately hold several live
    # rows per key — e.g. pre-dedup appends; every one is DV'd).
    matched_keys = {k for _, (_, ks) in scanned for k in ks}
    version = manifest.get("version", 0) + 1

    # Spool the update rows on executors (two-phase: only messages the
    # driver receives get renamed in; retried attempts leave inert litter
    # in the spool dir, removed after publish).
    job_id = _uuid.uuid4().hex
    spool = _os.path.join(path, f"_temp-{job_id}")
    _os.makedirs(spool, exist_ok=True)
    statable = (int, float, str)

    def _spool_partition(batches):
        # Arrow batches in (guide §4 — was mapInPandas with per-row
        # numpy `.item()` unwrapping; Arrow's to_pylist yields native
        # Python values directly, and a NULL in an int column stays a
        # JSON null instead of pandas' NaN-promoted float). Per-row
        # generated-column verification keeps its exact message.
        import json as j
        import os as o

        import pyarrow as pa

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        temp = o.path.join(spool, f"attempt-{pid}-{attempt}.json")
        n = 0
        mins: dict = {}
        maxs: dict = {}
        nans: set = set()
        with open(temp, "w", encoding="utf-8") as fh:
            for batch in batches:
                for rec in batch.to_pylist():
                    for gname, (gsrc, gop, goperand) in generated.items():
                        s = rec.get(gsrc)
                        expect = (
                            None if s is None else _GEN_OPS[gop](s, goperand)
                        )
                        got = rec.get(gname)
                        if got is not None and got != expect:
                            raise ValueError(
                                f"generated column violation: {gname} = "
                                f"{got!r} but {gsrc} {gop} {goperand} = "
                                f"{expect!r}"
                            )
                        rec[gname] = expect
                    vals = {
                        # logical -> physical at the disk boundary (s33)
                        cmap.get(k, k): v
                        for k, v in rec.items()
                    }
                    for k, v in vals.items():
                        if (
                            v is None
                            or type(v) is bool
                            or not isinstance(v, statable)
                        ):
                            continue
                        if isinstance(v, float) and v != v:
                            nans.add(k)
                            continue
                        if k not in mins or v < mins[k]:
                            mins[k] = v
                        if k not in maxs or v > maxs[k]:
                            maxs[k] = v
                    fh.write(j.dumps(vals) + "\n")
                    n += 1
        stats = {
            k: {
                "min": mins.get(k),
                "max": maxs.get(k),
                "has_nan": k in nans,
            }
            for k in (cmap.get(c, c) for c in fields)
        }
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([temp], type=pa.string()),
                pa.array(
                    [f"merge-{job_id}-part-{pid:05d}.json"],
                    type=pa.string(),
                ),
                pa.array([n], type=pa.int64()),
                pa.array([j.dumps(stats)], type=pa.string()),
            ],
            names=["temp", "final", "n", "stats"],
        )

    # Abort discipline (the JsonManifestWriter.abort contract): a failure
    # anywhere before the atomic publish must not strand this attempt's
    # DV sidecars, renamed-in data files, or the spool dir. Orphans would
    # be invisible to readers (manifest-driven) and vacuum would reclaim
    # them eventually, but the two-phase protocol cleans up eagerly.
    written: list[str] = []
    try:
        messages = updates.mapInArrow(
            _spool_partition,
            "temp string, final string, n bigint, stats string",
        ).collect()
        for f in files:
            hits = new_hits.get(f["name"])
            if not hits:
                continue
            merged = sorted(set(prior_dvs.get(f["name"], set())) | set(hits))
            dv_name = f"dv-v{version}-{f['name']}"
            tmp = _os.path.join(path, dv_name + ".tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                _json.dump({"file": f["name"], "positions": merged}, fh)
            _os.replace(tmp, _os.path.join(path, dv_name))
            written.append(dv_name)
            f["dv"] = dv_name
            f["n_deleted"] = len(merged)
        for m in messages:
            if m["n"] == 0:
                continue  # empty partition: nothing spooled to publish
            _os.replace(m["temp"], _os.path.join(path, m["final"]))
            written.append(m["final"])
            files.append(
                {
                    "name": m["final"],
                    "n_rows": int(m["n"]),
                    "stats": _json.loads(m["stats"]),
                }
            )
        rows_updated = len(matched_keys)
        rows_inserted = len(rows) - rows_updated
        # ROW TRACKING (s37): updated rows are delete+insert — the
        # re-inserted rows claim FRESH ids (documented divergence from
        # Delta row tracking's materialized preservation).
        next_rid = int(manifest.get("next_row_id", 0))
        for f in sorted(files, key=lambda f: f["name"]):
            if "base_row_id" not in f:
                f["base_row_id"] = next_rid
                next_rid += f["n_rows"]
        new_manifest = {
            "files": sorted(files, key=lambda f: f["name"]),
            "total_rows": sum(
                f["n_rows"] - f.get("n_deleted", 0) for f in files
            ),
            "schema": schema_ddl,
            "version": version,
        }
        if manifest.get("txns"):
            new_manifest["txns"] = manifest["txns"]
        if manifest.get("column_mapping"):
            new_manifest["column_mapping"] = manifest["column_mapping"]
        if manifest.get("dropped_physical"):
            new_manifest["dropped_physical"] = manifest["dropped_physical"]
        if manifest.get("generated"):
            new_manifest["generated"] = manifest["generated"]
        new_manifest["next_row_id"] = next_rid
        new_manifest["commit_info"] = {
            "op": "MERGE",
            "rows_updated": rows_updated,
            "rows_inserted": rows_inserted,
        }
        _publish_manifest(path, new_manifest)
    except BaseException:
        for name in written:
            try:
                _os.remove(_os.path.join(path, name))
            except OSError:
                pass
        _shutil.rmtree(spool, ignore_errors=True)
        raise
    _shutil.rmtree(spool, ignore_errors=True)
    return {
        "version": version,
        "rows_updated": rows_updated,
        "rows_inserted": rows_inserted,
        "files_added": sum(1 for m in messages if m["n"] > 0),
        "files_scanned": len(candidates),
    }


def _scan_file_changes(
    path: str,
    name: str,
    mode: str,
    positions: frozenset,
    fields: list,
    casts: list,
    change_type: str,
):
    """Executor-side CDF scan of one data file: yield rows at ``positions``
    (mode="include") or rows NOT at them (mode="exclude"), tagged with
    ``change_type``, cast per the manifest schema (JSON carries no type
    tags; the latest-superset schema NULL-fills columns an old epoch
    lacked — the s20 reconcile semantics)."""
    with open(_os.path.join(path, name), encoding="utf-8") as fh:
        for pos, line in enumerate(fh):
            hit = pos in positions
            if (mode == "include") != hit:
                continue
            vals = _json.loads(line)
            out = []
            for col, cast in zip(fields, casts):
                x = vals.get(col)
                out.append(cast(x) if x is not None and cast else x)
            yield tuple(out) + (change_type,)


def _cdf_file_batches(
    path: str,
    name: str,
    mode: str,
    positions,
    pfields,
    ddl_types,
    out_fields,
    change_type: str,
    ver=None,
):
    """Arrow-path CDF scan of one data file (guide §4.2): the same rows as
    :func:`_scan_file_changes`, emitted as RecordBatches under the logical
    `out_fields` names plus the `_change_type` tag (and `_commit_version`
    when `ver` is given). Returns None when the Arrow parser declines the
    file — callers run the row-at-a-time scan instead."""
    tbl = _read_data_file_table(path, name, pfields, ddl_types)
    if tbl is None:
        return None
    import numpy as np
    import pyarrow as pa

    nrows = tbl.num_rows
    hit = np.zeros(nrows, dtype=bool)
    if positions:
        hit[[p for p in positions if p < nrows]] = True
    if mode != "include":
        hit = ~hit
    idx = np.nonzero(hit)[0]
    if len(idx) < nrows:
        tbl = tbl.take(pa.array(idx))
    n = tbl.num_rows
    cols = list(tbl.columns)
    names = list(out_fields) + ["_change_type"]
    cols.append(pa.array([change_type] * n, type=pa.string()))
    if ver is not None:
        names.append("_commit_version")
        cols.append(pa.array(np.full(n, ver, dtype=np.int64)))
    return pa.table(cols, names=names).combine_chunks().to_batches()


def changes_between_manifest_path(
    spark,
    path: str,
    v_from: int,
    v_to: int,
    update_key: str | None = None,
    per_commit: bool = False,
):
    """CHANGE DATA FEED over a `json_manifest_sink` directory — the Delta
    CDF / Iceberg changelog primitive: the row-level changes between two
    snapshots, as a DataFrame under v_to's schema plus a `_change_type`
    column ('insert' | 'delete'); an update (s22 MERGE) appears as the
    delete of the old row plus the insert of the new one, the CDC pair.

    Computed as a pure MANIFEST DIFF — no per-commit change files:
    * files in v_to but not v_from: their live rows (v_to DV anti-applied)
      are inserts;
    * files in v_from but not v_to (a compaction rewrite): their live rows
      at v_from are deletes — paired with the rewritten copies' inserts
      they cancel in any downstream aggregate (d97 IVM), so a compaction
      is churn, never corruption;
    * files in both: positions in dv(v_to) - dv(v_from) are deletes. A
      position deleted at v_from but live at v_to is impossible under the
      DML surface (DVs only grow on a fixed file) and raises loudly.

    ``v_from`` = 0 means "from empty" (every live v_to row is an insert).
    ``v_from`` is an EXCLUSIVE base snapshot — the feed is changes in
    (v_from, v_to], "what happened after v_from"; Delta's readChangeFeed
    ``startingVersion`` is INCLUSIVE of that commit, so port Delta's
    ``startingVersion=N`` as ``v_from=N-1``.
    Requires retain_history writes (s17): both snapshots and every file
    they reference must still exist — vacuumed history raises
    FileNotFoundError, never silently under-reports.

    ``update_key`` (s27) refines the Delta-CDF way: a key with BOTH a
    delete and an insert in the feed is an in-place update, re-tagged
    'update_preimage' / 'update_postimage' (one keyed window over the
    feed — a single shuffle on the change set, never the table). Contract:
    the key is unique per side within the window (MERGE enforces it on
    writes); keys touched only one way keep plain insert/delete tags; and
    the window must contain NO compaction/overwrite — its cancelling
    delete+insert churn of unchanged keys would read as phantom updates,
    so a removed file in the range raises loudly (read the plain feed
    across compactions instead).

    ``per_commit`` (s38) switches from the NET diff to Delta-CDF commit
    attribution: the feed becomes the union of every adjacent diff
    (v, v+1] in the range, each row tagged `_commit_version` — so a row
    inserted at v+1 and deleted at v+2 (invisible in the net diff, which
    only ever compares the endpoints) appears as BOTH changes, and a
    consumer can replay commits in order. Costs one manifest load per
    intermediate version (all must be retained) and one task per
    changed-file-per-commit; with ``update_key``, pairing windows are
    (key, version) — per-commit updates, strictly sharper than the
    whole-range pairing.

    Scale shape: the diff is driver-side O(#files + #DV positions)
    metadata work; row materialization is one executor task per changed
    file — cost scales with the CHANGE, not the table.
    """
    v_from, v_to = int(v_from), int(v_to)
    if per_commit:
        if not 0 <= v_from < v_to:
            raise ValueError(f"need 0 <= v_from < v_to, got {v_from}, {v_to}")
        tasks = []
        new = None
        for v in range(v_from, v_to):
            t_v, new = _cdf_tasks(path, v, v + 1)
            tasks += [(n, m, pos, kind, v + 1) for n, m, pos, kind in t_v]
    else:
        t0, new = _cdf_tasks(path, v_from, v_to)
        tasks = [(n, m, pos, kind, None) for n, m, pos, kind in t0]
    # v_to's schema is the superset (s20 evolution only adds columns).
    fields, pfields, casts = _schema_fields_casts(new)
    if update_key is not None:
        # Contract checks run even for an empty feed (a typo'd key must
        # not pass silently on a zero-change range) ...
        if update_key not in fields:
            raise ValueError(f"update_key not in schema: {update_key!r}")
        # ... and update pairing is only DEFINED over DML windows: a
        # compaction rewrites live rows as cancelling delete+insert churn
        # of the SAME key, which whole-feed pairing would re-tag as
        # thousands of phantom updates for rows that never changed. Churn
        # deletes are exactly the exclude-mode delete tasks (removed
        # files); DML deletes are DV position lists (include-mode).
        if any(
            mode == "exclude" and kind == "delete"
            for _, mode, _, kind, _ in tasks
        ):
            raise ValueError(
                "update pairing is undefined across a compaction/"
                f"overwrite in (v{v_from}, v{v_to}]: read the plain feed "
                "(update_key=None), or window the feed between compaction "
                "boundaries"
            )
    ddl = ", ".join(new["schema"]) + ", _change_type string"
    if per_commit:
        ddl += ", _commit_version bigint"
    if not tasks:
        return spark.createDataFrame([], ddl)

    def _rows(t):
        rows = _scan_file_changes(
            path, t[0], t[1], t[2], pfields, casts, t[3]
        )
        if t[4] is None:
            return rows
        return (r + (t[4],) for r in rows)

    rdd = spark.sparkContext.parallelize(tasks, len(tasks)).flatMap(_rows)
    feed = spark.createDataFrame(rdd, ddl)
    if update_key is None:
        return feed
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    w = (
        _W.partitionBy(update_key, "_commit_version")
        if per_commit
        else _W.partitionBy(update_key)
    )
    both = (
        _F.max((_F.col("_change_type") == "insert").cast("int")).over(w)
        + _F.max((_F.col("_change_type") == "delete").cast("int")).over(w)
    ) == 2
    return feed.withColumn(
        "_change_type",
        _F.when(
            both & (_F.col("_change_type") == "delete"),
            _F.lit("update_preimage"),
        )
        .when(
            both & (_F.col("_change_type") == "insert"),
            _F.lit("update_postimage"),
        )
        .otherwise(_F.col("_change_type")),
    )


_CDF_CASTS = {"bigint": int, "long": int, "int": int, "smallint": int,
              "tinyint": int, "double": float, "float": float}


def _schema_fields_casts(manifest: dict) -> tuple[list, list, list]:
    """(logical field names, PHYSICAL field names, per-field Python cast)
    from a manifest's schema DDL — the one derivation shared by the batch
    feed and the CDF stream reader so a parsing fix can never drift
    between them. Physical names (the on-disk JSON keys, which a RENAME
    never changes — s33 column mapping) drive data access; logical names
    drive schema declaration and option validation."""
    fields = [ddl.split(" ", 1)[0] for ddl in manifest["schema"]]
    cmap = manifest.get("column_mapping", {})
    pfields = [cmap.get(c, c) for c in fields]
    casts = [
        _CDF_CASTS.get(ddl.split(" ", 1)[1].split("(")[0])
        for ddl in manifest["schema"]
    ]
    return fields, pfields, casts


def _cdf_tasks(
    path: str, v_from: int, v_to: int
) -> tuple[list[tuple[str, str, frozenset, str]], dict]:
    """Plan the change-data-feed scan between two snapshots: the list of
    (file, include|exclude, positions, insert|delete) tasks plus v_to's
    manifest. Driver-side O(#files + #DV positions) metadata work, shared
    by the batch feed (s24) and the CDF streaming source (t27)."""
    if not 0 <= v_from < v_to:
        raise ValueError(f"need 0 <= v_from < v_to, got {v_from}, {v_to}")
    new = _load_manifest(path, v_to)
    old = (
        {
            "files": [],
            "schema": new["schema"],
            "column_mapping": new.get("column_mapping", {}),
        }
        if v_from == 0
        else _load_manifest(path, v_from)
    )
    # Pre-image rows from v_from's files are CAST under v_to's schema, so
    # the feed is only defined when evolution was additive (the append-path
    # contract). An overwrite may legally retype/drop columns — refuse
    # loudly rather than emit a miscast pre-image or crash in an executor.
    # Compared in PHYSICAL terms (s33): a metadata-only RENAME between the
    # endpoints changes logical names but not one disk key — the feed is
    # perfectly defined under v_to's (renamed) schema.
    old_map = old.get("column_mapping", {})
    new_map = new.get("column_mapping", {})
    old_phys = {
        old_map.get(c, c): t
        for c, t in (ddl.split(" ", 1) for ddl in old["schema"])
    }
    new_phys = {
        new_map.get(c, c): t
        for c, t in (ddl.split(" ", 1) for ddl in new["schema"])
    }
    dropped_new = set(new.get("dropped_physical", []))
    for c, t in old_phys.items():
        if c not in new_phys and c in dropped_new:
            # Explicit DROP COLUMN between the endpoints (s34): the feed
            # is defined under v_to's narrower schema — pre-image rows
            # simply project the tombstoned physical away (Delta CDF
            # reads under the latest schema). Only an overwrite that
            # retypes/removes a LIVE column is non-additive.
            continue
        if new_phys.get(c) != t:
            raise ValueError(
                f"change data feed undefined across non-additive schema "
                f"change on physical column {c!r}: {t} -> "
                f"{new_phys.get(c)} (v{v_from} -> v{v_to})"
            )
    old_by_name = {f["name"]: f for f in old["files"]}
    new_by_name = {f["name"]: f for f in new["files"]}

    def _dv(entry: dict) -> frozenset:
        return frozenset(
            _load_dv(path, entry["dv"]) if entry.get("dv") else ()
        )

    tasks: list[tuple[str, str, frozenset, str]] = []
    for name, f in new_by_name.items():
        if name not in old_by_name:
            tasks.append((name, "exclude", _dv(f), "insert"))
            continue
        dv_old, dv_new = _dv(old_by_name[name]), _dv(f)
        # Positions deleted at v_from but live at v_to are RESURRECTIONS:
        # impossible under forward DML (DVs only grow on a fixed file) but
        # legitimate when a RESTORE (s29) republished a pre-DELETE entry —
        # the feed emits them as ordinary inserts, so applying the feed
        # still reproduces v_to exactly and a restore needs no special
        # casing downstream (the s29 composition contract).
        resurrected = dv_old - dv_new
        if resurrected:
            tasks.append((name, "include", resurrected, "insert"))
        newly_deleted = dv_new - dv_old
        if newly_deleted:
            tasks.append((name, "include", newly_deleted, "delete"))
    for name, f in old_by_name.items():
        if name not in new_by_name:
            tasks.append((name, "exclude", _dv(f), "delete"))
    return tasks, new


class JsonManifestSource(DataSource):
    """`spark.read.format("json_manifest_source").option("path", p)` —
    reads a `json_manifest_sink` directory: manifest-listed files only,
    self-describing schema from the manifest, zone-map file skipping from
    the per-file min/max stats. Option `version` time-travels to the
    immutable _MANIFEST-v{N}.json snapshot instead of the latest."""

    @classmethod
    def name(cls) -> str:
        return "json_manifest_source"

    def _read_changes(self) -> bool:
        return str(self.options.get("read_changes", "false")).lower() in (
            "true",
            "1",
        )

    def _change_versions(self) -> tuple[int, int]:
        # SEMANTICS — starting_version is EXCLUSIVE (a base snapshot):
        # the feed returns changes in (starting_version, ending_version],
        # i.e. "everything that happened AFTER snapshot v{lo}". This
        # deliberately diverges from Delta Lake's readChangeFeed, whose
        # startingVersion is INCLUSIVE of that commit's own changes; a
        # Delta user porting `startingVersion=N` here must pass N-1 (or
        # read it as "I already hold v{N-1}"). The snapshot-diff spelling
        # matches how checkpoints are used: a consumer records the version
        # it has fully applied and asks for changes SINCE it.
        #
        # Resolved ONCE and cached (the _manifest_cache rule): schema()
        # and reader() are separate planning calls, and re-reading the
        # latest pointer in each would let a commit in between pin the
        # declared schema at v(N) while the scan covers v(N+1) — silently
        # dropping a column added by the interleaved commit.
        cached = getattr(self, "_versions_cache", None)
        if cached is not None:
            return cached
        path = self.options["path"]
        lo = int(self.options.get("starting_version", 0))
        ev = self.options.get("ending_version")
        hi = int(ev) if ev is not None else _load_manifest(path)["version"]
        self._versions_cache = (lo, hi)
        return self._versions_cache

    def _manifest(self) -> dict:
        # Loaded ONCE and cached: schema() and reader() are separate
        # planning calls, and a commit landing between them could pair
        # v(N+1)'s schema with v(N)'s file list. Both now derive from the
        # same snapshot regardless of concurrent commits.
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None:
            return cached
        path = self.options.get("path")
        if not path:
            raise ValueError("json_manifest_source requires option 'path'")
        if self._read_changes():
            # Batch CDF read (s28 — Delta's readChangeFeed shape): the
            # schema epoch is the ENDING snapshot's (the s20 superset).
            self._manifest_cache = _load_manifest(
                path, self._change_versions()[1]
            )
        else:
            self._manifest_cache = _load_manifest(
                path, self.options.get("version")
            )
        return self._manifest_cache

    def schema(self) -> str:
        cols = list(self._manifest()["schema"])
        if self._read_changes():
            return ", ".join(cols + ["_change_type string"])
        # Data columns from the manifest (written by JsonManifestWriter),
        # plus two per-row planning-metadata columns that make skipping
        # self-certifying in query output.
        cols += ["n_files_read bigint", "n_files_total bigint"]
        # ROW TRACKING (s37): option with_row_ids surfaces the stable id
        # (file base_row_id + position) as a _row_id column.
        if str(self.options.get("with_row_ids", "false")).lower() in (
            "true",
            "1",
        ):
            cols += ["_row_id bigint"]
        return ", ".join(cols)

    def reader(self, schema):
        if self._read_changes():
            lo, hi = self._change_versions()
            return ManifestCDFBatchReader(
                self.options["path"], lo, hi, self._manifest()
            )
        return JsonManifestSourceReader(self.options, manifest=self._manifest())


#: Comparison filter -> (tag, zone-overlap test). `lo`/`hi` are a file's
#: min/max for the filtered column; a file is read only if SOME value in
#: [lo, hi] could satisfy the predicate.
_ZONE_TESTS = {
    EqualTo: ("eq", lambda lo, hi, v: lo <= v <= hi),
    LessThan: ("lt", lambda lo, hi, v: lo < v),
    LessThanOrEqual: ("le", lambda lo, hi, v: lo <= v),
    GreaterThan: ("gt", lambda lo, hi, v: hi > v),
    GreaterThanOrEqual: ("ge", lambda lo, hi, v: hi >= v),
}

_ROW_TESTS = {
    "eq": lambda x, v: x == v,
    "lt": lambda x, v: x < v,
    "le": lambda x, v: x <= v,
    "gt": lambda x, v: x > v,
    "ge": lambda x, v: x >= v,
}


def _pa_ddl_type(ddl_type: str):
    """Arrow type for a manifest DDL type, or None when the type falls
    outside the JSON-native set (callers fall back to the row scan).
    The mapping mirrors Spark's own arrow schema for these types, so a
    RecordBatch built with it is exactly what the scan declares."""
    import pyarrow as pa

    return {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
    }.get(ddl_type.split("(")[0].strip())


def _read_data_file_table(path: str, name: str, pfields, ddl_types):
    """One spooled JSON-lines data file as an Arrow table with columns
    `pfields` parsed per `ddl_types` — the vectorized scan shared by the
    manifest readers (guide §4.2: batch the Python boundary). Missing keys
    NULL-fill (s20 schema evolution); unknown keys are ignored, never
    inferred in (s34 dropped physicals). Returns None when a declared type
    falls outside the JSON-native set or the file does not parse under the
    explicit schema (a bare NaN/Infinity token, a type conflict): callers
    then run the original row-at-a-time scan, which owns those semantics."""
    import pyarrow as pa

    types = []
    for t in ddl_types:
        at = _pa_ddl_type(t)
        if at is None:
            return None
        types.append(at)
    schema = pa.schema(list(zip(pfields, types)))
    full = _os.path.join(path, name)
    if _os.path.getsize(full) == 0:
        return schema.empty_table()  # the JSON parser rejects empty files
    import pyarrow.json as paj

    try:
        return paj.read_json(
            full,
            parse_options=paj.ParseOptions(
                explicit_schema=schema,
                unexpected_field_behavior="ignore",
            ),
        )
    except pa.ArrowInvalid:
        return None


def _pa_comparison_mask(col, tag: str, v):
    """Boolean numpy mask for one accepted (tag, value) comparison over an
    Arrow column. NULL never satisfies a comparison (3VL) — nulls fill to
    False; a comparison the engine cannot type (an int probe on a string
    column, reachable only via a bloom-accepted EqualTo) matches nothing,
    exactly the Python `x == v` row test."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ops = {
        "eq": pc.equal,
        "lt": pc.less,
        "le": pc.less_equal,
        "gt": pc.greater,
        "ge": pc.greater_equal,
    }
    try:
        m = ops[tag](col, v)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return np.zeros(len(col), dtype=bool)
    return pc.fill_null(m, False).to_numpy(zero_copy_only=False)


class JsonManifestSourceReader(DataSourceReader):
    def __init__(self, options, manifest: dict | None = None) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_manifest_source requires option 'path'")
        if manifest is None:
            manifest = _load_manifest(self.path, options.get("version"))
        self.files = manifest["files"]
        self.fields = [ddl.split(" ", 1)[0] for ddl in manifest["schema"]]
        self.ddl_types = [ddl.split(" ", 1)[1] for ddl in manifest["schema"]]
        # COLUMN MAPPING (s33): data files are keyed by PHYSICAL names
        # forever (a RENAME is metadata-only — Delta's column-mapping
        # model); the schema speaks logical. Filters arrive logical and
        # are translated ONCE in pushFilters, so stats keys, bloom keys,
        # and row tests downstream are all physical.
        self.colmap = manifest.get("column_mapping", {})
        self.pfields = [self.colmap.get(c, c) for c in self.fields]
        # ROW TRACKING (s37): ids are base_row_id + file position —
        # stable under DELETE (positions never shift; a DV'd row's id
        # simply vanishes) and under appends (fresh files claim fresh
        # ranges). Refuses loudly on pre-row-tracking files rather than
        # inventing ids that a later commit would reassign.
        self.with_row_ids = str(
            options.get("with_row_ids", "false")
        ).lower() in ("true", "1")
        if self.with_row_ids:
            missing = [f["name"] for f in self.files if "base_row_id" not in f]
            if missing:
                raise ValueError(
                    "with_row_ids requires row tracking on every file; "
                    f"missing base_row_id: {missing[:3]}"
                )
        self.accepted: list[tuple[str, str, object]] = []
        # Zone-prunable subset of accepted (stat-comparable across ALL
        # files) and bloom-probe subset (bloom-covered across ALL files) —
        # a filter can be in either, both, or row-test-only via accepted.
        self.zone_filters: list[tuple[str, str, object]] = []
        self.bloom_probes: list[tuple[str, object]] = []

    def _stat_comparable(self, col: str, v) -> bool:
        """True iff v can be compared against EVERY file's [min, max] for
        col: the column is present in each file's stats, and each non-NULL
        zone bound is the same comparison class as v (numeric vs str) —
        a mismatched class would raise TypeError mid-planning. Files whose
        stats predate NaN tracking, or that contain a NaN in col, decline
        the filter entirely: Python comparisons say NaN matches nothing,
        while Spark SQL orders NaN above every double and NaN = NaN true —
        the filter must stay in the Spark plan to keep those semantics."""
        num = (int, float)
        for f in self.files:
            stats = f.get("stats")
            if stats is None or col not in stats:
                return False  # a pre-stats file: nothing to prune with
            if stats[col].get("has_nan", True):
                return False  # NaN present (or unknown): Spark filters it
            lo = stats[col]["min"]
            if lo is None:
                continue  # all-NULL zone: prunable without comparing
            if type(lo) is bool:
                return False
            if isinstance(v, num) != isinstance(lo, num):
                return False
        return True

    def _bloom_covered(self, col: str, v) -> bool:
        """True iff EVERY file carries a complete (non-partial) bloom for
        col — only then is "bits absent => value absent" sound to prune
        with — and v is a writer-insertable value class (str/int)."""
        if type(v) is bool or not isinstance(v, (int, str)):
            return False
        for f in self.files:
            b = (f.get("bloom") or {}).get(col)
            if b is None or b.get("partial", True):
                return False
        return True

    def pushFilters(self, filters):
        # Accept simple comparisons on stats-covered columns, plus EqualTo
        # on bloom-covered columns (s26 — point lookups zone maps can't
        # prune); everything else (In, IsNull, Not, string matchers,
        # multi-part columns) goes back to Spark. Accepted filters are
        # BOTH a file-prune key in partitions() and an exact row filter in
        # read() — never prune-only.
        for f in filters:
            tagged = _ZONE_TESTS.get(type(f))
            v = getattr(f, "value", None)
            if not (
                tagged is not None
                and len(f.attribute) == 1
                and type(v) is not bool
                and isinstance(v, (int, float, str))
                # A NaN literal never goes through Python comparison paths:
                # Spark's NaN ordering (NaN = NaN, NaN > any double) and
                # Python's (NaN matches nothing) disagree on every test.
                and not (isinstance(v, float) and v != v)
            ):
                yield f
                continue
            # Logical -> physical once; everything downstream is physical.
            col = self.colmap.get(f.attribute[0], f.attribute[0])
            zone_ok = self._stat_comparable(col, v)
            bloom_ok = tagged[0] == "eq" and self._bloom_covered(col, v)
            if not zone_ok and not bloom_ok:
                yield f
                continue
            self.accepted.append((tagged[0], col, v))
            if zone_ok:
                self.zone_filters.append((tagged[0], col, v))
            if bloom_ok:
                self.bloom_probes.append((col, v))

    def _zone_keeps(self, entry: dict) -> bool:
        for tag, col, v in self.zone_filters:
            s = entry["stats"][col]
            lo, hi = s["min"], s["max"]
            if lo is None:
                return False  # all values NULL: no comparison can match
            if not _ZONE_TESTS_BY_TAG[tag](lo, hi, v):
                return False
        return True

    def _bloom_keeps(self, entry: dict) -> bool:
        # False positives only: a set bit can admit a dead file (read it,
        # row-filter exactly), a clear bit PROVES the value is absent.
        for col, v in self.bloom_probes:
            b = entry["bloom"][col]
            bits = bytes.fromhex(b["bits"])
            for pos in _bloom_bit_positions(col, v, b["m"], b["k"]):
                if not (bits[pos // 8] >> (pos % 8)) & 1:
                    return False
        return True

    def partitions(self):  # driver-side: prune files, one task per survivor
        total = len(self.files)
        keep = [
            f
            for f in self.files
            if self._zone_keeps(f) and self._bloom_keeps(f)
        ]
        if not keep:  # degenerate empty scan (Spark needs >=1 partition)
            return [InputPartition((None, None, 0, total, None))]
        return [
            InputPartition(
                (f["name"], f.get("dv"), len(keep), total,
                 f.get("base_row_id"))
            )
            for f in keep
        ]

    def read(self, partition: InputPartition):  # executor-side
        name, dv_name, n_read, total, base_rid = partition.value
        if name is None:
            return
        # Merge-on-read: the deletion-vector sidecar's positions are
        # anti-applied while scanning — the data file itself is immutable
        # (byte-identical across DELETEs, pinned in pytest).
        deleted = set(_load_dv(self.path, dv_name)) if dv_name else set()
        tbl = _read_data_file_table(
            self.path, name, self.pfields, self.ddl_types
        )
        if tbl is None:  # non-JSON-native type or unparseable: row scan
            yield from self._read_rows(name, deleted, n_read, total, base_rid)
            return
        import numpy as np
        import pyarrow as pa

        nrows = tbl.num_rows
        keep = np.ones(nrows, dtype=bool)
        if deleted:
            keep[[p for p in deleted if p < nrows]] = False
        for tag, col, v in self.accepted:
            keep &= _pa_comparison_mask(tbl.column(col), tag, v)
        idx = np.nonzero(keep)[0]
        if len(idx) < nrows:
            tbl = tbl.take(pa.array(idx))
        n = tbl.num_rows
        cols = list(tbl.columns)
        names = list(self.fields) + ["n_files_read", "n_files_total"]
        cols.append(pa.array(np.full(n, n_read, dtype=np.int64)))
        cols.append(pa.array(np.full(n, total, dtype=np.int64)))
        if self.with_row_ids:
            names.append("_row_id")
            cols.append(pa.array(idx + base_rid, type=pa.int64()))
        yield from pa.table(cols, names=names).combine_chunks().to_batches()

    def _read_rows(self, name, deleted, n_read, total, base_rid):
        """Original row-at-a-time scan — the fallback for files the Arrow
        parser declines (non-JSON-native declared types, NaN tokens)."""
        with open(
            _os.path.join(self.path, name), encoding="utf-8"
        ) as fh:
            for pos, line in enumerate(fh):
                if pos in deleted:
                    continue
                vals = _json.loads(line)
                ok = True
                for tag, col, v in self.accepted:
                    x = vals.get(col)
                    # NULL never satisfies a comparison (3VL): accepted
                    # filters must drop it exactly as Spark would have.
                    if x is None or not _ROW_TESTS[tag](x, v):
                        ok = False
                        break
                if ok:
                    out = tuple(vals.get(c) for c in self.pfields) + (
                        n_read,
                        total,
                    )
                    if self.with_row_ids:
                        out += (base_rid + pos,)
                    yield out


class ManifestCDFBatchReader(DataSourceReader):
    """Batch change-data-feed through the DSv2 reader (s28 — the Delta
    `readChangeFeed` batch shape): `spark.read.format(
    "json_manifest_source").option("read_changes", "true")
    .option("starting_version", N)[.option("ending_version", M)]`.

    NOTE — `starting_version` is an EXCLUSIVE base snapshot: the feed is
    changes in (N, M], "what happened after snapshot v{N}". Delta's
    `startingVersion` is INCLUSIVE of commit N's changes; port Delta's
    `startingVersion=N` as `starting_version=N-1`. See
    `_change_versions` for the rationale.

    Same planning as changes_between_manifest_path (_cdf_tasks), same
    executor scan, one task per changed file."""

    def __init__(self, path: str, v_from: int, v_to: int, manifest: dict):
        self.path = path
        self.v_from, self.v_to = int(v_from), int(v_to)
        self.logical, self.fields, self.casts = _schema_fields_casts(manifest)
        self.ddl_types = [ddl.split(" ", 1)[1] for ddl in manifest["schema"]]

    def partitions(self):
        if self.v_from == self.v_to:
            return [InputPartition(None)]  # empty range: no changes
        tasks, _ = _cdf_tasks(self.path, self.v_from, self.v_to)
        if not tasks:
            return [InputPartition(None)]
        return [
            InputPartition((name, mode, tuple(sorted(pos)), kind))
            for name, mode, pos, kind in tasks
        ]

    def read(self, partition: InputPartition):
        if partition.value is None:
            return
        name, mode, positions, kind = partition.value
        batches = _cdf_file_batches(
            self.path, name, mode, positions, self.fields, self.ddl_types,
            self.logical, kind,
        )
        if batches is None:  # non-JSON-native type: row-at-a-time scan
            yield from _scan_file_changes(
                self.path, name, mode, frozenset(positions),
                self.fields, self.casts, kind,
            )
        else:
            yield from batches


_ZONE_TESTS_BY_TAG = {tag: fn for tag, fn in _ZONE_TESTS.values()}


def restore_manifest_path(spark, path: str, to_version: int) -> dict:
    """RESTORE a `json_manifest_sink` table to an earlier snapshot — the
    Delta `RESTORE TABLE ... VERSION AS OF` primitive: publishes a NEW
    commit whose file list (and deletion vectors) equal snapshot
    v{to_version}. The version moves FORWARD, the content moves back —
    history is never rewritten, so the restore itself is auditable,
    shows up in the change feed as ordinary inserts/deletes (the CDF
    manifest diff needs no special casing), and a bad restore can be
    restored away.

    Requires retained history (s17): the target snapshot AND every data
    file / DV it references must still exist — a vacuumed target raises
    FileNotFoundError loudly rather than publishing a manifest that
    points at missing files. The txn table rides along from the CURRENT
    snapshot (idempotency tracks appliers, not content — a restore must
    not make a replayed foreachBatch commit re-apply).

    Driver-side O(#files) metadata work; no data is read or copied —
    at 100 TB a restore is a manifest publish, not a rewrite.
    Returns ``{"restored_from", "new_version", "files_restored",
    "total_rows"}``. Single-writer contract as commit(); a concurrent
    commit loses the version-slot race in :func:`_publish_manifest`.
    """
    current = _load_manifest(path)
    cur_version = current.get("version", 0)
    if not 1 <= int(to_version) <= cur_version:
        raise ValueError(
            f"cannot restore to version {to_version}: table is at "
            f"version {cur_version} (valid targets: 1..{cur_version})"
        )
    target = _load_manifest(path, version=to_version)  # vacuumed -> raises
    for f in target["files"]:
        for name in (f["name"], f.get("dv")):
            if name is None:
                continue
            if not _os.path.exists(_os.path.join(path, name)):
                raise FileNotFoundError(
                    f"restore target v{to_version} references '{name}', "
                    "which was vacuumed; restore requires retained history"
                )
    manifest = {
        "files": target["files"],
        "total_rows": sum(
            f["n_rows"] - f.get("n_deleted", 0) for f in target["files"]
        ),
        "schema": target["schema"],
        "version": cur_version + 1,
    }
    if target.get("column_mapping"):
        # The restored schema's logical names resolve through the TARGET
        # snapshot's mapping (they were renamed together).
        manifest["column_mapping"] = target["column_mapping"]
    # A restore that reverts a schema ADDITION is an implicit DROP of the
    # reverted columns: their physical keys still sit in the data files
    # written while they were live (outside the restored file list but in
    # retained history), so they are tombstoned like an explicit drop —
    # the change feed across the restore stays defined (the s34 guard
    # skips them) and a later re-add gets a fresh physical key. Found by
    # the DML random walk: declare g -> restore to a pre-g snapshot ->
    # CDF over the restore refused as "non-additive".
    cur_map = current.get("column_mapping", {})
    tgt_map = target.get("column_mapping", {})
    cur_phys = {
        cur_map.get(n, n)
        for n in (d.split(" ", 1)[0] for d in current["schema"])
    }
    tgt_phys = {
        tgt_map.get(n, n)
        for n in (d.split(" ", 1)[0] for d in target["schema"])
    }
    tombstones = list(target.get("dropped_physical", []))
    tombstones += sorted(cur_phys - tgt_phys - set(tombstones))
    if tombstones:
        manifest["dropped_physical"] = tombstones
    if target.get("generated"):
        manifest["generated"] = target["generated"]
    if current.get("txns"):
        manifest["txns"] = current["txns"]
    # Row ids are never reused: the CURRENT counter rides the restore
    # (it is >= the target's, and files written after the target may
    # return via a later restore-forward).
    if current.get("next_row_id") is not None:
        manifest["next_row_id"] = current["next_row_id"]
    manifest["commit_info"] = {"op": "RESTORE", "restored_from": int(to_version)}
    _publish_manifest(path, manifest)
    return {
        "restored_from": int(to_version),
        "new_version": cur_version + 1,
        "files_restored": len(target["files"]),
        "total_rows": manifest["total_rows"],
    }


def rename_column_manifest_path(spark, path: str, old: str, new: str) -> dict:
    """RENAME COLUMN without rewriting a byte of data — Delta's
    column-mapping primitive (`ALTER TABLE ... RENAME COLUMN` under
    columnMapping.mode=name): data files keep their original PHYSICAL
    JSON keys forever; the manifest carries a logical->physical map and
    a new snapshot with the renamed logical schema. Readers, writers,
    DELETE, MERGE, and the change feed all translate at their disk
    boundaries, so every operation keeps working across any number of
    renames — and CDF across a rename is perfectly defined (the
    additive-schema check compares PHYSICAL columns).

    Metadata-only: O(1) driver work, no job, no file touched — at 100 TB
    a rename is one manifest publish. Returns ``{"new_version",
    "physical_name"}``. Single-writer contract as commit()."""
    manifest = _load_manifest(path)
    pairs = [ddl.split(" ", 1) for ddl in manifest["schema"]]
    names = [n for n, _ in pairs]
    if old not in names:
        raise ValueError(f"rename source column not in schema: {old!r}")
    if new in names:
        raise ValueError(f"rename target column already exists: {new!r}")
    generated = dict(manifest.get("generated", {}))
    for gname, (gsrc, _op, _operand) in generated.items():
        if old == gsrc:
            raise ValueError(
                f"cannot rename {old!r}: it is the source of generated "
                f"column {gname!r} (drop the generated column first)"
            )
    if old in generated:  # renaming the generated column re-keys its rule
        generated[new] = generated.pop(old)
    mapping = dict(manifest.get("column_mapping", {}))
    physical = mapping.pop(old, old)
    mapping[new] = physical
    new_manifest = {
        "files": manifest["files"],
        "total_rows": manifest["total_rows"],
        "schema": [
            f"{new} {t}" if n == old else f"{n} {t}" for n, t in pairs
        ],
        "column_mapping": mapping,
        "version": manifest.get("version", 0) + 1,
    }
    if generated:
        new_manifest["generated"] = generated
    if manifest.get("txns"):
        new_manifest["txns"] = manifest["txns"]
    if manifest.get("dropped_physical"):
        new_manifest["dropped_physical"] = manifest["dropped_physical"]
    if manifest.get("next_row_id") is not None:
        new_manifest["next_row_id"] = manifest["next_row_id"]
    new_manifest["commit_info"] = {
        "op": "RENAME COLUMN",
        "column": f"{old} -> {new}",
    }
    _publish_manifest(path, new_manifest)
    return {
        "new_version": new_manifest["version"],
        "physical_name": physical,
    }


def drop_column_manifest_path(spark, path: str, col: str) -> dict:
    """DROP COLUMN without rewriting a byte of data — the column-mapping
    sibling of RENAME (Delta's `ALTER TABLE ... DROP COLUMN` under
    columnMapping.mode=name): the column leaves the LOGICAL schema in one
    manifest publish; its physical JSON key stays in every already-written
    data file, untouched and unread. The physical name is recorded as a
    tombstone (``dropped_physical``) carried by every future commit, so a
    later re-ADD of the same logical name is remapped to a fresh physical
    key at write-plan time — old values can never resurrect under the new
    column (old files lack the fresh key and NULL-fill, Delta's
    fresh-field-id semantics). Time travel to a pre-drop snapshot still
    reads the column; the change feed across the drop stays defined (the
    additive check skips tombstoned physicals).

    Metadata-only: O(1) driver work, no job, no file touched — at 100 TB a
    drop is one manifest publish; reclaiming the dead bytes is a later
    compaction's business, never the DDL's. Returns ``{"new_version",
    "physical_name"}``. Single-writer contract as commit()."""
    manifest = _load_manifest(path)
    pairs = [ddl.split(" ", 1) for ddl in manifest["schema"]]
    names = [n for n, _ in pairs]
    if col not in names:
        raise ValueError(f"drop column not in schema: {col!r}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column of a table")
    generated = dict(manifest.get("generated", {}))
    for gname, (gsrc, _op, _operand) in generated.items():
        if col == gsrc and gname != col:
            raise ValueError(
                f"cannot drop {col!r}: it is the source of generated "
                f"column {gname!r} (drop the generated column first)"
            )
    generated.pop(col, None)  # dropping the generated column drops its rule
    mapping = dict(manifest.get("column_mapping", {}))
    physical = mapping.pop(col, col)
    new_manifest = {
        "files": manifest["files"],
        "total_rows": manifest["total_rows"],
        "schema": [f"{n} {t}" for n, t in pairs if n != col],
        "dropped_physical": list(manifest.get("dropped_physical", []))
        + [physical],
        "version": manifest.get("version", 0) + 1,
    }
    if generated:
        new_manifest["generated"] = generated
    if mapping:
        new_manifest["column_mapping"] = mapping
    if manifest.get("txns"):
        new_manifest["txns"] = manifest["txns"]
    if manifest.get("next_row_id") is not None:
        new_manifest["next_row_id"] = manifest["next_row_id"]
    new_manifest["commit_info"] = {"op": "DROP COLUMN", "column": col}
    _publish_manifest(path, new_manifest)
    return {
        "new_version": new_manifest["version"],
        "physical_name": physical,
    }


def clone_manifest_path(spark, src: str, dst: str) -> dict:
    """SHALLOW CLONE a `json_manifest_sink` table — the Delta `CREATE
    TABLE ... SHALLOW CLONE` primitive: a new table directory whose v1
    manifest lists the SOURCE's current files, materialized as symlinks
    (the shared-filesystem spelling of Delta's absolute-path file
    references; this stack already assumes a shared fs — see the reader
    contract at the top of this module). No data is read or copied —
    clone cost is O(#files) metadata at any table size.

    Divergence is copy-on-write by construction: appends to the clone
    add files in the clone's directory; DELETE writes the clone's own
    DV sidecars; compaction/overwrite/vacuum on the clone remove
    SYMLINKS, never source bytes. The source never observes any clone
    operation. The txn table is NOT carried over (Delta semantics:
    clone resets stream/txn identity — a foreachBatch writer targeting
    the clone is a new application, and inheriting the source's
    high-water marks would silently no-op its first commits).

    HAZARD (exactly Delta's documented shallow-clone hazard): VACUUM on
    the SOURCE can delete files the clone still references, dangling the
    clone's symlinks. Deep-copy the files before vacuuming sources that
    have live clones.

    Returns ``{"files_cloned", "total_rows", "src_version"}``.
    """
    src_manifest = _load_manifest(src)
    _os.makedirs(dst, exist_ok=True)
    if _os.path.exists(_os.path.join(dst, "_MANIFEST.json")):
        raise ValueError(f"clone destination {dst} is already a table")
    for f in src_manifest["files"]:
        for name in (f["name"], f.get("dv")):
            if name is None:
                continue
            _os.symlink(
                _os.path.abspath(_os.path.join(src, name)),
                _os.path.join(dst, name),
            )
    manifest = {
        "files": src_manifest["files"],
        "total_rows": sum(
            f["n_rows"] - f.get("n_deleted", 0)
            for f in src_manifest["files"]
        ),
        "schema": src_manifest["schema"],
        "version": 1,
    }
    if src_manifest.get("column_mapping"):
        manifest["column_mapping"] = src_manifest["column_mapping"]
    if src_manifest.get("dropped_physical"):
        manifest["dropped_physical"] = src_manifest["dropped_physical"]
    if src_manifest.get("generated"):
        manifest["generated"] = src_manifest["generated"]
    if src_manifest.get("next_row_id") is not None:
        manifest["next_row_id"] = src_manifest["next_row_id"]
    manifest["commit_info"] = {
        "op": "CLONE",
        "src_version": src_manifest.get("version", 0),
    }
    _publish_manifest(dst, manifest)
    return {
        "files_cloned": len(src_manifest["files"]),
        "total_rows": manifest["total_rows"],
        "src_version": src_manifest.get("version", 0),
    }


def history_manifest_path(path: str) -> list[dict]:
    """DESCRIBE HISTORY for a `json_manifest_sink` table — one entry per
    RETAINED snapshot, newest first: ``{"version", "op", "total_rows",
    "n_files", **op_metrics}`` (op metrics are the stamp each publish
    wrote: rows_deleted for DELETE, rows_updated/rows_inserted for MERGE,
    restored_from for RESTORE, the column for RENAME/DROP, ...). The
    versioned snapshot IS the commit record (it is claimed atomically at
    publish), so history needs no separate log; VACUUM bounds how far
    back it reaches — a reclaimed snapshot's entry disappears with it,
    exactly Delta's retention-bounded DESCRIBE HISTORY.

    Driver-side O(#retained versions) metadata work; no data file is
    touched at any table size."""
    entries = []
    for name in _os.listdir(path):
        if not (name.startswith("_MANIFEST-v") and name.endswith(".json")):
            continue
        v = int(name[len("_MANIFEST-v"):-len(".json")])
        m = _load_manifest(path, v)
        info = dict(m.get("commit_info") or {"op": "UNKNOWN"})
        entries.append(
            {
                "version": v,
                "op": info.pop("op"),
                "total_rows": m["total_rows"],
                "n_files": len(m["files"]),
                **info,
            }
        )
    return sorted(entries, key=lambda e: -e["version"])


def vacuum_manifest_path(path: str, retain_versions: int = 1) -> dict:
    """Explicit retention reclaim for a `json_manifest_sink` directory —
    the VACUUM half of the s17 time-travel contract (writes never delete
    history; this does, deliberately).

    Keeps the newest ``retain_versions`` manifest snapshots and every data
    file they reference; deletes older _MANIFEST-v{N}.json snapshots, any
    data file no retained snapshot references, and leftover _temp-* spool
    dirs. Driver-side, O(#files) metadata work — no data is read.

    Returns ``{"removed_files", "removed_manifests", "version_floor"}``.
    Same single-writer contract as commit(): do not vacuum concurrently
    with a committing writer.
    """
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    latest = _load_manifest(path)
    n = latest.get("version", 0)
    floor = max(1, n - retain_versions + 1)
    referenced: set = set()

    def _names(m: dict):
        # Data files AND their deletion-vector sidecars: a DV lives and
        # dies with the snapshots that reference it (s19).
        for f in m["files"]:
            yield f["name"]
            if f.get("dv"):
                yield f["dv"]

    for v in range(floor, n + 1):
        try:
            m = _load_manifest(path, v)
        except FileNotFoundError:
            continue  # gap from a prior, deeper vacuum
        referenced |= set(_names(m))
    # The latest pointer's files are always retained, whatever its version
    # field says (defensive: pre-versioning directories have version 0).
    referenced |= set(_names(latest))
    removed_files = removed_manifests = 0
    for name in sorted(_os.listdir(path)):
        full = _os.path.join(path, name)
        if name.startswith("_temp-"):
            _shutil.rmtree(full, ignore_errors=True)
            continue
        if name.startswith("_MANIFEST-v"):
            if not name.endswith(".json"):
                continue  # '.json.tmp' crash remnant: inert, never parsed
            v = int(name[len("_MANIFEST-v"):-len(".json")])
            if v < floor:
                _os.remove(full)
                removed_manifests += 1
            continue
        if name.startswith("_"):
            continue  # latest pointer, .tmp remnants
        if name.endswith(".json") and name not in referenced:
            _os.remove(full)
            removed_files += 1
    return {
        "removed_files": removed_files,
        "removed_manifests": removed_manifests,
        "version_floor": floor,
    }


# ---------------------------------------------------------------------------
# Streaming reads FROM the manifest connector (S23): the lakehouse-ingest
# quadrant — a Structured Streaming source whose OFFSETS ARE MANIFEST
# VERSIONS. Each micro-batch reads exactly the data files added between
# two snapshots (the Delta/Iceberg streaming-source semantics for
# append-only tables), so a downstream pipeline consumes commits
# incrementally and checkpoint recovery is exactly-once by construction:
# a restarted query resumes from the last committed VERSION, never
# re-reading or skipping a commit.
#
# Contract: append-only paths (an overwrite/compaction that removes a
# file raises loudly — at that point a real pipeline re-bootstraps or
# consumes a CDF); DVs added AFTER a row was streamed do not retract it
# (streaming reads are at-commit-time semantics); schema is pinned at
# planning (s20 evolution mid-stream is out of scope).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamReader as _DSSR  # noqa: E402


class ManifestStreamSource(DataSource):
    """`spark.readStream.format("json_manifest_stream_source")` over a
    `json_manifest_sink` directory — micro-batches = manifest commits."""

    @classmethod
    def name(cls) -> str:
        return "json_manifest_stream_source"

    def _manifest(self) -> dict:
        # Loaded ONCE and cached (the JsonManifestSource._manifest rule):
        # schema() and streamReader() are separate planning calls, and a
        # concurrent schema-evolving commit landing between them would
        # pair v(N)'s planned schema with v(N+1)'s field list — every
        # micro-batch would then misbind columns.
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None:
            return cached
        path = self.options.get("path")
        if not path:
            raise ValueError("json_manifest_stream_source requires 'path'")
        self._manifest_cache = _load_manifest(path)
        return self._manifest_cache

    def schema(self) -> str:
        return ", ".join(self._manifest()["schema"])

    def streamReader(self, schema) -> "ManifestStreamReader":
        return ManifestStreamReader(self.options, manifest=self._manifest())


class ManifestStreamReader(_DSSR):
    def __init__(self, options, manifest: dict | None = None) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_manifest_stream_source requires 'path'")
        if manifest is None:
            manifest = _load_manifest(self.path)
        # Physical names drive data access (s33 column mapping).
        cmap = manifest.get("column_mapping", {})
        self.logical = [ddl.split(" ", 1)[0] for ddl in manifest["schema"]]
        self.fields = [cmap.get(c, c) for c in self.logical]
        self.ddl_types = [ddl.split(" ", 1)[1] for ddl in manifest["schema"]]

    def initialOffset(self) -> dict:
        return {"version": 0}  # before the first commit: stream everything

    def latestOffset(self) -> dict:
        # Stateless: the current manifest version. Correct across restarts
        # (Spark supplies the start offset from its checkpoint; pacing
        # state held here would desync from it).
        return {"version": _load_manifest(self.path)["version"]}

    def _files_at(self, version: int) -> dict:
        if version <= 0:
            return {}
        try:
            m = _load_manifest(self.path, version)
        except FileNotFoundError:
            # The checkpointed offset points at a vacuumed snapshot: a
            # contract error, not a raw IO crash — retention must cover
            # every version an active stream may resume from.
            raise ValueError(
                f"json_manifest_stream_source: snapshot v{version} has "
                "been vacuumed; keep retain_versions covering the oldest "
                "checkpointed stream offset, or restart the stream with a "
                "fresh checkpoint to re-bootstrap"
            ) from None
        return {f["name"]: f for f in m["files"]}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        old = self._files_at(lo)
        new = self._files_at(hi)
        missing = sorted(set(old) - set(new))
        if missing:
            raise ValueError(
                "json_manifest_stream_source requires an append-only "
                f"path; files removed between v{lo} and v{hi}: {missing}"
            )
        added = sorted(set(new) - set(old))
        if not added:  # no-data batch: Spark still needs >= 1 partition
            return [InputPartition((None,))]
        return [InputPartition((name,)) for name in added]

    def read(self, partition: InputPartition):  # executor-side
        (name,) = partition.value
        if name is None:
            return
        tbl = _read_data_file_table(
            self.path, name, self.fields, self.ddl_types
        )
        if tbl is not None:
            yield from (
                tbl.rename_columns(self.logical).combine_chunks().to_batches()
            )
            return
        with open(
            _os.path.join(self.path, name), encoding="utf-8"
        ) as fh:
            for line in fh:
                vals = _json.loads(line)
                yield tuple(vals.get(c) for c in self.fields)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to reclaim


# ---------------------------------------------------------------------------
# STREAMING CHANGE DATA FEED (t27): `spark.readStream.format(
# "json_manifest_cdf_stream_source")` — the Delta `readChangeFeed`
# streaming shape. Offsets are manifest versions (the s23 machinery), but
# each micro-batch carries the ROW-LEVEL CHANGES between two snapshots
# (`_change_type` = insert | delete, deletes as CDC pre-images) instead of
# only appended files — so DELETE (s19) and MERGE (s22) commits flow to
# downstream consumers, and an incremental view (d97) can be maintained
# from the stream. Unlike the append-only s23 source, a compaction is NOT
# an error here: it streams as delete+reinsert churn that cancels in any
# additive consumer. Requires retain_history writes: every snapshot an
# active checkpoint may resume from must still exist (vacuumed -> loud
# ValueError, the s23 contract).
# ---------------------------------------------------------------------------


class ManifestCDFStreamSource(DataSource):
    """Streaming change-data-feed over a `json_manifest_sink` directory —
    micro-batches = row-level changes between manifest versions."""

    @classmethod
    def name(cls) -> str:
        return "json_manifest_cdf_stream_source"

    def _manifest(self) -> dict:
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None:
            return cached
        path = self.options.get("path")
        if not path:
            raise ValueError("json_manifest_cdf_stream_source requires 'path'")
        self._manifest_cache = _load_manifest(path)
        return self._manifest_cache

    def schema(self) -> str:
        ddl = ", ".join(self._manifest()["schema"]) + ", _change_type string"
        # Per-commit attribution (s38's streaming twin, t33): each change
        # row carries the version of the commit that produced it, so a
        # multi-version catch-up batch no longer nets out intermediate
        # churn and consumers can replay commits in order.
        if str(self.options.get("per_commit", "false")).lower() in (
            "true",
            "1",
        ):
            ddl += ", _commit_version bigint"
        return ddl

    def streamReader(self, schema) -> "ManifestCDFStreamReader":
        return ManifestCDFStreamReader(self.options, manifest=self._manifest())


class ManifestCDFStreamReader(_DSSR):
    def __init__(self, options, manifest: dict | None = None) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("json_manifest_cdf_stream_source requires 'path'")
        if manifest is None:
            manifest = _load_manifest(self.path)
        # Fields pinned at planning under the LATEST schema (the s20
        # superset): older epochs NULL-fill added columns, exactly as the
        # batch feed does (non-additive changes raise in _cdf_tasks).
        # Physical names (s33): renames never change disk keys.
        self.logical, self.fields, self.casts = _schema_fields_casts(manifest)
        self.ddl_types = [ddl.split(" ", 1)[1] for ddl in manifest["schema"]]
        self.per_commit = str(
            options.get("per_commit", "false")
        ).lower() in ("true", "1")

    def initialOffset(self) -> dict:
        return {"version": 0}  # bootstrap: the whole table as inserts

    def latestOffset(self) -> dict:
        return {"version": _load_manifest(self.path)["version"]}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if lo == hi:  # Spark plans empty (start == end) batches routinely
            return [InputPartition(None)]
        try:
            if self.per_commit:
                tasks = []
                for v in range(lo, hi):
                    t_v, _ = _cdf_tasks(self.path, v, v + 1)
                    tasks += [
                        (n, m, pos, kind, v + 1) for n, m, pos, kind in t_v
                    ]
            else:
                t0, _ = _cdf_tasks(self.path, lo, hi)
                tasks = [(n, m, pos, kind, None) for n, m, pos, kind in t0]
        except FileNotFoundError:
            raise ValueError(
                f"json_manifest_cdf_stream_source: a snapshot in (v{lo}, "
                f"v{hi}] has been vacuumed; keep retain_versions covering "
                "the oldest checkpointed stream offset, or restart with a "
                "fresh checkpoint to re-bootstrap"
            ) from None
        if not tasks:  # no-data batch: Spark still needs >= 1 partition
            return [InputPartition(None)]
        # Positions ship as a sorted tuple: InputPartition pickles to the
        # executor, and a frozenset's pickle is order-unstable across runs.
        return [
            InputPartition((name, mode, tuple(sorted(pos)), kind, ver))
            for name, mode, pos, kind, ver in tasks
        ]

    def read(self, partition: InputPartition):  # executor-side
        if partition.value is None:
            return
        name, mode, positions, kind, ver = partition.value
        # ver is non-None exactly when per_commit declared the
        # _commit_version column, so the batch schema stays in lockstep.
        batches = _cdf_file_batches(
            self.path, name, mode, positions, self.fields, self.ddl_types,
            self.logical, kind, ver=ver,
        )
        if batches is not None:
            yield from batches
            return
        rows = _scan_file_changes(
            self.path, name, mode, frozenset(positions),
            self.fields, self.casts, kind,
        )
        if ver is None:
            yield from rows
        else:
            for r in rows:
                yield r + (ver,)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to reclaim
