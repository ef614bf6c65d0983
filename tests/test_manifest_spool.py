"""The manifest connector's one spool (``python_source._Spool``), in process.

The spool applies generated columns, the planted poison and CHECK
constraints column at a time, and runs the exact Python rules only on the
rows its masks flag. These tests call it directly on pyarrow batches (no
Spark job) and hold it to a plain row loop: the same spooled rows, zone
stats and blooms, and on a failing rule the same exception type and
message, raised for the same first offending row.
"""

from __future__ import annotations

import json
import math
import os
import tempfile

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lime_on_spark_spark.sources.python_source import (
    _GEN_OPS,
    _ROW_TESTS,
    JsonManifestWriter,
    _bloom_bit_positions,
    _Spool,
)

BITS, K = 64, 3


def _reference(batches, fields, generated, poison, checks, colmap, blooms):
    """Row-at-a-time reference: (rows, stats, blooms) or the exception."""
    rows, mins, maxs, nans, partial = [], {}, {}, set(), set()
    bits = {colmap.get(c, c): bytearray(BITS // 8) for c in blooms}
    for vals in (r for b in batches for r in b.to_pylist()):
        for g, (src, op, operand) in generated.items():
            e = None if vals.get(src) is None else _GEN_OPS[op](vals[src], operand)
            if vals.get(g) is not None and vals[g] != e:
                raise ValueError(
                    f"generated column violation: {g} = {vals[g]!r} but {src} {op} {operand} = {e!r}"
                )
            if e is not None and not -(2**63) <= e < 2**63:
                raise ValueError(
                    f"generated column overflow: {g} = {src} {op} {operand} = {e!r} does not fit bigint"
                )
            vals[g] = e
        if poison is not None and vals[fields[0]] == poison:
            raise RuntimeError(f"planted failure on {fields[0]}={poison}")
        for col, tag, bound in checks:
            if vals.get(col) is not None and not _ROW_TESTS[tag](vals[col], bound):
                raise ValueError(
                    f"check constraint violated: {col} {tag} {bound!r} fails for row {vals!r}"
                )
        vals = {colmap.get(k, k): v for k, v in vals.items()}
        rows.append(vals)
        for k, v in vals.items():
            if k in bits and v is not None and (type(v) is bool or isinstance(v, float)):
                partial.add(k)
            elif k in bits and v is not None:
                for pos in _bloom_bit_positions(k, v, BITS, K):
                    bits[k][pos // 8] |= 1 << (pos % 8)
            if v is None or type(v) is bool:
                continue
            if v != v:
                nans.add(k)
            else:
                mins[k] = v if k not in mins or v < mins[k] else mins[k]
                maxs[k] = v if k not in maxs or v > maxs[k] else maxs[k]
    phys = [colmap.get(c, c) for c in fields]
    stats = {k: {"min": mins.get(k), "max": maxs.get(k), "has_nan": k in nans} for k in phys}
    return rows, stats, {
        c: {"m": BITS, "k": K, "partial": c in partial, "bits": bytes(b).hex()}
        for c, b in bits.items()
    }


def _spool(batches, fields, generated, poison, checks, colmap, blooms):
    spool = _Spool(
        fields, generated=generated, poison=poison, checks=checks,
        colmap=colmap, bloom_columns=blooms, bloom_bits=BITS, bloom_k=K,
    )
    with tempfile.TemporaryDirectory() as d:
        temp = os.path.join(d, "part.json")
        n, stats, bloom = spool.to_file(iter(batches), temp)
        with open(temp, encoding="utf-8") as fh:
            rows = [json.loads(line) for line in fh]
    assert n == len(rows)
    return rows, stats, bloom


def _outcome(fn, *args):
    try:
        rows, stats, blooms = fn(*args)
    except Exception as exc:  # noqa: BLE001 — type and message compared
        return type(exc), str(exc)
    # json.dumps spells NaN alike on both sides and keeps key order.
    return json.dumps(rows), stats, blooms


def _batch(cols: dict) -> pa.RecordBatch:
    types = {"i": pa.int64(), "x": pa.float64(), "s": pa.string(), "g": pa.int64()}
    return pa.RecordBatch.from_arrays(
        [pa.array(v, types[k]) for k, v in cols.items()], names=list(cols)
    )


_BIG = [2**53, 2**53 + 1, -(2**53) - 1, 2**62, -(2**63), 2**63 - 1]
_ints = st.one_of(st.none(), st.integers(-20, 20), st.sampled_from(_BIG))
_floats = st.one_of(
    st.none(),
    st.sampled_from([math.nan, 0.0, -0.0, math.inf, -math.inf]),
    st.floats(-10, 10, allow_nan=False),
)
_strs = st.one_of(st.none(), st.sampled_from(["", "a", "b", "é", "zz"]))
_bounds = {
    "i": st.sampled_from([0, -5, 3, 2.5, -2.5, 9007199254740992.0, 2**53 + 1, "a"]),
    "x": st.sampled_from([0.0, -0.0, 0, 1.5, math.nan, math.inf, "a"]),
    "s": st.sampled_from(["a", "b", "", 1]),
    "g": st.sampled_from([0, 1, -2, 2.5]),
}


@st.composite
def _cases(draw):
    has_g = draw(st.booleans())
    gen = draw(st.one_of(st.none(), st.tuples(
        st.sampled_from(sorted(_GEN_OPS)), st.sampled_from([-3, -1, 2, 7])
    )))
    names = ["i", "x", "s"] + (["g"] if has_g else [])
    batches = []
    for _ in range(draw(st.integers(1, 3))):
        n = draw(st.integers(0, 5))
        vals = {"i": _ints, "x": _floats, "s": _strs, "g": _ints}
        batches.append(_batch({
            c: draw(st.lists(vals[c], min_size=n, max_size=n)) for c in names
        }))
    generated = {} if gen is None else {"g": ["i", gen[0], gen[1]]}
    fields = names + ([] if has_g or gen is None else ["g"])
    check_cols = st.sampled_from([c for c in ("i", "x", "s", "g") if c in fields])
    checks = []
    for col in draw(st.lists(check_cols, max_size=2)):
        tag = draw(st.sampled_from(sorted(_ROW_TESTS)))
        checks.append((col, tag, draw(_bounds[col])))
    poison = draw(st.one_of(st.none(), st.sampled_from([0, 3, 2**53 + 1])))
    colmap = draw(st.sampled_from([{}, {"x": "x#1", "g": "g#2"}]))
    blooms = draw(st.sets(st.sampled_from(fields)))
    return batches, fields, generated, poison, checks, colmap, sorted(blooms)


@settings(max_examples=300, deadline=None)
@given(case=_cases())
@example(case=(  # two rules fail on different rows; neither is the first row
    [_batch({"i": [1, 2], "x": [0.5, 1.0], "s": ["a", "b"]}),
     _batch({"i": [4, 3, 5], "x": [-1.0, 2.0, 0.0], "s": ["c", None, "d"]})],
    ["i", "x", "s", "g"], {"g": ["i", "mod", 2]}, 3,
    [("x", "ge", 0.0)], {"x": "x#1"}, ["i", "s"],
))
def test_spool_matches_the_row_loop(case):
    assert _outcome(_spool, *case) == _outcome(_reference, *case)


@pytest.mark.parametrize(
    "rows, want",
    [
        # The CHECK fails on the second batch's first row, the poison on
        # its second row: the earlier row wins.
        (
            {"i": [1, 2, 4, 3], "x": [0.5, 1.0, -1.0, 2.0]},
            (ValueError, "check constraint violated: x ge 0.0 fails for row "
             "{'i': 4, 'x': -1.0, 'g': 0}"),
        ),
        # Same rules, the poison row now comes first.
        (
            {"i": [1, 3, 4], "x": [0.5, 2.0, -1.0]},
            (RuntimeError, "planted failure on i=3"),
        ),
        # One row breaks the generated rule and the CHECK: the generated
        # rule is checked first.
        (
            {"i": [1, 5], "x": [0.5, -1.0], "g": [1, 0]},
            (ValueError, "generated column violation: g = 0 but i mod 2 = 1"),
        ),
        # int64 wrap-around is refused, not spooled.
        (
            {"i": [1, 2**62], "x": [0.5, 0.5]},
            (ValueError, "generated column overflow: g = i mul 4 = "
             "18446744073709551616 does not fit bigint"),
        ),
    ],
    ids=["check-first", "poison-first", "generated-before-check", "overflow"],
)
def test_first_failing_row_raises_its_message(rows, want):
    op = "mul" if want[1].startswith("generated column overflow") else "mod"
    operand = 4 if op == "mul" else 2
    head = {k: v[:2] for k, v in rows.items()}
    tail = {k: v[2:] for k, v in rows.items()}
    case = (
        [_batch(head), _batch(tail)], ["i", "x", "g"], {"g": ["i", op, operand]},
        3, [("x", "ge", 0.0)], {}, [],
    )
    assert _outcome(_spool, *case) == want == _outcome(_reference, *case)


def _schema(**types):
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(n, t) for n, t in types.items()])


@pytest.mark.parametrize(
    "spark_type, ddl",
    [
        ("DateType", "date"),
        ("TimestampType", "timestamp"),
        ("DecimalType", "decimal(10,0)"),
        ("BinaryType", "binary"),
    ],
)
def test_writer_refuses_unreadable_types(tmp_path, spark_type, ddl):
    from pyspark.sql import types as T

    schema = _schema(i=T.LongType(), c=getattr(T, spark_type)())
    with pytest.raises(ValueError) as err:
        JsonManifestWriter({"path": str(tmp_path / "t")}, schema)
    assert str(err.value).startswith(
        f"json_manifest_sink cannot store column 'c' of type {ddl}: "
    )


def test_writer_refuses_a_non_integer_generated_source(tmp_path):
    from pyspark.sql import types as T

    schema = _schema(i=T.LongType(), v=T.DoubleType())
    opts = {"path": str(tmp_path / "t"), "generated_columns": '{"g": ["v", "mul", 2]}'}
    with pytest.raises(ValueError) as err:
        JsonManifestWriter(opts, schema)
    assert str(err.value) == (
        "generated column 'g' needs an integer source column; 'v' is double"
    )
    opts["generated_columns"] = '{"g": ["i", "mul", 2]}'
    JsonManifestWriter(opts, schema)  # an integer source is fine
    opts["generated_columns"] = '{"g": ["i", "mul", 1180591620717411303424]}'
    with pytest.raises(ValueError) as err:
        JsonManifestWriter(opts, schema)
    assert str(err.value) == (
        "generated column operand must fit bigint: 1180591620717411303424"
    )


def test_reader_parses_a_line_longer_than_a_default_block(tmp_path):
    """A row longer than pyarrow's 1 MiB default JSON block (a long
    document body) still reads back: the reader parses each file as one
    block, and there is no row-at-a-time reader to fall back to."""
    from lime_on_spark_spark.sources.python_source import _read_data_file_table

    body = "x" * (3 << 20)
    batch = pa.RecordBatch.from_pydict({"i": [1, 2], "s": [body, "y"]})
    _Spool(["i", "s"]).to_file([batch], str(tmp_path / "part.json"))
    tbl = _read_data_file_table(str(tmp_path), "part.json", ["i", "s"], ["bigint", "string"])
    assert tbl.to_pydict() == {"i": [1, 2], "s": [body, "y"]}
