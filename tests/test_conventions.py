"""Static oracle-SQL convention checks (no Spark session needed).

Enforces the registry.py docstring rule born from the r13 driver-red
``a19_decimal_money``: a SUM/AVG over a DECIMAL expression widens past 18
digits (DuckDB: SUM(DECIMAL) -> DECIMAL(38,s); Spark: precision+10), and
DuckDB's pandas client demotes any DECIMAL wider than 18 digits to
float64 on fetch while Spark returns exact ``decimal.Decimal`` objects.
The driver's value hash type-tags Decimal vs float, so such a pair fails
even when numerically identical.  Rule: every SUM/AVG whose argument
involves a DECIMAL cast must be wrapped in a CAST/TRY_CAST to a
NON-DECIMAL type — ``AS VARCHAR(n)`` (digit-exact) or ``AS DOUBLE``
(float on both sides).  ROUND is NOT a guard: DuckDB's
``ROUND(DECIMAL, n)`` returns ``DECIMAL(38, s)`` (probed), which the
client still demotes — the exact hazard, one wrapper deeper.  Nor is a
CAST back to a DECIMAL type.  This static pass is defense-in-depth; the
runtime referee is tests/compare.py's Decimal-vs-float kind check, which
sweeps every oracle pair at three SFs.
"""

from __future__ import annotations

import re

from lime_on_spark_spark.plans import registry

_AGG_RE = re.compile(r"\b(SUM|AVG)\s*\(", re.IGNORECASE)

#: Cast target types that neutralise the decimal-width boundary hazard.
_SAFE_TARGET = re.compile(
    r"\bAS\s+(VARCHAR|CHAR|TEXT|STRING|DOUBLE|FLOAT|REAL|BIGINT|INTEGER|INT)\b",
    re.IGNORECASE,
)


def _balanced_arg(sql: str, open_idx: int) -> str:
    """Return the text inside the paren opening at ``open_idx``."""
    depth = 0
    for i in range(open_idx, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return sql[open_idx + 1 : i]
    return sql[open_idx + 1 :]


def _enclosing_calls(sql: str, pos: int) -> list[tuple[str, int]]:
    """(name, open-paren index) of calls whose parens are open at ``pos``."""
    stack: list[tuple[str, int]] = []
    for m in re.finditer(r"[()]", sql[:pos]):
        if m.group() == "(":
            prefix = sql[: m.start()].rstrip()
            word = re.search(r"([A-Za-z_][A-Za-z_0-9]*)\s*$", prefix)
            stack.append((word.group(1).upper() if word else "", m.start()))
        elif stack:
            stack.pop()
    return stack


def _cast_guards(sql: str, pos: int) -> bool:
    """True iff some enclosing CAST/TRY_CAST targets a non-DECIMAL type.

    The target type is the LAST depth-0 ``AS <type>`` inside the cast's
    balanced argument; a cast back to DECIMAL/NUMERIC does not guard.
    """
    for name, open_idx in _enclosing_calls(sql, pos):
        if name not in ("CAST", "TRY_CAST"):
            continue
        arg = _balanced_arg(sql, open_idx)
        # Strip nested parens so inner `AS DECIMAL(18,2)` casts don't
        # shadow the OUTER cast's own target.
        depth, flat = 0, []
        for ch in arg:
            depth += ch == "("
            if depth == 0:
                flat.append(ch)
            depth -= ch == ")"
        targets = list(_SAFE_TARGET.finditer("".join(flat)))
        if targets:
            return True
    return False


def _unguarded_decimal_aggs(sql: str) -> list[str]:
    """SUM/AVG calls over DECIMAL expressions not under a non-decimal cast."""
    bad: list[str] = []
    for m in _AGG_RE.finditer(sql):
        open_idx = sql.index("(", m.end() - 1)
        arg = _balanced_arg(sql, open_idx)
        if "DECIMAL" not in arg.upper():
            continue
        if not _cast_guards(sql, m.start()):
            bad.append(sql[m.start() : open_idx + 1] + arg[:60] + "...)")
    return bad


def test_no_oracle_returns_wide_decimal():
    offenders = {
        name: bad
        for name, sql in registry.oracle_sql().items()
        if (bad := _unguarded_decimal_aggs(sql))
    }
    assert not offenders, (
        "oracles with SUM/AVG over DECIMAL not wrapped in a cast to a "
        "non-decimal type (DuckDB demotes DECIMAL>18 to float64; the "
        f"driver hash type-tags Decimal vs float): {offenders}"
    )


def test_scanner_catches_the_a19_class():
    # The exact shape that was driver-red in r13 must be flagged...
    red = """
    SELECT l_returnflag,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross
    FROM lineitem GROUP BY l_returnflag
    """
    assert _unguarded_decimal_aggs(red)
    # ...as must the one-wrapper-deeper variants that still return a bare
    # wide DECIMAL: ROUND (DuckDB ROUND(DECIMAL) stays DECIMAL(38,s)) and
    # a cast BACK to decimal.
    still_red = """
    SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 6) AS g,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,4)) AS h
    FROM lineitem
    """
    assert len(_unguarded_decimal_aggs(still_red)) == 2
    # The fixed shapes pass: a string-cast boundary, a double cast, and a
    # decimal-free SUM.
    green = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS VARCHAR(64)) AS g,
           CAST(AVG(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS d,
           SUM(l_quantity) AS q
    FROM lineitem
    """
    assert not _unguarded_decimal_aggs(green)


# ------------------------------------------------ one session memo

#: Modules whose f-strings may embed the applicationId to make per-run
#: names (checkpoint dirs, sink tables) unique. Everything keyed on the
#: application lives in session.py's ``session_memo``.
_UNIQUE_NAME_MODULES = frozenset({
    "plans/streaming_plans.py",
    "plans/sources_sinks.py",
    "plans/datapipe.py",
    "streaming/sources.py",
})


def _application_id_uses(source: str, rel: str) -> list[str]:
    """``applicationId`` uses in code (comments and docstrings are not
    code) other than an f-string in one of the unique-name modules."""
    import ast

    tree = ast.parse(source)
    in_fstring = {
        id(node)
        for joined in ast.walk(tree)
        if isinstance(joined, ast.JoinedStr)
        for node in ast.walk(joined)
    }
    bad = []
    for node in ast.walk(tree):
        named = (
            isinstance(node, ast.Attribute) and node.attr == "applicationId"
        ) or (isinstance(node, ast.Constant) and node.value == "applicationId")
        if named and not (rel in _UNIQUE_NAME_MODULES and id(node) in in_fstring):
            bad.append(f"{rel}:{node.lineno}")
    return bad


def test_application_keyed_state_only_in_session_memo():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for path in sorted(root.rglob("*.py"))
        if (rel := path.relative_to(root).as_posix()) != "session.py"
        for use in _application_id_uses(path.read_text(), rel)
    ]
    assert not offenders, (
        "applicationId used outside session.session_memo and the per-run "
        f"unique-name f-strings — memoize through session_memo: {offenders}"
    )


def test_application_id_scanner_catches_a_hand_rolled_memo():
    memo = (
        "_C = {}\n"
        "def f(spark, sf_dir):\n"
        "    key = (spark.sparkContext.applicationId, sf_dir)  # memo\n"
    )
    assert _application_id_uses(memo, "plans/vectors.py") == ["plans/vectors.py:3"]
    # Even a unique-name module may not key state on it outside an f-string.
    assert _application_id_uses(memo, "plans/datapipe.py")
    fstring = 'u = f"{spark.sparkContext.applicationId}-x"  # applicationId\n'
    assert not _application_id_uses(fstring, "plans/datapipe.py")
    assert _application_id_uses(fstring, "plans/vectors.py")
    assert not _application_id_uses('"""applicationId + uuid."""\n', "x.py")


# ------------------------------------------------ the LIME fit pass


def _grouped_fit_calls(source: str, rel: str) -> list[str]:
    """``applyInPandas`` calls whose arguments reach ``_fit_group``: the
    per-call shuffle that ``explain._fit_pass`` replaces."""
    import ast

    bad = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandas"
            and any(
                (isinstance(sub, ast.Name) and sub.id == "_fit_group")
                or (isinstance(sub, ast.Attribute) and sub.attr == "_fit_group")
                for arg in [*node.args, *node.keywords]
                for sub in ast.walk(arg)
            )
        ):
            bad.append(f"{rel}:{node.lineno}")
    return bad


def test_lime_fits_do_not_group_by_instance():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for path in sorted(root.rglob("*.py"))
        for use in _grouped_fit_calls(
            path.read_text(), path.relative_to(root).as_posix()
        )
    ]
    assert not offenders, (
        "groupBy(...).applyInPandas(_fit_group) shuffles neighborhoods the "
        f"sampler already emits as contiguous runs — use explain._fit_pass: {offenders}"
    )


def test_grouped_fit_scanner_catches_a_planted_call():
    planted = (
        "from lime_on_spark_spark.lime import explain\n"
        "def f(weighted, k):\n"
        "    return weighted.groupBy('instance_id').applyInPandas(\n"
        "        lambda pdf: explain._fit_group(pdf, k, 1.0, with_words=False),\n"
        "        schema=explain.TABULAR_SCHEMA,\n"
        "    )\n"
        "def g(w):\n"
        "    return w.groupBy('i').applyInPandas(func=_fit_group, schema='x int')\n"
    )
    assert _grouped_fit_calls(planted, "plans/x.py") == ["plans/x.py:3", "plans/x.py:8"]
    # A mention outside an applyInPandas call (a comment, the adapter itself,
    # another grouped function) is not the shuffle.
    clean = (
        "# applyInPandas(_fit_group) was the old shape\n"
        "def _fit_group(pdf):\n"
        "    return pdf\n"
        "def h(w, fit):\n"
        "    return w.groupBy('i').applyInPandas(fit, schema='x int')\n"
    )
    assert not _grouped_fit_calls(clean, "plans/x.py")


# ------------------------------------------------ one Lloyd loop


def _lloyd_argmin_functions(source: str, rel: str) -> list[str]:
    """Functions holding a Lloyd argmin ``F.min(F.struct("dist", "cid", ...))``,
    named ``rel:function``; each function is listed once."""
    import ast

    def is_argmin(node) -> bool:
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "min"
            and node.args
            and isinstance(node.args[0], ast.Call)
        ):
            return False
        inner = node.args[0]
        name = getattr(inner.func, "attr", getattr(inner.func, "id", None))
        keys = [a.value for a in inner.args[:2] if isinstance(a, ast.Constant)]
        return name == "struct" and keys == ["dist", "cid"]

    found: list[str] = []

    def visit(node, owner: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        elif is_argmin(node) and f"{rel}:{owner}" not in found:
            found.append(f"{rel}:{owner}")
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(source), None)
    return found


def test_one_lloyd_argmin_in_the_package():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    owners = [
        owner
        for path in sorted(root.rglob("*.py"))
        for owner in _lloyd_argmin_functions(
            path.read_text(), path.relative_to(root).as_posix()
        )
    ]
    assert len(owners) == 1, (
        "the Lloyd argmin min(struct(dist, cid, ...)) must live in one "
        f"function — call pq._lloyd instead of copying the loop: {owners}"
    )


def test_lloyd_argmin_scanner_catches_a_planted_copy():
    planted = (
        "from pyspark.sql import functions as F\n"
        "def train(svf):\n"
        "    upd = svf.groupBy('vec_id').agg(F.min(F.struct('dist', 'cid', 'sv')))\n"
        "    return svf.groupBy('vec_id').agg(F.min(F.struct('dist', 'cid')))\n"
        "def copied_kmeans(embd):\n"
        "    def assign(scored):\n"
        "        return scored.agg(F.min(F.struct('dist', 'cid', 'v')).alias('m'))\n"
        "    return assign(embd)\n"
    )
    assert _lloyd_argmin_functions(planted, "operators/x.py") == [
        "operators/x.py:train",
        "operators/x.py:assign",
    ]
    # Other argmins (other keys, another order) and mentions in comments or
    # strings are not the Lloyd loop.
    clean = (
        "# F.min(F.struct('dist', 'cid')) was copied here once\n"
        "def nearest(df):\n"
        "    doc = \"F.min(F.struct('dist', 'cid'))\"\n"
        "    best = F.min(F.struct('score', 'id'))\n"
        "    return df.agg(best, F.min(F.struct('cid', 'dist')))\n"
    )
    assert not _lloyd_argmin_functions(clean, "operators/x.py")


def _clustering_imports(source: str, rel: str) -> list[str]:
    """``rel:line`` of every import of ``pyspark.ml.clustering``: ``import``
    of it or a submodule, ``from`` it, or ``from pyspark.ml import
    clustering``."""
    import ast

    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module, *(f"{node.module}.{a.name}" for a in node.names)]
        else:
            continue
        if any(
            n == "pyspark.ml.clustering" or n.startswith("pyspark.ml.clustering.")
            for n in names
        ):
            found.append(f"{rel}:{node.lineno}")
    return found


def test_no_mllib_clustering_in_the_package():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for path in sorted(root.rglob("*.py"))
        for use in _clustering_imports(
            path.read_text(), path.relative_to(root).as_posix()
        )
    ]
    assert not offenders, (
        "k-means is pq._lloyd (kmeans._kmeans for one subspace); MLlib's "
        f"clustering is a second k-means mechanism: {offenders}"
    )


def test_clustering_import_scanner_catches_a_planted_import():
    planted = (
        "import pyspark.ml.clustering\n"
        "import numpy as np, pyspark.ml.clustering as cl\n"
        "def build(df):\n"
        "    from pyspark.ml.clustering import KMeans\n"
        "    from pyspark.ml import clustering, feature\n"
        "    return KMeans(k=4).fit(df)\n"
    )
    assert _clustering_imports(planted, "operators/x.py") == [
        "operators/x.py:1", "operators/x.py:2",
        "operators/x.py:4", "operators/x.py:5",
    ]
    # Other pyspark.ml modules and mentions in comments or strings are not
    # imports of the clustering module.
    clean = (
        "# from pyspark.ml.clustering import KMeans was here once\n"
        "from pyspark.ml import feature\n"
        "from pyspark.ml.feature import MinHashLSH\n"
        "from .clustering import cluster_ids\n"
        "doc = 'import pyspark.ml.clustering'\n"
    )
    assert not _clustering_imports(clean, "operators/x.py")


# ------------------------------------------------ one manifest codec

#: Functions of sources/python_source.py that open manifests, the stream
#: manifest and deletion vectors — metadata, not data files.
_MANIFEST_IO = frozenset({
    "_load_manifest",
    "_load_dv",
    "_publish_manifest",
    "_add_dv",
    "JsonManifestStreamWriter.commit",
})


def _file_io(source: str) -> dict[str, list[str]]:
    """The functions (``Class.method`` names) of a module that read files
    (``open`` in a read mode, pyarrow's ``read_json``), open files for
    writing, or write lines (a ``.write(...)`` call), per role."""
    import ast

    found: dict[str, set] = {"read": set(), "open-write": set(), "write": set()}

    def visit(node, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            owner = f"{owner}.{node.name}" if owner else node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "open":
                mode = node.args[1] if len(node.args) > 1 else next(
                    (k.value for k in node.keywords if k.arg == "mode"), None
                )
                mode = mode.value if isinstance(mode, ast.Constant) else "r"
                found["open-write" if set(mode) & set("wax+") else "read"].add(owner)
            elif name == "read_json":
                found["read"].add(owner)
            elif name == "write" and isinstance(f, ast.Attribute):
                found["write"].add(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(source), "")
    return {role: sorted(owners) for role, owners in found.items()}


def test_one_data_file_reader_and_one_spool_writer():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    io = _file_io((root / "sources" / "python_source.py").read_text())
    data = {role: [f for f in fs if f not in _MANIFEST_IO] for role, fs in io.items()}
    assert data == {
        "read": ["_read_data_file_table"],
        "open-write": ["_Spool.to_file"],
        "write": ["_spool_plain_batch"],
    }, (
        "json_manifest data files are read only by _read_data_file_table "
        f"and written only through _Spool: {data}"
    )


def test_file_io_scanner_catches_a_planted_twin():
    planted = (
        "import json, pyarrow.json as paj\n"
        "def _read_data_file_table(p):\n"
        "    return paj.read_json(p)\n"
        "class Reader:\n"
        "    def _read_rows(self, p):\n"
        "        with open(p, encoding='utf-8') as fh:\n"
        "            return [json.loads(line) for line in fh]\n"
        "def _spool_rows(rows, p):\n"
        "    with open(p, mode='wb') as fh:\n"
        "        for r in rows:\n"
        "            fh.write(json.dumps(r).encode())\n"
    )
    assert _file_io(planted) == {
        "read": ["Reader._read_rows", "_read_data_file_table"],
        "open-write": ["_spool_rows"],
        "write": ["_spool_rows"],
    }


def _commit_sites(source: str) -> dict[str, list[str]]:
    """The functions (``Class.method`` names) of a module that call
    ``_publish_manifest`` and that build a ``commit_info`` record (a
    ``["commit_info"]`` store, a ``"commit_info"`` dict key or a
    ``commit_info=`` keyword)."""
    import ast

    found: dict[str, set] = {"publish": set(), "commit_info": set()}

    def visit(node, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            owner = f"{owner}.{node.name}" if owner else node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "_publish_manifest":
                found["publish"].add(owner)
            if any(k.arg == "commit_info" for k in node.keywords):
                found["commit_info"].add(owner)
        keys = []
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
            keys = [node.slice]
        elif isinstance(node, ast.Dict):
            keys = node.keys
        if any(isinstance(k, ast.Constant) and k.value == "commit_info" for k in keys):
            found["commit_info"].add(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(source), "")
    return {role: sorted(owners) for role, owners in found.items()}


def test_one_commit_path_for_every_manifest_snapshot():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    sites = _commit_sites((root / "sources" / "python_source.py").read_text())
    assert sites == {
        "publish": ["_commit_snapshot"],
        "commit_info": ["_commit_snapshot"],
    }, (
        "every json_manifest snapshot is built and published by "
        f"_commit_snapshot; pass it what the operation changes: {sites}"
    )


def test_commit_scanner_catches_a_planted_copy():
    planted = (
        "def _commit_snapshot(path, prior, info):\n"
        "    manifest = dict(prior)\n"
        "    manifest['commit_info'] = info\n"
        "    _publish_manifest(path, manifest)\n"
        "class Writer:\n"
        "    def commit(self, m):\n"
        "        m = {'files': [], 'commit_info': {'op': 'APPEND'}}\n"
        "        mod._publish_manifest(self.path, m)\n"
        "def clone(src, dst):\n"
        "    return dict(src, commit_info={'op': 'CLONE'})\n"
    )
    assert _commit_sites(planted) == {
        "publish": ["Writer.commit", "_commit_snapshot"],
        "commit_info": ["Writer.commit", "_commit_snapshot", "clone"],
    }
    # Reading a record, defining the publisher and mentions in comments or
    # strings are not a second commit path.
    clean = (
        "# manifest['commit_info'] = info; _publish_manifest(p, m)\n"
        "def _publish_manifest(path, manifest):\n"
        "    return manifest.get('commit_info')\n"
        "def history(m):\n"
        "    doc = \"_publish_manifest(path, {'commit_info': 1})\"\n"
        "    return m['commit_info']['op'], dict(m.get('commit_info') or {})\n"
    )
    assert _commit_sites(clean) == {"publish": [], "commit_info": []}


# ------------------------------------------------ bounded driver actions

#: Driver actions: these with no argument, and ``take`` with an integer
#: literal (pyarrow's ``take(indices)`` in the samplers is not a Spark
#: action).
_ACTIONS = frozenset({"collect", "first", "toPandas", "count"})


def _unbounded_actions(source: str, rel: str) -> list[str]:
    """Driver actions without a ``# bounded: <why>`` comment on a line of
    the call, from the method name to the closing parenthesis."""
    import ast
    import io
    import tokenize

    comments = {
        tok.start[0]: tok.string
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type == tokenize.COMMENT
    }
    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name, args = node.func.attr, [*node.args, *node.keywords]
        if name == "take":
            action = len(args) == 1 and isinstance(args[0], ast.Constant) and isinstance(
                args[0].value, int
            )
        else:
            action = name in _ACTIONS and not args
        lines = range(node.func.end_lineno, node.end_lineno + 1)
        if action and not any("bounded:" in comments.get(i, "") for i in lines):
            bad.append(f"{rel}:{node.func.end_lineno}")
    return bad


def test_lime_driver_actions_are_bounded():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for pkg in ("lime", "operators", "sources")
        for path in sorted((root / pkg).rglob("*.py"))
        for use in _unbounded_actions(path.read_text(), path.relative_to(root).as_posix())
    ]
    assert not offenders, (
        "every collect/first/take/toPandas/count in lime/, operators/ and "
        "sources/ "
        "brings rows to the driver and must say why they are few "
        f"(# bounded: <why>): {offenders}"
    )


def test_bounded_action_scanner_catches_a_planted_collect():
    planted = (
        "def f(df, batch, rows):\n"
        "    mu = df.agg('x').collect()  # d rows\n"
        "    n = df.count()\n"
        "    top = df.take(5)\n"
        "    cut = (df.groupBy('k')\n"
        "           .agg('x')\n"
        "           .first())\n"
        "    ok = df.toPandas()  # bounded: one row per class\n"
        "    ok2 = (df.select('a')\n"
        "           .collect()  # bounded: k rows\n"
        "    )\n"
        "    return batch.take(rows), [1, 1].count(1), df.take(rows)\n"
    )
    assert _unbounded_actions(planted, "lime/x.py") == [
        "lime/x.py:2", "lime/x.py:3", "lime/x.py:4", "lime/x.py:7",
    ]


# ------------------------------------------------ one place for JVM flags

#: Confs that put options on the driver JVM's command line.
_JAVA_OPTION_CONFS = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")


def _java_option_sites(source: str, rel: str) -> list[str]:
    """``rel:line`` of every string in code (a docstring is not code) that
    names one of ``_JAVA_OPTION_CONFS``."""
    import ast

    tree = ast.parse(source)
    docstrings = {
        id(node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
    }
    lines = sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and any(conf in node.value for conf in _JAVA_OPTION_CONFS)
    )
    return [f"{rel}:{line}" for line in lines]


def test_driver_java_options_only_in_session():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for path in sorted(root.rglob("*.py"))
        if (rel := path.relative_to(root).as_posix()) != "session.py"
        for use in _java_option_sites(path.read_text(), rel)
    ]
    assert not offenders, (
        "the driver JVM's options are session.launch_confs(); a second "
        f"setter can select a second collector, which the JVM refuses: {offenders}"
    )


def test_java_option_scanner_catches_a_planted_copy():
    planted = (
        '"""Sets spark.driver.extraJavaOptions for the probe."""\n'
        "def build(builder, gc):\n"
        "    # spark.driver.defaultJavaOptions is session.py's\n"
        '    builder = builder.config("spark.driver.extraJavaOptions", gc)\n'
        '    confs = {"spark.driver.defaultJavaOptions": "-XX:+UseG1GC"}\n'
        '    flag = f"--conf spark.driver.extraJavaOptions={gc}"\n'
        '    return builder.config("spark.executor.extraJavaOptions", gc), confs, flag\n'
    )
    assert _java_option_sites(planted, "tools/x.py") == [
        "tools/x.py:4", "tools/x.py:5", "tools/x.py:6",
    ]


# ------------------------------------------------ one Python worker pool

#: Python RDD API: a job through it runs in a second worker daemon (the
#: JVM keys worker factories by the worker environment, and PythonRDD's
#: differs from the SQL runners'), which lives for the rest of the session.
_PYTHON_RDD_API = frozenset({"parallelize", "rdd", "foreachPartition", "runJob"})


def _python_rdd_uses(source: str, rel: str) -> list[str]:
    """``rel:line`` of every attribute access to the Python RDD API
    (``parallelize``, ``.rdd``, ``mapPartitions*``, ``foreachPartition``,
    ``runJob``); each line is listed once."""
    import ast

    lines = {
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute)
        and (node.attr in _PYTHON_RDD_API or node.attr.startswith("mapPartitions"))
    }
    return [f"{rel}:{line}" for line in sorted(lines)]


def test_no_python_rdd_in_the_package():
    from pathlib import Path

    import lime_on_spark_spark

    root = Path(lime_on_spark_spark.__file__).parent
    offenders = [
        use
        for path in sorted(root.rglob("*.py"))
        for use in _python_rdd_uses(
            path.read_text(), path.relative_to(root).as_posix()
        )
    ]
    assert not offenders, (
        "a Python RDD job starts a second worker daemon for the session; run "
        "the work as DataFrame Arrow tasks (python_source._arrow_tasks): "
        f"{offenders}"
    )


def test_python_rdd_scanner_catches_a_planted_copy():
    planted = (
        "def scan(spark, files, match):\n"
        "    return spark.sparkContext.parallelize(files, 4).map(match).collect()\n"
        "def rows(df):\n"
        "    return df.rdd.mapPartitions(lambda it: it)\n"
        "def each(df, sc, f):\n"
        "    df.foreachPartition(f)\n"
        "    sc.runJob(df, f)\n"
        "    return df.rdd.mapPartitionsWithIndex(f)\n"
    )
    assert _python_rdd_uses(planted, "sources/x.py") == [
        "sources/x.py:2", "sources/x.py:4", "sources/x.py:6",
        "sources/x.py:7", "sources/x.py:8",
    ]
    # pandas' Series.map, a variable named rdd, DataFrame Arrow tasks and
    # mentions in comments or strings are not the RDD API.
    clean = (
        "# sc.parallelize(tasks) was the old shape\n"
        "def tags(pdf, rdd):\n"
        "    doc = 'df.rdd.mapPartitions(f); spark.sparkContext.parallelize'\n"
        "    out = pdf['word'].map(len)\n"
        "    return rdd, out\n"
        "def tasks(df, f):\n"
        "    return df.mapInArrow(f, 'x int').foreachBatch\n"
    )
    assert not _python_rdd_uses(clean, "sources/x.py")
