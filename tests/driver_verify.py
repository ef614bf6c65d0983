"""Driver-style verify: run entry() + every oracle pair at sf0.01.

Mirrors the driver's CORRECTNESS check: for each name in oracle_sql(),
run the Spark query and the DuckDB oracle over the same parquet and
compare with tests.compare.assert_frames_match. Prints one line per
query and a final summary; exit code 1 on any failure.

Usage: python tests/driver_verify.py [sf_dir] [only_csv]
"""
from __future__ import annotations

import os
import sys
import time
import traceback

# The checkout this script lives in, not a fixed path: a run from another
# worktree or copy must verify that copy, in the driver and in the Python
# workers (which otherwise import the package from the working directory).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from lime_on_spark_spark.session import get_spark  # noqa: E402
from tests.compare import assert_frames_match  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # 1) entry() smoke
    res = entry_mod.entry(spark)
    rows = res.collect()
    print(f"entry: {len(rows)} rows, schema={[f.name for f in res.schema]}", flush=True)
    assert len(rows) >= 0

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed, passed = [], 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, sf_dir).toPandas()
            oracle_pdf = con.execute(sql).fetchdf()
            assert_frames_match(spark_pdf, oracle_pdf, name)
            passed += 1
            print(f"  ok   {name} ({time.time()-t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"  FAIL {name}: {type(e).__name__}: {e}", flush=True)
            traceback.print_exc(limit=3)
    print(f"SUMMARY: {passed} passed, {len(failed)} failed: {failed}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
