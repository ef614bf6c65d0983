"""Distributed exact prefix sum (the classic two-pass scan).

A global ``SUM(...) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` forces
every row through ONE window task — the single-partition funnel this repo
bans from raw-row paths. The scan algorithm removes it:

1. range-repartition by the order key (equal keys land together, partition
   ranges are ascending in partition id — the RangePartitioner contract);
2. per-partition cumulative windows (parallel, partitionBy(pid));
3. one tiny driver pass turns per-partition totals into per-partition
   OFFSETS (O(#partitions) rows — the only driver state);
4. broadcast the offsets back and add.

The result is exactly the global ordered prefix sum, computed with no
single global sort task. At 100 TB this is the shape a rank/CDF/quantile
pass must take; the DuckDB oracle for a consumer stays the plain window
SQL because the output is partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ordered_prefix_sum(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    *,
    num_partitions: int = 32,
    prefix: str = "cum_",
) -> DataFrame:
    """Add ``<prefix><c>`` = cumulative (inclusive) sum of each ``c`` in
    ``sum_cols`` over ``order_col`` ascending, exactly and distributed.

    Rows with EQUAL order keys are all assigned the same cumulative value
    (the total through the last equal row) only if callers pre-aggregate to
    distinct keys — which is the intended use (value-histogram scans). On
    non-distinct keys the intra-key order, and therefore the intra-key
    cumulative split, follows the per-partition window's arbitrary
    tie-order; pre-aggregate first when that matters.
    """
    spark = df.sparkSession
    # MUST persist: RangePartitioner samples the data to pick boundaries,
    # and a re-computation may sample differently — the offsets pass and
    # the local-window pass would then see different _pid assignments and
    # silently mis-sum near every boundary (observed at sf0.1 before the
    # persist). The totals collect below materializes the cache, so both
    # consumers read the same physical partitioning. No explicit unpersist
    # is possible under the lazy-return contract (the returned plan still
    # reads these blocks) — the ContextCleaner reclaims them once the plan
    # is dereferenced, and bench.py clears the cache between ops.
    part = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.select(
        "*", *[F.sum(c).over(w).alias(f"_local_{c}") for c in sum_cols]
    )
    totals_df = part.groupBy("_pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    total_types = dict(totals_df.dtypes)
    totals = totals_df.collect()  # bounded: one row per range partition.
    offsets = {}

    def _zero(dtype: str):
        # Seed each running offset with the aggregate type's OWN zero:
        # createDataFrame rejects a Python int for DoubleType, so a plain
        # 0 would crash the first partition's row for double sums.
        if dtype in ("double", "float"):
            return 0.0
        if dtype.startswith("decimal"):
            from decimal import Decimal

            return Decimal(0)
        return 0

    running = {c: _zero(total_types[c]) for c in sum_cols}
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = dict(running)
        for c in sum_cols:
            running[c] += row[c] or 0
    offset_rows = [
        tuple([pid] + [offs[c] for c in sum_cols]) for pid, offs in offsets.items()
    ]
    # Offsets keep the aggregate's own type (bigint sums stay exact ints;
    # a double cast would silently lose exactness past 2^53).
    schema = ", ".join(
        ["_pid int"] + [f"_off_{c} {total_types[c]}" for c in sum_cols]
    )
    off_df = spark.createDataFrame(offset_rows, schema)
    out = local.join(F.broadcast(off_df), "_pid")
    for c in sum_cols:
        out = out.withColumn(
            f"{prefix}{c}", F.col(f"_local_{c}") + F.col(f"_off_{c}")
        )
    return out.drop(
        "_pid", *[f"_local_{c}" for c in sum_cols], *[f"_off_{c}" for c in sum_cols]
    )
