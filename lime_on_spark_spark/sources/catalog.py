"""Parquet catalog: scan the driver's tables, repair types, register views.

Implements SURVEY.md §2a rows S1 (parquet scan), S2 (events ns-timestamp
repair), S3 (view registration). The only physical source is Parquet with
embedded schema; at 100 TB these reads stay fully distributed — the parquet
vectorized reader + Catalyst column pruning / predicate pushdown do the
heavy lifting, nothing is materialized on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.session import configure, session_memo

#: All tables the driver generates (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def repair_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to plain ``TimestampType`` (LTZ) whatever the
    parquet file encodes.

    Two corpus generations exist:

    * ts as int64 epoch-nanos (read under ``nanosAsLong=true``): convert to
      micros TimestampType with exact integer division (``div``, not ``/`` —
      float division loses precision above 2^53 and epoch-nanos are ~1.7e18).
      The corpus has no sub-microsecond precision so this matches DuckDB's
      native ns read exactly.
    * ts as timestamp[us] without timezone (Spark 4 infers TIMESTAMP_NTZ):
      cast to TIMESTAMP. The session timezone is pinned to UTC
      (session.RUNTIME_CONFS) so the wall-clock value is unchanged and
      matches DuckDB's naive read. NTZ would otherwise break
      ``withWatermark`` (requires TIMESTAMP) and ``cast(ts as long)``.
    """
    dtypes = dict(df.dtypes)
    if dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtypes.get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table, applying per-table repairs.

    Applies runtime confs first: queries run under the DRIVER's session
    (not one we built), and without ``nanosAsLong`` the events scan raises
    PARQUET_TYPE_ILLEGAL. Conf-set on an already-configured session is a
    cheap local no-op.

    The lazy DataFrame HANDLE is memoized per session: ``spark.read.parquet``
    costs ~200 ms of py4j + footer/schema work per call on this corpus,
    paid inside the timed construction of every extended-bench row. Only
    the analyzed PLAN is reused; every action on the returned frame still
    scans the parquet input.
    """

    def build() -> DataFrame:
        configure(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return repair_event_ts(df) if name == "events" else df

    return session_memo(spark, ("table", sf_dir, name), build)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load every table; optionally register temp views mirroring the oracle.

    Safe to call on a driver-owned session: runtime confs are (re)applied
    first so the events scan does not hit PARQUET_TYPE_ILLEGAL.
    """
    configure(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
