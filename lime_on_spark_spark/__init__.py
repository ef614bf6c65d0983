"""lime_on_spark_spark — a PySpark-native analytics + explainability engine.

Capability target: tinluu/LIME-on-Spark (reference checkout is empty; the
de-facto spec is SURVEY.md §2 + the driver contract ``__spark_entry__.py``).

Everything here is expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, Arrow-batched pandas UDFs only where relational primitives cannot
express the semantics (LIME ridge fits, as-of merge, LSH banding).
"""

from lime_on_spark_spark import _zipimport  # noqa: F401  (first: patches zipimport)
from lime_on_spark_spark.session import configure, get_spark
from lime_on_spark_spark.sources.catalog import TABLES, load_tables

__version__ = "0.1.0"

__all__ = ["configure", "get_spark", "load_tables", "TABLES", "__version__"]
