"""aws_lakehouse_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the ``lucas-placido/aws-lakehouse`` reference (a
medallion Bronze→Silver→Gold lakehouse pipeline; see SURVEY.md) as an
idiomatic PySpark library:

- ``session``    — SparkSession factory + runtime conf hardening
- ``catalog``    — star-schema table loaders / temp-view registration
- ``operators``  — scans, projections, filters, joins, aggregates,
                   windows, sorts, set-ops (SURVEY §2.1-2.7)
- ``functions``  — scalar string/date/math/JSON helpers (SURVEY §2.8)
- ``sources``    — readers, sinks, ingest, medallion pipeline stages,
                   table maintenance (SURVEY §2.1, §2.9, §2.12)
- ``streaming``  — batch-checkable event-time windows + Structured
                   Streaming incremental processing (SURVEY §2.10)
- ``llm``        — large-scale training-data ops: dedup, similarity
                   search, text analysis, multimodal plumbing
- ``plans``      — the registered query surface (each query paired
                   with a DuckDB oracle SQL for correctness checking)

Everything is DataFrame/Spark-SQL first: Catalyst does the
optimization; Python UDFs appear only where built-ins genuinely
cannot express the semantics (Arrow-batched, never per-row).
"""

from aws_lakehouse_spark.session import get_spark, configure_runtime
from aws_lakehouse_spark.catalog import TABLES, load_table, register_views
from aws_lakehouse_spark.registry import REGISTRY, register, QuerySpec

__all__ = [
    "get_spark",
    "configure_runtime",
    "TABLES",
    "load_table",
    "register_views",
    "REGISTRY",
    "register",
    "QuerySpec",
]

__version__ = "0.1.0"
