"""Star-schema table access.

The engine's substrate is the driver-generated TPC-H-ish star schema
(TESTDATA.md): ``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet per table per scale
factor. This module is the single place that knows how to load them
— every query builder goes through here, so scan-level decisions
(nanos handling, no eager actions, no schema merging) are made once.

Role mapping onto the reference's data model is documented in
FIXTURES.md §A: ``lineitem`` ↔ fact observations, ``orders`` ↔ dedup
target, small tables ↔ dimensions, ``events`` ↔ the
streaming/bookmark extension, ``documents``/``embeddings`` ↔ the
LLM-pipeline extension tables.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.session import configure_runtime

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

# Dimension tables small enough to always broadcast in star joins
# (the reference's vendor/zone/element dims are broadcast-sized by
# construction; SURVEY §4.4).
BROADCAST_DIMS: frozenset[str] = frozenset(
    {"region", "nation", "supplier", "part", "customer"}
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


# (applicationId, sf_dir, name) -> DataFrame. A DataFrame is an
# immutable logical plan, so handing the same object to every query
# builder is semantically free — what it saves is the py4j file
# listing + footer schema read that `spark.read.parquet` pays per
# call (~30-80 ms), repaid on every one of the ~150 registered
# queries and every bench trial. Keyed by applicationId so a stopped
# session's stale plans can never leak into a new one.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; normalizes the ``events`` table.

    ``events.ts`` is physically INT64 TIMESTAMP(NANOS); Spark reads
    it as bigint (with ``nanosAsLong``) and we convert to
    microsecond-precision TIMESTAMP_NTZ — the same truncation DuckDB
    applies when casting ns→µs, so oracle comparisons line up.
    """
    configure_runtime(spark)
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir.rstrip("/"), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    # long test runs cycle many sessions: when a NEW application shows
    # up, evict dead applications' plans so the cache stays bounded
    if all(k[0] != app_id for k in _TABLE_CACHE):
        _TABLE_CACHE.clear()
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, not float division: ns epochs (~1.7e18) exceed
        # double precision and a float path is off by ±1 µs
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    _TABLE_CACHE[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view so ``spark.sql`` queries —
    the engine's Athena-equivalent interactive surface (SURVEY §3.3)
    — can run unmodified ANSI SQL against them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
