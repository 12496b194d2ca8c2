"""Sources & sinks: readers, writers, ingest, medallion pipeline,
table maintenance (SURVEY §2.1 S1-S9, §2.9 M1-M4, §2.12 C1-C5)."""

from aws_lakehouse_spark.sources.readers import scan_parquet, scan_text
from aws_lakehouse_spark.sources.writers import sink_table_overwrite
from aws_lakehouse_spark.sources.ingest import ingest_copy
from aws_lakehouse_spark.sources.maintenance import (
    compact_files,
    expire_snapshots,
    remove_orphans,
    run_maintenance,
)
from aws_lakehouse_spark.sources.pipeline import run_pipeline, retrying

__all__ = [
    "scan_parquet",
    "scan_text",
    "sink_table_overwrite",
    "ingest_copy",
    "compact_files",
    "expire_snapshots",
    "remove_orphans",
    "run_maintenance",
    "run_pipeline",
    "retrying",
]
