"""Scan operators (SURVEY §2.1 S1-S2; S3, a catalog table scan, is
``spark.table(name)`` at its call sites).

S1 fixes the reference's self-inflicted inefficiency (SURVEY
§4.3.2): it scanned with ``recursiveFileLookup`` — which *disables*
Hive partition discovery — then re-derived the partition value by
regexing the file path (``noaa_ghcn_bronze_to_silver.py:48,67-72``).
Our scan reads with ``basePath`` so ``KEY=value`` directories become
real partition columns: partition *pruning* then happens in the file
index, before a single row is read — the difference between touching
1/365th of 100 TB and touching all of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.session import configure_runtime


def scan_parquet(
    spark: SparkSession,
    path: str,
    base_path: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """S1 — Parquet scan over a (possibly partitioned) directory tree.

    With ``base_path`` (or by default, reading the tree root),
    Hive-style ``KEY=value`` directories are discovered as partition
    columns and participate in pruning. ``recursive=True`` reproduces
    the reference's literal behavior for layouts that are *not*
    Hive-style — only use it when the paths genuinely aren't.
    """
    configure_runtime(spark)
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(path)


def scan_text(spark: SparkSession, path: str) -> DataFrame:
    """S2 — line-oriented text scan → single ``value`` column
    (ref ``noaa_dimensions_bronze_to_silver.py:46,114,149,183``)."""
    configure_runtime(spark)
    return spark.read.text(path)
