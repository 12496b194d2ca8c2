"""Sink operators (SURVEY §2.1 S5, §1.3 write semantics).

The reference's write ladder tries Iceberg and falls back to plain
Parquet (``noaa_ghcn_bronze_to_silver.py:106-152``). The engine
writes the plain-Parquet rung for catalog tables and keeps
snapshotted tables on its own manifest log (``sources.snapshots``),
with the semantics that matter preserved: overwrite for dimensions,
a partition replace for facts, partition columns on every fact
write. Bucketed layouts are built by the registry's
``join_bucketed_colocated`` builder; MERGE on a table goes through
``snapshots.merge_into``.

Scale defaults: ``maxRecordsPerFile`` bounds output file size (the
reference compacts to 256 MB after the fact — M2; we also avoid
writing pathological files in the first place), and fact tables are
``partitionBy``'d on their date-derived columns so every downstream
date-ranged read prunes.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


def sink_table_overwrite(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    """S5 — overwrite-rebuild (dimension semantics, idempotent,
    ref ``noaa_dimensions_bronze_to_silver.py:92-94`` et al.)."""
    w = df.write.mode("overwrite").format(fmt).option(
        "maxRecordsPerFile", DEFAULT_MAX_RECORDS_PER_FILE
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(table)


def sink_partition_overwrite(
    df: DataFrame, table: str, partition_by: Sequence[str]
) -> None:
    """Overwrite only the partitions present in ``df`` (dynamic
    partition overwrite) — the fix for the reference's fact-table
    duplication bug (SURVEY §4.3.5: it re-appended the full fact on
    every run). The first write creates the table, partitioned by
    ``partition_by``. Later writes use ``insertInto``: it ignores a
    per-write ``partitionOverwriteMode`` option, so the session conf
    is set to ``dynamic`` and restored after; it matches columns by
    position, so ``df`` is selected in the table's column order
    first. The table's stored ``maxRecordsPerFile`` still applies."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        (
            df.write.format("parquet")
            .partitionBy(*partition_by)
            .option("maxRecordsPerFile", DEFAULT_MAX_RECORDS_PER_FILE)
            .saveAsTable(table)
        )
        return
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.select(*spark.table(table).columns).write.insertInto(
            table, overwrite=True
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
