"""Sink operators (SURVEY §2.1 S4-S7, §1.3 write semantics).

The reference's write ladder tries Iceberg and falls back to plain
Parquet (``noaa_ghcn_bronze_to_silver.py:106-152``). The engine
writes the plain-Parquet rung for catalog tables and keeps
snapshotted tables on its own manifest log (``sources.snapshots``),
with the semantics that matter preserved: append for facts,
overwrite for dimensions, partition columns on every fact write.

Scale defaults: ``maxRecordsPerFile`` bounds output file size (the
reference compacts to 256 MB after the fact — M2; we also avoid
writing pathological files in the first place), and fact tables are
``partitionBy``'d on their date-derived columns so every downstream
date-ranged read prunes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


def sink_table_append(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    """S4 — append to a catalog table (fact semantics,
    ref ``noaa_ghcn_bronze_to_silver.py:108-110``)."""
    w = df.write.mode("append").format(fmt).option(
        "maxRecordsPerFile", DEFAULT_MAX_RECORDS_PER_FILE
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(table)


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


def sink_table_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
) -> None:
    """Bucketed managed-table write: co-locates rows by hash of
    ``bucket_cols`` at WRITE time so downstream equi-joins and
    group-bys on those keys need NO exchange — the shuffle is paid
    once when the table lands, not on every query. This is the
    100 TB answer for repeatedly-joined fact↔fact keys (e.g.
    lineitem⋈orders on the order key) where neither side is
    broadcastable; both sides bucketed into the same bucket count
    join exchange-free (verified by plan test).

    Sort within buckets by the same keys so sort-merge joins also
    skip the per-query sort."""
    w = (
        df.write.mode("overwrite")
        .format(fmt)
        .option("maxRecordsPerFile", DEFAULT_MAX_RECORDS_PER_FILE)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(table)


def sink_parquet_path(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """S7 — plain Parquet directory write (bronze layout / fallback,
    ref ``noaa_ghcn_bronze_to_silver.py:149-151``)."""
    w = df.write.mode("overwrite").format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def create_table_if_absent(
    spark: SparkSession,
    table: str,
    ddl_columns: str,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
    location: str | None = None,
    tblproperties: dict[str, str] | None = None,
) -> None:
    """S6 — ``CREATE TABLE IF NOT EXISTS`` DDL (ref
    ``noaa_ghcn_bronze_to_silver.py:117-138``; Iceberg USING clause
    translated to the session's available format)."""
    parts = f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    loc = f" LOCATION '{location}'" if location else ""
    props = (
        " TBLPROPERTIES ("
        + ", ".join(f"'{k}'='{v}'" for k, v in tblproperties.items())
        + ")"
        if tblproperties
        else ""
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({ddl_columns}) "
        f"USING {fmt}{parts}{loc}{props}"
    )


def upsert_table(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
) -> None:
    """MERGE-style upsert (SCD-1) onto a managed table without a
    transactional format: rows in ``updates`` replace current rows
    with the same key; all other current rows survive. This is the
    plain-Parquet, catalog-table counterpart of Iceberg ``MERGE
    INTO`` — the op the reference's ACID layer provides (its
    maintenance job presumes Iceberg, ``iceberg_maintenance.py``).
    It never issues a native MERGE; tables kept on the snapshot log
    merge through ``sources.snapshots.merge_into`` instead.

    Implementation: anti-join current⟂updates on the key (drops
    superseded rows), union the updates, stage to a temp table, then
    overwrite the target from the staged result — the stage hop is
    required because Spark refuses to overwrite a table that is an
    input of the running plan. Idempotent: re-applying the same
    updates is a no-op. At scale the anti-join shuffles on the key
    once; with ``partition_by`` covering the updated partitions,
    prefer ``sink_partition_overwrite`` instead (no read of
    untouched partitions)."""
    current = spark.table(table)
    merged = current.join(
        updates.select(*keys), list(keys), "left_anti"
    ).unionByName(updates)
    staging = f"{table}__upsert_staging"
    sink_table_overwrite(merged, staging, partition_by)
    try:
        sink_table_overwrite(spark.table(staging), table, partition_by)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")


def sink_csv_path(
    df: DataFrame, path: str, header: bool = True, sep: str = ","
) -> None:
    """CSV directory write (export/interchange face of ``scan_csv``).
    CSV drops type info and compresses poorly — use for handoff to
    CSV-only consumers, never as a pipeline-internal format."""
    (
        df.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def sink_json_path(df: DataFrame, path: str) -> None:
    """JSON-lines directory write (export face of ``scan_json``).
    Line-oriented so downstream scans stay splittable."""
    df.write.mode("overwrite").json(path)
