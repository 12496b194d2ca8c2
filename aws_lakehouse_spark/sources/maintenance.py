"""Table maintenance (SURVEY §2.9 M1-M4).

The reference runs three Iceberg procedures per table nightly
(``glue-jobs/iceberg_maintenance.py:47-81``): expire_snapshots,
rewrite_data_files (binpack, 256 MB), remove_orphan_files. The
engine has one table format, the manifest log of
``sources.snapshots``:

- table carries a manifest log → REAL snapshot expiry and
  orphan-file removal against it;
- bare plain-Parquet tables → compaction is a real
  repartition-rewrite (small-file problem is format-independent);
  snapshot/orphan ops are documented no-ops (no snapshot metadata
  exists to expire).

M4's control shape — iterate tables, isolate per-table failures,
continue — is preserved (``iceberg_maintenance.py:34-44,83-84``).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from aws_lakehouse_spark.sources.writers import sink_partition_overwrite

TARGET_FILE_BYTES = 256 * 1024 * 1024  # ref iceberg_maintenance.py:66


def _table_location(spark: SparkSession, table: str) -> str | None:
    try:
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if row["col_name"] == "Location":
                return row["data_type"].removeprefix("file:")
    except Exception:
        pass
    return None


def _snapshot_log_path(spark: SparkSession, table: str,
                       table_path: str | None) -> str | None:
    """Path of the table's manifest log, if it has one. ``table_path``
    is the table's location when the caller has already looked it up
    (``""`` when the catalog has none); ``None`` looks it up here."""
    import os

    from aws_lakehouse_spark.sources import snapshots

    path = _table_location(spark, table) if table_path is None else table_path
    if path and os.path.isdir(os.path.join(path, snapshots.LOG_DIR)):
        return path
    return None


def expire_snapshots(
    spark: SparkSession, table: str, retain_days: int = 7,
    table_path: str | None = None,
) -> dict:
    """M1 — drop table-format snapshots older than the retention
    window. Manifest-logged table (sources.snapshots): real manifest
    expiry; bare plain Parquet: no snapshot metadata exists → no-op."""
    path = _snapshot_log_path(spark, table, table_path)
    if path:
        from aws_lakehouse_spark.sources import snapshots

        res = snapshots.expire_snapshots(
            path, retain_last=1, older_than_s=retain_days * 86400.0
        )
        return {"table": table, **res}
    return {"table": table, "op": "expire_snapshots", "applied": False,
            "reason": "no snapshot metadata for plain parquet tables"}


def compact_files(
    spark: SparkSession, table: str, target_bytes: int = TARGET_FILE_BYTES
) -> dict:
    """M2 — binpack small files toward the 256 MB target: size the
    table and rewrite it with ``repartition(ceil(bytes/target))``, the
    outcome of Iceberg's rewrite_data_files. A partitioned table is
    rewritten in place by ``sink_partition_overwrite``; an
    unpartitioned one through a ``__compacted`` sibling and a rename,
    because Spark refuses to overwrite a table it is reading.
    """
    import os

    df = spark.table(table)
    # size from the live file set (local/posix; on an object store
    # this is a FileSystem.listStatus over the table location)
    size_bytes = 0
    for f in df.inputFiles():
        path = f.removeprefix("file:")
        try:
            size_bytes += os.path.getsize(path)
        except OSError:
            pass
    n_files = max(1, math.ceil(size_bytes / target_bytes))
    part_cols = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    if part_cols:
        # repartitioning on the partition columns keeps each task
        # writing into few partition dirs
        sink_partition_overwrite(
            df.repartition(n_files, *part_cols), table, part_cols
        )
    else:
        w = df.repartition(n_files).write.mode("overwrite").format("parquet")
        w.saveAsTable(f"{table}__compacted")
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {table}__compacted RENAME TO {table}")
    return {"table": table, "op": "compact_files", "applied": True,
            "target_files": n_files}


def compact_path(
    spark: SparkSession, path: str, target_bytes: int = TARGET_FILE_BYTES
) -> dict:
    """M2, path flavor — binpack a parquet DIRECTORY (no catalog
    entry needed): size the live files, rewrite with
    ``repartition(ceil(bytes/target))`` into a sibling temp dir, then
    swap directories. Same outcome as Iceberg rewrite_data_files for
    an unpartitioned location; used where data lands as raw paths
    (bronze) before any table registration.

    Unpartitioned layouts ONLY: a hive-partitioned directory keeps
    its files in subdirectories, so the top-level sizing would see 0
    bytes and the rewrite would collapse the partition structure —
    such paths are refused (use :func:`compact_files` on a
    registered partitioned table instead). The swap is
    rename-aside (``path -> path__old``, ``tmp -> path``, delete
    ``path__old``), so the live directory is never absent: a crash
    mid-swap leaves either the original or the compacted data at
    ``path``, never neither.
    """
    import os
    import shutil

    entries = [
        e for e in os.listdir(path) if not e.startswith(("_", "."))
    ]
    subdirs = [
        e for e in entries if os.path.isdir(os.path.join(path, e))
    ]
    if subdirs:
        raise ValueError(
            f"compact_path refuses partitioned layout {path!r} "
            f"(subdirectories {subdirs[:3]}...): compacting would "
            f"discard the partition directory structure; use "
            f"compact_files on a registered table instead"
        )
    files = [f for f in entries if f.endswith(".parquet")]
    size_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_target = max(1, math.ceil(size_bytes / target_bytes))
    tmp = path.rstrip("/") + "__compacting"
    spark.read.parquet(path).repartition(n_target).write.mode(
        "overwrite"
    ).parquet(tmp)
    old = path.rstrip("/") + "__old"
    if os.path.exists(old):  # leftover from a previous crashed swap
        shutil.rmtree(old)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    after = len([
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ])
    return {
        "op": "compact_path",
        "applied": True,
        "files_before": len(files),
        "files_after": after,
        "bytes": size_bytes,
    }


def remove_orphans(
    spark: SparkSession, table: str, older_than_days: int = 7,
    table_path: str | None = None,
) -> dict:
    """M3 — remove data files not referenced by table metadata.
    Manifest-logged table: real directory-vs-manifest diff + delete,
    honoring Iceberg's ``older_than`` contract (``older_than_days``;
    a younger unreferenced file may belong to an in-flight concurrent
    commit). Bare plain Parquet has no manifest to diff against →
    no-op (every file under the table location is live)."""
    path = _snapshot_log_path(spark, table, table_path)
    if path:
        from aws_lakehouse_spark.sources import snapshots

        return {
            "table": table,
            **snapshots.remove_orphans(
                path, older_than_seconds=older_than_days * 86400.0
            ),
        }
    return {"table": table, "op": "remove_orphans", "applied": False,
            "reason": "plain parquet: all files under location are live"}


def run_maintenance(
    spark: SparkSession, tables: list[str], retain_days: int = 7
) -> list[dict]:
    """M4 — per-table loop with error isolation
    (``iceberg_maintenance.py:34-44,83-84``): one bad table never
    blocks the rest. Each table's location is looked up once and
    serves both snapshot-log ops (compaction keeps a managed table's
    location). ``retain_days`` is both the snapshot-expiry window and
    the orphan-file age floor."""
    results = []
    for table in tables:
        # "" (not None) records a failed lookup, so neither op repeats it
        path = _table_location(spark, table) or ""
        for op, kw in (
            (expire_snapshots,
             {"retain_days": retain_days, "table_path": path}),
            (compact_files, {}),
            (remove_orphans,
             {"older_than_days": retain_days, "table_path": path}),
        ):
            try:
                results.append(op(spark, table, **kw))
            except Exception as exc:  # isolate, continue
                results.append(
                    {"table": table, "op": op.__name__, "error": str(exc)}
                )
    return results
