"""Ingest operators (SURVEY §2.1 S8-S9).

The reference's Lambda (``lambda/nyc_tlc_ingest.py``) lists a public
source prefix, filters to ``.parquet``, and copies each object into
the Bronze layout *iff absent* (idempotent daily re-runs,
``:45-53,183-186,242-245``). The engine does the same on a local or
mounted filesystem without boto3: idempotency is per file, keyed by
the file's path relative to the source root, so a later day's new
files land beside the earlier ones and a re-run copies nothing. As in
the reference, a source file that was updated under a name already
in Bronze is not copied again. The Lambda keys each object by its
basename alone, which would flatten the ``YEAR=``/``ELEMENT=``
directories Silver reads, so its object-store form is not carried.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def ingest_copy(
    spark: SparkSession, source_path: str, bronze_root: str, dataset: str
) -> dict:
    """S8+S9 — copy each source file whose path relative to
    ``source_path`` is absent under ``{bronze_root}/{dataset}``, so
    ``KEY=value`` directories keep their layout. A copy lands as a
    hidden ``.name.tmp`` and is renamed into place, so no reader sees
    a partial file. ``_``/``.`` names are skipped, as Spark's listing
    skips them. No Spark job runs. Raises ``FileNotFoundError`` on a
    missing source. Returns a manifest dict: ``copied`` new files,
    ``skipped`` when there were none.
    """
    if not os.path.isdir(source_path):
        raise FileNotFoundError(f"ingest source {source_path!r} is not a directory")
    target = os.path.join(bronze_root, dataset)
    copied = 0
    for src_dir, dirs, files in os.walk(source_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        dst_dir = os.path.join(target, os.path.relpath(src_dir, source_path))
        for name in files:
            dst = os.path.join(dst_dir, name)
            if name.startswith(("_", ".")) or os.path.exists(dst):
                continue
            os.makedirs(dst_dir, exist_ok=True)
            tmp = os.path.join(dst_dir, f".{name}.tmp")
            shutil.copyfile(os.path.join(src_dir, name), tmp)
            os.replace(tmp, dst)
            copied += 1
    return {"dataset": dataset, "target": target, "copied": copied,
            "skipped": copied == 0}
