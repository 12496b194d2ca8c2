"""Ingest operators (SURVEY §2.1 S8-S9).

The reference's Lambda (``lambda/nyc_tlc_ingest.py``) lists a public
source prefix, filters to ``.parquet``, and copies each object into
the Bronze layout *iff absent* (idempotent daily re-runs,
``:45-53,183-186,242-245``). The engine does the same on a local or
mounted filesystem without boto3: idempotency is per file, keyed by
the file's path relative to the source root, so a later day's new
files land beside the earlier ones and a re-run copies nothing. As in
the reference, a source file that was updated under a name already
in Bronze is not copied again.
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


# ---------------------------------------------------------------------------
# Object-store (S3-scheme) ingest — the reference Lambda's exact contract
# ---------------------------------------------------------------------------


def anonymous_fallback_client(region: str = "us-east-1"):
    """S3 client with the reference's anonymous-retry behavior
    (``lambda/nyc_tlc_ingest.py:65-146``): use ambient credentials
    when present, else fall back to an UNSIGNED (anonymous) client —
    public source buckets need no credentials. Import-gated: returns
    None when boto3 is unavailable so callers can drop to the
    local-FS path."""
    try:
        import boto3
        from botocore import UNSIGNED
        from botocore.config import Config
        from botocore.exceptions import NoCredentialsError
    except ImportError:  # pragma: no cover - boto3 baked into this env
        return None
    session = __import__("boto3").session.Session()
    if session.get_credentials() is None:
        return boto3.client(
            "s3", region_name=region, config=Config(signature_version=UNSIGNED)
        )
    try:
        return boto3.client("s3", region_name=region)
    except NoCredentialsError:  # pragma: no cover - race with env teardown
        return boto3.client(
            "s3", region_name=region, config=Config(signature_version=UNSIGNED)
        )


def list_source_objects(
    client, bucket: str, prefix: str, suffix: str = ".parquet"
) -> list[dict]:
    """List-paginate the source prefix and keep ``suffix`` matches —
    the Lambda's listing step (``nyc_tlc_ingest.py:45-53``). The
    paginator walks 1000-key pages, so million-object prefixes never
    materialize at once."""
    out: list[dict] = []
    paginator = client.get_paginator("list_objects_v2")
    for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
        for obj in page.get("Contents", []):
            if obj["Key"].endswith(suffix):
                out.append({"key": obj["Key"], "size": obj.get("Size", 0)})
    return out


def copy_if_absent(
    client, src_bucket: str, src_key: str, dst_bucket: str, dst_key: str
) -> bool:
    """Copy one object iff the destination does not already exist —
    the Lambda's idempotency core (``nyc_tlc_ingest.py:183-186,
    242-245``). Returns True when a copy happened."""
    from botocore.exceptions import ClientError

    try:
        client.head_object(Bucket=dst_bucket, Key=dst_key)
        return False  # already ingested
    except ClientError as e:
        if e.response.get("Error", {}).get("Code") not in ("404", "NoSuchKey"):
            raise
    client.copy_object(
        Bucket=dst_bucket,
        Key=dst_key,
        CopySource={"Bucket": src_bucket, "Key": src_key},
    )
    return True


def object_store_ingest(
    client,
    src_bucket: str,
    src_prefix: str,
    dst_bucket: str,
    dst_prefix: str,
    suffix: str = ".parquet",
) -> dict:
    """Full Lambda-equivalent ingest pass: list-paginate the source,
    copy each matching object into the Bronze key layout iff absent,
    and return the skip/copied manifest the reference logs. Pure
    object-level bookkeeping — Spark reads the Bronze prefix
    afterwards; at 100 TB the copies are server-side (no data flows
    through this process)."""
    copied, skipped = [], []
    for obj in list_source_objects(client, src_bucket, src_prefix, suffix):
        name = obj["key"].rsplit("/", 1)[-1]
        dst_key = f"{dst_prefix.rstrip('/')}/{name}"
        if copy_if_absent(client, src_bucket, obj["key"], dst_bucket, dst_key):
            copied.append(dst_key)
        else:
            skipped.append(dst_key)
    return {
        "src": f"s3://{src_bucket}/{src_prefix}",
        "dst": f"s3://{dst_bucket}/{dst_prefix}",
        "n_copied": len(copied),
        "n_skipped": len(skipped),
        "copied": copied,
        "skipped": skipped,
    }
