"""Ingest operators (SURVEY §2.1 S8-S9).

The reference's Lambda (``lambda/nyc_tlc_ingest.py``) lists a public
source prefix, filters to ``.parquet``, and copies each object into
the Bronze layout *iff absent* (idempotent daily re-runs,
``:45-53,183-186,242-245``). Engine equivalent without boto3: Spark
reads the source directly and writes the Bronze partition layout;
idempotency is ONE existence check on the whole dataset directory
``{bronze_root}/{dataset}`` — not per object, and not per partition:
a target that already holds any data is skipped entirely, so new
partitions for a later day are NOT ingested into an existing target.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.sources.readers import scan_parquet


def _target_exists(path: str) -> bool:
    # local/posix path check; on object stores this is a prefix list
    return os.path.isdir(path) and any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


def ingest_copy(
    spark: SparkSession,
    source_path: str,
    bronze_root: str,
    dataset: str,
    partition_by: tuple[str, ...] = (),
    transform=None,
) -> dict:
    """S8+S9 — copy-if-absent ingest into the Bronze layout.

    Reads the source as Parquet, optionally applies a light
    ``transform`` (e.g. adding partition columns), and writes
    ``{bronze_root}/{dataset}/KEY=value/...`` — the same layout the
    reference's Lambda constructs by string-formatting object keys
    (``nyc_tlc_ingest.py:30-37``), except Spark's ``partitionBy``
    produces it natively. Skips entirely when the dataset directory
    already has any data (idempotent re-run); the check does not look
    at which partitions the source would add.

    Returns a small manifest dict (driver-side bookkeeping only —
    no per-row driver work).
    """
    target = f"{bronze_root.rstrip('/')}/{dataset}"
    if _target_exists(target):
        return {"dataset": dataset, "target": target, "skipped": True}

    df: DataFrame = scan_parquet(spark, source_path)
    if transform is not None:
        df = transform(df)
    w = df.write.mode("overwrite").format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(target)
    return {"dataset": dataset, "target": target, "skipped": False}


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
