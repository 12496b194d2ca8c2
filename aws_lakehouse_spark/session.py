"""SparkSession factory.

Mirrors the reference's session-bootstrap semantics (Glue job init +
Iceberg conf injection at session build time — reference
``glue-jobs/noaa_ghcn_bronze_to_silver.py:26-33``, conf string in
``terraform/glue.tf:159``) translated to plain Spark:

- table-format extensions (Delta/Iceberg) are attempted at build time
  and silently dropped when the jars are absent (the reference's own
  Iceberg→Parquet fallback ladder,
  ``glue-jobs/noaa_ghcn_bronze_to_silver.py:145-152``);
- scale-relevant defaults (AQE, skew-join handling, partition-size
  caps) are on by default so the same code runs on local[32] and on a
  1000-executor cluster.

``configure_runtime`` hardens an *externally created* session (the
correctness driver builds its own) with the runtime-settable confs we
depend on — most importantly nanosecond-timestamp parquet reads.

``scratch_dir`` is the one place a query builder gets a directory for
the tables it writes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on a live session.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which the Spark
    # parquet reader rejects by default; read as long and convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics for oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas_udf / mapInPandas path (the only places we
    # leave the JVM) and fast toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # runtime re-planning: coalesce post-shuffle partitions, split
    # skewed join partitions — the 100 TB safety net.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

# Build-time confs (harmless if a session already exists).
BUILD_CONFS: dict[str, str] = {
    # local[N] runs every task thread inside the driver JVM, whose
    # DEFAULT heap is 1g — 32 concurrent shuffle writers plus
    # localCheckpoint storage OOM that long before the machine is
    # anywhere near full (bench hit java.lang.OutOfMemoryError in
    # pagerank's checkpoint at sf0.1). On a real cluster this is
    # spark.executor.memory sizing instead. 16g→48g in r10: the sf10
    # core-count probe showed GCLocker allocation stalls on the
    # md5/array-heavy kernels at 16g (32 task threads sharing one
    # heap); 48g measured 12-15% faster on those kernels at sf10 and
    # is still conservative for the 128 GiB test host. Ignored once a
    # JVM already exists.
    "spark.driver.memory": "48g",
    # Throughput collector for the batch-shaped local driver: the r10
    # sidecar re-run caught dedup_simhash_pairs 1.5-2.4x slower under
    # 48g G1 than under 16g G1 (the pair kernel allocates 16.8M output
    # rows; G1's mixed collections on the larger heap dominate the
    # wall), while ParallelGC at 48g measured best-or-equal on every
    # probed kernel at sf1 AND sf10 (simhash_pairs warm 16.5s vs G1
    # 20.1s/23.7s; sf10 minhash_signature warm 31s vs 48s; sf0.1
    # headline bench unchanged). On a real cluster this is
    # spark.executor.extraJavaOptions; batch engines want throughput
    # GC, not G1's pause targets.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # ~128 MB input splits: at 100 TB that is ~800k tasks — fine; at
    # test scale AQE coalesces the tail.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # 10 MB broadcast threshold (Spark default) is right for the
    # star-schema dims; AQE upgrades larger cases dynamically.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session; idempotent.

    Never raises: a conf rejected by this Spark build is skipped (the
    code paths that need it fail loudly later with a clearer error).
    Each conf.set is a py4j round trip and this runs on EVERY table
    load, so a per-session marker makes repeat calls free.
    """
    if getattr(spark, "_lakehouse_runtime_configured", False):
        return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf unsupported
            pass
    spark._lakehouse_runtime_configured = True
    return spark


def scratch_dir(spark: SparkSession) -> str:
    """A fresh directory for a query builder's tables, removed with the
    session.

    It is made inside the driver's SparkFiles root (``userFiles-*``
    under the first Spark local dir), which ``SparkEnv.stop`` deletes
    recursively, so ``spark.stop()`` removes everything written here;
    nothing else tracks or sweeps it. Works for any SparkContext, the
    correctness driver's plain session included. Driver-local, as
    ``/tmp`` was.
    """
    files = spark.sparkContext._jvm.org.apache.spark.SparkFiles
    return tempfile.mkdtemp(dir=files.getRootDirectory())


def get_spark(
    app_name: str = "aws-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env
    var is set, else whatever the environment provides (a real
    cluster submits with its own master).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(env) if env else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_runtime(spark)
