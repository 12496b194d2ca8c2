"""Source/sink format round-trips beyond parquet.

The reference's storage is parquet-only (snappy parquet set
explicitly as the Iceberg write format,
``glue-jobs/noaa_ghcn_bronze_to_silver.py:133-136``), but a
lakehouse ingests whatever lands in bronze; the engine's readers
cover text/CSV/JSON (``sources/readers.py``) and Spark ships ORC
natively. These queries certify the WRITE→READ cycle for ORC and
CSV under the oracle gate: each writes a slice of the synthetic
star schema to a temp dir in the target format, reads it back, and
aggregates — the oracle computes the same aggregate straight from
the source parquet, so a green row proves the format round-trip is
lossless for the exercised types (ints, doubles, strings).

Scale notes: both round-trips write through the normal distributed
writer (one task per partition, no driver materialization); ORC
gets the same predicate-pushdown/column-pruning treatment as
parquet from Spark's vectorized reader, which is why it is the
fallback interchange format when a peer system cannot read parquet.
CSV is schema-on-read: the read-back supplies an EXPLICIT schema
(inference costs an extra full scan and guesses types — the
engine's CSV reader discipline, ``sources/readers.py:56``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.catalog import load_table
from aws_lakehouse_spark.registry import register
from aws_lakehouse_spark.session import scratch_dir


@register(
    "format_roundtrip_orc",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.1 sources (format ext)",
    doc="ORC write→read round-trip: orders projected to key/priority/"
    "price columns, written as ORC (distributed writer, one file per "
    "partition), read back through Spark's vectorized ORC reader, "
    "aggregated by priority. Oracle aggregates the source parquet "
    "directly — a green row certifies lossless bigint/double/string "
    "transit through the ORC cycle.",
)
def format_roundtrip_orc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = os.path.join(scratch_dir(spark), "orders_orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "format_roundtrip_csv",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
           MIN(c_custkey) AS min_key
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    category="2.1 sources (format ext)",
    doc="CSV write→read round-trip with explicit-schema read-back "
    "(no inference scan): customer projected to key/segment/balance, "
    "written as headered CSV, re-read with a declared schema, "
    "aggregated by segment. Doubles survive because Spark writes "
    "round-trippable shortest representations; the oracle aggregates "
    "the source parquet directly.",
)
def format_roundtrip_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = os.path.join(scratch_dir(spark), "customer_csv")
    cust.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(
        "c_custkey bigint, c_mktsegment string, c_acctbal double"
    ).option("header", "true").csv(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.min("c_custkey").alias("min_key"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "format_roundtrip_json",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           MIN(o_orderdate_s) AS min_date,
           MAX(o_orderdate_s) AS max_date
    FROM (
        SELECT o_orderpriority, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s
        FROM orders
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.1 sources (format ext)",
    doc="JSON-lines write→read round-trip with explicit-schema "
    "read-back: orders projected to priority/price/date, dates "
    "serialized as ISO strings (JSON has no date type — the "
    "serialize-explicitly discipline every JSON interchange needs), "
    "written as newline-delimited JSON through the distributed "
    "writer, re-read with a declared schema (no inference scan), "
    "aggregated per priority. Oracle computes the same aggregate "
    "from the source parquet, proving the round-trip lossless for "
    "ints, doubles, strings, and stringified dates.",
)
def format_roundtrip_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
    )
    path = os.path.join(scratch_dir(spark), "orders_json")
    orders.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, "
        "o_totalprice double, o_orderdate_s string"
    ).json(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.min("o_orderdate_s").alias("min_date"),
            F.max("o_orderdate_s").alias("max_date"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "source_python_datasource",
    oracle="""
    SELECT i AS doc_id,
           md5('doc:' || CAST(i AS VARCHAR)) AS digest,
           (['web', 'books', 'code', 'wiki'])[
               (CAST('0x' || substring(
                   md5('doc:' || CAST(i AS VARCHAR)), 1, 2) AS INT) % 4) + 1
           ] AS source,
           CAST(50 + CAST('0x' || substring(
               md5('doc:' || CAST(i AS VARCHAR)), 3, 2) AS INT) % 200
               AS INT) AS n_words
    FROM range(0, 500) t(i)
    """,
    category="2.1 sources (Python Data Source API)",
    doc="Custom Python Data Source under the oracle gate: a "
    "from-scratch pyspark.sql.datasource implementation whose rows "
    "derive deterministically from md5('doc:'||id), read through the "
    "real partition-planning -> per-task read -> Arrow transport "
    "cycle (8 independent range slices, no driver materialization). "
    "The DuckDB oracle regenerates the identical rows with SQL md5 "
    "arithmetic, so a green row certifies the source produced "
    "exactly the declared data across every partition — the "
    "non-file ingestion shape (API/queue/generator) the reference's "
    "Lambda-copy path cannot express.",
)
def source_python_datasource_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.sources.pydatasource import register_synthdocs

    register_synthdocs(spark)
    return (
        spark.read.format("synthdocs")
        .option("n", 500)
        .option("partitions", 8)
        .load()
    )


@register(
    "partition_pruned_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-03 00:00:00'
      AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-05 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.1 sources (S9 partition layout)",
    doc="Hive-style partition pruning under the oracle gate (S9, the "
    "reference's YEAR=/ELEMENT= bronze layout): events written "
    "partitionBy(event_date) to a temp dir, read back with a 2-day "
    "filter. The in-query assert requires PartitionFilters (real "
    "directory pruning — untouched days are never opened, THE "
    "mechanism that keeps a 100 TB date-ranged scan proportional to "
    "days touched); the oracle certifies the filtered aggregate from "
    "source parquet.",
)
def partition_pruned_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    if ev.isEmpty():
        # empty source: a partitioned write lands no files and the
        # read-back cannot infer a schema; empty summary instead
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, sum_value double"
        )
    path = os.path.join(scratch_dir(spark), "events_by_day")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_date").isin("2024-01-03", "2024-01-04")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan, plan
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_spend,
           ROUND(MAX(c.c_acctbal), 2) AS acctbal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
    category="2.1 sources/sinks (bucketed layout)",
    doc="Shuffle-FREE fact/dim join via bucketing: both tables are "
    "written CLUSTERED BY the join key into 8 sorted buckets "
    "(``bucketBy + sortBy + saveAsTable``, external path), then "
    "joined with a merge hint — Catalyst sees matching bucketed "
    "distributions and plans a sort-merge join with NO Exchange on "
    "either side, and the same bucketing satisfies the downstream "
    "group-by's distribution too (tests/test_formats_bucketed.py "
    "asserts zero shuffle exchanges in the physical plan). This is "
    "the pre-shuffle-once-join-forever layout that amortizes the "
    "dominant cost of repeated big joins at 100 TB; the driver gate "
    "checks the VALUES equal a plain join of the source parquet.",
)
def join_bucketed_colocated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    specs = [
        ("lh_bucketed_orders", orders, "o_custkey"),
        ("lh_bucketed_customer", customer, "c_custkey"),
    ]
    for tbl, df, key in specs:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    o = spark.table("lh_bucketed_orders")
    c = spark.table("lh_bucketed_customer")
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
    )


@register(
    "layout_zorder_pruned_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10 AND 60
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.1 sources/sinks (S7 layout)",
    doc="Z-ORDER clustered layout + multi-dimension file skipping "
    "(Delta OPTIMIZE ZORDER BY / Iceberg sort-order rewrite): the "
    "table is rewritten range-partitioned AND sorted on the Morton "
    "interleave of (user_id, value), so every file's footer min/max "
    "is tight on BOTH columns at once; the snapshot manifest records "
    "those per-file ranges, and a 2-D range query plans only the "
    "files whose ranges intersect on every predicate column "
    "(in-query assert: strictly fewer than the live total) plus the "
    "exact residual filter. Linear clustering prunes one leading "
    "column; Z-order prunes multiplicatively — at 100 TB this is "
    "the difference between opening a row of the file grid and "
    "opening a cell.",
)
def layout_zorder_pruned_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.layout import zorder_code
    from aws_lakehouse_spark.sources.snapshots import (
        plan_pruned_files,
        read_snapshot_pruned,
        snapshot_write,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    if events.isEmpty():
        # empty source: no files for the Z-order layout to prune
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    table = os.path.join(scratch_dir(spark), "events_z")
    code = zorder_code({"user_id": (0, 1500), "value": (0, 600)})
    clustered = (
        events.withColumn("__z", code)
        .repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    assert snapshot_write(
        spark, clustered, table, "overwrite",
        stats_cols=["user_id", "value"],
    ) == 0
    preds = {"user_id": (3, 9), "value": (10.0, 60.0)}
    planned, total = plan_pruned_files(table, preds)
    if total < 2 or not planned:
        # too few rows for a multi-file Z-order layout, or the fixed
        # probe box misses the data: pruning has nothing to certify
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    assert 0 < len(planned) < total, (planned, total)
    pruned = read_snapshot_pruned(spark, table, preds)
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
        SELECT event_type, MIN(event_id) AS first_id
        FROM events GROUP BY event_type
        HAVING MIN(event_id) % 2 = 0
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    category="2.3 joins (J-ext runtime pruning)",
    doc="Dynamic partition pruning: the fact table is laid out "
    "hive-partitioned on the join key; the dim side's selective "
    "filter is only known at RUN time, so Catalyst injects a "
    "dynamicpruning subquery into the fact scan's PartitionFilters "
    "— the fact directories for non-qualifying keys are never "
    "listed, let alone read (in-query assert on the physical plan). "
    "This is THE mechanism that makes star joins over a 100 TB "
    "date/category-partitioned fact proportional to the dim "
    "selection instead of the table: static pruning can't see "
    "through a join, DPP can.",
)
def join_dynamic_partition_pruning_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    if events.isEmpty():
        # empty source: a partitioned write lands no files and the
        # read-back cannot infer a schema; empty summary instead
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    base = os.path.join(scratch_dir(spark), "events_p")
    events.write.mode("overwrite").partitionBy("event_type").parquet(base)
    fact = spark.read.parquet(base)
    # the dim filter rides on an AGGREGATED attribute (first seen
    # event id), which static predicate inference cannot transfer to
    # the fact key — only runtime DPP can prune with it
    dim = (
        fact.groupBy("event_type")
        .agg(F.min("event_id").alias("first_id"))
        .filter(F.col("first_id") % 2 == 0)
        .select("event_type")
    )
    joined = fact.join(F.broadcast(dim), "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "source_python_stream_datasource",
    oracle="""
    SELECT i AS doc_id,
           md5('doc:' || CAST(i AS VARCHAR)) AS digest,
           (['web', 'books', 'code', 'wiki'])[
               (CAST('0x' || substring(
                   md5('doc:' || CAST(i AS VARCHAR)), 1, 2) AS INT) % 4) + 1
           ] AS source,
           CAST(50 + CAST('0x' || substring(
               md5('doc:' || CAST(i AS VARCHAR)), 3, 2) AS INT) % 200
               AS INT) AS n_words
    FROM range(0, 200) t(i)
    """,
    category="2.10 streaming (Python Data Source)",
    doc="STREAMING Python Data Source under the oracle gate: the "
    "same deterministic md5 source as source_python_datasource, but "
    "drained through a REAL structured-streaming query — "
    "SimpleDataSourceStreamReader offsets, checkpointed micro-"
    "batches (200 rows at 60/batch = 4 commits), parquet sink — and "
    "the sink is read back. A green row certifies offset planning, "
    "exactly-once batch replay (readBetweenOffsets), and sink "
    "atomicity end-to-end; the oracle regenerates the rows with SQL "
    "md5 arithmetic. This is the queue/CDC-feed ingestion shape: "
    "at scale the same reader contract pages a real log, and the "
    "checkpoint makes restarts resume mid-stream.",
)
def source_python_stream_datasource_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time

    from aws_lakehouse_spark.sources.pydatasource import register_synthdocs

    register_synthdocs(spark)
    base = scratch_dir(spark)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    q = (
        spark.readStream.format("synthdocs")
        .option("n", 200)
        .option("batch_size", 60)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 200:
                    break
            except Exception:
                pass  # sink dir not created yet
            time.sleep(0.5)
    finally:
        q.stop()
    return spark.read.parquet(out)


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03'
                          THEN value * 2 ELSE value END), 2) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    category="2.1 sources/sinks (S7 layout)",
    doc="Dynamic partition overwrite (Spark's "
    "``partitionOverwriteMode=dynamic``, the Hive/Iceberg "
    "INSERT OVERWRITE contract): a corrected slice of ONE day is "
    "rewritten into the partitioned table and ONLY the partitions "
    "present in the incoming frame are replaced — untouched days' "
    "files survive byte-for-byte (in-query asserts: the 01-03 "
    "directory's files changed, a sibling day's did not). This is "
    "the idempotent daily-backfill primitive at 100 TB: reprocessing "
    "one bad day rewrites one day's partitions, never the table. "
    "The oracle certifies the merged result — doubled values on the "
    "rewritten day, originals elsewhere.",
)
def sink_dynamic_partition_overwrite_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    have = {
        r[0]
        for r in ev.filter(
            F.col("event_date").isin("2024-01-02", "2024-01-03")
        )
        .select("event_date")
        .distinct()
        .collect()
    }
    if len(have) < 2:
        # the scenario rewrites the 01-03 partition and proves the
        # 01-02 sibling survives untouched; without both days there
        # are no partition directories to certify
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, sum_value double"
        )
    path = os.path.join(scratch_dir(spark), "events_by_day")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)

    def part_files(day: str) -> set[str]:
        d = os.path.join(path, f"event_date={day}")
        return {f for f in os.listdir(d) if f.endswith(".parquet")}

    before_patch = part_files("2024-01-03")
    before_other = part_files("2024-01-02")
    patch = ev.filter(F.col("event_date") == "2024-01-03").withColumn(
        "value", F.col("value") * 2
    )
    (
        patch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )
    assert part_files("2024-01-03") != before_patch
    assert part_files("2024-01-02") == before_other
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "format_roundtrip_xml",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                 / 100.0, 2) AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    WHERE o_orderkey < 1000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.1 sources (format ext)",
    doc="XML write→read round-trip (Spark 4's built-in XML source — "
    "the spark-xml package folded into core): an orders slice is "
    "written as <row> elements and re-read with an explicit schema "
    "and rowTag (no inference scan), then aggregated. XML is the "
    "interchange format B2B/EDI and legacy-feed ingestion still "
    "arrives in; the distributed writer shards rows across files "
    "and the reader parses them vectorized per task. The oracle "
    "aggregates the source parquet directly, so a green row proves "
    "values survive the text round-trip exactly (exact integer-"
    "cent totals — immune to sum order).",
)
def format_roundtrip_xml_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = os.path.join(scratch_dir(spark), "orders_xml")
    (
        orders.write.mode("overwrite")
        .option("rootTag", "orders")
        .option("rowTag", "row")
        .xml(path)
    )
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("rowTag", "row")
        .xml(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast(
                        "decimal(38,0)"
                    )
                )
                / 100.0,
                2,
            ).alias("total_price"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
        )
        .orderBy("o_orderstatus")
    )
