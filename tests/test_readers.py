"""Reader-operator tests (SURVEY §2.1 S1-S2, Python data source)."""

from __future__ import annotations

import pyspark.sql.functions as F

from aws_lakehouse_spark.sources import scan_parquet, scan_text


def test_scan_parquet_partition_discovery_and_pruning(spark, tmp_path):
    src = str(tmp_path / "tree")
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("year"),
    )
    df.write.partitionBy("year").parquet(src)

    out = scan_parquet(spark, src)
    assert "year" in out.columns  # discovered as a real partition col

    pruned = out.filter(F.col("year") == 2)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # the filter must prune at the file index, not post-scan
    assert "PartitionFilters: [isnotnull(year" in plan
    assert pruned.count() == 25


def test_scan_text_single_value_column(spark, tmp_path):
    p = tmp_path / "fixed.txt"
    p.write_text("US  United States\nFR  France\n")
    out = scan_text(spark, str(p))
    assert out.columns == ["value"]
    assert out.count() == 2


def test_python_datasource_partition_invariant(spark):
    """The custom Python Data Source yields identical data for any
    partition count (slices are independent and exhaustive), and the
    scan parallelism equals the requested partitions."""
    from aws_lakehouse_spark.sources.pydatasource import (
        register_synthdocs,
        synth_row,
    )

    register_synthdocs(spark)

    def load(parts):
        return (
            spark.read.format("synthdocs")
            .option("n", 100)
            .option("partitions", parts)
            .load()
        )

    one = sorted(tuple(r) for r in load(1).collect())
    eight = sorted(tuple(r) for r in load(8).collect())
    assert one == eight
    assert len(one) == 100
    # rows match the shared deterministic formula exactly
    assert one[:3] == sorted(synth_row(i) for i in range(100))[:3]
    assert load(8).rdd.getNumPartitions() == 8
