"""Z-order layout tests: Morton code correctness + the actual
file-skipping payoff of a Z-ordered rewrite (per-file min/max
tightness vs hash layout)."""

from __future__ import annotations

from aws_lakehouse_spark.layout import zorder_code


def test_zorder_code_interleaves_bits(spark):
    # 2 columns, 2 bits each, ranges chosen so value == bin index:
    # code = interleave(x, y) — classic Morton pairs
    df = spark.createDataFrame(
        [(0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0), (1.0, 2.0)],
        "x double, y double",
    )
    code = zorder_code({"x": (0.0, 3.0), "y": (0.0, 3.0)}, bits=2)
    got = [r["z"] for r in df.select(code.alias("z")).collect()]
    # x bits land at positions 0,2; y bits at 1,3
    def morton(x, y):
        return (
            (x & 1)
            | ((y & 1) << 1)
            | (((x >> 1) & 1) << 2)
            | (((y >> 1) & 1) << 3)
        )
    assert got == [morton(0, 0), morton(3, 0), morton(0, 3),
                   morton(3, 3), morton(1, 2)]


def test_zorder_tightens_file_stats(spark, sf_dir, tmp_path):
    """``snapshots.optimize_zorder`` rewrites a hash-laid-out table
    clustered by ``zorder_code``; each file's footer range must get
    much tighter on both clustered columns."""
    from aws_lakehouse_spark.sources import snapshots

    cols = ("l_quantity", "l_extendedprice")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(*cols)
    lo = li.agg({c: "min" for c in cols}).collect()[0]
    hi = li.agg({c: "max" for c in cols}).collect()[0]
    ranges = {c: (lo[f"min({c})"], hi[f"max({c})"]) for c in cols}
    table = str(tmp_path / "z")
    v0 = snapshots.snapshot_write(
        spark, li.repartition(8), table, "overwrite", stats_cols=list(cols)
    )
    v1 = snapshots.optimize_zorder(spark, table, ranges, n_files=8)

    def mean_file_range(version, col):
        stats = snapshots._read_manifest(table, version)["stats"]
        widths = [s[col][1] - s[col][0] for s in stats.values()]
        return sum(widths) / len(widths)

    # hash layout: every file spans ~the full domain of both columns;
    # z-order: each file covers a compact cube → much tighter stats
    for col in cols:
        z_w = mean_file_range(v1, col)
        h_w = mean_file_range(v0, col)
        assert z_w < 0.7 * h_w, (col, z_w, h_w)

    # layout must not lose or duplicate rows
    assert snapshots.read_snapshot(spark, table, v1).count() == li.count()


def test_widen_if_narrow_no_rdd_materialization(spark, tmp_path):
    """A one-file parquet input widens to defaultParallelism; an
    in-memory relation (no input files) is left alone — and the
    narrowness check never touches the RDD API (the estimate comes
    from driver-side file metadata)."""
    from aws_lakehouse_spark.layout import (
        _estimated_scan_partitions,
        widen_if_narrow,
    )

    path = str(tmp_path / "one_file")
    spark.range(0, 1000).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    est = _estimated_scan_partitions(df)
    assert est == 1  # tiny single file plans one split
    wide = widen_if_narrow(df)
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target  # test-side probe only
    assert wide.count() == 1000

    mem = spark.createDataFrame([(i,) for i in range(10)], "id bigint")
    assert _estimated_scan_partitions(mem) is None
    assert widen_if_narrow(mem) is mem  # unknown → never a shuffle


def test_parse_bytes_accepts_every_spark_size_shape():
    """Size confs reach spark.conf.get verbatim in whatever shape the
    user set them — '134217728b' (Spark's own echo), '128MB', '1g' —
    and an unparseable value must decline the estimate, not crash the
    banded-join path."""
    from aws_lakehouse_spark.layout import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_bytes("128m") == 128 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 4  kb ") == 4096
    assert _parse_bytes(1048576) == 1048576  # int passthrough
    assert _parse_bytes("128 megabytes") is None
    assert _parse_bytes("abc") is None
    assert _parse_bytes("") is None


def test_widen_if_underparallel_skips_post_shuffle_frames(
    spark, tmp_path
):
    """The banded-join widener must (a) never probe df.rdd — that
    finalizes the physical plan and can eagerly run upstream stages
    under AQE — and (b) leave post-shuffle frames alone: their
    runtime partitioning is spark.sql.shuffle.partitions, not the
    scan's split count (r9 advice)."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.operators.joins import (
        _plan_shuffles,
        widen_if_underparallel,
    )

    path = str(tmp_path / "one_file")
    spark.range(0, 1000).coalesce(1).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)
    # scan + narrow ops (the call-site shape): widened
    exploded = scan.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(2)))
    )
    assert not _plan_shuffles(exploded)
    wide = widen_if_underparallel(exploded)
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target  # test-side probe only
    assert wide.count() == 3000

    # shuffle-bearing frames: untouched, identity (no added exchange)
    agged = scan.groupBy((F.col("id") % 7).alias("g")).count()
    joined = scan.join(
        scan.select(F.col("id").alias("k")), F.col("id") == F.col("k")
    )
    for frame in (agged, joined, scan.orderBy("id")):
        assert _plan_shuffles(frame)
        assert widen_if_underparallel(frame) is frame
