"""Scale-path extension queries: skew-salted aggregation and the
numpy-vectorized similarity search."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from aws_lakehouse_spark.catalog import load_table
from aws_lakehouse_spark.operators.skew import salted_group_agg
from aws_lakehouse_spark.registry import register
from aws_lakehouse_spark.session import scratch_dir


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_l_quantity,
           MIN(l_extendedprice) AS min_l_extendedprice,
           MAX(l_extendedprice) AS max_l_extendedprice,
           ROUND(AVG(l_quantity), 4) AS avg_l_quantity
    FROM lineitem GROUP BY l_returnflag
    """,
    category="2.4 aggregates (skew path)",
    doc="Salted two-stage aggregation over a 3-distinct-key column "
    "(maximum skew shape): hot keys spread across 16 salt buckets in "
    "the partial stage, exact results re-combined by true key — "
    "oracle-checked equal to the direct GROUP BY.",
)
def agg_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_group_agg(
        li,
        ["l_returnflag"],
        sum_cols=["l_quantity"],
        min_cols=["l_extendedprice"],
        max_cols=["l_extendedprice"],
        avg_of=["l_quantity"],
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        F.round("sum_l_quantity", 2).alias("sum_l_quantity"),
        "min_l_extendedprice",
        "max_l_extendedprice",
        F.round("avg_l_quantity", 4).alias("avg_l_quantity"),
    )


_DUCK_DOT = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


def _duck_cos(a: str, b: str) -> str:
    return (
        f"{_DUCK_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DUCK_DOT.format(a=a, b=a)}) * "
        f"sqrt({_DUCK_DOT.format(a=b, b=b)}))"
    )


@register(
    "ann_bruteforce_vectorized",
    # BLAS pairwise summation vs DuckDB sequential accumulation agree
    # to well past 4 dp; rounding BEFORE ranking (both sides) with an
    # id tie-break makes the ranked output hash-stable.
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_duck_cos('q.v', 'c.v')}, 4) AS cosine_sim
        FROM c, q WHERE q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    category="llm similarity",
    doc="Numpy-vectorized exact cosine top-k via mapInPandas: each "
    "Arrow batch scored against all queries in one BLAS matmul, "
    "per-batch top-k cut, window merge. Oracle-checked against the "
    "sequential-accumulation DuckDB ranking with sims rounded to "
    "4 dp pre-rank; raw-double variant asserted tolerance-equal to "
    "ann_bruteforce_topk in tests/test_llm.py.",
    bench=True,
)
def ann_bruteforce_vectorized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.similarity import brute_force_topk_vectorized

    emb = load_table(spark, sf_dir, "embeddings")
    queries_pdf = emb.filter(F.col("vec_id") < 10).toPandas()
    return brute_force_topk_vectorized(emb, queries_pdf, k=5, round_digits=4)


@register(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_rows,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    category="2.3 joins",
    doc="Salted skew join: the hot-keyed fact side gets a [0,16) "
    "salt, the other side is exploded across all 16 salts, and the "
    "equi-join keys on (key, salt) — a single hot key spreads over "
    "16 reducers instead of one. Oracle-checked exactly equal to "
    "the plain join (salting never changes match cardinality). For "
    "when AQE skew split can't apply (downstream partitioning "
    "pinned, or one key > executor memory).",
)
def join_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", salt_buckets=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "join_range_banded",
    # the oracle prunes candidates with the SAME band trick the
    # engine uses (intervals exploded to their covered 4000-wide
    # bands, points to one band, equi-join + exact residual) instead
    # of a raw inequality join — verified row-identical at sf0.01 and
    # sf1, ~2.3x less oracle wall at sf1 (r10); the residual keeps
    # the result set exactly the nested-loop one
    oracle="""
    WITH p AS MATERIALIZED (
        SELECT p_brand, p_retailprice,
               unnest(range(
                   CAST(floor((p_retailprice * 100 - 2000) / 4000)
                        AS BIGINT),
                   CAST(floor((p_retailprice * 100 + 2000) / 4000)
                        AS BIGINT) + 1
               )) AS band
        FROM part
    ), o AS (
        SELECT o_totalprice,
               CAST(floor(o_totalprice / 4000) AS BIGINT) AS band
        FROM orders
    )
    SELECT p.p_brand,
           COUNT(*) AS n_matches,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) / 100.0
               AS sum_price
    FROM o
    JOIN p
      ON o.band = p.band
     AND o.o_totalprice >= p.p_retailprice * 100 - 2000
     AND o.o_totalprice <= p.p_retailprice * 100 + 2000
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    category="2.3 joins",
    doc="Large x large interval join WITHOUT a nested loop: both "
    "sides banded onto a 4000-wide grid, equi-join on the band id, "
    "exact range predicate as residual — O(points + intervals x 2) "
    "join input instead of O(points x intervals). Oracle-checked "
    "equal to the nested-loop range join. Price reduces in exact "
    "integer cents (repo-wide convention) — a plain double SUM went "
    "bitwise-unequal to the oracle at sf0.1 as the association "
    "order diverged.",
)
def join_range_banded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators import range_join_banded

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        (F.col("p_retailprice") * 100 - 2000).alias("lo"),
        (F.col("p_retailprice") * 100 + 2000).alias("hi"),
    )
    joined = range_join_banded(o, p, "o_totalprice", "lo", "hi", 4000.0)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                )
                / 100.0
            ).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


@register(
    "join_full_outer",
    oracle="""
    WITH big AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders
        WHERE o_totalprice > 400000
        GROUP BY o_custkey
    ), vip AS (
        SELECT c_custkey, c_name
        FROM customer WHERE c_acctbal > 9000
    )
    SELECT COALESCE(b.o_custkey, v.c_custkey) AS custkey,
           v.c_name, b.n_orders, b.sum_price
    FROM big b
    FULL OUTER JOIN vip v ON b.o_custkey = v.c_custkey
    """,
    category="2.3 joins",
    doc="Full-outer join preserving unmatched rows on BOTH sides: "
    "big-ticket order rollups vs high-balance customers, keyed "
    "COALESCE surfacing whichever side matched. Full outer cannot "
    "broadcast (null-extension needs both sides complete) — Spark "
    "plans a shuffle sort-merge join on the key, the right call at "
    "any scale.",
)
def join_full_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )
    vip = customer.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", "c_name"
    )
    joined = big.join(
        vip, big["o_custkey"] == vip["c_custkey"], "full_outer"
    )
    return joined.select(
        F.coalesce(big["o_custkey"], vip["c_custkey"]).alias("custkey"),
        "c_name",
        "n_orders",
        "sum_price",
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    category="2.4 aggregates",
    doc="Pivot: per-user event counts spread into one column per "
    "event type. The value list is DECLARED (not discovered), so "
    "Spark skips the extra distinct-values job and plans a single "
    "hash aggregate — at 100 TB an undeclared pivot means one full "
    "extra pass just to learn the columns.",
)
def agg_pivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
        .orderBy("user_id")
    )
    # pivot leaves null for absent combinations; the oracle's
    # conditional sums produce 0 — align
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, value
    FROM (
        SELECT l_orderkey, l_linenumber,
               'quantity' AS metric, l_quantity AS value
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax
        FROM lineitem WHERE l_orderkey <= 100
    )
    """,
    category="2.4 aggregates",
    doc="Unpivot/melt: wide metric columns to (metric, value) rows "
    "via stack — one scan produces all three output rows per input "
    "row (the oracle's UNION ALL shape would scan three times).",
)
def agg_unpivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 100
    )
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, "
        "'tax', l_tax) AS (metric, value)",
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    category="2.4 aggregates",
    doc="Exact linear-interpolated percentiles per group (Spark "
    "`percentile` == DuckDB `quantile_cont`). Exact percentile "
    "buffers all group values — right at dim cardinality; at 100 TB "
    "fact scale switch to approx_percentile (t-digest, mergeable "
    "partials) and trade the oracle for a tolerance check.",
)
def agg_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.expr(f"percentile(l_extendedprice, {p})"), 4
            ).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(l_extendedprice / 10000), 10) AS BIGINT)
             AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem
    GROUP BY bucket ORDER BY bucket
    """,
    category="2.4 aggregates",
    doc="Fixed-width histogram of a value column (10k-wide buckets, "
    "top-coded at 10): integer bucket derivation scan-side, one "
    "count shuffle on the small bucket key — the distribution "
    "profile pass data-quality dashboards run per column.",
)
def agg_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / 10000), F.lit(10)
    ).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 != 0
    ), new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 3 != 1
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'update' END AS change_type,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'update' END) IS NOT NULL
    """,
    category="2.3 joins (CDC)",
    doc="CDC diff between two table snapshots (insert/delete/update "
    "classification): one full-outer equi-join, both sides "
    "co-partitioned on the key, unchanged rows dropped in-join so "
    "downstream scales with |changes| not |table|. Demo snapshots "
    "are deterministic orderkey-mod slices with planted updates; "
    "composes with sources.snapshots versions for time-travel diffs.",
)
def cdc_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.cdc import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 3 != 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register(
    "snapshot_time_travel_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 != 0
    ), new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'T'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 4 != 1
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'update' END AS change_type,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 'update' END) IS NOT NULL
    """,
    category="2.9 maintenance (M5 snapshot log)",
    doc="End-to-end snapshot-log lifecycle (M5, the engine's "
    "Iceberg-semantics layer, sources/snapshots.py): commit version "
    "0 (overwrite), commit version 1 with planted deletes/inserts/"
    "updates, TIME-TRAVEL back to version 0 via its manifest file "
    "list, and CDC-diff the two time-travel reads. The oracle "
    "recomputes the same diff straight from the source parquet, so "
    "a green row certifies write -> manifest commit -> time-travel "
    "read -> diff, not just the diff algebra. Each call commits to "
    "a fresh session scratch dir (kept for the caller's collect, "
    "removed by spark.stop()). Reference parity: Iceberg "
    "snapshots + time travel the reference relies on "
    "(glue-jobs/noaa_ghcn_bronze_to_silver.py:108-143).",
)
def snapshot_time_travel_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.operators.cdc import snapshot_diff
    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    v0 = base.filter(F.col("o_orderkey") % 4 != 0)
    v1 = base.filter(F.col("o_orderkey") % 4 != 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("T"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    assert snapshot_write(spark, v0, table, mode="overwrite") == 0
    assert snapshot_write(spark, v1, table, mode="overwrite") == 1
    old = read_snapshot(spark, table, version=0)
    new = read_snapshot(spark, table, version=1)
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
    category="2.4 aggregates (incremental)",
    doc="Incremental aggregate maintenance: the standing aggregate "
    "(orders up to a watermark) merges a delta batch's partials via "
    "union + one re-agg on the group key — dim-cardinality work, no "
    "fact rescan. Oracle-checked equal to the full recompute, which "
    "is the algebraic-aggregate guarantee.",
)
def incremental_agg_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.cdc import merge_partial_aggregates

    orders = load_table(spark, sf_dir, "orders")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_totalprice").alias("sum_totalprice"),
        )

    base = partial(orders.filter(F.col("o_orderkey") <= 30000))
    delta = partial(orders.filter(F.col("o_orderkey") > 30000))
    merged = merge_partial_aggregates(
        base, delta, ["o_orderpriority"], ["sum_totalprice"]
    )
    return merged.select(
        "o_orderpriority",
        "n_rows",
        F.round("sum_totalprice", 2).alias("sum_totalprice"),
    )


@register(
    "agg_quantile_sketch",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS q25,
           quantile_disc(l_quantity, 0.50) AS q50,
           quantile_disc(l_quantity, 0.75) AS q75,
           quantile_disc(l_quantity, 0.99) AS q99
    FROM lineitem GROUP BY l_returnflag
    """,
    category="2.4 aggregates (sketch)",
    doc="Sketch-based grouped quantiles via approx_percentile "
    "(Greenwald-Khanna): mergeable fixed-size per-group summaries — "
    "partial sketches combine map-side, only the sketch crosses the "
    "exchange, never the values. THE quantile plan at 100 TB, where "
    "exact per-group sorting is a full-data shuffle. Accuracy "
    "parameter is sized above the per-group row count at test SF, "
    "where G-K degenerates to exact discrete quantiles — so the "
    "DuckDB quantile_disc oracle checks the sketch path end-to-end.",
)
def agg_quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_quantity, "
            "array(0.25D, 0.50D, 0.75D, 0.99D), 1000000)"
        ).alias("__q")
    )
    return sk.select(
        "l_returnflag",
        F.col("__q")[0].alias("q25"),
        F.col("__q")[1].alias("q50"),
        F.col("__q")[2].alias("q75"),
        F.col("__q")[3].alias("q99"),
    )


@register(
    "maintenance_compact_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.9 maintenance (M2 compaction)",
    doc="Compaction (M2) under the oracle gate: orders written as 64 "
    "deliberately-small files, binpacked by compact_path (size the "
    "live files, repartition-rewrite toward the 256 MB target, swap "
    "directories — the plain-parquet equivalent of Iceberg "
    "rewrite_data_files binpack, iceberg_maintenance.py:58-70), then "
    "read back and aggregated. The in-query assert proves the file "
    "count actually dropped; the green oracle row proves compaction "
    "lost and duplicated nothing.",
    bench=True,
)
def maintenance_compact_roundtrip_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.maintenance import compact_path

    orders = load_table(spark, sf_dir, "orders")
    if orders.limit(64).count() < 64:
        # the scenario seeds 64 small files, which needs at least 64
        # rows; fewer (or none) means nothing to compact — empty
        # summary, not a degenerate-scenario assertion failure
        return spark.createDataFrame(
            [], "o_orderpriority string, n_orders bigint, sum_price double"
        )
    path = os.path.join(scratch_dir(spark), "orders_small_files")
    orders.repartition(64).write.mode("overwrite").parquet(path)
    stats = compact_path(spark, path)
    assert stats["files_before"] >= 64, stats
    assert stats["files_after"] < stats["files_before"], stats
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "snapshot_delete_update",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus,
           o_totalprice
    FROM orders
    WHERE o_orderkey % 10 != 0
    """,
    category="2.9 maintenance (M5 row-level ops)",
    doc="Row-level DELETE + UPDATE with copy-on-write snapshots (the "
    "Iceberg/Delta DML the reference's ACID tables provide; the "
    "GDPR-delete workflow every lakehouse runs): seed a snapshot "
    "table from orders, DELETE keys %10==0, UPDATE keys %7==0, read "
    "the final version. Each DML commits its own time-travelable "
    "version — deleted rows remain readable at prior versions until "
    "expiry (pytest covers the time-travel face). Oracle recomputes "
    "the surviving rows straight from source parquet.",
    bench=True,
)
def snapshot_delete_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        delete_where,
        read_snapshot,
        snapshot_write,
        update_where,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no rows to delete/update; empty result, not a
        # degenerate-scenario assertion failure
        return spark.createDataFrame(
            [], "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    assert snapshot_write(spark, orders, table, "overwrite") == 0
    d = delete_where(spark, table, F.col("o_orderkey") % 10 == 0)
    assert d["version"] == 1 and d["rows_deleted"] > 0, d
    u = update_where(
        spark,
        table,
        F.col("o_orderkey") % 7 == 0,
        {"o_orderstatus": F.lit("U")},
    )
    assert u["version"] == 2, u
    return read_snapshot(spark, table)


@register(
    "snapshot_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    category="2.9 maintenance (M5 schema evolution)",
    doc="Schema evolution across snapshot versions (Iceberg/Delta "
    "add-column semantics): version 0 lands two columns, an append "
    "commit adds files carrying a third; the evolved read "
    "(union-by-name via mergeSchema over the manifest's file list) "
    "surfaces old files with the new column NULL-backfilled. Oracle "
    "reconstructs the same union from source parquet.",
)
def snapshot_schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot_evolved,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = os.path.join(scratch_dir(spark), "orders_snap")
    v0 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v1 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    assert snapshot_write(spark, v0, table, "overwrite") == 0
    assert snapshot_write(spark, v1, table, "append") == 1
    return read_snapshot_evolved(spark, table)


@register(
    "snapshot_merge_into",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN 'M'
                ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0 THEN
                CAST(CAST(o_totalprice AS DECIMAL(18,2))
                     * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
    """,
    category="2.9 maintenance (M5 row-level ops)",
    doc="Delta/Iceberg MERGE INTO on the snapshot table (the upsert "
    "DML completing the M5 surface next to DELETE/UPDATE — the "
    "reference's Iceberg tables accept the same statement): seed a "
    "snapshot from orders keys %3!=0, merge a CDC-style source batch "
    "of keys %2==0 carrying status 'M' and a 10% price bump — "
    "matched keys update whole-row-atomically, unmatched source keys "
    "insert, untouched target rows carry over; one full-outer "
    "equi-join on the merge key plus the duplicate-source-key guard. "
    "The merge commits its own time-travelable version. Oracle "
    "reconstructs the post-merge table straight from source parquet.",
)
def snapshot_merge_into_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        merge_into,
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    assert snapshot_write(spark, target, table, "overwrite") == 0
    # 10% bump in EXACT decimal arithmetic (decimal(18,2) * decimal(3,1)
    # is lossless, no rounding step at all), then back to double: ROUND
    # over a double product diverges between engines when the product's
    # shortest decimal repr sits on a .xx5 boundary (Spark rounds the
    # repr, DuckDB the scaled double) — 9/12500 rows flipped by 0.01.
    source = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        # the standard CDC posture: key-dedupe the source batch before
        # MERGE. An at-least-once replayed ingest ships every row
        # twice, and merge_into (like Delta) refuses a multi-row
        # source key; here every source column is a function of the
        # key, so the dedup is semantically exact.
        .dropDuplicates(["o_orderkey"])
        .select(
            "o_orderkey",
            F.lit("M").alias("o_orderstatus"),
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(3,1)")
            )
            .cast("double")
            .alias("o_totalprice"),
        )
    )
    m = merge_into(spark, table, source, on=["o_orderkey"])
    assert m["version"] == 1, m
    return read_snapshot(spark, table)


@register(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH clean AS (
        SELECT c_custkey, c_name FROM customer
    ), dirty AS (
        -- planted single-char corruption mid-string for 1/3 of keys
        SELECT c_custkey AS d_custkey,
               CASE WHEN c_custkey % 3 = 0 THEN
                   substring(c_name, 1, 10) || 'X'
                   || substring(c_name, 12)
               ELSE c_name END AS d_name
        FROM customer
    ), cand AS (
        SELECT c.c_custkey, c.c_name, d.d_custkey, d.d_name
        FROM clean c JOIN dirty d
          ON substring(c.c_name, length(c.c_name) - 5)
             = substring(d.d_name, length(d.d_name) - 5)
         AND length(c.c_name) = length(d.d_name)
    )
    SELECT d_custkey, c_custkey,
           CAST(levenshtein(c_name, d_name) AS INTEGER) AS edit_distance
    FROM cand
    WHERE levenshtein(c_name, d_name) <= 1
    """,
    category="2.3 joins (entity resolution)",
    doc="Fuzzy string join (entity resolution): re-identify records "
    "from a corrupted feed (1/3 of names carry a planted mid-string "
    "typo) against the clean master, via CANDIDATE BANDING — equal "
    "length + shared 6-char suffix, a band the corruption cannot "
    "touch (at corpus scale the band key generalizes to q-gram LSH, "
    "the same machinery as the text dedup tier) — then exact "
    "Levenshtein verification <= 1 on candidates only. Never an "
    "all-pairs edit-distance cross join (O(N^2 L^2)); the band key "
    "is near-unique so candidates stay ~linear in input. Clean "
    "records match at distance 0, corrupted ones at 1; the oracle "
    "runs identical banding + verification in DuckDB.",
)
def join_fuzzy_levenshtein_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    clean = cust.select("c_custkey", "c_name")
    dirty = cust.select(
        F.col("c_custkey").alias("d_custkey"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 10),
                F.lit("X"),
                F.expr("substring(c_name, 12)"),
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
    )
    band_c = F.expr("substring(c_name, length(c_name) - 5)")
    band_d = F.expr("substring(d_name, length(d_name) - 5)")
    cand = clean.join(
        dirty,
        (band_c == band_d) & (F.length("c_name") == F.length("d_name")),
    )
    return cand.filter(F.levenshtein("c_name", "d_name") <= 1).select(
        "d_custkey",
        "c_custkey",
        F.levenshtein("c_name", "d_name").cast("int").alias("edit_distance"),
    )


@register(
    "agg_histogram_equidepth",
    oracle="""
    WITH cuts AS (
        SELECT quantile_disc(l_extendedprice,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
        FROM lineitem
    )
    SELECT CAST(len(list_filter(cuts.c, x -> x < l.l_extendedprice))
               AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem l, cuts
    GROUP BY bucket
    ORDER BY bucket
    """,
    category="2.4 aggregates",
    doc="Equi-DEPTH histogram (deciles): EXACT distributed order "
    "statistics — per-value counts (one value-cardinality shuffle), "
    "global cumulative rank via the repo's two-level prefix sum "
    "(value-range buckets; no global sort), decile cut = min value "
    "whose cumulative count reaches ceil(k*N/10), matching "
    "quantile_disc exactly at EVERY scale (a GK sketch flips a cut "
    "by one rank as soon as N/accuracy rounds past half a rank — "
    "observed at sf0.1 with accuracy=1e6). Cuts broadcast back; "
    "bucket derived scan-side as count-of-cuts-below. Everything "
    "between the two corpus scans is bounded by value cardinality, "
    "which is how exact equi-depth binning stays feasible at "
    "100 TB. Complements the fixed-width agg_histogram.",
)
def agg_histogram_equidepth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # two-level prefix sum over value order (same shape as
    # text_shard_plan): bucket by value range — bucket count scales
    # with the PRICE RANGE, not row count — then tiny cross-bucket
    # offsets + per-bucket running sums
    # three consumers (running sums, bucket totals, N) — checkpoint
    # the value-cardinality frame once so the corpus-count aggregate
    # runs once, per the repo's multi-consumer convention
    b = (
        counts.withColumn("__b", F.floor(F.col("v") / 100))
        .repartition("__b")
        .localCheckpoint(eager=False)
    )
    off_w = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # bucket totals feed BOTH the cross-bucket offsets and N (for the
    # ranks), off the same __b exchange — lineitem is scanned exactly
    # twice (the counts aggregate and the final bucketing scan)
    totals = b.groupBy("__b").agg(F.sum("cnt").alias("__bt"))
    offsets = totals.select(
        "__b",
        F.coalesce(F.sum("__bt").over(off_w), F.lit(0)).alias("__off"),
    )
    local_w = (
        Window.partitionBy("__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = b.join(F.broadcast(offsets), "__b").select(
        "v", (F.col("__off") + F.sum("cnt").over(local_w)).alias("cum")
    )
    # decile ranks in exact integer arithmetic: ceil(k*N/10) =
    # (k*N + 9) div 10 — never a float q*N whose binary epsilon
    # could round the rank up
    ranks = totals.agg(F.sum("__bt").alias("n")).select(
        F.explode(
            F.expr("transform(sequence(1, 9), k -> (k * n + 9) DIV 10)")
        ).alias("rank")
    )
    # smallest value whose cumulative count reaches each rank; the
    # 9-row broadcast makes the inequality join a bounded nested loop
    # over the value-cardinality frame, never a cartesian
    cuts = (
        cum.join(F.broadcast(ranks), F.col("rank") <= F.col("cum"))
        .groupBy("rank")
        .agg(F.min("v").alias("cut"))
        .agg(F.sort_array(F.collect_list("cut")).alias("c"))
    )
    bucket = F.size(
        F.filter(F.col("c"), lambda x: x < F.col("l_extendedprice"))
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS a_key, o_totalprice AS a_lo,
               o_totalprice + 5000 AS a_hi
        FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 2 = 0
    ), b AS (
        SELECT o_orderkey AS b_key, o_totalprice AS b_lo,
               o_totalprice + 3000 AS b_hi
        FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 2 = 1
    )
    SELECT a_key, b_key,
           ROUND(LEAST(a_hi, b_hi) - GREATEST(a_lo, b_lo), 2)
             AS overlap_amount
    FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
    """,
    category="2.3 joins (interval overlap)",
    doc="Interval x interval OVERLAP join without a nested loop: "
    "both sides band onto a 4000-wide grid, equi-join on the band, "
    "and each pair is emitted only in its canonical band (the later "
    "interval start) so no dedup shuffle is ever needed — the "
    "temporal/range analytics join (shift overlaps, price-band "
    "collisions, genomic ranges) at O(spans/width) join input "
    "instead of O(|A| x |B|). Oracle is the plain quadratic overlap "
    "join.",
)
def join_interval_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import (
        interval_overlap_join_banded,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000
    )
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_totalprice").alias("a_lo"),
        (F.col("o_totalprice") + 5000).alias("a_hi"),
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_totalprice").alias("b_lo"),
        (F.col("o_totalprice") + 3000).alias("b_hi"),
    )
    joined = interval_overlap_join_banded(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", 4000.0
    )
    return joined.select(
        "a_key",
        "b_key",
        F.round(
            F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo"), 2
        ).alias("overlap_amount"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT o_orderpriority, o_totalprice, o_orderkey,
               SUM(o_orderkey % 7 + 1) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(o_orderkey % 7 + 1) OVER (
                   PARTITION BY o_orderpriority) AS totw
        FROM orders
    )
    SELECT o_orderpriority,
           ROUND(MIN(o_totalprice), 2) AS weighted_median_price
    FROM w
    WHERE cumw * 2 >= totw
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.4 aggregates (weighted)",
    doc="Weighted median per group (weight = a deterministic per-row "
    "integer): cumulative weights over a PARTITIONED window pick the "
    "first value whose running weight reaches half the group total — "
    "the robust central-tendency metric when rows carry unequal mass "
    "(revenue-weighted latency, token-weighted quality). Scale "
    "shape: one shuffle on the group key; each window sorts within "
    "its group only — never a global sort. Integer weights and an "
    "orderkey tie-break keep the pick engine-deterministic.",
)
def agg_weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    wcol = (F.col("o_orderkey") % 7 + 1)
    cum_w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.partitionBy("o_orderpriority")
    w = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.sum(wcol).over(cum_w).alias("cumw"),
        F.sum(wcol).over(tot_w).alias("totw"),
    )
    return (
        w.filter(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("o_orderpriority")
        .agg(F.round(F.min("o_totalprice"), 2).alias("weighted_median_price"))
        .orderBy("o_orderpriority")
    )


@register(
    "agg_string_concat_ordered",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    category="2.4 aggregates (string)",
    doc="Ordered string aggregation (LISTAGG / string_agg): nation "
    "names concatenated per region in deterministic sort order — "
    "the denormalization step that feeds display layers and CSV "
    "exports. Determinism requires the explicit WITHIN-GROUP order; "
    "an unordered listagg is partitioning-dependent and would never "
    "hash-match. Dim-sized group frame; one shuffle.",
)
def agg_string_concat_ordered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations_csv"),
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_mode_per_group",
    oracle="""
    SELECT event_type, value_decile AS mode_decile, n AS mode_count
    FROM (
        SELECT event_type, value_decile, n,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY n DESC, value_decile ASC) AS rn
        FROM (
            SELECT event_type,
                   CAST(FLOOR(value / 10) AS INTEGER) AS value_decile,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY event_type, value_decile
        )
    ) WHERE rn = 1
    ORDER BY event_type
    """,
    category="2.4 aggregates (mode)",
    doc="Deterministic per-group MODE: count per (group, value), "
    "then a windowed argmax with an explicit value tie-break — "
    "built-in mode() functions leave ties engine-defined and could "
    "never hash-match; this formulation is exact and deterministic "
    "everywhere. Two bounded shuffles (pair counts, then the "
    "group-partitioned top-1 window over the distinct-pair frame).",
)
def agg_mode_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_lakehouse_spark.functions.scalar import finite

    ev = load_table(spark, sf_dir, "events")
    # finite(): a NaN/Inf measure lands in the NULL decile instead of
    # overflowing the ANSI int cast; identity on healthy data
    counts = ev.groupBy(
        "event_type",
        F.floor(finite(F.col("value")) / 10).cast("int").alias("value_decile"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("value_decile")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("value_decile").alias("mode_decile"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("event_type")
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category="2.3 joins (bloom prefilter ext)",
    doc="Bloom-filter semi-join pruning (operators/bloom.py): "
    "lineitem semi-joined to the urgent-order key set via a "
    "131072-bit Bloom bitmap evaluated scan-side in pure built-in "
    "expressions (xxhash64/shiftleft/element_at on a literal array, "
    "inside whole-stage codegen, BEFORE any exchange), then a "
    "residual exact left_semi join over the ~80%-pruned survivors "
    "removes false positives. At 100 TB this replaces the full-fact "
    "shuffle of a too-big-to-broadcast semi join with a bitmap "
    "broadcast plus a rounding-error residual shuffle. Oracle is the "
    "plain IN-subquery semi join.",
)
def join_bloom_prefilter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.bloom import bloom_semi_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    matched = bloom_semi_join(
        lineitem, urgent, fact_key="l_orderkey", dim_key="o_orderkey"
    )
    return (
        matched.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH e AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
               event_type, value
        FROM events
    ), clicks AS (
        SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'
    ), errors0 AS (
        SELECT user_id, ts, MAX(value) AS err_value
        FROM e WHERE event_type = 'error' GROUP BY user_id, ts
    ), cand AS (
        SELECT c.event_id, er.ts AS err_ts, er.err_value,
               abs(epoch_us(c.ts) - epoch_us(er.ts)) AS d
        FROM clicks c JOIN errors0 er ON c.user_id = er.user_id
        WHERE abs(epoch_us(c.ts) - epoch_us(er.ts)) <= 600000000
    ), best AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_id ORDER BY d, err_ts) AS rn
        FROM cand
    )
    SELECT c.event_id, c.user_id, c.ts, b.err_ts, b.err_value
    FROM clicks c
    LEFT JOIN best b ON b.event_id = c.event_id AND b.rn = 1
    ORDER BY c.event_id
    """,
    category="2.3 joins (as-of ext)",
    doc="Nearest-match as-of join with tolerance (pandas merge_asof "
    "direction='nearest'): every click matched to the closest error "
    "event of the same user within +-10 minutes, before OR after, "
    "equidistant ties to the earlier one — the sensor/telemetry "
    "alignment primitive. Single-shuffle union+window implementation "
    "(operators/joins.py:asof_join_nearest): both sides exchange "
    "ONCE on the key; backward and forward fills are two in-"
    "partition sorts over that exchange, never a per-row range scan. "
    "Oracle brute-forces argmin-by-distance per click in SQL.",
)
def join_asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("err_value")
    )
    out = asof_join_nearest(
        clicks,
        errors,
        ["user_id"],
        "ts",
        ["err_value"],
        tolerance=F.expr("INTERVAL 10 MINUTES"),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("err_ts"),
        F.col("err_value_asof").alias("err_value"),
    ).orderBy("event_id")


@register(
    "snapshot_tagged_read",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    """,
    category="2.9 maintenance (M5 tags)",
    doc="Time travel by NAME (Iceberg tag semantics — the "
    "audit-ready / prod-validated bookmark workflow): version 0 "
    "lands the even order keys and is tagged 'baseline', an "
    "overwrite commit replaces the live data with the odd keys, and "
    "the query reads THROUGH the tag — resolve_tag -> version -> "
    "manifest file list — proving the label still addresses the "
    "pre-overwrite snapshot. Tags commit put-if-absent like "
    "manifests (re-tagging raises, never silently moves a published "
    "label). Oracle reconstructs the tagged version's content from "
    "source parquet.",
)
def snapshot_tagged_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        resolve_tag,
        snapshot_write,
        tag_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    v0 = snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 2 == 0), table, "overwrite"
    )
    assert tag_snapshot(table, "baseline") == v0
    snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 2 == 1), table, "overwrite"
    )
    return read_snapshot(spark, table, version=resolve_tag(table, "baseline"))


@register(
    "agg_hll_partial_merge",
    # the sketch estimates are engine-specific; certify them in-band
    # against the exact weekly distincts (same pattern as
    # agg_approx_count_distinct) — a hash match proves every weekly
    # merged-sketch estimate landed within 5% of exact
    oracle="""
    SELECT strftime(date_trunc('week', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
             AS week_start,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY week_start
    ORDER BY week_start
    """,
    category="2.4 aggregates (mergeable sketches)",
    doc="Mergeable-sketch rollup — the 100 TB distinct-count "
    "architecture: per-DAY DataSketches HLL sketches of the user set "
    "(hll_sketch_agg) merge into per-WEEK cardinalities "
    "(hll_union_agg) WITHOUT re-scanning raw data — the daily "
    "sketch table is what a production pipeline persists, and any "
    "rollup window (week/month/rolling 28d) derives from sketch "
    "unions at sketch-table cost. The query certifies every weekly "
    "estimate within 5% of the exact distinct in-band; the exact "
    "side is computed once in the same plan for the certificate.",
)
def agg_hll_partial_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
            "week_start"
        ),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    sketches = daily.groupBy("week_start", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    weekly_approx = sketches.groupBy("week_start").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__approx")
    )
    weekly_exact = daily.groupBy("week_start").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        weekly_exact.join(weekly_approx, "week_start")
        .select(
            "week_start",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ).alias("within_5pct"),
        )
        .orderBy("week_start")
    )


@register(
    "join_longest_prefix",
    oracle="""
    WITH rules AS (
        SELECT p_name AS rule, 2 AS rule_len
        FROM part WHERE p_partkey % 5 = 0
        GROUP BY p_name
        UNION ALL
        SELECT str_split(p_name, ' ')[1] AS rule, 1 AS rule_len
        FROM part
        GROUP BY str_split(p_name, ' ')[1]
    ),
    cand AS (
        SELECT p_partkey, p_name AS pref, 2 AS plen FROM part
        UNION ALL
        SELECT p_partkey, str_split(p_name, ' ')[1] AS pref, 1 AS plen
        FROM part
    ),
    matched AS (
        SELECT c.p_partkey, r.rule, r.rule_len
        FROM cand c JOIN rules r
          ON c.pref = r.rule AND c.plen = r.rule_len
    )
    SELECT p_partkey,
           max_by(rule, rule_len) AS matched_rule,
           CAST(MAX(rule_len) AS INTEGER) AS rule_len
    FROM matched
    GROUP BY p_partkey
    """,
    category="2.3 joins (longest-prefix match)",
    doc="Longest-prefix-match join — the IP-routing / URL-rule / "
    "taxonomy dispatch primitive: a rule table holds 1-word prefixes "
    "(every first word) and 2-word exact rules (a keyed subset of "
    "names); each part matches the LONGEST applicable rule. The "
    "scalable shape: explode each probe into its bounded prefix "
    "ladder (depth 2 here; 32 for IPv4), equi-join the "
    "vocabulary-sized rule table (broadcast), keep max_by(rule, "
    "length) per key — a combinable aggregate, so no candidate "
    "ranking window and no regex scans.",
)
def join_longest_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    first_word = F.split(F.col("p_name"), " ").getItem(0)
    rules = (
        part.filter(F.col("p_partkey") % 5 == 0)
        .select(F.col("p_name").alias("rule"), F.lit(2).alias("rule_len"))
        .distinct()
        .unionByName(
            part.select(
                first_word.alias("rule"), F.lit(1).alias("rule_len")
            ).distinct()
        )
    )
    cand = part.select(
        "p_partkey", F.col("p_name").alias("pref"), F.lit(2).alias("plen")
    ).unionByName(
        part.select(
            "p_partkey", first_word.alias("pref"), F.lit(1).alias("plen")
        )
    )
    matched = cand.join(
        F.broadcast(rules),
        (cand.pref == rules.rule) & (cand.plen == rules.rule_len),
    )
    return matched.groupBy("p_partkey").agg(
        F.max_by("rule", "rule_len").alias("matched_rule"),
        F.max("rule_len").cast("int").alias("rule_len"),
    )


@register(
    "quality_benford_drift",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM obs)
    SELECT d AS leading_digit, n,
           ROUND(n / (SELECT t FROM tot), 6) AS p_obs,
           ROUND(log10(1.0 + 1.0 / d), 6) AS p_benford
    FROM obs ORDER BY d
    """,
    category="2.4 aggregation (distribution audit)",
    doc="Benford's-law audit of order values: observed leading-digit "
    "shares next to the log10(1+1/d) expectation — the classic "
    "fabricated-data / instrumentation-bug screen for financial "
    "facts (organic amounts follow Benford; synthetic or truncated "
    "feeds don't, as this uniform-ish synthetic data itself "
    "demonstrates). One scan-side digit projection + a 9-row "
    "aggregate; nothing downstream exceeds 9 rows.",
)
def quality_benford_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            "n",
            F.round(F.col("n") / F.col("t"), 6).alias("p_obs"),
            F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("p_benford"),
        )
        .orderBy("leading_digit")
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="2.4 aggregation (bitmap distinct)",
    doc="EXACT distinct counting via bitmap aggregation — the "
    "roaring-bitmap idea with pure built-ins: user ids bucket into "
    "64-bit words (id >> 6), each word bit_or-accumulates 1 << (id "
    "% 64), and the distinct count is the popcount sum over words. "
    "Unlike countDistinct's per-group value dedup, the bitmap is a "
    "map-side-combinable, MERGEABLE partial (words OR together "
    "across partitions, streams, or snapshots) with dense-id memory "
    "~1 bit/user — the exact-when-you-need-exact counterpart to the "
    "HLL sketch path. The oracle's plain COUNT(DISTINCT) certifies "
    "exactness.",
)
def agg_bitmap_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type",
        F.shiftright(F.col("user_id"), 6).alias("__word"),
    ).agg(
        # shiftleft's Python signature takes only a literal bit count;
        # the column-amount form goes through expr
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
        ).alias("__bits")
    )
    return (
        words.groupBy("event_type")
        .agg(
            F.sum(F.bit_count("__bits")).cast("bigint").alias("n_users")
        )
        .orderBy("event_type")
    )


@register(
    "snapshot_rollback_restore",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
    category="2.9 maintenance (M5 rollback)",
    doc="Snapshot rollback (Iceberg rollback_to_snapshot / Delta "
    "RESTORE): v0 lands keys %3==0, v1 appends %3==1, a bad "
    "overwrite at v2 drops history down to %3==2 only — then "
    "rollback_to(v1) commits v3 whose manifest re-lists v1's file "
    "set. Metadata-only: no data file moves or rewrites, the bad v2 "
    "stays time-travelable for audit, and the current read serves "
    "v1's data again. Oracle reconstructs the restored union "
    "straight from source parquet.",
)
def snapshot_rollback_restore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        rollback_to,
        snapshot_write,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    assert snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 3 == 0), table, "overwrite"
    ) == 0
    assert snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 3 == 1), table, "append"
    ) == 1
    # the bad load: an overwrite that dropped everything but %3==2
    assert snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 3 == 2), table, "overwrite"
    ) == 2
    v = rollback_to(table, 1)
    assert v == 3 and versions(table) == [0, 1, 2, 3]
    return read_snapshot(spark, table)


@register(
    "snapshot_stats_pruned_scan",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 3000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 file statistics)",
    doc="Iceberg-style data-file statistics + scan planning: the "
    "snapshot commit records per-file min/max o_orderkey straight "
    "from the parquet FOOTERS (no data pages read — what Iceberg "
    "keeps per data file in its manifests), after a "
    "repartitionByRange write clusters keys so ranges are tight. "
    "The ranged read then plans ONLY the stat-intersecting files "
    "(in-query assert: strictly fewer files than live total) plus "
    "the exact residual row filter. This is min/max file skipping "
    "on ANY clustered column with no directory layout at all — at "
    "100 TB a key-ranged query opens the handful of files whose "
    "footer range overlaps, not the table.",
)
def snapshot_stats_pruned_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        plan_pruned_files,
        read_snapshot_pruned,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no files, so nothing to prune; empty summary
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    clustered = orders.repartitionByRange(8, "o_orderkey")
    assert snapshot_write(
        spark, clustered, table, "overwrite", stats_cols=["o_orderkey"]
    ) == 0
    planned, total = plan_pruned_files(table, {"o_orderkey": (1000, 3000)})
    if total < 2 or not planned:
        # too few rows for a multi-file layout, or the fixed probe
        # range misses the data: pruning has nothing to certify
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    assert 0 < len(planned) < total, (planned, total)
    pruned = read_snapshot_pruned(spark, table, {"o_orderkey": (1000, 3000)})
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "snapshot_bloom_pruned_scan",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    WHERE o_custkey = 97
    """,
    category="2.9 maintenance (M5 file statistics)",
    doc="Iceberg/Puffin-style per-file BLOOM skipping: the snapshot "
    "commit records an NDV-sized bloom bitset of o_custkey per data "
    "file; a point lookup (`o_custkey = 97`) then plans ONLY the "
    "bloom-candidate files (in-query assert: strictly fewer than "
    "the live total) with the exact equality residual on surviving "
    "rows. Complements min/max stats pruning: ranges prune range "
    "predicates on CLUSTERED columns, a bloom prunes equality "
    "predicates on any high-cardinality column regardless of "
    "clustering. At 100 TB this turns an unpartitioned key lookup "
    "from a full scan into a handful of file opens.",
)
def snapshot_bloom_pruned_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        plan_bloom_pruned_files,
        read_snapshot_bloom_pruned,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no files, so nothing to bloom-prune
        return spark.createDataFrame(
            [],
            "n_orders bigint, total_price double, "
            "min_orderkey bigint, max_orderkey bigint",
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    # hash-clustered on the lookup key: each file holds ~1/8 of the
    # custkey space, so the bloom rules out ~7/8 of files
    clustered = orders.repartition(8, "o_custkey")
    assert snapshot_write(
        spark, clustered, table, "overwrite", bloom_cols=["o_custkey"]
    ) == 0
    planned, total = plan_bloom_pruned_files(table, "o_custkey", 97)
    if total < 2 or not planned:
        # too few rows for a multi-file layout, or no file can
        # contain the probe key: pruning has nothing to certify
        return spark.createDataFrame(
            [],
            "n_orders bigint, total_price double, "
            "min_orderkey bigint, max_orderkey bigint",
        )
    assert 0 < len(planned) < total, (planned, total)
    pruned = read_snapshot_bloom_pruned(spark, table, "o_custkey", 97)
    return pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
    )


@register(
    "snapshot_incremental_scan",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderkey % 3 = 1
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 incremental scan)",
    doc="Iceberg incremental scan: after a base commit (keys %3=0) "
    "and an append commit (keys %3=1), the consumer reads ONLY the "
    "files the append added — a manifest file-list diff, zero data "
    "reads to plan, cost proportional to the appended files. The "
    "oracle recomputes the appended slice straight from source, so "
    "a green row proves the diff surfaced exactly the new data and "
    "none of the base. This is how a downstream job processes a "
    "100 TB append-only table per cycle without ever re-scanning "
    "history — the engine-level form of the reference's "
    "bookmark-incremental Glue pattern.",
)
def snapshot_incremental_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot_incremental,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    v0 = snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 3 == 0), table, "overwrite"
    )
    snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 3 == 1), table, "append"
    )
    incr = read_snapshot_incremental(spark, table, since_version=v0)
    return (
        incr.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "incremental_partition_recompute",
    oracle="""
    WITH ev AS (
        SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_date,
               event_type, value
        FROM events
    ), late AS (
        SELECT event_date, event_type, value * 0.5 AS value
        FROM ev WHERE event_date IN ('2024-01-03', '2024-01-04')
    ), allr AS (
        SELECT * FROM ev UNION ALL SELECT * FROM late
    )
    SELECT event_date, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM allr GROUP BY event_date, event_type
    ORDER BY event_date, event_type
    """,
    category="2.8 composition (incremental recompute)",
    doc="Partition-selective gold recompute: a late-arriving batch "
    "touches 2 of N days, so ONLY those days' partitions are "
    "re-read (in-query assert: PartitionFilters prune the source "
    "scan to the touched days) and re-aggregated with the late "
    "rows; every untouched day's gold row carries over from the "
    "prior aggregate unread. The oracle recomputes the whole gold "
    "table from scratch, so a green row proves the stitched "
    "incremental result equals a full rebuild. At 100 TB this is "
    "the only affordable shape for late data: cost ∝ touched "
    "partitions + gold table size, not history.",
)
def incremental_partition_recompute_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    if ev.isEmpty():
        # empty source: a partitioned write lands no files and the
        # read-back cannot infer a schema; empty gold table instead
        return spark.createDataFrame(
            [],
            "event_date string, event_type string, "
            "n_events bigint, total_value double",
        )
    path = os.path.join(scratch_dir(spark), "events_by_day")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    # partition-column type inference reads event_date back as DATE;
    # the gold contract keys on the yyyy-MM-dd string
    gold_v1 = (
        spark.read.parquet(path)
        .withColumn("event_date", F.col("event_date").cast("string"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .localCheckpoint(eager=False)
    )
    touched = ["2024-01-03", "2024-01-04"]
    late = ev.filter(F.col("event_date").isin(touched)).select(
        "event_type", (F.col("value") * 0.5).alias("value"), "event_date"
    )
    src = (
        spark.read.parquet(path)
        .filter(F.col("event_date").isin(touched))
        .withColumn("event_date", F.col("event_date").cast("string"))
    )
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan, plan
    recomputed = (
        src.select("event_type", "value", "event_date")
        .unionByName(late)
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    stitched = gold_v1.filter(
        ~F.col("event_date").isin(touched)
    ).unionByName(recomputed)
    return stitched.orderBy("event_date", "event_type")


@register(
    "snapshot_wap_publish",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 write-audit-publish)",
    doc="Iceberg write-audit-publish (WAP): the new batch commits as "
    "a STAGED snapshot — physically written, auditable by explicit "
    "version, but INVISIBLE to the default (main) read; an audit "
    "pass validates the staged state (row count grows, no null "
    "keys — asserted in-query, as is main's isolation from the "
    "stage); publish_staged then cherry-picks it onto main as a "
    "metadata-only commit. The oracle recomputes the fully published "
    "table, so a green row certifies staging isolation + audit + "
    "cherry-pick end-to-end. This is how a 100 TB gold table takes "
    "risky loads: bad batches die in the staging area without a "
    "single reader ever seeing them, at zero data-copy cost.",
)
def snapshot_wap_publish_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        publish_staged,
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: nothing to stage or publish
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    batch = orders.filter(F.col("o_orderkey") % 2 == 1)
    if batch.isEmpty():
        # nothing to stage: the WAP scenario (staged count grows,
        # audit, publish) is not constructible without a batch
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    snapshot_write(spark, base, table, "overwrite")
    n_base = read_snapshot(spark, table).count()
    staged_v = snapshot_write(
        spark, batch, table, "append", staged_id="wap-batch-1"
    )
    # WRITE done; AUDIT: main still sees only the base, the staged
    # version holds base + batch and passes the quality gate
    assert read_snapshot(spark, table).count() == n_base
    staged = read_snapshot(spark, table, version=staged_v)
    n_staged = staged.count()
    assert n_staged > n_base
    assert staged.filter(F.col("o_orderkey").isNull()).count() == 0
    # PUBLISH: metadata-only cherry-pick onto main
    publish_staged(table, "wap-batch-1")
    final = read_snapshot(spark, table)
    assert final.count() == n_staged
    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "snapshot_partition_evolution",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderkey BETWEEN 200 AND 350
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 partition-spec evolution)",
    doc="Iceberg partition-spec EVOLUTION: the table's first commit "
    "lands under a coarse layout (4 range-clustered files over the "
    "historical high keyspace), a later append lands under a FINER "
    "spec (16 range-clustered files over the low keyspace) — old "
    "files are "
    "never rewritten when the spec changes, exactly Iceberg's "
    "contract. Reads are spec-agnostic (hidden partitioning): scan "
    "planning prunes by each file's own footer stats, so a range "
    "query in the new regime opens a couple of fine files and ZERO "
    "coarse ones (in-query asserts: planned < total and planned is "
    "a strict subset of the append's files), and the same read path "
    "serves both layouts with no union logic. At 100 TB this is how "
    "a table migrates month->day partitioning without a rewrite: "
    "new data gets the new granularity, pruning just works on both.",
)
def snapshot_partition_evolution_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        plan_pruned_files,
        read_snapshot_pruned,
        snapshot_write,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    n_max = orders.agg(F.max("o_orderkey")).collect()[0][0]
    if n_max is None:
        # empty source: nothing to split the spec evolution around
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    split = n_max // 2
    table = os.path.join(scratch_dir(spark), "orders_evo")
    # spec v0: coarse clustering (4 range files) over the high keys
    # (the table's historical half)
    high = orders.filter(F.col("o_orderkey") >= split).repartitionByRange(
        4, "o_orderkey"
    )
    v0 = snapshot_write(
        spark, high, table, "overwrite", stats_cols=["o_orderkey"]
    )
    files_v0 = set(_read_manifest(table, v0)["files"])
    # spec v1: the SAME table evolves to a finer clustering (16 range
    # files) for newly arriving data — old files stay as committed
    low = orders.filter(F.col("o_orderkey") < split).repartitionByRange(
        16, "o_orderkey"
    )
    v1 = snapshot_write(
        spark, low, table, "append", stats_cols=["o_orderkey"]
    )
    new_files = set(_read_manifest(table, v1)["files"]) - files_v0
    assert files_v0 <= set(_read_manifest(table, v1)["files"])
    # a range inside the new regime plans only fine-spec files
    planned, total = plan_pruned_files(table, {"o_orderkey": (200, 350)})
    if total < 2 or not planned:
        # too few rows for the two-spec layout, or the fixed probe
        # range misses the data: no evolution pruning to certify
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    assert 0 < len(planned) < total, (planned, total)
    assert set(planned) <= new_files, (planned, new_files)
    assert versions(table) == [v0, v1]
    pruned = read_snapshot_pruned(spark, table, {"o_orderkey": (200, 350)})
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "snapshot_branch_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 branches)",
    doc="Iceberg BRANCHES: a movable named ref over the snapshot log "
    "(where a tag is frozen and WAP staging is the anonymous "
    "one-shot case). The table's base commits to main, an 'etl' "
    "branch forks from it, and TWO successive appends land on the "
    "branch — each chaining off the BRANCH head, invisible to main "
    "(asserted in-query after every branch commit); "
    "fast_forward_main then publishes the branch head as one "
    "metadata-only commit. The oracle recomputes the fully merged "
    "table, so a green row certifies branch isolation + multi-commit "
    "chaining + fast-forward. At 100 TB this is the multi-batch "
    "experiment lane: N risky loads accumulate on a branch, readers "
    "see none of them, and merging is one manifest write.",
)
def snapshot_branch_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        create_branch,
        fast_forward_main,
        list_branches,
        read_branch,
        read_snapshot,
        resolve_branch,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no branches worth of rows to merge
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    base = orders.filter(F.col("o_orderkey") % 3 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 3 == 1)
    b2 = orders.filter(F.col("o_orderkey") % 3 == 2)
    if b1.isEmpty() and b2.isEmpty():
        # no rows for either branch commit: the isolation/fast-forward
        # scenario is not constructible
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    v0 = snapshot_write(spark, base, table, "overwrite")
    n_base = read_snapshot(spark, table).count()
    assert create_branch(table, "etl") == v0
    bv1 = snapshot_write(spark, b1, table, "append", branch="etl")
    assert resolve_branch(table, "etl") == bv1
    # main is isolated from the first branch commit
    assert read_snapshot(spark, table).count() == n_base
    bv2 = snapshot_write(spark, b2, table, "append", branch="etl")
    assert list_branches(table) == {"etl": bv2}
    assert read_snapshot(spark, table).count() == n_base
    # the second branch commit chained off the FIRST branch commit
    n_branch = read_branch(spark, table, "etl").count()
    assert n_branch > n_base
    fast_forward_main(table, "etl")
    final = read_snapshot(spark, table)
    assert final.count() == n_branch
    return (
        final.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "snapshot_clone_shallow",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 shallow clone)",
    doc="Delta SHALLOW CLONE / Iceberg snapshot-ref: the clone's "
    "version-0 manifest references the source's live files by "
    "absolute path — ZERO bytes copied (asserted in-query: the clone "
    "directory holds no data files of its own at clone time) — then "
    "evolves independently: the second half of the table is appended "
    "to the CLONE, and the source's main read still sees only the "
    "base half (asserted). The oracle recomputes the full table, so "
    "a green row certifies clone fidelity + divergence end-to-end. "
    "At 100 TB this is the dev/test-against-prod workflow: a "
    "writable copy of a petabyte table for the cost of one manifest "
    "write, with copy-on-write DML diverging locally.",
)
def snapshot_clone_shallow_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        _data_files,
        clone_snapshot,
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir(spark)
    src = os.path.join(root, "orders_src")
    dst = os.path.join(root, "orders_clone")
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    delta = orders.filter(F.col("o_orderkey") % 2 == 1)
    snapshot_write(spark, base, src, "overwrite")
    n_base = read_snapshot(spark, src).count()
    clone_snapshot(src, dst)
    # zero-copy: the clone owns no data files at clone time, yet
    # reads the full base
    assert _data_files(dst) == set()
    assert read_snapshot(spark, dst).count() == n_base
    # divergence: the append lands on the CLONE only
    snapshot_write(spark, delta, dst, "append")
    assert read_snapshot(spark, src).count() == n_base
    return (
        read_snapshot(spark, dst)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_filtered_kpis",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F')
                AS BIGINT) AS n_finished,
           ROUND(COALESCE(SUM(o_totalprice)
                 FILTER (WHERE o_orderstatus = 'O'), 0.0), 2)
             AS open_value,
           ROUND(AVG(o_totalprice)
                 FILTER (WHERE o_totalprice > 200000), 2)
             AS avg_large_order
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="2.4 aggregations (conditional / FILTER clause)",
    doc="Segmented KPI matrix via conditional aggregation — the "
    "FILTER-clause face (count/sum/avg each over a different "
    "predicate slice) that replaces N separate filtered scans with "
    "ONE pass: every conditional aggregate is a CASE inside the "
    "same hash aggregate, so the fact table is scanned and shuffled "
    "once regardless of how many KPI slices are defined. An "
    "all-NULL slice (no large orders in a group) yields NULL "
    "identically on both engines.",
)
def agg_filtered_kpis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    large = F.when(
        F.col("o_totalprice") > 200000, F.col("o_totalprice")
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1))
            .cast("bigint")
            .alias("n_finished"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderstatus") == "O",
                            F.col("o_totalprice"),
                        )
                    ),
                    F.lit(0.0),
                ),
                2,
            ).alias("open_value"),
            F.round(F.avg(large), 2).alias("avg_large_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "snapshot_segmented_manifest",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)) / 100.0, 2)
               AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (M5 segmented manifests)",
    doc="Iceberg manifest-list hierarchy for the snapshot log: each "
    "commit's new files land in one immutable SEGMENT, and an "
    "append's manifest is the base's segment list plus that one "
    "segment — metadata written per append is O(files added), "
    "never O(files in table), the property that lets a petabyte "
    "table absorb appends without rewriting its file inventory "
    "every commit (sources/snapshots.py:snapshot_write "
    "segmented=True; vs the reference's Iceberg manifests, "
    "noaa_ghcn_bronze_to_silver.py:117-138). The query commits "
    "three segmented snapshots (overwrite + 2 appends), asserts "
    "IN-BAND that each append added exactly one segment and reused "
    "the base's verbatim, then aggregates the resolved read; the "
    "oracle recomputes from source, so a green row proves "
    "segment-resolved reads lose and duplicate nothing. Exact "
    "integer-cent totals keep the sum order-free.",
)
def snapshot_segmented_manifest_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        _read_manifest_raw,
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    v0 = snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 0),
        table,
        "overwrite",
        segmented=True,
    )
    v1 = snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 1),
        table,
        "append",
        segmented=True,
    )
    v2 = snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 2),
        table,
        "append",
        segmented=True,
    )
    s0 = _read_manifest_raw(table, v0)["segments"]
    s1 = _read_manifest_raw(table, v1)["segments"]
    s2 = _read_manifest_raw(table, v2)["segments"]
    if not (s1[: len(s0)] == s0 and len(s1) == len(s0) + 1):
        raise AssertionError(
            f"append v1 must reuse v0's segments + 1: {s0} -> {s1}"
        )
    if not (s2[: len(s1)] == s1 and len(s2) == len(s1) + 1):
        raise AssertionError(
            f"append v2 must reuse v1's segments + 1: {s1} -> {s2}"
        )
    return (
        read_snapshot(spark, table)
        .groupBy("o_orderstatus")
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
        )
        .orderBy("o_orderstatus")
    )


@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o.o_totalprice * 100) AS HUGEINT))
                 / 100.0, 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    category="2.8 composition (incremental view maintenance)",
    doc="Incremental maintenance of a materialized join-aggregate "
    "(per-nation revenue over orders x customer x nation) by the "
    "classic delta decomposition: after base batches O0/C0 "
    "materialize the standing aggregate M (persisted through the "
    "snapshot log and READ BACK — the incremental path never "
    "re-touches base data), delta batches dO (late orders) and dC "
    "(late customers) fold in as exactly dO*C0 + O0*dC + dO*dC, "
    "re-aggregated with M on the nation-sized frame. Join work is "
    "proportional to the DELTAS; at 100 TB the standing view "
    "updates in delta time while a full rebuild re-shuffles "
    "history. The oracle recomputes the whole join from source, so "
    "a green row proves the three delta terms tile the update "
    "space exactly (each late order-customer pairing is produced "
    "once, none twice, none missed). Exact integer-cent revenue "
    "makes the two-stage fold bit-equal to the oracle's one-pass "
    "SUM — a double sum would drift at the re-aggregation step.",
)
def incremental_join_maintenance_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")

    o0 = orders.filter(F.col("o_orderkey") % 5 != 0)
    d_o = orders.filter(F.col("o_orderkey") % 5 == 0)
    c0 = customer.filter(F.col("c_custkey") % 7 != 0)
    d_c = customer.filter(F.col("c_custkey") % 7 == 0)

    def joined(o_side: DataFrame, c_side: DataFrame) -> DataFrame:
        return (
            o_side.join(
                c_side, F.col("o_custkey") == F.col("c_custkey")
            )
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .select(F.col("n_name").alias("nation"), cents.alias("cents"))
        )

    def agg(rows: DataFrame) -> DataFrame:
        return rows.groupBy("nation").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").alias("cents"),
        )

    # base view, materialized and read back — the standing M
    table = os.path.join(scratch_dir(spark), "nation_rev")
    snapshot_write(spark, agg(joined(o0, c0)), table, "overwrite")
    m0 = read_snapshot(spark, table)

    # delta terms: dO x C0, O0 x dC, dO x dC — tile the update space
    delta = agg(
        joined(d_o, c0).unionByName(joined(o0, d_c)).unionByName(
            joined(d_o, d_c)
        )
    )
    return (
        m0.unionByName(delta)
        .groupBy("nation")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "nation",
            "n_orders",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        )
        .orderBy("nation")
    )


@register(
    "snapshot_optimize_zorder",
    bench=True,  # r7 verdict item 5: heaviest non-bench queries join the watched set
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                 / 100.0, 2) AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 20 AND 60
      AND o_totalprice BETWEEN 50000 AND 150000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (OPTIMIZE ZORDER)",
    doc="Delta-style OPTIMIZE ZORDER BY as a snapshot-log maintenance "
    "op (sources/snapshots.py:optimize_zorder): a table ingested in "
    "arrival (order-key) order is rewritten clustered by the Morton "
    "interleave of (custkey, totalprice) and committed as a new "
    "time-travelable overwrite with fresh per-file stats. The query "
    "asserts IN-BAND that a 2-D range predicate's conjunctive file "
    "plan STRICTLY SHRINKS after optimization (pre-optimize, "
    "arrival clustering leaves every file overlapping both "
    "predicates), then answers the range query through the pruned "
    "read; the oracle recomputes from source, proving the rewrite "
    "lost and duplicated nothing. Z-ranges come from one profiling "
    "pass (min/max scalars), so the op is scale-factor-agnostic — "
    "this is the periodic re-clustering that keeps multi-dimension "
    "pruning effective as 100 TB of time-ordered data accumulates.",
)
def snapshot_optimize_zorder_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        optimize_zorder,
        plan_pruned_files,
        read_snapshot_pruned,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    # ingest in arrival order (order-key clustered), 8 files, with
    # stats recorded — the layout queries suffer before OPTIMIZE
    snapshot_write(
        spark,
        orders.repartitionByRange(8, "o_orderkey"),
        table,
        "overwrite",
        stats_cols=["o_custkey", "o_totalprice"],
    )
    preds = {
        "o_custkey": (20, 60),
        "o_totalprice": (50000.0, 150000.0),
    }
    before, total_before = plan_pruned_files(table, preds)
    # strict improvement is certifiable only when the ingest layout
    # leaves >1 file overlapping the probe box; on layouts where the
    # probe is already answered from <=1 file (tiny tables, or probe
    # columns correlated with the ingest clustering — seen on tiled
    # sf1 data in the r8 decade-up sweep) the OPTIMIZE + assert is
    # skipped but the pruned-scan AGGREGATE is still computed: it
    # equals the oracle for ANY valid file layout (r8 advice —
    # engine must not diverge from its oracle by construction)
    certifiable = total_before >= 2 and len(before) > 1
    if certifiable:
        # one profiling pass supplies the Z-ranges (table statistics)
        rng = orders.agg(
            F.min("o_custkey"), F.max("o_custkey"),
            F.min("o_totalprice"), F.max("o_totalprice"),
        ).collect()[0]
        if rng[0] is None:  # pragma: no cover — empty source implies
            # total_before == 0, so certifiable is already False
            certifiable = False
    if certifiable:
        optimize_zorder(
            spark,
            table,
            {
                "o_custkey": (float(rng[0]), float(rng[1]) + 1.0),
                "o_totalprice": (float(rng[2]), float(rng[3]) + 1.0),
            },
            n_files=8,
        )
        after, total_after = plan_pruned_files(table, preds)
        if not (
            len(after) / total_after < len(before) / total_before
            and len(after) < total_after
        ):
            raise AssertionError(
                f"OPTIMIZE ZORDER must strictly improve 2-D pruning: "
                f"before {len(before)}/{total_before}, "
                f"after {len(after)}/{total_after}"
            )
    pruned = read_snapshot_pruned(spark, table, preds)
    return (
        pruned.groupBy("o_orderstatus")
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
        )
        .orderBy("o_orderstatus")
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS t
        FROM events
    ),
    c AS (SELECT event_id, user_id, t FROM ev
          WHERE event_type = 'click'),
    v AS (SELECT user_id, t, MAX(value) AS value FROM ev
          WHERE event_type = 'view' GROUP BY user_id, t)
    SELECT c.event_id, c.user_id,
           CASE WHEN v.t IS NOT NULL AND c.t - v.t <= 600
                THEN ROUND(v.value, 6) END AS view_value,
           COALESCE(v.t IS NOT NULL AND c.t - v.t <= 600, FALSE)
               AS matched
    FROM c ASOF LEFT JOIN v
      ON c.user_id = v.user_id AND v.t <= c.t
    ORDER BY c.event_id
    """,
    category="2.3 joins (as-of, tolerance)",
    doc="Toleranced as-of join (pandas merge_asof(tolerance=...) "
    "semantics): every click picks up the user's most recent view "
    "value — but ONLY if that view is at most 10 minutes old; a "
    "staler match nulls out instead of silently joining dead "
    "context (the classic quote-staleness bug in feature "
    "pipelines). Same union + running-last window plan as the "
    "engine's other as-of joins — the matched timestamp rides "
    "along in the window, so the staleness guard costs ZERO extra "
    "shuffles. Concurrent same-second views collapse to MAX first "
    "(deterministic tie). The oracle is DuckDB's NATIVE ASOF LEFT "
    "JOIN plus the same tolerance guard — two independent as-of "
    "implementations agreeing row-for-row.",
)
def join_asof_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    secs = (
        F.col("ts").cast("timestamp").cast("long")
    )  # NTZ → epoch seconds; offset cancels in differences
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", secs.alias("t")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", secs.alias("t"), "value")
        .groupBy("user_id", "t")
        .agg(F.max("value").alias("value"))
    )
    joined = asof_join(
        clicks,
        views,
        ["user_id"],
        "t",
        ["value"],
        direction="backward",
        tolerance=600,
    )
    # matched = "a right ROW exists within tolerance" (the operator's
    # t_asof — NULL only when no fresh match), NOT value IS NOT NULL:
    # a matched row carrying a NULL value must still read as matched,
    # exactly like the oracle's CASE over the native ASOF join
    return joined.select(
        "event_id",
        "user_id",
        F.round(F.col("value_asof"), 6).alias("view_value"),
        F.col("t_asof").isNotNull().alias("matched"),
    ).orderBy("event_id")


@register(
    "snapshot_rewrite_files",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                 / 100.0, 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (rewrite_data_files)",
    doc="Iceberg rewrite_data_files / Delta OPTIMIZE bin-pack as a "
    "snapshot-log op (sources/snapshots.py:rewrite_data_files): a "
    "table fragmented into 12 small part files (the trickle-ingest "
    "pathology — per-file open and footer costs dominate scans) is "
    "coalesced into 2 and committed as a new time-travelable "
    "overwrite, stats carried. Asserts IN-BAND that the file count "
    "strictly drops and the fragmented version remains readable; "
    "the oracle recomputes from source, proving the rewrite lost "
    "and duplicated nothing. Complements OPTIMIZE ZORDER: this is "
    "the cheap hourly rewrite, Z-ordering the periodic clustering "
    "one.",
)
def snapshot_rewrite_files_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        rewrite_data_files,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no files for bin-packing to shrink
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    snapshot_write(
        spark, orders.repartition(12), table, "overwrite",
        stats_cols=["o_orderkey"],
    )
    res = rewrite_data_files(spark, table, target_files=2)
    if not (res["files_after"] < res["files_before"]):
        raise AssertionError(f"bin-pack must shrink the file count: {res}")
    if read_snapshot(spark, table, 0).count() != orders.count():
        raise AssertionError("pre-compaction version must stay readable")
    return (
        read_snapshot(spark, table)
        .groupBy("o_orderstatus")
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
        )
        .orderBy("o_orderstatus")
    )


@register(
    "snapshot_history_table",
    oracle="""
    SELECT 0 AS version, 'overwrite' AS mode, CAST(4 AS BIGINT) AS n_files,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 3 = 0) AS n_rows,
           TRUE AS published
    UNION ALL
    SELECT 1, 'append', CAST(6 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey % 3 IN (0, 1)),
           TRUE
    UNION ALL
    SELECT 2, 'append', CAST(9 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           TRUE
    ORDER BY version
    """,
    category="2.9 maintenance (metadata tables)",
    doc="Iceberg table.history / Delta DESCRIBE HISTORY as a "
    "queryable DataFrame (sources/snapshots.py:snapshot_history): "
    "one row per committed version with mode, file count, row "
    "count, and main-visibility — the metadata table audits and "
    "dashboards point at. Three controlled commits (overwrite + "
    "two appends with fixed write partitioning) make file counts "
    "deterministic; the oracle recomputes row counts from source "
    "slices, so a green row certifies the log's accounting of "
    "every version, not just the head. Version/mode/file data is "
    "metadata-only; per-version row counts scan only that "
    "version's file list.",
)
def snapshot_history_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        snapshot_history,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 0).repartition(4),
        table,
        "overwrite",
    )
    snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 1).repartition(2),
        table,
        "append",
    )
    snapshot_write(
        spark,
        orders.filter(F.col("o_orderkey") % 3 == 2).repartition(3),
        table,
        "append",
    )
    return snapshot_history(spark, table).orderBy("version")


@register(
    "snapshot_check_constraints",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                 / 100.0, 2) AS total_price
    FROM orders
    WHERE o_totalprice > 0 AND o_orderkey % 4 != 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    category="2.9 maintenance (CHECK constraints)",
    doc="Delta-style CHECK constraints on the snapshot log "
    "(sources/snapshots.py:add_table_constraint / "
    "checked_snapshot_write): a registered predicate gates every "
    "write — the batch with poisoned rows (negated prices) is "
    "rejected WHOLE with per-constraint violation counts and "
    "commits nothing (asserted in-band: version list and row count "
    "unchanged after the rejected write), while clean batches "
    "commit normally. One aggregate over the localCheckpoint-pinned "
    "batch counts all constraints' violations, so the checked rows "
    "are provably the written rows (no TOCTOU under a "
    "nondeterministic source). The oracle "
    "recomputes from the clean slices only, so a green row proves "
    "the gate admitted exactly the valid data.",
)
def snapshot_check_constraints_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import (
        ConstraintViolationError,
        add_table_constraint,
        checked_snapshot_write,
        read_snapshot,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if orders.isEmpty():
        # empty source: no clean batch to admit nor poison to reject
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    if (
        not orders.filter(
            ~F.coalesce(F.col("o_totalprice") > 0, F.lit(False))
        ).isEmpty()
        or orders.filter(F.col("o_orderkey") % 4 == 0).isEmpty()
    ):
        # scenario preconditions: the clean batches must actually
        # satisfy the constraint (strict semantics: NULL price is a
        # violation) and the poison slice must be non-empty to prove
        # rejection — otherwise there is nothing to certify
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders bigint, total_price double"
        )
    table = os.path.join(scratch_dir(spark), "orders_snap")
    add_table_constraint(table, "price_positive", "o_totalprice > 0")

    checked_snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 4 == 1), table,
        "overwrite",
    )
    checked_snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 4 == 2), table,
        "append",
    )
    before_versions = versions(table)
    before_rows = read_snapshot(spark, table).count()
    # poisoned batch: prices negated → must be rejected WHOLE
    poisoned = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        checked_snapshot_write(spark, poisoned, table, "append")
        raise AssertionError("poisoned batch must be rejected")
    except ConstraintViolationError:
        pass
    if versions(table) != before_versions:
        raise AssertionError("rejected write must commit no version")
    if read_snapshot(spark, table).count() != before_rows:
        raise AssertionError("rejected write must not change the table")
    checked_snapshot_write(
        spark, orders.filter(F.col("o_orderkey") % 4 == 3), table,
        "append",
    )
    return (
        read_snapshot(spark, table)
        .groupBy("o_orderstatus")
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
        )
        .orderBy("o_orderstatus")
    )
