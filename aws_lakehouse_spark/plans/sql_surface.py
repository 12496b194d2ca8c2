"""Interactive SQL surface (SURVEY §3.3) + medallion-transform
oracle checks with inline fixtures.

The reference's third entry point is ANSI SQL submitted to Athena
over the Gold star schema (``README.md:245-276``). The engine's
equivalent is ``spark.sql`` over registered views — these queries
run the *same SQL text* on Spark and DuckDB, which is the strongest
possible parity statement for the declared query surface.

The medallion-transform queries check the Bronze→Silver cleanse and
the fixed-width station parse against the oracle by embedding the
same deterministic raw rows as a VALUES CTE on both sides — the
file-I/O-free face of ``sources.medallion``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.catalog import load_table, register_views
from aws_lakehouse_spark.registry import register
from aws_lakehouse_spark.session import scratch_dir

# The README revenue query (README.md:256-264) transliterated to the
# synthetic schema — identical text runs on Spark SQL and DuckDB.
INTERACTIVE_REVENUE_SQL = """
SELECT n.n_name AS nation,
       COUNT(*) AS total_orders,
       ROUND(AVG(o.o_totalprice), 4) AS avg_order_value,
       ROUND(SUM(o.o_totalprice), 2) AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY total_revenue DESC, nation
"""

GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register(
    "sql_interactive_revenue",
    oracle=INTERACTIVE_REVENUE_SQL,
    category="3.3 interactive SQL",
    doc="Athena-equivalent: the README revenue query text executed "
    "verbatim via spark.sql over registered views (README.md:"
    "256-264). Same SQL string IS the oracle.",
)
def sql_interactive_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(INTERACTIVE_REVENUE_SQL)


@register(
    "sql_grouping_sets",
    oracle=GROUPING_SETS_SQL,
    category="3.3 interactive SQL",
    doc="Explicit GROUPING SETS via the SQL surface (engine "
    "extension beyond rollup/cube).",
)
def sql_grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(GROUPING_SETS_SQL)


# --- medallion transforms with inline-VALUES oracles ----------------

NOAA_RAW_ROWS = [
    ("USW00094728", "20250115", -23, None, None, "S", "0700", "TMAX"),
    ("USW00094728", "20250115", -80, None, "", "S", "0700", "TMIN"),
    ("USW00094728", "20250116", 150, None, "X", "S", None, "TMAX"),
    ("AGE00147708", "20250115", 210, "B", None, "E", None, "TMAX"),
    ("AGE00147708", "20250116", None, None, None, "E", None, "PRCP"),
    ("USC00300042", "20250116", 55, None, "", "S", "0800", "PRCP"),
]

_NOAA_VALUES = ",\n        ".join(
    "("
    + ", ".join(
        "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))
        for v in row
    )
    + ")"
    for row in NOAA_RAW_ROWS
)

STATION_LINES = [
    "USW00094728  40.7789  -73.9692   39.6 NY NEW YORK CNTRL PK TWR GSN HCN 72506",
    "AGE00147708  36.7200    3.0500   24.0    ALGIERS-UNIVERSITE",
    "USC00300042  42.7342  -73.6747    6.1 NY ALBANY CRN",
]

_STATION_VALUES = ",\n        ".join(f"('{line}')" for line in STATION_LINES)


@register(
    "medallion_noaa_cleanse",
    oracle=f"""
    WITH raw(id, date_s, data_value, m_flag, q_flag, s_flag, obs_time,
             element) AS (
        VALUES {_NOAA_VALUES}
    )
    SELECT id AS station_id,
           strftime(strptime(date_s, '%Y%m%d'), '%Y-%m-%d')
             AS observation_date,
           element,
           CAST(data_value AS DOUBLE) AS value,
           q_flag AS quality_flag,
           CAST(year(strptime(date_s, '%Y%m%d')) AS INTEGER) AS year,
           CAST(month(strptime(date_s, '%Y%m%d')) AS INTEGER) AS month,
           CAST(day(strptime(date_s, '%Y%m%d')) AS INTEGER) AS day
    FROM raw
    WHERE data_value IS NOT NULL AND (q_flag IS NULL OR q_flag = '')
    """,
    category="3.2 medallion (transform face)",
    doc="Bronze→Silver cleanse semantics oracle-checked on an inline "
    "deterministic NOAA-shaped fixture (the exact filter/parse of "
    "noaa_ghcn_bronze_to_silver.py:76-99, minus file I/O).",
)
def medallion_noaa_cleanse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.createDataFrame(
        NOAA_RAW_ROWS,
        "id string, date_s string, data_value int, m_flag string,"
        " q_flag string, s_flag string, obs_time string, element string",
    )
    from aws_lakehouse_spark.operators.filters import filter_quality_null_flags

    d = F.to_date(F.col("date_s"), "yyyyMMdd")
    projected = raw.select(
        F.col("id").alias("station_id"),
        # ISO string (not DATE) — dtype-stable across Spark/DuckDB
        # pandas materialization for the driver's value hash
        F.date_format(d, "yyyy-MM-dd").alias("observation_date"),
        "element",
        F.col("data_value").cast("double").alias("value"),
        F.col("q_flag").alias("quality_flag"),
        F.year(d).cast("int").alias("year"),
        F.month(d).cast("int").alias("month"),
        F.dayofmonth(d).cast("int").alias("day"),
    )
    return filter_quality_null_flags(projected, "value", "quality_flag")


@register(
    "medallion_station_parse",
    oracle=f"""
    WITH lines(value) AS (
        VALUES {_STATION_VALUES}
    )
    SELECT trim(substring(value, 1, 11)) AS station_id,
           CAST(trim(substring(value, 13, 8)) AS DOUBLE) AS latitude,
           CAST(trim(substring(value, 22, 9)) AS DOUBLE) AS longitude,
           trim(substring(value, 39, 2)) AS state,
           regexp_matches(value, '\\sGSN(\\s|$)') AS is_gsn,
           regexp_extract(value, '(\\d{{5}})\\s*$', 1) AS wmo_id
    FROM lines
    """,
    category="3.2 medallion (transform face)",
    doc="Fixed-width station-line parse oracle-checked on inline "
    "lines (noaa_dimensions_bronze_to_silver.py:40-88 semantics: "
    "substring fields, flag rlike, trailing-WMO regex).",
)
def medallion_station_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.createDataFrame([(s,) for s in STATION_LINES], "value string")
    v = F.col("value")
    from aws_lakehouse_spark.functions.scalar import fixed_width_field

    return lines.select(
        fixed_width_field(v, 1, 11).alias("station_id"),
        fixed_width_field(v, 13, 8).cast("double").alias("latitude"),
        fixed_width_field(v, 22, 9).cast("double").alias("longitude"),
        fixed_width_field(v, 39, 2).alias("state"),
        v.rlike(r"\sGSN(\s|$)").alias("is_gsn"),
        F.regexp_extract(v, r"(\d{5})\s*$", 1).alias("wmo_id"),
    )


@register(
    "set_union_missing_columns",
    oracle="""
    SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
           NULL AS s_extra
    FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS entity_id, s_name AS name, s_acctbal AS acctbal,
           'supplier' AS s_extra
    FROM supplier
    """,
    category="2.7 set ops",
    doc="unionByName with allowMissingColumns — the yellow+green "
    "heterogeneous-file-set union (README.md:120-121) where one side "
    "carries columns the other lacks.",
)
def set_union_missing_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("s_extra"),
    )
    return customer.unionByName(supplier, allowMissingColumns=True)


@register(
    "streaming_incremental_bookmark",
    # the drained sink content IS deterministic (one run over a fresh
    # checkpoint processes exactly the source rows + the transform),
    # so the stream's OUTPUT is oracle-checkable even though the
    # bookmark state machine itself is not SQL; two-run only-new-files
    # semantics proven in tests/test_streaming.
    oracle="""
    SELECT r_regionkey, r_name, TRUE AS processed FROM region
    """,
    category="2.10 streaming",
    doc="Bookmark-equivalent incremental processing (Glue job "
    "bookmarks, terraform/glue.tf:158): AvailableNow file stream + "
    "checkpoint drains only-new files per run through a transform "
    "into a parquet sink; the oracle certifies the drained content "
    "row-for-row. Full two-run semantics proven in "
    "tests/test_streaming.",
)
def streaming_incremental_bookmark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.streaming.incremental import incremental_process

    work = scratch_dir(spark)
    src = f"{work}/src"
    sink = f"{work}/sink"
    load_table(spark, sf_dir, "region").write.parquet(src)
    incremental_process(
        spark,
        src,
        "r_regionkey int, r_name string",
        f"{work}/ckpt",
        lambda df: df.withColumn("processed", F.lit(True)),
        sink,
    )
    return spark.read.parquet(sink)


@register(
    "streaming_cdc_upsert",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS seq
        FROM orders WHERE o_orderkey <= 10000
    ), updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, 1 AS seq
        FROM orders WHERE o_orderkey <= 10000 AND o_orderkey % 4 = 0
    ), unioned AS (
        SELECT * FROM base UNION ALL SELECT * FROM updates
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM unioned
    ) WHERE rn = 1
    """,
    category="2.10 streaming (CDC merge)",
    doc="Streaming CDC-apply under the oracle gate: two file batches "
    "(a base load, then keyed updates) land in a source dir; two "
    "AvailableNow drains run streaming_upsert — checkpointed file "
    "stream, foreachBatch keyed SCD-1 merge into the snapshot log, "
    "one time-travelable version per batch — and the final snapshot "
    "is read back. The oracle recomputes last-writer-wins straight "
    "from source parquet, so a green row certifies checkpoint "
    "bookmarking, the per-batch merge, and the manifest commit "
    "end-to-end through a REAL streaming query, not a batch "
    "simulation.",
    bench=True,
)
def streaming_cdc_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from aws_lakehouse_spark.sources.snapshots import read_snapshot
    from aws_lakehouse_spark.streaming.apply import streaming_upsert

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 10000
    )
    if orders.isEmpty():
        # empty source: the stream drains zero batches, foreachBatch
        # never fires, and no snapshot exists to read — the CDC
        # result of an empty changefeed is an empty table
        return spark.createDataFrame(
            [], "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
    work = scratch_dir(spark)
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    table = os.path.join(work, "merged")
    schema = (
        "o_orderkey bigint, o_orderstatus string, "
        "o_totalprice double, seq int"
    )

    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(0).alias("seq")
    )
    # repartition(1), not coalesce(1): coalesce folds the WHOLE
    # filtered scan into one serial task (guide §2.4 — a keyless
    # repartition keeps the scan parallel and exchanges only the
    # surviving 10k rows to the single writer); one file per batch is
    # the scenario contract (one micro-batch per drain), and the merge
    # is row-order-independent (max_by over a full-row rank), so the
    # file's internal row order cannot change the committed snapshot.
    base.repartition(1).write.mode("append").parquet(src)
    streaming_upsert(spark, src, schema, ckpt, table, ["o_orderkey"], "seq")

    updates = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit(1).alias("seq"),
    )
    updates.repartition(1).write.mode("append").parquet(src)
    streaming_upsert(spark, src, schema, ckpt, table, ["o_orderkey"], "seq")

    return read_snapshot(spark, table).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# WITH RECURSIVE over an implicit ternary tree on customer keys:
# children of k are {3k+1, 3k+2, 3k+3}, i.e. parent(c) = floor((c-1)/3)
# — an equi-joinable recursion that terminates at the key-space edge.
# CAST(FLOOR(...)) keeps the division semantics identical across
# engines (integer-division syntax differs: Spark DIV vs DuckDB //).
RECURSIVE_CTE_SQL = """
WITH RECURSIVE tree AS (
    SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
    FROM customer WHERE c_custkey IN (1, 2, 3)
  UNION ALL
    SELECT c.c_custkey, t.root, t.depth + 1
    FROM customer c JOIN tree t
      ON CAST(FLOOR((c.c_custkey - 1) / 3.0) AS BIGINT) = t.node
     AND c.c_custkey > 3
)
SELECT root, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(depth) AS INTEGER) AS max_depth,
       CAST(SUM(node) AS BIGINT) AS sum_nodes
FROM tree GROUP BY root ORDER BY root
"""


@register(
    "sql_recursive_cte",
    oracle=RECURSIVE_CTE_SQL,
    category="3.3 interactive SQL",
    doc="WITH RECURSIVE hierarchy traversal (Spark 4's recursive "
    "CTE, run as the SAME SQL text on both engines): descend a "
    "ternary customer-key tree from three roots, reporting subtree "
    "size, depth, and key sum per root. Each recursion step is one "
    "equi-join of the frontier against the node table — the "
    "org-chart / BOM / category-tree walk that previously needed a "
    "driver-side loop. Depth is log3(N), so the iteration count "
    "scales logarithmically with the key space.",
)
def sql_recursive_cte_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(RECURSIVE_CTE_SQL)


LATERAL_TOPK_SQL = """
SELECT r.r_name AS region, t.n_name, t.n_nationkey
FROM region r, LATERAL (
    SELECT n_name, n_nationkey FROM nation n
    WHERE n.n_regionkey = r.r_regionkey
    ORDER BY n_nationkey LIMIT 2
) t
ORDER BY region, n_nationkey
"""


@register(
    "sql_lateral_topk",
    oracle=LATERAL_TOPK_SQL,
    category="3.3 interactive SQL",
    doc="Correlated LATERAL subquery (same SQL text on both "
    "engines): per outer row, an ordered LIMIT over the matching "
    "inner rows — the top-k-per-group idiom expressed in pure SQL "
    "instead of a window function. Catalyst decorrelates this into "
    "a ranked join, so the lateral form costs the same as the "
    "row_number window it replaces.",
)
def sql_lateral_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("region", "nation"))
    return spark.sql(LATERAL_TOPK_SQL)


# Spark 4 SQL pipe syntax (|>): each |> stage is a self-contained
# transform over the previous result — the linear-dataflow face of
# the same logical plan ANSI nesting expresses inside-out. Catalyst
# compiles both to the identical optimized plan.
# Revenue reduces in exact integer cents (the repo-wide convention):
# a plain double SUM's association order differs run-to-run, and the
# result also drives ORDER BY, so a boundary flip would break both
# parity and row order. The cent sum is cast to DOUBLE *before* the
# /100.0: Spark parses the literal 100.0 as DECIMAL(4,1), so
# BIGINT / 100.0 is decimal division and the column comes back
# DECIMAL(…,6) — numerically right but representationally different
# from DuckDB's double (Decimal('…740000') vs 258584965.74), which
# fails an exact value-hash. DOUBLE / decimal-literal promotes to
# double division, bitwise-identical on both engines.
PIPE_SYNTAX_SQL = """
FROM orders
|> JOIN customer ON o_custkey = c_custkey
|> WHERE o_orderstatus = 'F'
|> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0
                 AS revenue
   GROUP BY c_mktsegment
|> ORDER BY revenue DESC, c_mktsegment
"""

PIPE_SYNTAX_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
ORDER BY revenue DESC, c_mktsegment
"""


@register(
    "sql_pipe_syntax",
    oracle=PIPE_SYNTAX_ORACLE,
    category="3.3 interactive SQL (pipe syntax)",
    doc="Spark 4 SQL pipe syntax: the segment-revenue query written "
    "as a |> dataflow chain (FROM |> JOIN |> WHERE |> AGGREGATE "
    "|> ORDER BY) — the linear read-top-to-bottom form Spark 4.0 "
    "added for interactive analytics. Catalyst compiles the chain "
    "to the same optimized plan as the nested ANSI form the oracle "
    "runs, so a green row certifies the pipe-syntax front end "
    "end-to-end (parser -> analyzer -> identical results), and the "
    "engine's SQL surface accepts both dialects a user might bring.",
)
def sql_pipe_syntax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(PIPE_SYNTAX_SQL)


@register(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_totalprice >= 150000.0
      AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="3.3 interactive SQL (parameter binding)",
    doc="Named-parameter SQL (spark.sql(..., args={...})): the "
    "query text carries :min_price / :status placeholders and the "
    "values bind server-side as literal foldable expressions — the "
    "injection-safe template pattern every dashboard and report "
    "scheduler needs (string-interpolated SQL is both unsafe and "
    "uncacheable; bound parameters keep ONE parse tree across "
    "invocations and still constant-fold into pushed-down scan "
    "filters). The oracle inlines the same literals.",
)
def sql_parameterized_query_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM orders
        WHERE o_totalprice >= :min_price
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"min_price": 150000.0, "status": "O"},
    )
