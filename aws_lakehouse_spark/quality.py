"""Data-quality operators: column profiling and expectation checks.

The reference's only quality machinery is runtime row counts and
null/flag predicates inside the cleanse step
(``glue-jobs/noaa_ghcn_bronze_to_silver.py:52-62,86-90``); a real
lakehouse needs the declarative version — profile what landed,
assert expectations, quarantine violations. Everything here is one
aggregation pass per table (profiling) or per rule-set (checks):
no collects, no per-column scans.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def profile_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column profile of numeric columns: row/null/distinct
    counts, min/max/mean — computed in ONE aggregation over one scan
    (every metric for every column in the same partial-agg pass),
    then unpivoted to (column, metric...) rows with ``stack``.

    At 100 TB this is a single map-side-combined pass; the unpivot
    is on an already-1-row result.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nulls_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
            F.avg(F.col(c).cast("double")).alias(f"__avg_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nulls_{c}, __dist_{c}, __min_{c}, __max_{c}, __avg_{c}"
        for c in cols
    )
    return one.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_val, max_val, avg_val)",
    ).select(
        "column", "n_rows", "n_nulls", "n_distinct",
        "min_val", "max_val", "avg_val",
    )


def check_expectations(
    df: DataFrame, rules: Mapping[str, Column]
) -> DataFrame:
    """Expectation checks: each rule is a boolean Column that should
    hold for every row; the result is one (rule, n_violations) row
    per rule — all rules counted in ONE pass (conditional sums), so
    adding a rule never adds a scan. Null predicate results count as
    violations (three-valued logic made strict)."""
    aggs = [
        F.sum((~F.coalesce(cond, F.lit(False))).cast("bigint")).alias(name)
        for name, cond in rules.items()
    ]
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', {name}" for name in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"
    )


def referential_violations(
    child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """Referential-integrity check: child rows whose foreign key has
    no parent (anti-join — one shuffle on the key, AQE-sized)."""
    return child.join(parent, child[fk] == parent[pk], "left_anti")


def mask_columns(df, policies: dict):
    """Column-level masking for governed exports: apply per-column
    policies before data leaves the boundary. Policies: ``"hash"``
    (md5 — join-stable pseudonymization), ``"null"`` (drop the
    value), ``"partial"`` (keep first 2 + last 2 chars, mask the
    middle) — the standard trio for PII-bearing columns where the
    downstream still needs joinability, presence, or eyeball
    redaction respectively. Pure scan-side projection; no shuffle.
    """
    import pyspark.sql.functions as F

    out = df
    for col, policy in policies.items():
        if policy == "hash":
            out = out.withColumn(col, F.md5(F.col(col).cast("string")))
        elif policy == "null":
            out = out.withColumn(
                col, F.lit(None).cast(dict(df.dtypes)[col])
            )
        elif policy == "partial":
            c = F.col(col).cast("string")
            out = out.withColumn(
                col,
                F.when(F.length(c) <= 4, F.lit("****")).otherwise(
                    F.concat(
                        F.substring(c, 1, 2),
                        F.lit("****"),
                        F.substring(c, -2, 2),
                    )
                ),
            )
        else:
            raise ValueError(f"unknown masking policy {policy!r} for {col}")
    return out
