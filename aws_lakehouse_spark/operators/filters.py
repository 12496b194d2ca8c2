"""Filter/predicate operators (SURVEY §2.2 P3-P5).

The reference's cleanse predicates, generalized:
- quality flag filter (keep value non-null AND flag null-or-empty) —
  ``glue-jobs/noaa_ghcn_bronze_to_silver.py:86-90``;
- non-empty key filter after parse —
  ``glue-jobs/noaa_dimensions_bronze_to_silver.py:86-88`` (+3 sites);
- declared range quality rules (duration/distance/fare bounds) —
  reference ``README.md:90-94,303-306``.

All are plain Column predicates, so Catalyst pushes them into the
parquet scan (``PushedFilters`` — verified in tests/explain checks).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def filter_quality_null_flags(
    df: DataFrame,
    value_col: str,
    flag_col: str,
    ok_values: Sequence[str] = ("",),
) -> DataFrame:
    """P3 — keep rows whose measurement is present and whose quality
    flag indicates 'no problem': NULL or one of ``ok_values``.

    The reference's ok-set is exactly ``('',)`` (empty string —
    ``noaa_ghcn_bronze_to_silver.py:87-89``); schemas with an
    explicit 'no issue' sentinel pass it in ``ok_values``.
    """
    flag = F.col(flag_col)
    ok = flag.isNull()
    for v in ok_values:
        ok = ok | (flag == F.lit(v))
    return df.filter(F.col(value_col).isNotNull() & ok)


def filter_nonempty_key(df: DataFrame, key_col: str) -> DataFrame:
    """P4 — drop rows whose parsed key is null/empty."""
    key = F.col(key_col)
    return df.filter(key.isNotNull() & (key != F.lit("")))


def filter_range_quality(
    df: DataFrame, rules: Sequence[Column]
) -> DataFrame:
    """P5 — conjunction of range predicates (the README's
    `1min ≤ duration ≤ 3h`-style quality rules)."""
    out = df
    for rule in rules:
        out = out.filter(rule)
    return out
