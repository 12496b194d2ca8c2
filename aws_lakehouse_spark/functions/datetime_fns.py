"""Date/time scalar helpers (SURVEY §2.8 F9, F11, F14).

- F9 ``to_date(cast(x AS string), 'yyyyMMdd')`` — the reference's
  date-parse idiom, ``glue-jobs/noaa_ghcn_bronze_to_silver.py:79``;
  F10, the year/month/day partition derivation (``:96-98``), is
  inline in ``sources/medallion.py``;
- F11 calendar dimension attributes —
  ``glue-jobs/noaa_ghcn_silver_to_gold.py:75-78``.

All return IntegerType-cast Columns so results line up with the
DuckDB oracle's BIGINT date_part outputs after an explicit cast on
both sides.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def to_date_fmt(col: Column, fmt: str = "yyyyMMdd") -> Column:
    """F9 — parse a (possibly numeric) YYYYMMDD-style column to date."""
    return F.to_date(col.cast("string"), fmt)


def calendar_dim_parts(col: Column) -> dict[str, Column]:
    """F11 — full calendar-dimension attribute set.

    ``day_of_week`` uses Spark's convention (1=Sunday..7=Saturday);
    the oracle compensates with ``dayofweek(d)+1``.
    """
    return {
        "year": F.year(col).cast("int"),
        "month": F.month(col).cast("int"),
        "day": F.dayofmonth(col).cast("int"),
        "day_of_week": F.dayofweek(col).cast("int"),
        "day_of_year": F.dayofyear(col).cast("int"),
        "quarter": F.quarter(col).cast("int"),
        "week_of_year": F.weekofyear(col).cast("int"),
    }
