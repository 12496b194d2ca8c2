"""String/conditional scalar helpers (SURVEY §2.8).

These generalize the reference's parse idioms:
- F1 regex field extraction (path→partition value, fixed-width parse)
  — ``glue-jobs/noaa_ghcn_bronze_to_silver.py:70-72``,
  ``glue-jobs/noaa_dimensions_bronze_to_silver.py:52-56,79-85``;
- F2 chained regexp_replace stripping —
  ``glue-jobs/noaa_dimensions_bronze_to_silver.py:58-72``;
- F6 substring fixed-width fields — ``:119-120,153``;
- F7 split-by-whitespace with ordinal indexing — ``:188-193``
  (computed ONCE into an array, fixing the 6×-recompute inefficiency
  flagged in SURVEY §4.3.3);
- F4 when/otherwise code→name mapping —
  ``glue-jobs/noaa_ghcn_silver_to_gold.py:58-66``.

Everything stays a Column expression → whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column


def regex_extract(col: Column | str, pattern: str, group: int = 1) -> Column:
    """F1 — one regex capture group ('' when no match)."""
    return F.regexp_extract(col, pattern, group)


def regex_replace_chain(
    col: Column, replacements: Sequence[tuple[str, str]]
) -> Column:
    """F2 — apply (pattern, replacement) pairs in order."""
    out = col
    for pattern, replacement in replacements:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def fixed_width_field(
    col: Column | str, pos: int, length: int, trim: bool = True
) -> Column:
    """F6+F8 — 1-based fixed-width substring, trimmed."""
    out = F.substring(col, pos, length)
    return F.trim(out) if trim else out


def split_fields(
    col: Column | str, names_types: Sequence[tuple[str, str | None]],
    sep: str = r"\s+",
) -> list[Column]:
    """F7 — split once into an array, then index fields by ordinal.

    Returns aliased (optionally cast) Columns; the split itself is a
    single expression reused across fields via Catalyst's common
    subexpression elimination.
    """
    arr = F.split(F.col(col) if isinstance(col, str) else col, sep)
    cols = []
    for i, (name, cast_to) in enumerate(names_types):
        c = arr.getItem(i)
        if cast_to:
            c = c.cast(cast_to)
        cols.append(c.alias(name))
    return cols


def code_map(
    col: Column, mapping: Mapping[str, str], default: Column | str | None = None
) -> Column:
    """F4 — chained when/otherwise code→name mapping; ``default``
    None passes the input through unmapped (the reference's
    ``otherwise(col)`` behavior)."""
    items = iter(mapping.items())
    code, name = next(items)
    out = F.when(col == code, name)
    for code, name in items:
        out = out.when(col == code, name)
    if default is None:
        return out.otherwise(col)
    return out.otherwise(default)


def finite(col: Column) -> Column:
    """``col`` with NaN/±Inf turned to NULL — the guard for float
    measures flowing into ANSI integer casts (``floor(x*100)`` cent
    sums, decile floors): one corrupted upstream value (a bad unit
    conversion, a sensor overflow) must surface as an excluded NULL,
    not an ARITHMETIC_OVERFLOW that kills the whole job. On finite
    inputs this is the identity, so healthy-data results (and oracle
    parity) are unchanged."""
    return F.when(~F.isnan(col) & (F.abs(col) != float("inf")), col)
