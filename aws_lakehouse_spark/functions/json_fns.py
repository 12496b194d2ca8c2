"""JSON scalar helpers (engine extension; SURVEY §2.8 tail note).

The reference has no JSON columns; the synthetic ``events.props``
column (JSON-in-string, FIXTURES.md §A) is the target.
``json_get`` is path extraction without schema (``get_json_object``,
stays JVM-side). When the shape is known, the registry's builders
call ``from_json`` into a typed struct directly (parse once, prune
columns, instead of N path extractions re-parsing the string).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def json_get(col: Column, path: str) -> Column:
    """Extract one JSON path as string (``$.k`` style)."""
    return F.get_json_object(col, path)

