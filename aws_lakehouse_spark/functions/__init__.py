"""Scalar function surface (SURVEY.md §2.8 F1-F16 + JSON extension)."""

from aws_lakehouse_spark.functions.scalar import (
    regex_extract,
    regex_replace_chain,
    fixed_width_field,
    split_fields,
    code_map,
)
from aws_lakehouse_spark.functions.datetime_fns import (
    to_date_fmt,
    calendar_dim_parts,
)
from aws_lakehouse_spark.functions.json_fns import json_get

__all__ = [
    "regex_extract",
    "regex_replace_chain",
    "fixed_width_field",
    "split_fields",
    "code_map",
    "to_date_fmt",
    "calendar_dim_parts",
    "json_get",
]
