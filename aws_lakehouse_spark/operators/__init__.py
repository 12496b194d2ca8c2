"""Relational operator library (SURVEY.md §2.1-2.7).

Each function is a thin, composable wrapper over the DataFrame API —
the engine adds *semantics policy* (broadcast hints for star dims,
deterministic dedup tie-breaks, null-safe predicates), never a
re-implementation of what Catalyst already optimizes.
"""

from aws_lakehouse_spark.operators.filters import (
    filter_quality_null_flags,
    filter_nonempty_key,
    filter_range_quality,
)
from aws_lakehouse_spark.operators.joins import (
    join_fact_dim,
    left_enrich,
    semi_join,
    anti_join,
    range_join,
    range_join_banded,
    asof_join,
    asof_join_pandas,
)
from aws_lakehouse_spark.operators.aggregates import (
    count_star,
    group_agg,
    distinct_projection,
    group_topk,
)
from aws_lakehouse_spark.operators.windows import (
    dedupe_by_key,
    dedupe_by_key_agg,
    rank_per_group,
    windowed_running,
)
from aws_lakehouse_spark.operators.setops import (
    union_relations,
    intersect_relations,
    except_relations,
)

__all__ = [
    "filter_quality_null_flags",
    "filter_nonempty_key",
    "filter_range_quality",
    "join_fact_dim",
    "left_enrich",
    "semi_join",
    "anti_join",
    "range_join",
    "range_join_banded",
    "asof_join",
    "asof_join_pandas",
    "count_star",
    "group_agg",
    "distinct_projection",
    "group_topk",
    "dedupe_by_key",
    "dedupe_by_key_agg",
    "rank_per_group",
    "windowed_running",
    "union_relations",
    "intersect_relations",
    "except_relations",
]
