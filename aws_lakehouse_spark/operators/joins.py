"""Join operators (SURVEY §2.3 J1-J3 + declared extensions).

The reference's join surface is the Athena star-schema layer
(``README.md:256-275``): inner equi-joins fact→dim on surrogate keys.
Engine policy for scale:

- dimension sides are explicitly ``broadcast()``-hinted when the
  caller says they are dims — at 100 TB the fact side never moves;
- semi/anti/range/as-of joins are engine extensions (SURVEY §2.3
  "not present in the reference") needed by the LLM-pipeline ops;
- the as-of join is a *single-shuffle* union+window implementation,
  not a pandas merge_asof: both sides shuffle once on the key, then a
  running ``last(value)`` window resolves the as-of match. This
  scales to arbitrarily large both-sides (no broadcast, no driver
  collect) and handles skew via AQE.

``asof_join_pandas`` (the ``cogroup().applyInPandas`` +
``merge_asof`` shape) is called by no query or pipeline. It stays as
the independent reference ``tests/test_properties.py`` compares
``asof_join`` against.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import StructType


def join_fact_dim(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1/J2 — star equi-join; dim side broadcast by default.

    ``on`` may be a column name (same name both sides, J1), a list of
    names, or an arbitrary join Column (different key names, J2 —
    ``README.md:266-275``'s ``pickup_zone_id = zone_id`` shape).

    Broadcast policy: the default matches the reference's dims
    (vendor/zone/element — bounded-cardinality by construction). For
    a "dim" that scales with the fact (customer at TPC-H scale),
    pass ``broadcast_dim=False`` and let size-based planning / AQE
    choose — a hard hint on a growing table is an OOM at 100 TB.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on, how)


def left_enrich(
    fact: DataFrame, dim: DataFrame, on: str | list[str] | Column,
    broadcast_dim: bool = True,
) -> DataFrame:
    """J3 — left-join enrichment where fact keys may miss dim rows
    (the reference's stations→countries 2-char-prefix lookup,
    ``glue-jobs/noaa_dimensions_bronze_to_silver.py:118-120``)."""
    return join_fact_dim(fact, dim, on, "left", broadcast_dim)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """EXISTS-style filter: left rows with a match in right."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """NOT EXISTS-style filter: left rows without a match in right."""
    return left.join(right, on, "left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
    broadcast_right: bool = True,
) -> DataFrame:
    """Interval/range join on a non-equi condition.

    With a broadcast right side Catalyst plans BroadcastNestedLoop —
    the right strategy when the band table is tiny (price bands,
    bucket boundaries). For two large sides, pre-bucket both sides on
    a coarsened key and equi-join on the bucket first (see
    ``llm.similarity`` for that pattern).
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, condition, "inner")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    suffix: str = "_asof",
    tolerance=None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row at or
    before it (``direction='backward'``) with the same key.

    Implementation: tag and union both sides, then ONE running
    ``last(struct, ignorenulls=True)`` window per key ordered by
    (ts, side) resolves each left row's as-of ROW in one shuffle.
    The fill is row-ATOMIC: the matched timestamp and every value
    column come from the same right row (a per-column fill could mix
    rows when a right row carries NULL values — pandas merge_asof
    picks the nearest ROW and returns its values, NULLs included,
    and so does this). Cost: one exchange on ``key_cols`` + one
    sort — no nested loop, no broadcast requirement, skew handled
    by AQE. ``'forward'`` direction is the mirrored window (next
    right row at/after).

    ``tolerance`` (same units as ``ts_col``'s subtraction) bounds
    staleness: a match further than ``tolerance`` from the left row
    nulls out — pandas ``merge_asof(tolerance=...)`` semantics, the
    guard against joining a quote that is hours stale. The output
    additionally carries ``ts_col + suffix`` = the matched right
    row's timestamp (NULL when no match or stale), so callers can
    distinguish "matched a row whose value is NULL" from "no fresh
    match". Same plan, zero extra shuffles.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")

    keys = list(key_cols)
    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(
        *keys,
        ts_col,
        F.struct(
            F.col(ts_col).alias("__rts"),
            *[F.col(c).alias(c + suffix) for c in value_cols],
        ).alias("__match"),
    ).withColumn("__side", F.lit(0))
    # right rows sort before left rows at equal ts so an exact-ts
    # right match is visible to the left row (merge_asof semantics)
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col).desc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    filled = unioned.withColumn(
        "__match", F.last(F.col("__match"), ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("__side") == 1).drop("__side")
    if tolerance is None:
        out = out.withColumns(
            {
                c + suffix: F.col("__match")[c + suffix]
                for c in value_cols
            }
        ).drop("__match")
    else:
        rts = F.col("__match")["__rts"]
        dist = (
            (F.col(ts_col) - rts)
            if direction == "backward"
            else (rts - F.col(ts_col))
        )
        fresh = rts.isNotNull() & (dist <= F.lit(tolerance))
        cols = {
            c + suffix: F.when(fresh, F.col("__match")[c + suffix])
            for c in value_cols
        }
        cols[ts_col + suffix] = F.when(fresh, rts)
        out = out.withColumns(cols).drop("__match")
    return out


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join via grouped ``applyInPandas`` + ``pandas.merge_asof``
    (backward direction) — the Arrow-batched alternative to the
    union+window ``asof_join``, for when per-key logic grows beyond
    what window expressions express (interpolation, tolerance bands,
    per-key models).

    Scale shape: both sides co-group on ``key_cols`` (one shuffle
    each, same key); each group is processed as ONE pandas call —
    so a single key's history must fit in executor memory. Prefer
    ``asof_join`` (pure window) when the semantics allow; results
    are identical (asserted in tests).
    """
    import pandas as pd

    keys = list(key_cols)
    # StructType.add mutates in place — never extend left.schema itself
    out_schema = StructType(list(left.schema.fields))
    for c in value_cols:
        out_schema = out_schema.add(c + suffix, right.schema[c].dataType, True)

    rhs = right.select(
        *keys, ts_col, *[F.col(c).alias(c + suffix) for c in value_cols]
    )
    suffixed = [c + suffix for c in value_cols]

    def merge(lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        lp = lp.sort_values(ts_col)
        if rp.empty:
            for c in suffixed:
                lp[c] = None
            return lp
        return pd.merge_asof(
            lp,
            rp.sort_values(ts_col).drop(columns=keys),
            on=ts_col,
            direction="backward",
        )

    return (
        left.groupBy(*keys)
        .cogroup(rhs.groupBy(*keys))
        .applyInPandas(merge, out_schema)
    )


def range_join_banded(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    band_width: float,
    extra_condition: Column | None = None,
) -> DataFrame:
    """Large×large interval join ``right.lo <= left.point <= right.hi``
    without a nested loop: both sides are banded onto a coarse integer
    grid of width ``band_width`` and equi-joined on the band id, with
    the exact range predicate as a residual.

    Each right interval lands in every band it overlaps
    (sequence(floor(lo/w), floor(hi/w))); each left point in exactly
    one. The equi-join shuffles on the band id, so cost is
    O(points + intervals x bands_spanned) instead of O(points x
    intervals). Choose ``band_width`` ≈ the typical interval length:
    each interval then spans ~2 bands. Exact-equivalent to the
    nested-loop range join (oracle-checked).
    """
    lb = left.withColumn(
        "__band", F.floor(F.col(left_point) / band_width).cast("long")
    )
    lb = widen_if_underparallel(lb)
    rb = right.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / band_width).cast("long"),
                F.floor(F.col(right_hi) / band_width).cast("long"),
            )
        ),
    )
    cond = (F.col(left_point) >= F.col(right_lo)) & (
        F.col(left_point) <= F.col(right_hi)
    )
    if extra_condition is not None:
        cond = cond & extra_condition
    return lb.join(rb, "__band").filter(cond).drop("__band")


# logical-plan nodes that introduce (or rewrite into) an exchange:
# a frame containing one is partitioned by spark.sql.shuffle.partitions
# downstream, not by its leaf scan's split count
_SHUFFLING_NODES = re.compile(
    r"(?m)^[\s:+\-]*(Join|Aggregate|Window|Deduplicate|Repartition|"
    r"RepartitionByExpression|RebalancePartitions|Sort|GlobalLimit|"
    r"Intersect|Except|CoGroup|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas)\b"
)


def _plan_shuffles(df: DataFrame) -> bool:
    """True when ``df``'s ANALYZED logical plan contains a
    shuffle-inducing node (or when the plan can't be inspected —
    treat as wide; never add a speculative exchange). Inspection
    stays on the logical plan: finalizing the physical plan (as
    ``df.rdd`` does) can, under AQE, eagerly execute upstream
    shuffle stages at plan-build time that the real job then
    recomputes (r9 advice)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True
    return bool(_SHUFFLING_NODES.search(plan))


def widen_if_underparallel(df: DataFrame) -> DataFrame:
    """Round-robin the frame out to the cluster's default parallelism
    — ONLY when its leaf scan plans fewer splits. A banded join
    whose small side broadcasts executes entirely inside the big
    side's scan tasks, and its OUTPUT can be orders of magnitude
    larger than its input (every point matches every interval in its
    candidate window), so a scan that fits in a handful of splits — a
    single small parquet file on a test host — serializes the
    explosion onto those few cores (measured r8 at sf1: a 2.4G-match
    band join ran on the 8 splits of one 40 MB file, 119 s; widened
    to 32, 36 s). At production scale the scan already has thousands
    of tasks, the condition is false, and NO shuffle is added — an
    unconditional repartition here would be a full-fact-table
    exchange at 100 TB.

    The narrowness probe never touches ``df.rdd`` (which finalizes
    the physical plan and, under AQE, can eagerly execute upstream
    stages): frames whose logical plan already shuffles are left
    alone — their runtime partitioning is ``spark.sql.shuffle
    .partitions``, not the scan's split count — and scan-shaped
    frames are estimated from driver-side file metadata
    (``layout.widen_if_narrow``). Callers should pass source-near
    frames (scan + narrow projections/explodes), as the engine's
    banded-join and dedup call sites do."""
    if _plan_shuffles(df):
        return df
    from aws_lakehouse_spark.layout import widen_if_narrow

    return widen_if_narrow(df)


def interval_overlap_join_banded(
    a: DataFrame,
    b: DataFrame,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    band_width: float,
) -> DataFrame:
    """Large×large interval OVERLAP join (``a_lo <= b_hi AND b_lo <=
    a_hi``) without a nested loop: both interval sets band onto a
    coarse grid and equi-join on the band id.

    Unlike the point-in-interval case, an overlapping pair can share
    MANY bands; instead of a dedup shuffle, each pair is emitted only
    in its CANONICAL band — the band of the later interval start,
    ``greatest(floor(a_lo/w), floor(b_lo/w))`` — which every
    overlapping pair shares exactly once (the later start lies inside
    both intervals). Join input is O(Σ spans / w) per side; output
    carries no duplicates by construction. Column names must be
    disjoint across the two sides.
    """
    ab = a.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(a_lo) / band_width).cast("long"),
                F.floor(F.col(a_hi) / band_width).cast("long"),
            )
        ),
    )
    ab = widen_if_underparallel(ab)
    bb = b.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.col(b_lo) / band_width).cast("long"),
                F.floor(F.col(b_hi) / band_width).cast("long"),
            )
        ),
    )
    overlap = (F.col(a_lo) <= F.col(b_hi)) & (F.col(b_lo) <= F.col(a_hi))
    canonical = F.col("__band") == F.greatest(
        F.floor(F.col(a_lo) / band_width).cast("long"),
        F.floor(F.col(b_lo) / band_width).cast("long"),
    )
    return ab.join(bb, "__band").filter(overlap & canonical).drop("__band")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    tolerance,
    suffix: str = "_asof",
) -> DataFrame:
    """Nearest-match as-of join (pandas ``merge_asof(direction=
    'nearest', tolerance=...)``): each left row matches the closest
    right row with the same key within ``tolerance`` of its ``ts_col``
    — BEFORE or AFTER — or NULLs when neither side qualifies.
    Equidistant candidates resolve to the earlier (backward) match.

    ``tolerance`` is a Column/literal in the ts column's difference
    domain (e.g. ``F.expr("INTERVAL 10 MINUTES")`` for timestamps, a
    number for numeric ts). Matched right-side columns arrive with
    ``suffix``; ``ts_col + suffix`` carries the matched timestamp.

    Same single-shuffle shape as :func:`asof_join`: both sides union
    and exchange ONCE on ``key_cols``; the backward fill and the
    forward fill are two in-partition window sorts over that one
    exchange (Spark reuses the partitioning, only re-sorts). No
    nested loop, no broadcast requirement, AQE handles skew.

    Rows on the RIGHT sharing an identical (key, ts) are collapsed
    to one row per timestamp first (max per value column) so the
    window fills are deterministic.
    """
    keys = list(key_cols)
    rts = ts_col + suffix
    lhs = left.withColumn("__side", F.lit(1))
    fill_cols = [c + suffix for c in value_cols] + [rts]
    # one STRUCT per right row so each fill resolves row-ATOMICALLY:
    # per-column ignorenulls fills could mix rows when the nearest
    # right row carries a NULL value (same fix as asof_join)
    rhs = (
        right.groupBy(*keys, ts_col)
        .agg(*[F.max(c).alias(c + suffix) for c in value_cols])
        .withColumn(rts, F.col(ts_col))
        .withColumn(
            "__match", F.struct(*[F.col(c) for c in fill_cols])
        )
        .drop(*fill_cols)
        .withColumn("__side", F.lit(0))
    )
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumns(
        {
            "__b": F.last(F.col("__match"), ignorenulls=True).over(wb),
            "__f": F.last(F.col("__match"), ignorenulls=True).over(wf),
        }
    ).filter(F.col("__side") == 1)

    ts = F.col(ts_col)
    prev_ts, next_ts = F.col("__b")[rts], F.col("__f")[rts]
    prev_ok = prev_ts.isNotNull() & ((ts - prev_ts) <= tolerance)
    next_ok = next_ts.isNotNull() & ((next_ts - ts) <= tolerance)
    use_prev = prev_ok & (
        ~next_ok | ((ts - prev_ts) <= (next_ts - ts))
    )
    picked = {
        c: F.when(use_prev, F.col("__b")[c])
        .when(next_ok, F.col("__f")[c])
        .otherwise(F.lit(None))
        for c in fill_cols
    }
    return (
        filled.withColumns(picked).drop("__side", "__match", "__b", "__f")
    )
