"""Event-time streaming operators (SURVEY §2.10 extensions).

The same ``F.window``/``F.session_window`` expressions whose batch
faces are oracle-checked in ``plans.events_windows``, assembled as
streaming transformations with watermarks. Each builder takes a
*streaming* DataFrame and returns the transformed stream; callers
attach a sink. Late data beyond the watermark is dropped by the
engine — the state store stays bounded no matter how long the stream
runs (the 100 TB-stream equivalent of partition pruning).

No registry query runs these builders; each is the readStream face of
a registry batch query, and ``tests/test_streaming.py`` holds the two
equal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _ltz(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); NTZ sources are cast in
    place — semantics identical under the engine's UTC session tz."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def streaming_tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts/sums; append-mode safe
    (windows finalize once the watermark passes window end)."""
    events = _ltz(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = ("user_id", "event_type"),
) -> DataFrame:
    """Stateful streaming dedup: first event per key wins; state for
    a key is dropped once the watermark passes it
    (dropDuplicatesWithinWatermark)."""
    events = _ltz(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_enrich_static(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream
    joins against the CURRENT state of a static/batch dim table — the
    streaming face of the medallion silver→gold dim join. The dim is
    broadcast per micro-batch (re-resolved each trigger, so a
    dim-table overwrite between triggers is picked up without
    restarting the query); the stream side never shuffles for the
    join. Stateless — no watermark required."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: every (click, purchase)
    pair for the same user where the purchase lands within
    ``horizon_minutes`` after the click.

    Both inputs are watermarked and the join predicate bounds each
    side's event time relative to the other, so the engine derives a
    finite state-retention window per side and evicts old rows — the
    state store stays bounded on an unbounded stream. The batch face
    (last-click attribution on top of these pairs) is the
    oracle-checked ``events_attribution`` query.

    ``how='left_outer'`` additionally emits purchases with NO
    within-horizon click — with NULL click columns, and only once
    the watermark proves no click can still arrive (see
    :func:`stream_stream_attribution_outer`).
    """
    c = _ltz(clicks, ts_col).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col(ts_col).alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = _ltz(purchases, ts_col).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col(ts_col).alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            > F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        how,
    ).select("purchase_id", "purchase_user", "purchase_ts", "click_id", "click_ts")


def stream_stream_attribution_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every purchase,
    paired with its within-horizon clicks when they exist — and
    emitted with NULL click columns once the watermark proves no
    click can still arrive. This is the semantics inner joins can't
    give: "purchases WITHOUT an attributable click" is itself the
    signal (dark-traffic / attribution-gap measurement), and outer
    results only become emittable when state eviction certifies the
    absence — late data can't retroactively falsify an emitted NULL.
    Delegates to :func:`stream_stream_attribution` (one predicate,
    one watermark contract — the faces cannot drift)."""
    return stream_stream_attribution(
        clicks,
        purchases,
        ts_col=ts_col,
        watermark=watermark,
        horizon_minutes=horizon_minutes,
        how="left_outer",
    )
