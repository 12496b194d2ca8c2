"""Unit tests for operator semantics on hand-built rows (SURVEY §5.2.4)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from aws_lakehouse_spark.functions.scalar import code_map, split_fields
from aws_lakehouse_spark.operators import (
    anti_join,
    asof_join,
    dedupe_by_key,
    dedupe_by_key_agg,
    range_join,
    semi_join,
)
from aws_lakehouse_spark.operators.filters import filter_quality_null_flags


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_backward_picks_most_recent_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "L1"),
         (1, ts("2024-01-01T12:00:00"), "L2"),
         (2, ts("2024-01-01T09:00:00"), "L3")],
        "k int, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:30:00"), 10.0),
         (1, ts("2024-01-01T10:00:00"), 20.0),   # exact-ts match
         (1, ts("2024-01-01T11:00:00"), 30.0),
         (2, ts("2024-01-01T09:30:00"), 99.0)],  # after L3 → no match
        "k int, t timestamp, v double",
    )
    out = {
        r["tag"]: r["v_asof"]
        for r in asof_join(left, right, ["k"], "t", ["v"]).collect()
    }
    assert out == {"L1": 20.0, "L2": 30.0, "L3": None}


def test_asof_forward(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "L1")], "k int, t timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:00:00"), 1.0),
         (1, ts("2024-01-01T10:30:00"), 2.0),
         (1, ts("2024-01-01T11:00:00"), 3.0)],
        "k int, t timestamp, v double",
    )
    out = asof_join(left, right, ["k"], "t", ["v"], direction="forward").collect()
    assert out[0]["v_asof"] == 2.0


def test_dedupe_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9)], "k string, v int"
    )
    out = dedupe_by_key(df, ["k"], [F.asc("v")]).collect()
    assert {(r["k"], r["v"]) for r in out} == {("a", 1), ("b", 9)}


def test_dedupe_agg_matches_window(spark):
    df = spark.createDataFrame(
        [("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z"), ("b", 9, "w")],
        "k string, v int, payload string",
    )
    win = dedupe_by_key(df, ["k"], [F.asc("v")])
    agg = dedupe_by_key_agg(df, ["k"], ["v"])
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, agg.collect()))
    assert win.columns == agg.columns


def test_dedupe_agg_multi_key_order(spark):
    # multi-column ordering == lexicographic struct comparison
    df = spark.createDataFrame(
        [("a", 2, 1), ("a", 1, 9), ("a", 1, 2), ("b", 5, 5)],
        "k string, v1 int, v2 int",
    )
    out = dedupe_by_key_agg(df, ["k"], ["v1", "v2"]).collect()
    assert {(r["k"], r["v1"], r["v2"]) for r in out} == {("a", 1, 2), ("b", 5, 5)}


def test_quality_filter_ok_values(spark):
    df = spark.createDataFrame(
        [(1.0, None), (2.0, ""), (3.0, "X"), (None, None), (5.0, "N")],
        "value double, flag string",
    )
    strict = filter_quality_null_flags(df, "value", "flag")
    assert {r["value"] for r in strict.collect()} == {1.0, 2.0}
    relaxed = filter_quality_null_flags(df, "value", "flag", ok_values=("", "N"))
    assert {r["value"] for r in relaxed.collect()} == {1.0, 2.0, 5.0}


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    semi = {r["k"] for r in semi_join(left, right, "k").collect()}
    anti = {r["k"] for r in anti_join(left, right, "k").collect()}
    assert semi == {2, 3} and anti == {1}
    assert semi | anti == {1, 2, 3}


def test_range_join_bands(spark):
    rows = spark.createDataFrame([(5,), (15,), (25,)], "x int")
    bands = spark.createDataFrame(
        [(0, 10, "lo"), (10, 20, "mid"), (20, 30, "hi")],
        "lo int, hi int, band string",
    )
    out = range_join(rows, bands, (rows.x >= bands.lo) & (rows.x < bands.hi))
    assert {(r["x"], r["band"]) for r in out.collect()} == {
        (5, "lo"), (15, "mid"), (25, "hi")
    }


def test_code_map_passthrough_default(spark):
    df = spark.createDataFrame([("A",), ("B",), ("Z",)], "c string")
    out = df.select(code_map(F.col("c"), {"A": "Alpha", "B": "Beta"}).alias("m"))
    assert [r["m"] for r in out.collect()] == ["Alpha", "Beta", "Z"]


def test_split_fields_single_split(spark):
    df = spark.createDataFrame(
        [("S1  1.5  -2.5 TMAX 1990 2020",)], "value string"
    )
    out = df.select(
        *split_fields(
            F.col("value"),
            [("sid", None), ("lat", "double"), ("lon", "double"),
             ("elem", None), ("y0", "int"), ("y1", "int")],
        )
    ).collect()[0]
    assert (out["sid"], out["lat"], out["lon"], out["elem"], out["y0"], out["y1"]) == (
        "S1", 1.5, -2.5, "TMAX", 1990, 2020
    )


def test_asof_pandas_matches_window_path(spark, sf_dir):
    """applyInPandas merge_asof variant must agree row-for-row with
    the union+window asof_join on real data, including users with no
    matching right rows."""
    from aws_lakehouse_spark.operators import asof_join, asof_join_pandas

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = events.filter("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    )
    right = events.filter("event_type = 'view'").select(
        "user_id", "ts", "value"
    )
    a = {
        (r["event_id"],): r["value_asof"]
        for r in asof_join(
            left, right, ["user_id"], "ts", ["value"]
        ).collect()
    }
    b = {
        (r["event_id"],): r["value_asof"]
        for r in asof_join_pandas(
            left, right, ["user_id"], "ts", ["value"]
        ).collect()
    }
    assert a == b and len(a) == left.count()


def test_backfill_idempotent_and_resumable(tmp_path):
    """run_backfill executes only unmarked days; failures retry on
    the next invocation; widening the range backfills only new days."""
    from aws_lakehouse_spark.sources.pipeline import run_backfill

    state = str(tmp_path / "bf")
    calls: list[str] = []
    boom = {"2024-01-03"}

    def job(day: str) -> None:
        calls.append(day)
        if day in boom:
            raise RuntimeError("transient")

    r1 = run_backfill(job, "2024-01-01", "2024-01-04", state, max_failures=1)
    assert r1["ran"] == ["2024-01-01", "2024-01-02", "2024-01-04"]
    assert r1["failed"] == ["2024-01-03"]

    # second invocation: failed day retries (now fixed), done days skip
    boom.clear()
    r2 = run_backfill(job, "2024-01-01", "2024-01-04", state)
    assert r2["ran"] == ["2024-01-03"]
    assert r2["skipped"] == ["2024-01-01", "2024-01-02", "2024-01-04"]

    # widened range: only the new day runs
    r3 = run_backfill(job, "2024-01-01", "2024-01-05", state)
    assert r3["ran"] == ["2024-01-05"] and len(r3["skipped"]) == 4
    assert calls.count("2024-01-01") == 1  # never re-executed

    # failure budget: exceeding max_failures raises
    boom.update({"2024-02-01", "2024-02-02"})
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        run_backfill(job, "2024-02-01", "2024-02-03", state, max_failures=1)


def test_asof_tolerance_row_atomic_staleness(spark):
    """tolerance guards the ROW the values came from: a nearer right
    row with a NULL value is still THE match (pandas merge_asof
    semantics) — it must not be skipped in favor of an older value
    that would then sneak past the freshness bound."""
    left = spark.createDataFrame(
        [(1, 101, "L1"), (1, 40, "L2"), (2, 10, "L3")],
        "k int, t bigint, tag string",
    )
    right = spark.createDataFrame(
        [(1, 0, 5.0), (1, 100, None), (2, 50, 7.0)],
        "k int, t bigint, v double",
    )
    rows = {
        r["tag"]: (r["v_asof"], r["t_asof"], )
        for r in asof_join(
            left, right, ["k"], "t", ["v"], tolerance=50
        ).collect()
    }
    # L1 @101: nearest row is t=100 (fresh, dist 1) but its value is
    # NULL → v_asof NULL with t_asof=100 (matched-a-null, not stale);
    # the old v=5.0 @0 must NOT leak through
    assert rows["L1"] == (None, 100)
    # L2 @40: nearest row is t=0, dist 40 <= 50 → fresh value 5.0
    assert rows["L2"] == (5.0, 0)
    # L3 @10: right row is in the future → no backward match
    assert rows["L3"] == (None, None)


def test_asof_tolerance_forward_direction(spark):
    """forward + tolerance: next right row at/after, stale when
    further than the bound ahead."""
    left = spark.createDataFrame(
        [(1, 10, "A"), (1, 80, "B")], "k int, t bigint, tag string"
    )
    right = spark.createDataFrame(
        [(1, 30, 1.0), (1, 200, 2.0)], "k int, t bigint, v double"
    )
    rows = {
        r["tag"]: (r["v_asof"], r["t_asof"])
        for r in asof_join(
            left, right, ["k"], "t", ["v"],
            direction="forward", tolerance=50,
        ).collect()
    }
    assert rows["A"] == (1.0, 30)   # dist 20 <= 50
    assert rows["B"] == (None, None)  # next row is 120 ahead → stale


def test_asof_nearest_row_atomic_null_value(spark):
    """nearest-match fill is row-atomic too: a NULL value on the
    nearest row must not be papered over by an older row's value."""
    from aws_lakehouse_spark.operators.joins import asof_join_nearest

    left = spark.createDataFrame([(1, 100, "L")], "k int, t bigint, tag string")
    right = spark.createDataFrame(
        [(1, 0, 5.0), (1, 99, None)], "k int, t bigint, v double"
    )
    row = asof_join_nearest(
        left, right, ["k"], "t", ["v"], tolerance=50
    ).collect()[0]
    assert row["t_asof"] == 99 and row["v_asof"] is None


def test_finite_guard_nulls_nonfinite_only(spark):
    """scalar.finite(): NaN/+Inf/-Inf become NULL (excluded from any
    downstream aggregate or integer cast); finite values — including
    the extremes a clamp might mangle — pass through unchanged."""
    from aws_lakehouse_spark.functions import scalar as S
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (float("nan"),),
            (float("inf"),),
            (float("-inf"),),
            (0.0,),
            (-1.5e308,),
            (1.5e308,),
            (None,),
        ],
        "x double",
    )
    got = [r["y"] for r in df.select(S.finite(F.col("x")).alias("y")).collect()]
    assert got[:3] == [None, None, None]
    assert got[3:6] == [0.0, -1.5e308, 1.5e308]
    assert got[6] is None
    # the motivating crash shape: floor()+cast over the guarded value
    # must run clean under an ANSI session (unguarded, the NaN/Inf
    # rows throw ARITHMETIC_OVERFLOW; guarded they are NULLs, and
    # huge-but-finite values saturate through floor(), not crash)
    vals = {
        r["c"]
        for r in df.select(
            F.floor(S.finite(F.col("x")) * 100).cast("bigint").alias("c")
        ).collect()
    }
    assert 0 in vals and None in vals
