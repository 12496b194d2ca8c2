"""Property-based invariants (hypothesis) for the operators whose
correctness arguments are subtle: salting must be invisible in
results, the two as-of implementations must agree, dedup must keep
exactly the tiebreak winner, and connected components must equal a
reference BFS. Examples are kept small — each runs a real Spark job.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

# default 8 keeps the suite fast (each example runs a real Spark
# job); SPARK_GRAFT_HYP_EXAMPLES raises it for a stress pass
SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "8")),
    deadline=None,
)

keys = st.integers(min_value=0, max_value=4)
vals = st.one_of(
    st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)
)


@given(
    rows=st.lists(st.tuples(keys, vals), min_size=0, max_size=30),
)
@settings(**SETTINGS)
def test_salted_group_agg_invisible(spark, rows):
    from aws_lakehouse_spark.operators.skew import salted_group_agg

    df = spark.createDataFrame(rows, "k bigint, v double")
    got = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in salted_group_agg(
            df, ["k"], sum_cols=["v"], salt_buckets=4
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        if want[k][1] is None:
            assert got[k][1] is None
        else:
            assert abs(got[k][1] - want[k][1]) < 1e-9


@given(
    left=st.lists(st.tuples(keys, st.integers(0, 50)), min_size=0, max_size=15),
    right=st.lists(
        st.tuples(keys, st.integers(0, 50), st.floats(-10, 10, allow_nan=False)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_window_equals_pandas(spark, left, right):
    from aws_lakehouse_spark.operators import asof_join, asof_join_pandas

    # unique (key, ts) on the left so rows are identifiable
    left = list({(k, t): None for k, t in left})
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k bigint, ts bigint, rowid bigint",
    )
    rdf = spark.createDataFrame(right, "k bigint, ts bigint, v double")
    a = {
        r["rowid"]: r["v_asof"]
        for r in asof_join(ldf, rdf, ["k"], "ts", ["v"]).collect()
    }
    b = {
        r["rowid"]: r["v_asof"]
        for r in asof_join_pandas(ldf, rdf, ["k"], "ts", ["v"]).collect()
    }
    assert a == b and len(a) == len(left)


@given(
    rows=st.lists(
        st.tuples(keys, st.integers(0, 9), st.integers(0, 100)),
        min_size=0,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_dedupe_keeps_exact_tiebreak_winner(spark, rows):
    from aws_lakehouse_spark.operators import dedupe_by_key

    # unique tiebreak column so the winner is fully determined
    df = spark.createDataFrame(
        [(k, g, i) for i, (k, g, _) in enumerate(rows)],
        "k bigint, g bigint, tb bigint",
    )
    got = {
        (r["k"], r["g"]): r["tb"]
        for r in dedupe_by_key(df, ["k", "g"], [F.asc("tb")]).collect()
    }
    want: dict[tuple[int, int], int] = {}
    for i, (k, g, _) in enumerate(rows):
        key = (k, g)
        want[key] = min(want.get(key, i), i)
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_connected_components_equals_bfs(spark, edges):
    from aws_lakehouse_spark.llm.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for start in adj:
        if start in want:
            continue
        seen, stack = {start}, [start]
        while stack:
            n = stack.pop()
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        label = min(seen)
        for n in seen:
            want[n] = label
    assert got == want


def test_operators_on_empty_inputs(spark):
    from aws_lakehouse_spark.llm.dedup import connected_components
    from aws_lakehouse_spark.operators import (
        asof_join,
        asof_join_pandas,
        dedupe_by_key,
    )
    from aws_lakehouse_spark.operators.skew import salted_group_agg, salted_join

    empty_kv = spark.createDataFrame([], "k bigint, v double")
    empty_ts = spark.createDataFrame([], "k bigint, ts bigint, v double")

    assert salted_group_agg(empty_kv, ["k"], sum_cols=["v"]).count() == 0
    assert salted_join(empty_kv, empty_kv, "k", "k").count() == 0
    assert dedupe_by_key(empty_kv, ["k"], [F.asc("v")]).count() == 0
    assert asof_join(empty_ts, empty_ts, ["k"], "ts", ["v"]).count() == 0
    assert asof_join_pandas(empty_ts, empty_ts, ["k"], "ts", ["v"]).count() == 0
    assert connected_components(
        spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    ).count() == 0


@given(
    points=st.lists(st.integers(0, 100), min_size=0, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 30)),
        min_size=0,
        max_size=10,
    ),
    width=st.sampled_from([5.0, 10.0, 33.0]),
)
@settings(**SETTINGS)
def test_banded_range_join_equals_nested_loop(spark, points, intervals, width):
    """Grid-banding is an optimization, never a semantics change:
    banded equi-join + residual == the naive nested-loop range join,
    for any band width."""
    from aws_lakehouse_spark.operators import range_join_banded

    lp = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid bigint, point bigint"
    )
    rp = spark.createDataFrame(
        [(i, lo, lo + w) for i, (lo, w) in enumerate(intervals)],
        "iid bigint, lo bigint, hi bigint",
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join_banded(
            lp, rp, "point", "lo", "hi", band_width=width
        ).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, w) in enumerate(intervals)
        if lo <= p <= lo + w
    }
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    minute=st.sampled_from(["*", "*/5", "0,30", "17", "10-20", "50-59/3"]),
    hour=st.sampled_from(["*", "3", "2,14", "9-17", "*/6"]),
    dom=st.sampled_from(["*", "1", "15", "1-10", "?"]),
    month=st.sampled_from(["*", "8", "1-6", "*/3"]),
    dow=st.sampled_from(["*", "0", "5", "1-5", "?"]),
    start_min=st.integers(min_value=0, max_value=60 * 24 * 3),
)
def test_cron_next_is_minimal_and_matching(
    minute, hour, dom, month, dow, start_min
):
    """cron_next returns the FIRST minute after `after` satisfying
    every field (verified by an independent brute-force scan applying
    the field sets and the standard dom/dow either-matches rule)."""
    from datetime import datetime, timedelta

    from aws_lakehouse_spark.sources.pipeline import _cron_field, cron_next

    expr = f"{minute} {hour} {dom} {month} {dow}"
    after = datetime(2026, 8, 1) + timedelta(minutes=start_min)
    got = cron_next(expr, after)

    minutes = _cron_field(minute, 0, 59)
    hours = _cron_field(hour, 0, 23)
    doms = _cron_field(dom, 1, 31)
    months = _cron_field(month, 1, 12)
    dows = {d % 7 for d in _cron_field(dow, 0, 7)}
    dom_any = dom in ("*", "?")
    dow_any = dow in ("*", "?")

    def fires(t):
        if t.minute not in minutes or t.hour not in hours \
                or t.month not in months:
            return False
        dom_ok, dow_ok = t.day in doms, (t.isoweekday() % 7) in dows
        if not (dom_any or dow_any):
            return dom_ok or dow_ok
        return dom_ok and dow_ok

    assert got > after
    assert fires(got), (expr, after, got)
    # minimality: no earlier minute in (after, got) fires — the scan
    # bound covers the worst sampled case (dom + month restricted,
    # anchor just past the fire date -> ~364 days ≈ 525k minutes)
    t = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
    scanned = 0
    while t < got:
        assert not fires(t), (expr, after, t, got)
        t += timedelta(minutes=1)
        scanned += 1
        assert scanned < 600_000


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=1, max_value=120),
    budget=st.sampled_from([50, 200, 1000]),
)
def test_shard_plan_matches_sequential_reference(
    spark, seed, n_docs, budget
):
    """The distributed two-level prefix sum must assign the same
    shard ids as a trivial sequential pass over doc_id order —
    regardless of bucket boundaries, doc sizes, or gaps in the id
    space."""
    import hashlib

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    rows = []
    i = 0
    for k in range(n_docs):
        h = hashlib.md5(f"{seed}:{k}".encode()).digest()
        i += 1 + h[0] % 9  # gappy, increasing doc ids
        rows.append((i, 1 + h[1] % 80))  # 1..80 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    # distributed: same shape as text_shard_plan (bucket width 16)
    d = df.withColumn("__b", F.floor(F.col("doc_id") / 16))
    off_w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("__b")
        .agg(F.sum("n_tokens").alias("__bt"))
        .select(
            "__b",
            F.coalesce(F.sum("__bt").over(off_w), F.lit(0)).alias("__off"),
        )
    )
    local_w = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = {
        r["doc_id"]: r["shard_id"]
        for r in d.join(F.broadcast(offsets), "__b")
        .withColumn("__run", F.sum("n_tokens").over(local_w))
        .select(
            "doc_id",
            F.floor(
                (F.col("__off") + F.col("__run") - F.col("n_tokens"))
                / F.lit(float(budget))
            ).alias("shard_id"),
        )
        .collect()
    }

    # sequential reference
    run = 0
    expected = {}
    for doc_id, n_tokens in sorted(rows):
        expected[doc_id] = run // budget
        run += n_tokens
    assert got == expected


@given(
    left=st.lists(st.tuples(keys, st.integers(0, 50)), min_size=0, max_size=12),
    right=st.lists(
        st.tuples(keys, st.integers(0, 50), st.floats(-10, 10, allow_nan=False)),
        min_size=0,
        max_size=12,
    ),
    tol=st.integers(0, 20),
)
@settings(**SETTINGS)
def test_asof_nearest_equals_reference(spark, left, right, tol):
    """asof_join_nearest == brute-force nearest-within-tolerance:
    min |diff| candidate, equidistant ties to the earlier right ts,
    identical right ts collapsed to the max value."""
    from aws_lakehouse_spark.operators.joins import asof_join_nearest

    left = list({(k, t): None for k, t in left})
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k bigint, ts bigint, rowid bigint",
    )
    rdf = spark.createDataFrame(right, "k bigint, ts bigint, v double")
    got = {
        r["rowid"]: (r["ts_asof"], r["v_asof"])
        for r in asof_join_nearest(
            ldf, rdf, ["k"], "ts", ["v"], tolerance=tol
        ).collect()
    }
    # reference: collapse right dups, then argmin by (|d|, ts)
    collapsed: dict[tuple[int, int], float] = {}
    for k, t, v in right:
        key = (k, t)
        collapsed[key] = max(collapsed[key], v) if key in collapsed else v
    want = {}
    for i, (k, t) in enumerate(left):
        cands = [
            (abs(t - rt), rt, rv)
            for (rk, rt), rv in collapsed.items()
            if rk == k and abs(t - rt) <= tol
        ]
        want[i] = (
            (min(cands)[1], min(cands)[2]) if cands else (None, None)
        )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=400),  # start offset (min)
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_interval_merge_equals_sweep_reference(spark, rows):
    """events_interval_merge must equal a sequential sweep-line union
    of the same [ts, ts+30min) intervals, per user."""
    import datetime as dt

    import aws_lakehouse_spark.plans.behavior as mod
    from aws_lakehouse_spark.plans.behavior import events_interval_merge_q

    ev = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, "view")
            for i, (u, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(mod, "load_table", lambda s, d, n: ev)
        got = {
            r["user_id"]: (r["n_intervals"], r["covered_us"])
            for r in events_interval_merge_q(spark, "unused").collect()
        }

    width = 30 * 60 * 1_000_000
    per_user: dict[int, list[int]] = defaultdict(list)
    for u, m in rows:
        per_user[u].append(m * 60 * 1_000_000)
    want = {}
    for u, starts in per_user.items():
        starts.sort()
        islands = []
        for s in starts:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], s + width)
            else:
                islands.append([s, s + width])
        want[u] = (len(islands), sum(e - s for s, e in islands))
    assert got == want


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=5000),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    langs=st.lists(
        st.sampled_from(["en", "de", "fr", "zh"]), min_size=40, max_size=40
    ),
)
@settings(**SETTINGS)
def test_identity_column_matches_global_sort(spark, ids, langs):
    """The two-level prefix-sum id assignment must equal row_number
    over a true global sort for ANY id distribution (sparse, dense,
    bucket-straddling)."""
    import aws_lakehouse_spark.plans.behavior as mod
    from aws_lakehouse_spark.plans.behavior import sink_identity_column_q

    rows = [(i, langs[k]) for k, i in enumerate(ids)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(mod, "load_table", lambda s, d, n: docs)
        got = {
            r["doc_id"]: r["row_id"]
            for r in sink_identity_column_q(spark, "unused").collect()
        }
    want = {
        doc: k + 1
        for k, (lang, doc) in enumerate(
            sorted((lang, doc) for doc, lang in rows)
        )
    }
    assert got == want


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "overwrite", "rollback"]),
            # batch size; for rollback, picks the target version
            st.integers(min_value=1, max_value=30),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=6, deadline=None)
def test_snapshot_log_replays_as_set_fold(spark, tmp_path_factory, ops):
    """Any sequence of append, overwrite and rollback commits reads
    back EXACTLY like the same op sequence replayed as a pure-Python
    set fold — at every version, not just the head. Appends reuse
    their base's segments, overwrites start a fresh segment list and
    rollbacks copy the target into one new segment."""
    import uuid as _uuid

    import pyspark.sql.functions as F

    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path_factory.mktemp("segprop") / f"t{_uuid.uuid4().hex[:8]}")
    expected: list[set[int]] = []
    state: set[int] = set()
    next_id = 0
    for op, size in ops:
        if op == "rollback":
            if not expected:
                continue  # nothing to roll back to yet
            target = size % len(expected)
            snapshots.rollback_to(table, target)
            state = set(expected[target])
        else:
            batch = set(range(next_id, next_id + size))
            next_id += size
            df = spark.createDataFrame(
                [(i,) for i in sorted(batch)], "id bigint"
            ).select(F.col("id"))
            snapshots.snapshot_write(spark, df, table, op)
            state = (state | batch) if op == "append" else batch
        expected.append(set(state))
    for v, want in enumerate(expected):
        got = {
            r["id"]
            for r in snapshots.read_snapshot(spark, table, v).collect()
        }
        assert got == want, (v, ops)


@given(
    left=st.lists(st.tuples(keys, st.integers(0, 50)), min_size=1, max_size=12),
    right=st.lists(
        st.tuples(keys, st.integers(0, 50), st.floats(-10, 10, allow_nan=False)),
        min_size=0,
        max_size=12,
    ),
    tol=st.integers(0, 20),
    direction=st.sampled_from(["backward", "forward"]),
)
@settings(**SETTINGS)
def test_asof_tolerance_equals_pandas_merge_asof(
    spark, left, right, tol, direction
):
    """asof_join(tolerance=...) must agree with pandas.merge_asof's
    tolerance semantics in both directions — pandas is the
    independent reference implementation (different algorithm,
    different engine). Right-side (key, ts) duplicates collapse to
    max(v) first so both implementations see identical inputs."""
    import pandas as pd

    from aws_lakehouse_spark.operators import asof_join

    left = list({(k, t): None for k, t in left})
    collapsed: dict = {}
    for k, t, v in right:
        key = (k, t)
        collapsed[key] = v if key not in collapsed else max(collapsed[key], v)
    right = [(k, t, v) for (k, t), v in collapsed.items()]

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k bigint, ts bigint, rowid bigint",
    )
    rdf = spark.createDataFrame(right, "k bigint, ts bigint, v double")
    got = {
        r["rowid"]: (r["v_asof"], r["ts_asof"])
        for r in asof_join(
            ldf, rdf, ["k"], "ts", ["v"],
            direction=direction, tolerance=tol,
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        columns=["k", "ts", "rowid"],
    ).sort_values("ts", kind="mergesort")
    rp = (
        pd.DataFrame(right, columns=["k", "ts", "v"])
        .astype({"k": "int64", "ts": "int64", "v": "float64"})
        .sort_values("ts", kind="mergesort")
    )
    merged = pd.merge_asof(
        lp,
        rp.rename(columns={"ts": "rts"}),
        left_on="ts",
        right_on="rts",
        by="k",
        direction=direction,
        tolerance=tol,
    )
    expected = {
        int(r.rowid): (
            None if pd.isna(r.v) else float(r.v),
            None if pd.isna(r.rts) else int(r.rts),
        )
        for r in merged.itertuples()
    }
    assert got == expected


@given(
    vecs=st.lists(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=-1e3, max_value=1e3, allow_nan=False
                ),
                min_size=4,
                max_size=4,
            ),
            st.lists(
                st.floats(
                    min_value=-1e3, max_value=1e3, allow_nan=False
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    zero_a=st.booleans(),
)
@settings(**SETTINGS)
def test_cosine_guard_matches_numpy(spark, vecs, zero_a):
    """The ANSI zero-denominator guard (``cosine_ratio_col``) against
    a numpy reference over random vectors: nonzero-norm pairs must
    match numpy's cosine to 1e-9 (the nullif guard passes nonzero
    denominators through bit-unchanged), and a planted zero vector
    must yield NULL — never an ANSI DIVIDE_BY_ZERO job kill."""
    import math

    import numpy as np

    from aws_lakehouse_spark.llm.similarity import cosine_sim_col

    rows = [list(t) for t in vecs]
    if zero_a:
        rows[0] = ([0.0] * 4, rows[0][1])
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i bigint, a array<double>, b array<double>",
    )
    got = {
        r["i"]: r["sim"]
        for r in df.select(
            "i", cosine_sim_col("a", "b").alias("sim")
        ).collect()
    }
    for i, (a, b) in enumerate(rows):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na * nb == 0.0:
            assert got[i] is None, (i, got[i])
        else:
            want = float(np.dot(a, b) / (na * nb))
            assert got[i] is not None and not math.isnan(got[i]), i
            assert abs(got[i] - want) < 1e-9, (i, got[i], want)
