"""Custom stateful streaming operator (SURVEY §2.10 extension).

``running_totals_per_key`` is the engine's template for operators
Structured Streaming's built-ins can't express: arbitrary per-key
state evolved across micro-batches with ``applyInPandasWithState``.
State here is a (count, sum) pair per key — the shape generalizes to
sessionization with custom logic, decaying counters, online
sketches, etc.

Scale properties: state lives in the executor state store keyed by
the grouping key (one shuffle per batch on that key); batches arrive
as Arrow-backed pandas frames, so the per-key update is vectorized,
never per-row Python.

No registry query runs these operators; each is the readStream face
of a registry batch query, and ``tests/test_streaming.py`` /
``tests/test_cep.py`` hold the two equal.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_per_key(
    events: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Emit the updated running (count, sum) for each key touched in
    each micro-batch. Use outputMode('update') on the sink."""
    return events.groupBy(key).applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint"
)
SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"


def _session_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    gap_us = 30 * 60 * 1_000_000
    closed: list[tuple[int, int, int]] = []
    cur = state.get if state.exists else None
    if state.hasTimedOut:
        if cur is not None:
            closed.append(cur)
        state.remove()
    else:
        ts: list[int] = []
        for pdf in pdfs:
            ts.extend(int(v) for v in pdf["ts_us"])
        for t in sorted(ts):
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], t, cur[2] + 1)
        if cur is not None:
            state.update(cur)
            state.setTimeoutDuration(60_000)
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(closed),
            "session_start_us": [c[0] for c in closed],
            "session_end_us": [c[1] for c in closed],
            "n_events": [c[2] for c in closed],
        }
    )


def sessionize_per_key(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom gap-based sessionizer with explicit timeout state — the
    operator ``F.session_window`` can't express when the session
    carries custom per-session state (here start/last/count; in
    production: per-session feature accumulators). Input needs an
    integer-microsecond ``ts_us`` column; sessions close when a
    30-min gap appears in-batch, or via processing-time timeout for
    keys that go quiet. Emits only CLOSED sessions (append sink).

    Scale: state is (3 ints) per active key in the executor state
    store; each micro-batch shuffles once on the key. Events are
    sorted within each batch, but arrival is assumed batch-ordered
    per key (file source: one file per commit, oldest-first) — for
    out-of-order sources put a watermark + buffer stage in front, or
    use ``F.session_window`` when no custom per-session state is
    needed.
    """
    return events.groupBy(key).applyInPandasWithState(
        _session_update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


CEP_OUTPUT_SCHEMA = (
    "user_id bigint, trigger_us bigint, action_us bigint, latency_us bigint"
)
CEP_STATE_SCHEMA = "pending array<bigint>"


def _cep_factory(trigger_type: str, action_type: str, within_us: int):
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (pending,) = state.get if state.exists else ([],)
        pending = list(pending)
        rows: list[tuple[int, int]] = []
        events: list[tuple[int, str]] = []
        for pdf in pdfs:
            events.extend(
                (int(t), str(e))
                for t, e in zip(pdf["ts_us"], pdf["event_type"])
            )
        horizon = 0
        for t, etype in sorted(events):
            horizon = max(horizon, t)
            if etype == trigger_type:
                pending.append(t)
            elif etype == action_type:
                # match the MOST RECENT in-window trigger and consume
                # it (match-once): scan pending newest-first
                for i in range(len(pending) - 1, -1, -1):
                    if 0 <= t - pending[i] <= within_us:
                        rows.append((pending.pop(i), t))
                        break
        # prune triggers that can never match again
        pending = [t for t in pending if horizon - t <= within_us]
        state.update((pending,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "trigger_us": [r[0] for r in rows],
                "action_us": [r[1] for r in rows],
                "latency_us": [r[1] - r[0] for r in rows],
            }
        )

    return update


def detect_pattern_per_key(
    events: DataFrame,
    trigger_type: str = "click",
    action_type: str = "purchase",
    within_us: int = 10 * 60 * 1_000_000,
    key: str = "user_id",
) -> DataFrame:
    """Complex-event-processing pattern matcher: emit (trigger,
    action) pairs where ``action_type`` follows ``trigger_type``
    within ``within_us`` for the same key, matching each action to
    its MOST RECENT unconsumed in-window trigger (match-once — the
    attribution semantics ad-click pipelines use; a stream-stream
    join can't express consume-once matching, which is exactly why
    this is a custom stateful operator).

    Input needs integer-microsecond ``ts_us`` and ``event_type``
    columns. State per key is the pending-trigger timestamp list,
    pruned each batch to the match window, so state is bounded by
    triggers-per-window regardless of stream length. One shuffle
    per micro-batch on the key; per-batch work is sorted-merge over
    the batch plus the bounded pending list.
    """
    return events.groupBy(key).applyInPandasWithState(
        _cep_factory(trigger_type, action_type, int(within_us)),
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PROFILE_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, n_types bigint"
)


def running_profile_per_key(events: DataFrame) -> DataFrame:
    """Per-key running profile via ``transformWithStateInPandas`` —
    Spark 4's arbitrary-stateful-processing v2 API (the successor to
    ``applyInPandasWithState``): a :class:`StatefulProcessor` holds
    MULTIPLE independently-typed state variables per key — here a
    ValueState (count, sum) plus a MapState of per-event-type counts
    — where v1 forces everything through one state tuple. Emits the
    updated (n_events, total_value, n_distinct_types) per key touched
    in each micro-batch; ``outputMode('update')`` on the sink.

    Scale contract is unchanged from v1: state lives in the executor
    state store keyed by the grouping key (one shuffle per batch),
    rows arrive as Arrow-backed pandas frames, updates are
    vectorized. What v2 adds operationally: typed state composition,
    per-state TTL, and timers — the building blocks for TTL'd
    feature stores and scheduled state eviction without hand-rolled
    timestamp bookkeeping.

    Environment note (probed): executing a transformWithState query
    needs (a) the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider``
    — bundled in Spark 4 core) and (b) the ``google.protobuf``
    package for the state-server protocol. No protobuf wheel exists
    in this sandbox, but ``streaming/protoshim.py`` routes the import
    through a host-vendored pure-Python runtime (driver and workers),
    so the end-to-end pytest RUNS here (round 8; previously a
    documented skip) and still skips gracefully on hosts with neither
    an installed nor a vendored runtime.
    """
    return events.groupBy("user_id").transformWithStateInPandas(
        make_profile_processor(),
        outputStructType=PROFILE_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def make_profile_processor():
    """The :class:`StatefulProcessor` behind
    :func:`running_profile_per_key`, exposed at module level so the
    profile SEMANTICS are testable without the v2 state server: a
    batch-equivalence pytest drives ``init``/``handleInputRows``
    against stub state objects implementing the same ValueState /
    MapState surface and asserts the final per-key emission equals
    the plain batch aggregate (importing StatefulProcessor needs no
    protobuf; only executing a transformWithState QUERY does)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total double"
            )
            self._types = handle.getMapState(
                "type_counts", "t string", "c bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (
                        self._types.getValue((t,))[0]
                        if self._types.containsKey((t,))
                        else 0
                    )
                    self._types.updateValue((t,), (prev + int(c),))
            self._totals.update((n, total))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "n_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    return ProfileProcessor()
