#!/usr/bin/env python
"""Empty-input sweep: run EVERY registry query against zero-row
copies of the driver tables and report crashes.

At 100 TB, any operator can receive zero rows — an upstream filter
that matches nothing, a stale partition, a pipeline's first run —
and the correct behavior is an empty result, not a driver-side
exception. This sweep is the diagnostic that found the round-5
empty-edge bugs (numpy kernels stacking empty batches, PageRank's
1/0 node count, PQ codebook collects indexed without rows, demo
roundtrips asserting on scenarios an empty input can't produce);
tests/test_empty_inputs.py regression-locks the fixed set.

    python tools/empty_sweep.py            # zero-row tables
    python tools/empty_sweep.py --rows 1   # one-row boundary (also
                                           # breaks referential
                                           # integrity across tables)
    python tools/empty_sweep.py --nulls    # every column NULL except
                                           # each table's first id
                                           # (a bad upstream extract)
    python tools/empty_sweep.py --zeros    # keys kept, every measure
                                           # 0 / '' / zero-vector —
                                           # the ANSI DIVIDE_BY_ZERO
                                           # probe (Spark 4 sessions
                                           # THROW on double 0/0, so
                                           # any data-dependent ratio
                                           # needs a nullif guard;
                                           # found the zero-norm
                                           # cosine crash)
    python tools/empty_sweep.py --dup      # every row twice — broken
                                           # primary-key uniqueness
                                           # (a replayed ingest batch;
                                           # exactly-once is a LIE at
                                           # scale). Probes merge /
                                           # asof / collect sites that
                                           # assume distinct keys.
    python tools/empty_sweep.py --negatives  # keys kept, numeric
                                           # measures negated (refund
                                           # rows, sensor glitches) —
                                           # probes computed array
                                           # indexes (ANSI element_at
                                           # throws on a negative or
                                           # zero index), log/sqrt
                                           # domains, bucket floors.
    python tools/empty_sweep.py --timewarp # temporals scattered over
                                           # three centuries (clock-
                                           # skewed devices, epoch
                                           # bugs) — probes date-spine
                                           # sequence() blowups and
                                           # epoch arithmetic range.
    python tools/empty_sweep.py --extreme  # NaN/+Inf/-Inf flood the
                                           # float measures; float
                                           # arrays go all-NaN (a
                                           # corrupted export, a bad
                                           # unit conversion) — probes
                                           # ANSI casts of non-finite
                                           # values to ints (integer-
                                           # cent sums), NaN-poisoned
                                           # aggregates, numpy kernels
                                           # on non-finite batches.
    python tools/empty_sweep.py --unicode  # astral emoji, RTL with
                                           # combining marks, CJK with
                                           # zero-width joiners
                                           # appended to every string
                                           # column — probes byte-vs-
                                           # codepoint assumptions in
                                           # tokenizers/BPE/shingles,
                                           # regex boundaries, lang-ID
                                           # n-grams, collation.
    python tools/empty_sweep.py --frozen   # every temporal column =
                                           # the SAME instant (a
                                           # pipeline stamping load-
                                           # time instead of event-
                                           # time) — probes zero-
                                           # duration sessions (ANSI
                                           # 0/0 rates), one-point
                                           # date spines, zero-span
                                           # normalizations, windows
                                           # with one distinct ORDER
                                           # BY key.
    python tools/empty_sweep.py --hotkey   # every foreign/grouping
                                           # key = 1 (one customer
                                           # places every order, one
                                           # user emits every event,
                                           # one mega-order holds all
                                           # lineitems) — the skew
                                           # shape every 100 TB fact
                                           # table has. Probes single-
                                           # group windows, per-entity
                                           # collect/pair paths, star
                                           # joins, maximal-star graph
                                           # kernels.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_lakehouse_spark.registry import load_all  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _zero_expr(name: str, ty: str) -> str:
    """Adversarial-zero projection for one column: ids/keys pass
    through (plans must still join, group and window normally — the
    point is zero VALUES flowing into ratios, not broken topology);
    every measure becomes its type's zero. Strings go to '' (zero
    tokens, zero length), embeddings to same-length zero vectors
    (zero norm -> the ANSI 0/0 cosine class), temporals stay (year
    filters must keep matching)."""
    lname, lty = name.lower(), ty.upper()
    keyish = (
        lname.endswith("key")
        or lname.endswith("_id")
        or lname in ("doc_id", "vec_id")
    )
    if keyish or "TIMESTAMP" in lty or "DATE" in lty:
        return f'"{name}"'
    if "[" in lty and ("FLOAT" in lty or "DOUBLE" in lty):
        # covers both list (FLOAT[]) and fixed-size (FLOAT[64])
        # reportings — a bare CAST(0 AS FLOAT[64]) would crash the
        # builder the way -abs(FLOAT[]) crashed --negatives
        elem = ty.split("[", 1)[0]
        return (
            f'list_transform("{name}", x -> CAST(0 AS {elem})) '
            f'AS "{name}"'
        )
    if lty.startswith(("DECIMAL", "DOUBLE", "FLOAT", "REAL")) or lty in (
        "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
    ):
        return f'CAST(0 AS {ty}) AS "{name}"'
    if "VARCHAR" in lty and "[" not in lty:
        return f"'' AS \"{name}\""
    if lty == "BOOLEAN":
        return f'false AS "{name}"'
    return f'"{name}"'


def _neg_expr(name: str, ty: str) -> str:
    """Adversarial-negation projection: keys and temporals pass
    through; every numeric measure becomes ``-abs(x)`` (refund rows,
    chargebacks, sensor glitches ship negative where the schema
    'promises' positive). Strings/arrays untouched — the point is
    negative VALUES flowing into computed array indexes (ANSI
    ``element_at`` throws on index <= 0), log/sqrt domains and
    bucket floors, not broken text."""
    lname, lty = name.lower(), ty.upper()
    keyish = (
        lname.endswith("key")
        or lname.endswith("_id")
        or lname in ("doc_id", "vec_id")
    )
    if keyish or "TIMESTAMP" in lty or "DATE" in lty or "[" in lty:
        # "[" — FLOAT[] embeddings match startswith("FLOAT") but
        # -abs(list) is not a thing; arrays are untouched by design
        return f'"{name}"'
    if lty.startswith(("DECIMAL", "DOUBLE", "FLOAT", "REAL")) or lty in (
        "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
    ):
        return f'-abs("{name}") AS "{name}"'
    return f'"{name}"'


def _extreme_expr(name: str, ty: str) -> str:
    """Adversarial-float projection: every 4th/4th+1/4th+2 row of a
    float measure becomes NaN / +Inf / -Inf (a corrupted upstream
    export, a sensor overflow, a bad unit conversion); float-array
    embeddings go all-NaN on every 4th row. Keys, temporals, ints
    and decimals pass through — integer overflow under ANSI
    semantics THROWING is correct behavior, but one NaN price must
    not crash a 1000-executor analytics job. Probes ANSI casts of
    NaN/Inf to integer types (integer-cent sums), NaN-poisoned
    aggregates, numpy kernels fed non-finite batches, and
    sort/window comparisons over NaN."""
    lname, lty = name.lower(), ty.upper()
    keyish = (
        lname.endswith("key")
        or lname.endswith("_id")
        or lname in ("doc_id", "vec_id")
    )
    if keyish or "TIMESTAMP" in lty or "DATE" in lty:
        return f'"{name}"'
    if "[" in lty and ("FLOAT" in lty or "DOUBLE" in lty):
        # list (FLOAT[]) or fixed-size (FLOAT[64]) reportings
        elem = ty.split("[", 1)[0]
        return (
            f'CASE WHEN row_number() OVER () % 4 = 0 THEN '
            f'list_transform("{name}", x -> CAST(\'NaN\' AS {elem})) '
            f'ELSE "{name}" END AS "{name}"'
        )
    if "[" not in lty and lty.startswith(("DOUBLE", "FLOAT", "REAL")):
        return (
            f'CASE row_number() OVER () % 4 '
            f"WHEN 0 THEN CAST('NaN' AS {ty}) "
            f"WHEN 1 THEN CAST('Infinity' AS {ty}) "
            f"WHEN 2 THEN CAST('-Infinity' AS {ty}) "
            f'ELSE "{name}" END AS "{name}"'
        )
    return f'"{name}"'


def _unicode_expr(name: str, ty: str) -> str:
    """Adversarial-text projection: every string column (keys too —
    document ids in the wild are arbitrary bytes) gets a unicode-
    hostile payload appended by row parity — astral-plane emoji +
    mathematical alphanumerics (code points past the BMP, where
    UTF-16 length != code-point count), RTL Arabic/Hebrew with
    combining marks, CJK with zero-width joiners and NBSP. Probes
    byte-vs-codepoint assumptions in tokenizers/BPE/shingles, regex
    word boundaries, language-ID n-grams, collation grouping, and
    fixed-width slicing."""
    lty = ty.upper()
    if "VARCHAR" in lty and "[" not in lty:
        return (
            f'CASE row_number() OVER () % 4 '
            f"WHEN 0 THEN \"{name}\" || ' \U0001f99c\U0001d518\U0001d52b\U0001d526' "
            f"WHEN 1 THEN \"{name}\" || ' العربية עִבְרִית' "
            f"WHEN 2 THEN \"{name}\" || ' 中文‍ 日本語' "
            f'ELSE "{name}" END AS "{name}"'
        )
    return f'"{name}"'


# Foreign-key / grouping-key columns the --hotkey probe floods to a
# single value (constant 1 — present in every parent table's key
# range at any truncation). Primary keys stay unique: the shape is
# ONE hot entity (one customer placing every order, one mega-order
# holding every lineitem, one user emitting every event, one class
# holding every embedding) — the skew every 100 TB fact table has.
HOT_KEYS = frozenset(
    {
        "n_regionkey", "c_nationkey", "s_nationkey",
        "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
        "user_id", "label",
    }
)


def _hotkey_expr(name: str, ty: str) -> str:
    """Adversarial-skew projection: every foreign/grouping key in
    HOT_KEYS becomes the constant 1; everything else passes through.
    Probes single-group windows and aggregations (ntile/quantile
    over one partition), per-entity collect/pair paths (one user's
    session holds EVERY event; one basket holds every item), star
    joins where one dim row matches the whole fact side, and graph
    kernels on a maximal star (every edge touches node 1)."""
    if name.lower() in HOT_KEYS:
        return f'CAST(1 AS {ty}) AS "{name}"'
    return f'"{name}"'


def _frozen_expr(name: str, ty: str) -> str:
    """Adversarial-clock projection #2: every temporal column becomes
    the SAME instant (a pipeline stamping load-time instead of
    event-time — every event 'happens' at the batch timestamp).
    Everything else passes through. Probes zero-duration sessions
    (rate = n / duration -> ANSI 0/0), single-point date spines
    (sequence(min, max) of length 1), zero-span min-max
    normalizations, EWMA/burstiness frames collapsing to one bucket,
    and LAST_VALUE/window ties where ORDER BY has one distinct key."""
    lty = ty.upper()
    if "TIMESTAMP" in lty or lty == "DATE":
        return (
            f"CAST(TIMESTAMP '2024-06-15 12:00:00' AS {ty}) "
            f'AS "{name}"'
        )
    return f'"{name}"'


def _warp_expr(name: str, ty: str) -> str:
    """Adversarial-clock projection: temporal columns scatter across
    three centuries (row parity decides -100y or +200y — the clock-
    skewed-device / epoch-bug shape; both stay inside the
    TIMESTAMP_NS int64 range 1677-2262). Everything else passes
    through. Probes date-spine generators (a sequence() between min
    and max must not blow up when the span is 300 years), epoch
    arithmetic and year bucketing."""
    lty = ty.upper()
    if "TIMESTAMP" in lty or lty == "DATE":
        return (
            f'CASE WHEN row_number() OVER () % 2 = 0 '
            f'THEN "{name}" - INTERVAL 100 YEAR '
            f'ELSE "{name}" + INTERVAL 200 YEAR END AS "{name}"'
        )
    return f'"{name}"'


def build_truncated_dir(
    src: str,
    rows: int,
    nulls: bool = False,
    zeros: bool = False,
    dup: bool = False,
    negatives: bool = False,
    timewarp: bool = False,
    extreme: bool = False,
    unicode_: bool = False,
    frozen: bool = False,
    hotkey: bool = False,
    *,
    out: str,
) -> str:
    """``rows``-row parquet per table, preserving physical types
    (duckdb round-trips TIMESTAMP_NS for the events table). With
    ``nulls``, every column except each table's first is NULLed; with
    ``zeros``, keys survive but every measure is zeroed
    (:func:`_zero_expr`). ``out`` names the destination directory;
    the caller owns it and removes it."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        proj = "*"
        if (
            nulls or zeros or negatives or timewarp or extreme
            or unicode_ or frozen or hotkey
        ):
            cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
            ).fetchall()
            if nulls:
                proj = ", ".join(
                    f'"{n}"' if i == 0 else f'CAST(NULL AS {ty}) AS "{n}"'
                    for i, (n, ty, *_rest) in enumerate(cols)
                )
            elif zeros:
                proj = ", ".join(
                    _zero_expr(n, ty) for n, ty, *_rest in cols
                )
            elif negatives:
                proj = ", ".join(
                    _neg_expr(n, ty) for n, ty, *_rest in cols
                )
            elif extreme:
                proj = ", ".join(
                    _extreme_expr(n, ty) for n, ty, *_rest in cols
                )
            elif unicode_:
                proj = ", ".join(
                    _unicode_expr(n, ty) for n, ty, *_rest in cols
                )
            elif frozen:
                proj = ", ".join(
                    _frozen_expr(n, ty) for n, ty, *_rest in cols
                )
            elif hotkey:
                proj = ", ".join(
                    _hotkey_expr(n, ty) for n, ty, *_rest in cols
                )
            else:
                proj = ", ".join(
                    _warp_expr(n, ty) for n, ty, *_rest in cols
                )
        base = (
            f"SELECT {proj} FROM read_parquet('{src}/{t}.parquet') "
            f"LIMIT {rows}"
        )
        if dup:
            # the replayed-batch shape: the SAME physical rows appear
            # twice (primary keys collide), as an at-least-once ingest
            # retry produces. The selection is materialized ONCE and
            # unioned with itself — evaluating the LIMIT subquery
            # twice would only pick identical rows while DuckDB's
            # preserve_insertion_order default holds, which is an
            # implicit contract, not a guaranteed one.
            con.execute(f'CREATE OR REPLACE TEMP TABLE "__dup" AS {base}')
            base = (
                'SELECT * FROM "__dup" UNION ALL SELECT * FROM "__dup"'
            )
        con.execute(
            f"COPY ({base}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return out


def main() -> int:
    from pyspark.sql import SparkSession

    rows = 0
    nulls = "--nulls" in sys.argv
    zeros = "--zeros" in sys.argv
    dup = "--dup" in sys.argv
    negatives = "--negatives" in sys.argv
    timewarp = "--timewarp" in sys.argv
    extreme = "--extreme" in sys.argv
    unicode_ = "--unicode" in sys.argv
    frozen = "--frozen" in sys.argv
    hotkey = "--hotkey" in sys.argv
    if "--rows" in sys.argv:
        rows = int(sys.argv[sys.argv.index("--rows") + 1])
    if (
        nulls or zeros or dup or negatives or timewarp or extreme
        or unicode_ or frozen or hotkey
    ) and not rows:
        rows = 200
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    with tempfile.TemporaryDirectory() as empty_dir:
        build_truncated_dir(
            src, rows, nulls, zeros, dup, negatives, timewarp, extreme,
            unicode_, frozen, hotkey, out=empty_dir,
        )
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            return _sweep(spark, empty_dir, rows)
        finally:
            spark.stop()


def _sweep(spark, empty_dir: str, rows: int) -> int:
    # positional names restrict the sweep (r8: the --hotkey probe at
    # sf1 scale is only tractable for the skew machinery itself —
    # pair-generating queries are intentionally quadratic on a
    # single hot key, and the 200-row default already covers them)
    only = {
        a
        for a in sys.argv[1:]
        if not a.startswith("--")
        and a != str(rows)
    }
    registry = load_all()
    if "--changed" in sys.argv:
        # taint-scope the battery (r8 verdict item 8): the full
        # 328-query sweep re-ran at every round close even when a
        # round touched three files. Since r10 the taint unit is the
        # query's transitive code-object fingerprint (r9 verdict
        # item 2 — file-level closures re-tainted everything after
        # any shared-module edit), anchored at the LAST round commit
        # (the battery runs clean at every round close, so that head
        # is the state the standing battery result certifies).
        from code_fingerprint import registry_fingerprints
        from rotate_window import fingerprints_at, round_commits

        commits = round_commits()
        anchor_round = max(commits)
        old = fingerprints_at(commits[anchor_round])
        current = registry_fingerprints()
        for name in registry:
            if old.get(name) != current.get(name):
                only.add(name)
        print(
            f"--changed: {len(only)} queries tainted since the "
            f"round-{anchor_round} head", flush=True,
        )
        if not only:
            print("0 ok, 0 crash (nothing tainted)")
            return 0
    unknown = only - set(registry)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    ok, fails = 0, []
    for name, spec in registry.items():
        if only and name not in only:
            continue
        try:
            n = spec.fn(spark, empty_dir).count()
            ok += 1
            print(f"ok {name}: {n}", flush=True)
        except Exception as e:  # noqa: BLE001 - diagnostic sweep
            fails.append(name)
            msg = str(e).splitlines()[0][:200] if str(e) else ""
            print(f"CRASH {name}: {type(e).__name__}: {msg}", flush=True)
    print(f"\n{ok} ok, {len(fails)} crash")
    if fails:
        print("crashes:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
