#!/usr/bin/env python
"""Scale-extrapolate the driver's star schema one decade up (sf1).

The driver provides sf0.001/0.01/0.1 (TESTDATA.md, read-only); the r7
verdict's item 3 asks for a parity sweep ONE decade above the bench
scale to re-probe scale-sensitive arithmetic (the r5 sf0.1 sweep
caught a GK-sketch rank flip and double-SUM drift the gate scale
hid). This tool manufactures sf1 by TILING sf0.1 ten times with
consistent key offsets, matching the driver's own scaling law
(verified empirically across the three provided scales):

- every entity key space is dense 0..N-1 and grows 10x per decade
  (orders 150k -> 1.5M, customers 15k -> 150k, users 1.5k -> 15k,
  docs 5k -> 50k, vectors 2k -> 20k, ...) — replica i shifts each
  key by i * cardinality, so foreign keys stay consistent within a
  replica and the combined key space stays dense;
- region/nation are FIXED dimensions (5/25 rows at every sf) and are
  copied through;
- temporal windows are FIXED (events: Jan 2024; orders: 1995-2001):
  scaling adds rows inside the same window, never widens it;
- text/embedding payloads are duplicated verbatim — a corpus where
  every document has 9 exact clones is the --dup boundary at scale,
  a legitimate (and adversarial) dedup stress;
- physical parquet types are preserved exactly (asserted against the
  source schema after writing): timestamps stay TIMESTAMP(MICROS,
  NTZ), embeddings stay list<float>, int32 columns stay int32.

Parity correctness does not depend on the tiling being the driver's
exact distribution: Spark and DuckDB read the SAME files, so any
divergence the sweep finds is an engine-semantics bug, not a data
artifact. Output lands in ``.localdata/sf1`` (gitignored).

    python tools/make_sfN.py [--mult 10] [--src /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os

import duckdb
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key column -> cardinality at the SOURCE scale (offset unit); every
# table shifts each of its key-family columns by i * unit, so FK
# relationships hold within each replica
KEY_UNITS_SF01 = {
    "o_orderkey": 150_000,
    "l_orderkey": 150_000,
    "o_custkey": 15_000,
    "c_custkey": 15_000,
    "p_partkey": 20_000,
    "l_partkey": 20_000,
    "s_suppkey": 1_000,
    "l_suppkey": 1_000,
    "event_id": 100_000,
    "user_id": 1_500,
    "doc_id": 5_000,
    "vec_id": 2_000,
}

# FOREIGN keys get a hash-SCATTERED replica index instead of the
# row's own: a straight i*unit shift for every key makes ALL key
# columns correlate through the replica index (custkey 20 only ever
# co-occurs with orderkeys < 150k), which the driver's generator —
# FK draws uniform over the full key space — does not exhibit. The
# first r8 sf1 sweep showed the artifact: an ingest layout clustered
# on o_orderkey was accidentally ALSO clustered on o_custkey, making
# the Z-order demo's unclustered-baseline premise false. Any valid
# key in ANY replica is a valid FK target, so scattering by a hash
# of the row's primary key decorrelates without breaking
# referential integrity. column -> seed expression.
SCATTERED_FKS = {
    "o_custkey": "o_orderkey",
    "l_partkey": "l_orderkey * 16 + l_linenumber",
    "l_suppkey": "l_orderkey * 16 + l_linenumber + 7",
    "user_id": "event_id",
}

COPY_THROUGH = ("region", "nation")
SCALED = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def source_unit_factor(con: duckdb.DuckDBPyConnection, src: str) -> int:
    """KEY_UNITS_SF01 are sf0.1 cardinalities; tiling a LARGER source
    (e.g. sf1 → sf10) with the raw units makes replica key ranges
    OVERLAP — r12 caught this producing a smeared sf10 co-purchase
    graph whose density (and pagerank wall) exploded superlinearly.
    Scale every unit by the source's size relative to sf0.1, read off
    the orders row count (150k at sf0.1). A SMALLER source whose
    orders count evenly divides 150k (sf0.01, sf0.001) keeps factor
    1: its key ranges sit inside the sf0.1 units, so replicas never
    overlap (the combined key space just has gaps)."""
    n_orders = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{src}/orders.parquet')"
    ).fetchone()[0]
    if 0 < n_orders <= 150_000 and 150_000 % n_orders == 0:
        return 1
    if n_orders <= 0 or n_orders % 150_000:
        raise ValueError(
            f"source orders count {n_orders} neither divides nor is a "
            "whole multiple of the sf0.1 cardinality (150000); refusing "
            "to guess key offsets"
        )
    return n_orders // 150_000


def scale_table(
    con: duckdb.DuckDBPyConnection,
    src: str,
    out: str,
    table: str,
    mult: int,
    unit_factor: int = 1,
) -> None:
    cols = con.sql(
        f"DESCRIBE SELECT * FROM read_parquet('{src}/{table}.parquet')"
    ).fetchall()
    select = []
    for name, dtype, *_ in cols:
        unit = KEY_UNITS_SF01.get(name)
        if unit is not None:
            unit *= unit_factor
        if unit is None:
            select.append(name)
            continue
        seed = SCATTERED_FKS.get(name)
        if seed is not None and mult > 1:
            replica = f"((r.i + hash({seed})) % {mult})"
        else:
            replica = "r.i"
        # CAST back so BIGINT/INTEGER widths survive the addition
        select.append(
            f"CAST({name} + {replica} * {unit} AS {dtype}) AS {name}"
        )
    sql = (
        f"COPY (SELECT {', '.join(select)} "
        f"FROM read_parquet('{src}/{table}.parquet'), "
        f"range(0, {mult}) r(i) ORDER BY r.i) "
        f"TO '{out}/{table}.parquet' (FORMAT PARQUET)"
    )
    con.sql(sql)


def verify_schema(src: str, out: str, table: str) -> None:
    a = pq.read_schema(f"{src}/{table}.parquet")
    b = pq.read_schema(f"{out}/{table}.parquet")
    for field in a:
        got = b.field(field.name).type
        assert str(got) == str(field.type), (
            f"{table}.{field.name}: {got} != {field.type}"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--out", default=os.path.join(REPO, ".localdata", "sf1")
    )
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    for t in COPY_THROUGH:
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{args.src}/{t}.parquet')) "
            f"TO '{args.out}/{t}.parquet' (FORMAT PARQUET)"
        )
        verify_schema(args.src, args.out, t)
        print(f"{t}: copied through")
    unit_factor = source_unit_factor(con, args.src)
    for t in SCALED:
        scale_table(con, args.src, args.out, t, args.mult, unit_factor)
        verify_schema(args.src, args.out, t)
        n_src = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{args.src}/{t}.parquet')"
        ).fetchone()[0]
        n_out = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{args.out}/{t}.parquet')"
        ).fetchone()[0]
        assert n_out == n_src * args.mult, (t, n_src, n_out)
        print(f"{t}: {n_src} -> {n_out}")
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
