"""Seeded input generation for the lakehouse benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``
with numpy's PCG64, so the same seed gives byte-identical inputs:

- ``star_tables``: the ten star-schema tables the query registry reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the schemas and value domains of the
  repository's synthetic star-schema test tables (FIXTURES.md §A). Row counts scale with
  ``sf`` from the sf0.01 counts; ``documents`` and ``embeddings`` keep
  their 500-row floor.
- ``noaa_bronze``: NOAA GHCN-daily-shaped raw observations (``ID DATE
  DATA_VALUE M_FLAG Q_FLAG S_FLAG OBS_TIME ELEMENT YEAR``) over one
  month of daily partitions, plus the four fixed-width dimension text
  files (stations, countries, states, inventory).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "big", "blue", "green", "fast", "old", "shiny")
PART_NOUN = ("ring", "widget", "gear", "bolt", "valve", "panel", "spring", "cog")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star tables as ``<out_dir>/<name>.parquet``;
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    scale = sf / 0.01
    n_cust = int(1500 * scale)
    n_supp = max(10, int(100 * scale))
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_line = int(60000 * scale)
    n_evt = int(10000 * scale)
    n_doc = max(500, int(500 * scale))
    n_emb = max(500, int(500 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pkeys = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
    })
    odate_days = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            EPOCH_1995_MS + odate_days * DAY_MS, pa.timestamp("ms")
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line)
    l_qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line)
    ship = odate_days[l_order] + rng.integers(1, 122, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": np.round(
            l_qty * (900.0 + (l_part % 1000) / 10.0)
            * rng.uniform(0.95, 1.05, n_line), 2
        ),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(EPOCH_1995_MS + ship * DAY_MS, pa.timestamp("ms")),
    })
    gaps = rng.integers(1, 2 * 259_000_000_000 // max(1, int(scale)), n_evt)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(EPOCH_2024_NS + np.cumsum(gaps), pa.timestamp("ns")),
        "user_id": pa.array(
            rng.integers(0, max(15, n_cust // 10), n_evt), pa.int64()
        ),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": money(0.01, 499.99, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    words = np.array(WORDS)
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(8, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


ELEMENTS = ("TMAX", "TMIN", "PRCP", "SNOW", "SNWD", "WESD")
COUNTRIES = (("US", "United States"), ("CA", "Canada"), ("BR", "Brazil"),
             ("AG", "Algeria"), ("GM", "Germany"), ("JA", "Japan"))
STATES = (("NY", "NEW YORK"), ("CA", "CALIFORNIA"), ("TX", "TEXAS"),
          ("WA", "WASHINGTON"), ("FL", "FLORIDA"))


def noaa_bronze(out_dir: str, seed: int, n_stations: int, days: int,
                files: int = 4) -> dict[str, str]:
    """Write NOAA-shaped raw observations for ``days`` days of January
    2025 (``n_stations * days * len(ELEMENTS)`` rows before the ~1%
    of dropped station-days) and the four dimension text files.
    About 2% of rows carry a failing quality flag and 1% a NULL value,
    so the Silver cleanse has rows to drop.

    Returns the paths ``run_pipeline`` takes (``source`` and the
    ``dim_*`` files)."""
    rng = np.random.default_rng(seed + 7919)
    obs_dir = os.path.join(out_dir, "source")
    os.makedirs(obs_dir, exist_ok=True)
    countries = [c for c, _ in COUNTRIES]
    st_country = np.array(countries)[rng.integers(0, len(countries), n_stations)]
    ids = [f"{c}W{i:08d}" for i, c in enumerate(st_country)]
    sid = np.repeat(np.arange(n_stations), days * len(ELEMENTS))
    day = np.tile(np.repeat(np.arange(1, days + 1), len(ELEMENTS)), n_stations)
    elem = np.tile(np.arange(len(ELEMENTS)), n_stations * days)
    keep = rng.random(len(sid)) >= 0.01
    sid, day, elem = sid[keep], day[keep], elem[keep]
    n = len(sid)
    value = rng.integers(-400, 400, n).astype(np.int32)
    value_mask = rng.random(n) < 0.01
    qroll = rng.random(n)
    q_flag = np.where(qroll < 0.02, "X", np.where(qroll < 0.5, "", None))
    order = rng.permutation(n)
    table = pa.table({
        "ID": np.array(ids)[sid],
        "DATE": [f"202501{d:02d}" for d in day],
        "DATA_VALUE": pa.array(value, pa.int32(), mask=value_mask),
        "M_FLAG": pa.array(np.where(rng.random(n) < 0.1, "B", None)),
        "Q_FLAG": pa.array(q_flag),
        "S_FLAG": np.array(["S", "E", "7"])[rng.integers(0, 3, n)],
        "OBS_TIME": pa.array(np.where(rng.random(n) < 0.3, "0700", None)),
        "ELEMENT": np.array(ELEMENTS)[elem],
        "YEAR": pa.array(np.full(n, 2025), pa.int32()),
    }).take(order)
    step = -(-n // files)
    for i in range(files):
        _write(table.slice(i * step, step),
               os.path.join(obs_dir, f"part-{i:05d}.parquet"))

    st_state = np.array([s for s, _ in STATES])[rng.integers(0, len(STATES), n_stations)]
    lines = []
    for i, sid_ in enumerate(ids):
        state = st_state[i] if st_country[i] == "US" else "  "
        flags = " GSN" if rng.random() < 0.2 else ""
        flags += " HCN" if rng.random() < 0.1 else ""
        wmo = f" {int(rng.integers(10000, 99999))}" if rng.random() < 0.3 else ""
        lines.append(
            f"{sid_:<11} {rng.uniform(-89, 89):8.4f} {rng.uniform(-179, 179):9.4f}"
            f" {rng.uniform(0, 3000):6.1f} {state} STATION {i}{flags}{wmo}"
        )
    paths = {"source": obs_dir}
    dims = {
        "dim_stations": lines,
        "dim_countries": [f"{c} {name}" for c, name in COUNTRIES],
        "dim_states": [f"{s} {name}" for s, name in STATES],
        "dim_inventory": [
            f"{sid_:<11} {rng.uniform(-89, 89):8.4f} {rng.uniform(-179, 179):9.4f}"
            f" {ELEMENTS[e]} {int(rng.integers(1850, 2000))} 2025"
            for sid_ in ids for e in range(0, len(ELEMENTS), 2)
        ],
    }
    for dim, rows in dims.items():
        path = os.path.join(out_dir, f"{dim}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(rows) + "\n")
        paths[dim] = path
    return paths
