"""Output checks for the lakehouse benchmark; none of this is timed.

- ``compare``: a registry op's collected result against its DuckDB
  oracle, with ``tools/check_parity.compare`` itself: same row count
  and column names, order-insensitive values, exact non-floats and
  matching dtypes, floats equal within ``rtol=atol=1e-9`` and bitwise,
  and a hard failure for int-vs-float or Decimal-vs-float columns.
- ``pipeline_oracle`` / ``diff_pipeline``: ``run_pipeline``'s Gold
  fact and dimensions against a DuckDB restatement of the Silver
  cleanse (value present, quality flag NULL or empty) and the Gold
  tenths rule (TMAX/TMIN divided by 10) over the generated Bronze.
  Row counts and keys are exact; the per element/day value sums are
  float sums taken in a different order on each side, so they only
  need to agree within ``rtol=1e-9``.
- ``manifest_problems``: the pipeline manifest's own claims: one new
  snapshot version per commit, Silver file count not raised by
  compaction, and no ``error`` entry from maintenance, which catches
  and records exceptions instead of raising them.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_parity import compare  # noqa: E402,F401


# DuckDB restatement of Silver cleanse + Gold normalization over the
# raw Bronze files: {fact} is one row per (element, day) with the row
# count and value sum; {dims} holds each dimension's cardinality.
_SILVER = """
    SELECT ELEMENT AS element, CAST(strptime(DATE, '%Y%m%d') AS DATE) AS d,
           CASE WHEN ELEMENT IN ('TMAX', 'TMIN') THEN DATA_VALUE / 10.0
                ELSE CAST(DATA_VALUE AS DOUBLE) END AS value
    FROM read_parquet('{src}/*.parquet')
    WHERE DATA_VALUE IS NOT NULL AND (Q_FLAG IS NULL OR Q_FLAG = '')
"""


def pipeline_oracle(con, paths: dict[str, str]) -> dict:
    silver = _SILVER.format(src=paths["source"])
    fact = con.sql(
        f"SELECT element, CAST(d AS VARCHAR) AS d, count(*) AS n, sum(value) AS s "
        f"FROM ({silver}) "
        "GROUP BY ALL ORDER BY element, d"
    ).df()
    dims = {
        "gold.dim_element": con.sql(f"SELECT count(DISTINCT element) FROM ({silver})").fetchone()[0],
        "gold.dim_date": con.sql(f"SELECT count(DISTINCT d) FROM ({silver})").fetchone()[0],
    }
    for dim in ("dim_stations", "dim_countries", "dim_states", "dim_inventory"):
        with open(paths[dim]) as fh:
            dims[f"silver.{dim}"] = sum(1 for line in fh if line.strip())
    return {"fact": fact, "dims": dims}


def diff_pipeline(got: dict, want: dict) -> list[str]:
    """``got`` has the same shape as :func:`pipeline_oracle`'s result,
    read back from the tables ``run_pipeline`` wrote."""
    problems = []
    g, w = got["fact"], want["fact"]
    if int(g["n"].sum()) != int(w["n"].sum()):
        problems.append(f"gold rows {int(g['n'].sum())} != oracle {int(w['n'].sum())}")
    m = g.merge(w, on=["element", "d"], how="outer", suffixes=("", "_want"), indicator=True)
    one_side = m[m["_merge"] != "both"]
    if len(one_side):
        problems.append(f"{len(one_side)} element/day groups on one side only, "
                        f"e.g. {one_side.iloc[0][['element', 'd', '_merge']].tolist()}")
    m = m[m["_merge"] == "both"]
    bad = m[(m["n"] != m["n_want"]) | ~np.isclose(m["s"], m["s_want"], rtol=1e-9, atol=1e-9)]
    if len(bad):
        r = bad.iloc[0]
        problems.append(f"{len(bad)} element/day groups differ, e.g. {r['element']} {r['d']}: "
                        f"n {r['n']} vs {r['n_want']}, sum {r['s']!r} vs {r['s_want']!r}")
    for dim, n in want["dims"].items():
        if got["dims"].get(dim) != n:
            problems.append(f"{dim}: {got['dims'].get(dim)} rows != oracle {n}")
    return problems


def manifest_problems(manifest: dict, versions_before: list[int],
                      versions_after: list[int], silver_files: tuple[int, int]) -> list[str]:
    problems = []
    for entry in manifest.get("maintenance", []):
        if "error" in entry:
            problems.append(f"maintenance {entry.get('op')} on {entry.get('table')}: {entry['error']}")
    version = manifest.get("gold_snapshot", {}).get("version")
    if len(versions_after) != len(versions_before) + 1 or version != max(versions_after, default=None):
        problems.append(f"snapshot versions {versions_before} -> {versions_after}, commit said {version}")
    before, after = silver_files
    if after > before:
        problems.append(f"compaction raised silver files {before} -> {after}")
    return problems
