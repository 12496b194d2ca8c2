#!/usr/bin/env python
"""Per-cell-isolated A/B bench for SESSION CONF variants (r11).

Conf changes can't be A/B'd inside one session (most are build-time),
and cross-process single runs drift 1.4x on this host — so each
(variant, query) cell is a FRESH JVM (``tools/jvm_cell.py``: heap
history contaminates every later wall of a shared session) running N
trials, and cells are COUNTERBALANCED per query (A, B, B, A) so
neither variant systematically pays drift. The per-variant statistic
is the min of its cells' warm-best walls — a real conf win lowers the
floor.

    python tools/ab_conf.py '{"label":"base"}' \
        '{"label":"shj","conf":{"spark.sql.join.preferSortMergeJoin":"false"}}' \
        query1 [query2 ...]

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (host cores),
SPARK_GRAFT_AB_TRIALS (4).
"""

from __future__ import annotations

import json
import os
import sys

from jvm_cell import run_cell

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
TRIALS = int(os.environ.get("SPARK_GRAFT_AB_TRIALS", "4"))
# the bench's split sizing (see bench.py); a variant's conf overrides it
_SPLITS = {
    "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
    "spark.sql.files.openCostInBytes": str(64 * 1024),
}


def main() -> int:
    variants = []
    args = sys.argv[1:]
    while args and args[0].lstrip().startswith("{"):
        variants.append(json.loads(args.pop(0)))
    queries = args
    if len(variants) != 2 or not queries:
        print(__doc__)
        return 2
    a, b = variants
    results: dict[str, dict] = {}
    for name in queries:
        cells = {"a": [], "b": []}
        for tag in ("a", "b", "b", "a"):
            v = a if tag == "a" else b
            walls = run_cell(
                name, SF_DIR, TRIALS, CPUS, {**_SPLITS, **v.get("conf", {})}
            )
            warm = walls[1:] or walls
            cells[tag].append(min(warm))
            print(f"  {name} [{v['label']}] walls={walls}", flush=True)
        best_a, best_b = min(cells["a"]), min(cells["b"])
        results[name] = {
            a["label"]: best_a,
            b["label"]: best_b,
            "ratio": round(best_b / best_a, 3) if best_a else None,
        }
        print(f"{name}: {results[name]}", flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "trials": TRIALS,
                      "variants": [a, b], "results": results}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
