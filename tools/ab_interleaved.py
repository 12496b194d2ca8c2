#!/usr/bin/env python
"""Interleaved same-session A/B benchmark: HEAD vs a reference tree.

The ONLY timing methodology that reliably sizes a code-side delta on
this shared host (cross-process timings drift 1.4x within 30 minutes
even "idle"; round 5's published bench read ~1.8x worse than r4 from
host drift alone). One process, one SparkSession, one JVM: each
repetition runs the query once under each tree, ALTERNATING order
per rep so neither side systematically pays warm-up or inherits the
other's GC debt. The aws_lakehouse_spark module cache is cleared on
every tree switch; a fixed all-cores synthetic Spark job runs per rep
to expose host drift INSIDE the session — discard the run if that
``calib`` wall swings more than ~2x.

    git worktree add /tmp/abtree <ref-commit>
    python tools/ab_interleaved.py /tmp/abtree query1 [query2 ...]

Round-6 findings with this tool (sf0.1, 7 reps, vs cf0f62a), chasing
the three regressions the r5 verdict flagged from cross-process data:

- streaming_cdc_upsert: 1.03x trimmed / 1.01x best — the published
  "+65%" was host drift, not code; nothing to recover.
- text_shard_plan: 0.92-1.03x best-of across two runs (one run had
  HEAD *faster*) — the published "2x mean" was a single GC-spike
  trial; no code regression.
- graph_pagerank_topk: 1.12-1.17x best-of, reproducible — the
  deliberate, r4-verdict-ordered hub-slicing (~11%, measured in r5)
  plus mega-basket dual-routing; documented in README, not recovered
  (three cheaper hub-cap variants measured worse in r5; don't retry).
"""

from __future__ import annotations

import json
import os
import sys
import time

HEAD_TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
REPS = int(os.environ.get("SPARK_GRAFT_AB_REPS", "7"))


def load_registry(tree: str, other: str):
    for mod in [m for m in sys.modules if m.startswith("aws_lakehouse_spark")]:
        del sys.modules[mod]
    sys.path = [p for p in sys.path if p not in (tree, other)]
    sys.path.insert(0, tree)
    from aws_lakehouse_spark.registry import load_all

    return load_all()


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    ref_tree = os.path.abspath(sys.argv[1])
    queries = sys.argv[2:]

    sys.path.insert(0, HEAD_TREE)
    from aws_lakehouse_spark.session import get_spark

    spark = get_spark(
        "ab",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(1 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        },
    )
    for t in ("lineitem", "orders", "events", "documents"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    def calib() -> float:
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, CPUS).selectExpr(
            "sum(id * 3 + 1) AS s"
        ).collect()
        return time.perf_counter() - t0

    def run_one(tree: str, name: str) -> float:
        other = ref_tree if tree == HEAD_TREE else HEAD_TREE
        reg = load_registry(tree, other)
        t0 = time.time()
        df = reg[name].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        return dt

    results = {q: {"ref": [], "head": [], "calib": []} for q in queries}
    for q in queries:  # warm both trees (codegen compile, file index)
        run_one(ref_tree, q)
        run_one(HEAD_TREE, q)
    for rep in range(REPS):
        order = (
            [(ref_tree, "ref"), (HEAD_TREE, "head")]
            if rep % 2 == 0
            else [(HEAD_TREE, "head"), (ref_tree, "ref")]
        )
        for q in queries:
            results[q]["calib"].append(round(calib(), 3))
            for tree, tag in order:
                results[q][tag].append(round(run_one(tree, q), 3))
    spark.stop()

    def stats(xs: list[float]) -> dict:
        xs = sorted(xs)
        trim = xs[:-1] if len(xs) > 2 else xs
        return {
            "best": xs[0],
            "median": xs[len(xs) // 2],
            "trimmed_mean": round(sum(trim) / len(trim), 3),
            "all": xs,
        }

    out = {}
    for q in queries:
        sr, sh = stats(results[q]["ref"]), stats(results[q]["head"])
        out[q] = {
            "ref": sr,
            "head": sh,
            "ratio_trimmed": round(sh["trimmed_mean"] / sr["trimmed_mean"], 3),
            "ratio_best": round(sh["best"] / sr["best"], 3),
            "calib": results[q]["calib"],
        }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
