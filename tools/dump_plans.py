#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/r{N}/.

For each query a round touches, commit
``plans/r{N}/<query>_before.txt`` and ``..._after.txt`` so the plan
claims in that round's OPTIMIZATION notes are checkable without
running Spark.

    python tools/dump_plans.py --round 13 before          # all bench queries
    python tools/dump_plans.py --round 13 after q1 q2 ... # a subset

The session stays at ``local[8]`` with 8 shuffle partitions whatever
the host, so dumps from different rounds show the same partitioning.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_lakehouse_spark.registry import load_all  # noqa: E402
from aws_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("suffix", choices=("before", "after"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    suffix = args.suffix
    registry = load_all()
    names = args.names or [n for n, s in registry.items() if s.bench]
    unknown = [n for n in names if n not in registry]
    assert not unknown, f"unknown queries: {unknown}"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump-plans", master="local[8]", shuffle_partitions=8)
    jvm = spark._sc._jvm
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        formatted = jvm.PythonSQLUtils.explainString(qe, "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted.rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
