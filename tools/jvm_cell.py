#!/usr/bin/env python
"""Run one registry query in a fresh JVM and return its walls.

PySpark's ``spark.stop()`` keeps the py4j JVM and its heap alive, so
in a shared session every wall depends on which queries ran before
it (r10: ``dedup_simhash_pairs`` left the heap in a state where the
next kernels ran 2-3x slower). A cell is one subprocess — one fresh
JVM — running one query ``trials`` times into the noop sink on
``local[cores]``; the first wall pays worker fork, codegen and Arrow
init, later walls are warm. ``tools/scale_bench.py`` and
``tools/ab_conf.py`` both measure through :func:`run_cell`; this file
is also the child script the cell runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MARKER = "CELL_WALLS "


def run_cell(
    name: str,
    sf_dir: str,
    trials: int,
    cores: int,
    extra_conf: dict[str, str] | None = None,
) -> list[float]:
    """Walls (seconds) of ``trials`` runs of ``name`` in a fresh JVM."""
    cell = {
        "name": name,
        "sf_dir": sf_dir,
        "trials": trials,
        "cores": cores,
        "extra_conf": extra_conf or {},
    }
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), json.dumps(cell)],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith(_MARKER):
            return json.loads(line[len(_MARKER):])
    sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
    raise RuntimeError(f"cell failed: {name} at {sf_dir} on {cores} cores")


def _child(cell: dict) -> None:
    sys.path.insert(0, REPO)
    from aws_lakehouse_spark.registry import load_all
    from aws_lakehouse_spark.session import get_spark

    fn = load_all()[cell["name"]].fn
    cores = cell["cores"]
    spark = get_spark(
        "jvm-cell",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=cell["extra_conf"],
    )
    walls = []
    for _ in range(cell["trials"]):
        t0 = time.time()
        fn(spark, cell["sf_dir"]).write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
    spark.stop()
    print(_MARKER + json.dumps(walls), flush=True)


if __name__ == "__main__":
    _child(json.loads(sys.argv[1]))
