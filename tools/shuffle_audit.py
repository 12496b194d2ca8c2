#!/usr/bin/env python
"""Shuffle-VOLUME audit: measured bytes, not just exchange counts.

``plan_audit.py`` proves plan SHAPE (how many exchanges, which joins
broadcast); this tool measures what actually moves. For every bench
query (plus the scale-critical extras the plan audit watches) it runs
the full plan into the noop sink and records, from Spark's public
REST API (``/api/v1/applications/<id>/stages``), the per-query deltas
of:

- ``input_bytes``   — bytes read from storage,
- ``shuffle_write`` — bytes written to shuffle (the cluster-network
  cost that dominates at 100 TB),
- ``shuffle_read``  — bytes read back (≈ write; diverges under AQE
  coalescing and skew-split retries),

and the ratio ``shuffle_write / input_bytes`` — the number that says
whether an operator ships the data it scans. Read it CAREFULLY at
test scale: ``input_bytes`` is snappy-compressed columnar parquet
(dictionary/RLE compress the synthetic tables 5-50x) while shuffle
blocks are lz4'd row format, so a plan that legitimately shuffles
every scanned row reads as ratio 5-20 purely from format inflation.
The actionable signals are RELATIVE: a ratio far above the table's
own norm for a non-pair-generating query, a read far above write
(iterative re-reads), and the round-over-round VOLUME trend per
query. Near-zero ratios are still proof positive that map-side
combine / broadcast joins / pushdown hold.

    python tools/shuffle_audit.py            # sf0.1, bench set → SHUFFLE.md
    python tools/shuffle_audit.py --gate     # …and FAIL (exit 1) on growth
    python tools/shuffle_audit.py --accept   # …and promote to baseline
    SPARK_GRAFT_SF_DIR=... python tools/shuffle_audit.py

``--gate`` (r9 verdict item 6 — the volumes were measured but
unasserted, so a plan change doubling a query's shuffle would have
passed every gate): compares each query's shuffle_write and
shuffle_read against ``SHUFFLE_BASELINE.json`` and fails when either
grew more than ``GATE_RATIO`` (1.5x) AND by more than ``GATE_FLOOR``
(1 MiB — byte volumes are deterministic for a fixed plan, but AQE
coalescing and tiny-query jitter make sub-MiB swings meaningless).
Queries missing from the baseline are reported, never failed. The
baseline only moves deliberately: run ``--accept`` (with or without
``--gate``) after a round's plans are accepted, same contract as
``tools/refresh_bench_baseline.py``.

Stage stats accumulate in the UI store; per-query deltas are diffs of
the running totals (retainedStages is raised so nothing evicts
mid-run). Timings here are NOT benchmarks — run bench.py for those.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_lakehouse_spark.registry import load_all  # noqa: E402
from aws_lakehouse_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# same extras the plan audit watches (scale-critical non-bench ops)
from plan_audit import EXTRA  # noqa: E402

BASELINE_PATH = os.path.join(REPO, "SHUFFLE_BASELINE.json")
GATE_RATIO = 1.5
GATE_FLOOR = 1 << 20  # 1 MiB absolute growth before a ratio can fail


def _totals(base: str, app: str) -> dict[str, int]:
    stages = json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages")
    )
    out = {"input_bytes": 0, "shuffle_read": 0, "shuffle_write": 0}
    for s in stages:
        out["input_bytes"] += s.get("inputBytes", 0)
        out["shuffle_read"] += s.get("shuffleReadBytes", 0)
        out["shuffle_write"] += s.get("shuffleWriteBytes", 0)
    return out


def _fmt(n: int) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if abs(n) < 1024 or unit == "GiB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024
    return f"{n:.1f} GiB"


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    registry = load_all()
    names = list(
        dict.fromkeys(
            [n for n, s in registry.items() if s.bench]
            + [n for n in EXTRA if n in registry]
        )
    )
    spark = get_spark(
        "shuffle-audit",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4046",
            "spark.ui.retainedStages": "30000",
            "spark.ui.retainedJobs": "10000",
            # same small-split stand-in for many-file layouts as bench.py
            "spark.sql.files.maxPartitionBytes": str(1 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        },
    )
    base = spark.sparkContext.uiWebUrl
    app = json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications")
    )[0]["id"]

    rows = []
    before = _totals(base, app)
    for name in names:
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        after = _totals(base, app)
        delta = {k: after[k] - before[k] for k in after}
        before = after
        ratio = (
            delta["shuffle_write"] / delta["input_bytes"]
            if delta["input_bytes"]
            else 0.0
        )
        rows.append((name, delta, ratio))
        print(
            f"{name}: input {_fmt(delta['input_bytes'])}, "
            f"shuffle_write {_fmt(delta['shuffle_write'])} "
            f"(ratio {ratio:.3f})",
            flush=True,
        )
        spark.catalog.clearCache()
    spark.stop()

    out = os.path.join(REPO, "SHUFFLE.md")
    with open(out, "w") as fh:
        fh.write(
            "# Shuffle-volume audit (measured bytes, "
            f"{os.path.basename(sf_dir)})\n\n"
            "Generated by `tools/shuffle_audit.py` — per-query bytes "
            "scanned vs bytes shuffled through the full physical plan "
            "into the noop sink. Interpretation: input is compressed "
            "columnar parquet while shuffle blocks are row format, so "
            "a plan that legitimately shuffles every scanned row reads "
            "as write/input 5-20 from format inflation alone at this "
            "scale; the signals are ratios far above the table's norm, "
            "read >> write (iterative re-reads), and per-query volume "
            "trends across rounds. ~0 proves map-side combine / "
            "broadcast / pushdown hold. Timings are deliberately "
            "absent — bench.py owns those.\n\n"
            "| query | input | shuffle write | shuffle read | write/input |\n"
            "|---|---|---|---|---|\n"
        )
        for name, d, ratio in sorted(
            rows, key=lambda r: -r[1]["shuffle_write"]
        ):
            fh.write(
                f"| {name} | {_fmt(d['input_bytes'])} | "
                f"{_fmt(d['shuffle_write'])} | "
                f"{_fmt(d['shuffle_read'])} | {ratio:.3f} |\n"
            )
    print(f"wrote {out}")

    rc = 0
    if "--gate" in sys.argv:
        rc = _gate(rows, cpus)
    if "--accept" in sys.argv:
        _accept(rows, sf_dir, cpus)
    return rc


def _gate(rows, cpus: int) -> int:
    if not os.path.exists(BASELINE_PATH):
        print(
            "gate: no SHUFFLE_BASELINE.json — run --accept first "
            "to record one"
        )
        return 1
    accepted = json.load(open(BASELINE_PATH))
    base = accepted["queries"]
    failures, new = [], []
    # shuffle partitions follow the core count, so volumes from
    # another core count do not compare; the r10 baseline predates the
    # field and ran on local[32]
    if (base_cpus := accepted.get("cpus", 32)) != cpus:
        failures.append(f"baseline taken on {base_cpus} cpus, run on {cpus}")
        rows = []
    for name, d, _ in rows:
        b = base.get(name)
        if b is None:
            new.append(name)
            continue
        for key in ("shuffle_write", "shuffle_read"):
            cur, old = d[key], b[key]
            grew = cur - old
            if grew > GATE_FLOOR and cur > old * GATE_RATIO:
                failures.append(
                    f"{name}.{key}: {_fmt(old)} -> {_fmt(cur)} "
                    f"({cur / old:.2f}x)" if old else
                    f"{name}.{key}: 0 -> {_fmt(cur)}"
                )
    if new:
        print(f"gate: {len(new)} queries not in baseline: {new}")
    verdict = "FAIL" if failures else "PASS"
    base_round = accepted["round"]
    print(
        f"shuffle gate vs r{base_round} baseline: {verdict}"
        + (f" — {failures}" if failures else "")
    )
    # persist the verdict so tools/artifact_check.py (the round-close
    # red-artifact tripwire, r10 verdict item 6) can read it without
    # re-running the multi-minute audit
    gate_path = os.path.join(REPO, "SHUFFLE_GATE.json")
    json.dump(
        {
            "baseline_round": base_round,
            "pass": not failures,
            "failures": failures,
            "not_in_baseline": new,
        },
        open(gate_path, "w"),
        indent=1,
    )
    return 1 if failures else 0


def _accept(rows, sf_dir: str, cpus: int) -> None:
    payload = {
        "round": int(os.environ.get("SPARK_GRAFT_ROUND", "0")),
        "sf_dir": sf_dir,
        "cpus": cpus,
        "comment": "Per-query shuffle byte volumes from the accepted "
        "round's audit. --gate fails any query whose shuffle_write or "
        "shuffle_read grew >1.5x AND >1 MiB vs these. Promote "
        "deliberately with --accept at round close.",
        "queries": {
            name: {
                "input_bytes": d["input_bytes"],
                "shuffle_write": d["shuffle_write"],
                "shuffle_read": d["shuffle_read"],
            }
            for name, d, _ in rows
        },
    }
    json.dump(payload, open(BASELINE_PATH, "w"), indent=1)
    print(f"accepted {len(payload['queries'])} queries -> {BASELINE_PATH}")


if __name__ == "__main__":
    raise SystemExit(main())
