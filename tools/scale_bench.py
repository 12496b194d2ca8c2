#!/usr/bin/env python
"""Isolated-JVM scale bench: warm walls per scale, the decade ratio
and the core-count probe, for the heavy engine kernels.

    python tools/scale_bench.py --round N                    # .localdata/sf1
    python tools/scale_bench.py --round N --sf DIR --sf DIR  # two scales

``tools/make_sfN.py`` builds sf1 and sf10 locally. Every
(kernel, scale, cores) cell is a fresh JVM (``tools/jvm_cell.py``)
running two trials; the second, WARM wall is the signal and the first
(worker fork, codegen, Arrow init) is kept as ``cold`` for context. A
shared session measures heap history instead of kernels: its edition
of this probe put ``agg_approx_count_distinct`` at 97-170 s at sf10
depending on which kernels ran before it.

The artifact ``BENCH_SCALE_r{N}.json`` records:

- ``cpus``: walls run on ``local[cpus]``, the host's core count
  unless ``$SPARK_GRAFT_CPUS`` says otherwise;
- ``sf``: warm and cold walls per scale directory (``SMALLEST_SCALE_ONLY``
  under the smallest only);
- ``decade_ratio`` (two scales one decade apart): warm wall at the
  larger scale over the smaller, for the linear-expected ``KERNELS``;
  at or below 10 is linear or better;
- ``core_probe``: the ``PROBE_N`` linear-expected kernels with the
  worst decade ratio (the slowest warm walls when one scale is given)
  re-run at the largest scale on a quarter of the cores.
  ``ratio_quarter_over_full`` near 1.0 means the wall did not move
  when three quarters of the cores disappeared — hidden serialization
  (a one-split scan, a Python-side loop, a single-partition window).
  Healthy CPU-bound kernels land well above 1.5;
- ``delta_vs_prev``: warm-wall ratios against ``BENCH_SCALE_r{N-1}``.
  The comparison is REFUSED (reason recorded, no numbers) when the
  previous artifact has another ``design`` or ``cpus``: a delta across
  measurement designs or core counts is method noise, not signal.

Run on an idle host only — never next to pytest or a parity sweep.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

from jvm_cell import REPO, run_cell

# measurement-design version: bump whenever the cell shape changes so
# no delta is ever computed across designs
DESIGN = "isolated-jvm-2trial-warm"
TRIALS = 2
PROBE_N = 5

# linear-expected heavy kernels (the r9 two-decade set): measured at
# every scale given, and the only kernels the decade ratio and the core
# probe rank
KERNELS = [
    "tpch_q1_pricing_summary",
    "medallion_star_revenue",
    "text_token_count",
    "dedup_exact",
    "agg_approx_count_distinct",
    "dedup_minhash_signature",
    "dedup_simhash",
    "text_winnow_fingerprint",
    "text_fingerprint",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "graph_pagerank_topk",
    "text_span_dedup_apply",
]

# the r8 one-split class (banded joins and pair generators) plus the
# incremental minhash pipeline: measured at the smallest scale given
# only, as the sf1 sidecar did. Their serialization onto a few splits
# already shows a decade above the bench scale, while their OUTPUT
# grows faster than their input by definition (dedup_simhash_pairs
# emits 16.8M rows at sf1): a decade higher they would measure their
# output, not the engine, and their ~100x decade ratios would crowd
# the linear kernels out of the core probe.
SMALLEST_SCALE_ONLY = [
    "join_range_banded",
    "join_interval_overlap",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "dedup_incremental_minhash",
]


def _label(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _scale(sf_dir: str) -> float:
    m = re.fullmatch(r"sf([0-9.]+)", _label(sf_dir))
    if not m:
        raise SystemExit(f"cannot read the scale factor from {sf_dir!r}")
    return float(m.group(1))


def _measure(
    names: list[str], sf_dir: str, cores: int, cell
) -> dict[str, dict[str, float]]:
    label = _label(sf_dir)
    out: dict[str, dict[str, float]] = {"warm": {}, "cold": {}}
    for name in names:
        walls = cell(name, sf_dir, TRIALS, cores)
        out["cold"][name], out["warm"][name] = walls[0], walls[-1]
        print(
            f"[{cores}c {label}] {name}: cold {walls[0]}s warm {walls[-1]}s",
            flush=True,
        )
    return out


def scale_bench(
    sf_dirs: list[str], cpus: int, prev: dict | None = None, cell=run_cell
) -> dict:
    """Measure ``KERNELS`` over one or two scale dirs and
    ``SMALLEST_SCALE_ONLY`` over the smaller; ``cell`` runs one
    (kernel, sf_dir, trials, cores) cell and returns its walls."""
    sf_dirs = sorted(sf_dirs, key=_scale)
    scales = [_scale(d) for d in sf_dirs]
    if len(scales) == 2 and abs(scales[1] / scales[0] - 10) > 1e-6:
        raise SystemExit(f"{sf_dirs} are not one decade apart")
    labels = [_label(d) for d in sf_dirs]
    walls = {
        label: _measure(
            KERNELS + (SMALLEST_SCALE_ONLY if i == 0 else []), d, cpus, cell
        )
        for i, (label, d) in enumerate(zip(labels, sf_dirs))
    }
    result: dict = {
        "design": DESIGN, "cpus": cpus, "trials": TRIALS, "sf": walls
    }

    top = walls[labels[-1]]["warm"]
    if len(labels) == 2:
        low = walls[labels[0]]["warm"]
        result["decade_ratio"] = {
            n: round(top[n] / low[n], 2) for n in KERNELS if low[n]
        }
    rank = result.get("decade_ratio") or {n: top[n] for n in KERNELS}
    probed = sorted(rank, key=rank.get, reverse=True)[:PROBE_N]
    quarter = max(1, cpus // 4)
    slow = _measure(probed, sf_dirs[-1], quarter, cell)["warm"]
    result["core_probe"] = {
        "sf": labels[-1],
        "cpus": quarter,
        "warm": slow,
        "ratio_quarter_over_full": {
            n: round(slow[n] / top[n], 2) for n in probed if top[n]
        },
    }

    if prev is not None:
        if (prev.get("design"), prev.get("cpus")) != (DESIGN, cpus):
            result["delta_vs_prev_refused"] = (
                f"previous artifact has design {prev.get('design')!r} on "
                f"{prev.get('cpus')} cpus, this run {DESIGN!r} on {cpus}: "
                "a delta across designs or core counts is method noise"
            )
        else:
            result["delta_vs_prev"] = {
                label: {
                    n: round(w / before[n], 2)
                    for n, w in walls[label]["warm"].items()
                    if before.get(n)
                }
                for label in labels
                if (before := prev["sf"].get(label, {}).get("warm"))
            }
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument(
        "--sf",
        action="append",
        help="scale dir; give two one decade apart for the decade ratio",
    )
    args = ap.parse_args()
    sf_dirs = args.sf or [os.path.join(REPO, ".localdata", "sf1")]
    if len(sf_dirs) > 2:
        raise SystemExit("give one or two --sf dirs")

    sys.path.insert(0, REPO)
    from aws_lakehouse_spark.registry import load_all

    # fail before any JVM starts: an unregistered kernel must not
    # abort the run halfway and lose the walls already measured
    registry = load_all()
    unknown = [n for n in KERNELS + SMALLEST_SCALE_ONLY if n not in registry]
    if unknown:
        raise SystemExit(f"kernels not in registry: {unknown}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    prev_path = os.path.join(REPO, f"BENCH_SCALE_r{args.round - 1:02d}.json")
    prev = json.load(open(prev_path)) if os.path.exists(prev_path) else None
    result = {"round": args.round, **scale_bench(sf_dirs, cpus, prev)}
    out = os.path.join(REPO, f"BENCH_SCALE_r{args.round:02d}.json")
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
