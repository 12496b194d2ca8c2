#!/usr/bin/env python
"""Accept the current bench sidecar as the raw-gate baseline.

``bench.py`` gates every run's raw per-query warm-best walls against
``BENCH_NORMALIZED_BASELINE.json``, and attributes a uniform shift
with the raw canary walls stored next to them. The baseline only
moves DELIBERATELY: run this after a round's numbers are accepted
(idle host confirmed via the canaries, no unexplained regressions)
to promote ``BENCH_DETAIL.json``'s walls.

    python tools/refresh_bench_baseline.py --round 8
"""

from __future__ import annotations

import argparse
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    args = ap.parse_args()
    detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
    gate = detail.get("gate", {})
    base = {
        "round": args.round,
        "comment": "Per-query RAW warm-best walls (seconds) plus "
        "raw canary walls from the accepted round-"
        f"{args.round} bench on {detail.get('cpus')} cpus. Refresh "
        "deliberately at round close: "
        "python tools/refresh_bench_baseline.py --round N",
        # walls from another core count or scale factor do not
        # compare: the gate refuses a run that differs in either
        "cpus": detail.get("cpus"),
        "sf": detail.get("sf"),
        # raw per-query warm-best walls: the numbers the gate
        # decides on (min over warm trials — a code regression
        # raises the floor, GC spikes only the mean)
        "raw": detail.get("warm_best", detail["trimmed_mean"]),
        # raw canary walls: fixed multi-second jobs whose RAW ratio
        # vs these values attributes a uniform shift to the host
        "calib_raw_sec": detail.get("calib_raw_sec"),
        "calib_engine_sec": detail.get("calib_engine_sec"),
        # measurement-design version of the engine canary (r11
        # verdict item 8): the gate only compares calib_engine_sec
        # across equal designs
        "calib_engine_design": detail.get("calib_engine_design", 1),
        "calib_sched_sec": detail.get("calib_sched_sec"),
    }
    out = os.path.join(REPO, "BENCH_NORMALIZED_BASELINE.json")
    json.dump(base, open(out, "w"), indent=1)
    print(
        f"baseline -> round {args.round}: {len(base['raw'])} "
        f"queries on {base['cpus']} cpus (previous gate: "
        f"pass={gate.get('pass')}, total_ratio={gate.get('total_ratio')})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
