#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one fresh process, one closed-loop client.

    python3 lakebench/run.py --workload curation_kernels --seed 1 --seconds 30 --trace 0

Makes its inputs from ``--seed`` in a per-run working directory under
``.lakebench-runs/`` (removed at exit), starts a ``local[4]`` session
through ``aws_lakehouse_spark.session.get_spark``, then runs cycles of
the workload's operations back to back, each operation starting when
the previous one finished, until ``--seconds`` have passed and at
least three cycles ran. ``cold_cycle_s`` is the wall of the first
cycle, ``warm_cycle_s`` the median wall of the 2nd and 3rd, and
``setup_s`` the wall from process start until the inputs are
registered. Every operation's output is checked between cycles,
outside the timed region (``check.py``).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``--record
FILE`` also writes the traced run's per-cycle layer record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import zlib
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def process_age() -> float:
    """Seconds since this process started, from its start tick in
    /proc/self/stat (10 ms resolution) and the boot-time clock that
    tick counts on, so that a step of the wall clock cannot enter it."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_s(pids) -> float:
    """User plus system CPU seconds used so far by ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children[ppid].append(int(entry))
    found, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in found:
                found.add(c)
                todo.append(c)
    return found


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it started,
    and wait until each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc else set()
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def host_probe() -> list[float]:
    """Five walls of a fixed CPU task on four threads (zlib level 6
    over 1 MiB of seeded text, four times per thread; zlib releases the
    GIL), taken while no Spark process runs. It reads how fast this
    host is at the moment, apart from the engine."""
    rng = random.Random(0)
    words = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(2, 9)))
             for _ in range(2000)]
    buf = " ".join(rng.choice(words) for _ in range(200_000)).encode()[:1 << 20]

    def work():
        for _ in range(4):
            zlib.compress(buf, 6)

    walls = []
    for _ in range(5):
        threads = [threading.Thread(target=work) for _ in range(4)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        walls.append(time.perf_counter() - t0)
    return walls


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the traced run's layer record here")
    args = ap.parse_args()
    wl = workloads.WORKLOADS[args.workload]

    # the engine is imported from the checkout; without it, fail here
    import duckdb
    from aws_lakehouse_spark import catalog
    from aws_lakehouse_spark.registry import load_all
    from aws_lakehouse_spark.session import BUILD_CONFS, get_spark
    from aws_lakehouse_spark.sources.readers import scan_parquet

    run_dir = os.path.join(ROOT, ".lakebench-runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {d: os.path.join(run_dir, d) for d in
            ("tmp", "jtmp", "local", "warehouse", "inputs", "refresh")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = dirs["tmp"]
    spark = None
    try:
        t0 = time.perf_counter()
        star_dir = os.path.join(dirs["inputs"], "star")
        if wl.queries:
            gen.star_tables(star_dir, args.seed, workloads.STAR_SF)
        noaa = (gen.noaa_bronze(os.path.join(dirs["inputs"], "noaa"), args.seed,
                                workloads.NOAA_STATIONS, workloads.NOAA_DAYS)
                if wl.pipeline else None)
        probe = host_probe()
        gen_s = time.perf_counter() - t0  # inputs and probe, not set-up

        t0 = time.perf_counter()
        java_opts = BUILD_CONFS.get("spark.driver.extraJavaOptions", "")
        spark = get_spark(
            "lakebench", master="local[4]", shuffle_partitions=4,
            extra_conf={
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.driver.extraJavaOptions":
                    f"{java_opts} -Djava.io.tmpdir={dirs['jtmp']}"
                    f" -Dderby.system.home={run_dir}",
            },
        )
        session_s = time.perf_counter() - t0
        registry = load_all()
        if wl.queries:
            catalog.register_views(spark, star_dir)
        if noaa:
            scan_parquet(spark, noaa["source"]).createOrReplaceTempView("bronze_source")
        setup_s = process_age() - gen_s

        # oracles, once per run (the inputs do not change between cycles)
        con = duckdb.connect()
        for t in catalog.TABLES if wl.queries else ():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
        tracer = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        stats: dict[str, float] = {}
        ops = []
        if wl.pipeline:
            ops.append(workloads.pipeline_op(
                spark, noaa, check.pipeline_oracle(con, noaa), dirs["refresh"],
                dirs["warehouse"], tracer, stats))
        for name in wl.queries:
            spec = registry[name]
            ops.append(workloads.registry_op(spark, spec, star_dir, con.sql(spec.oracle).df(), tracer))
        con.close()

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        cycles: list[float] = []
        cycle_cpu: list[float] = []
        op_walls: dict[str, list[float]] = defaultdict(list)
        layer_cycles: list[dict] = []
        untraced_warm: list[float] = []
        attempted = failed = 0
        correct = True
        t_window = time.perf_counter()
        while True:
            k = len(cycles)
            # traced run: the cold and the first warm cycle untraced, then
            # traced and untraced cycles in ABBA order so both see the
            # same warmth
            traced = bool(args.trace) and k >= 2 and (k - 2) % 4 in (0, 3)
            results = []
            with tracer.cycle() if traced else nullcontext({}) as values:
                pids = {os.getpid(), jvm_pid} | descendants(jvm_pid)
                cpu0 = cpu_s(pids)
                c0 = time.perf_counter()
                for op in ops:
                    o0 = time.perf_counter()
                    try:
                        results.append((op, op.run()))
                    except Exception:
                        failed += 1
                        print(f"op {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
                    op_walls[op.name].append(time.perf_counter() - o0)
                wall = time.perf_counter() - c0
                cycle_cpu.append(cpu_s(pids | descendants(jvm_pid)) - cpu0)
            attempted += len(ops)
            cycles.append(wall)
            if traced:
                record = tracer.finish(values, wall)
                record.update({f"op.{op.name}_s": op_walls[op.name][-1] for op in ops})
            elif k >= 2:
                untraced_warm.append((wall, cycle_cpu[-1]))
            for op, res in results:
                problems = op.check(res)
                if problems:
                    correct = False
                    print(f"cycle {k} op {op.name} WRONG: {problems}", file=sys.stderr)
            if traced:
                record.update(stats)
                layer_cycles.append(record)
            for op in ops:
                op.reset()
            # query builders leave tempfile.mkdtemp directories behind on
            # every call; drop the ones this cycle made
            for entry in os.listdir(dirs["tmp"]):
                shutil.rmtree(os.path.join(dirs["tmp"], entry), ignore_errors=True)
            # warm_cycle_s reads cycles 2 and 3; a traced run needs
            # two traced and two untraced cycles after the first warm one
            if time.perf_counter() - t_window >= args.seconds and (
                    len(cycles) >= (6 if args.trace else 3)):
                break

        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        heap_peak = tracer.heap_peak_mb() if args.trace else 0.0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(f"cycles: {[round(c, 3) for c in cycles]} cpu: {[round(c, 2) for c in cycle_cpu]} "
          f"probe: {[round(p, 4) for p in probe]} setup {setup_s:.3f}s "
          f"gen {gen_s:.2f}s session {session_s:.2f}s peak_rss {peak_rss:.0f}MB",
          file=sys.stderr)
    if args.trace:
        names = [n for n, _, _ in tracing.LAYER_METRICS]
        layers = {n: median([c.get(n, 0.0) for c in layer_cycles]) for n in names}
        warm_walls = [w for w, _ in untraced_warm]
        layers.update({
            "session.start_s": session_s,
            "jvm.heap_peak_mb": heap_peak,
            "mem.peak_rss_mb": peak_rss,
            "host.probe_s": median(probe),
            "wall.cold_cycle_s": cycles[0],
            "wall.warm_cycle_s": median(warm_walls),
            "cpu.cold_cycle_s": cycle_cpu[0],
            "cpu.warm_cycle_s": median([c for _, c in untraced_warm]),
            "trace.overhead_s": median([c["trace.cycle_s"] for c in layer_cycles])
            - median(warm_walls),
        })
        units = {n: u for n, u, _ in tracing.LAYER_METRICS}
        metrics = {n: {"value": round(v, 6), "unit": units[n]} for n, v in layers.items()}
        for name in workloads.OP_NAMES:
            walls = [c[f"op.{name}_s"] for c in layer_cycles if f"op.{name}_s" in c]
            metrics[f"op.{name}_s"] = {"value": round(median(walls), 6), "unit": "s"}
        if args.record:
            with open(args.record, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "cycles_s": cycles, "cycles_cpu_s": cycle_cpu, "probe_s": probe,
                           "traced_cycles": layer_cycles, "summary": layers},
                          fh, indent=1, sort_keys=True)
    else:
        metrics = {
            "setup_s": {"value": round(setup_s, 6), "unit": "s"},
            "cold_cycle_s": {"value": round(cycles[0], 6), "unit": "s"},
            "warm_cycle_s": {"value": round(median(cycles[1:3]), 6), "unit": "s"},
        }
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
