"""Per-layer tracing for the lakehouse benchmark (``--trace 1``).

Spans are taken from the benchmark's own files, around calls into
each layer's public functions; the engine itself is not edited:

- ``plans``: the wall of ``spec.fn`` (the query builder), the Spark
  jobs it starts (eager checkpoints, counts, snapshot commits) and
  the py4j gateway round trips of the whole cycle;
- ``exec``: per-stage metrics from the Spark UI REST API
  (``/api/v1/applications/<id>/jobs`` and ``/stages``, on the local
  UI port), attributed to the cycle through job groups;
- ``collect``: the part of the execute phase (``toPandas``) that no
  Spark job covers — result transfer and Arrow conversion;
- ``sources``: wrappers placed on the callees of
  ``sources.pipeline.run_pipeline`` (ingest, dimension parse and
  overwrite, partition overwrite, snapshot commit, maintenance), plus
  the walls of the Spark jobs ``run_pipeline`` starts outside them.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone
from urllib.parse import urlparse

MB = 1024 * 1024

# pipeline callee -> span; run_pipeline reads these names from its
# module globals at call time, so wrapping the module attribute is
# enough to see every call it makes
PIPELINE_SPANS = {
    "ingest_copy": "sources.ingest_s",
    "parse_stations": "sources.dims_s",
    "parse_countries": "sources.dims_s",
    "parse_states": "sources.dims_s",
    "parse_inventory": "sources.dims_s",
    "sink_table_overwrite": "sources.dims_s",
    "sink_partition_overwrite": "sources.partition_overwrite_s",
    "run_maintenance": "sources.maintenance_s",
}

LAYER_METRICS = (
    ("session.start_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("py4j.calls", "count", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.input_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.output_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("jvm.heap_peak_mb", "MB", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
    ("collect.s", "s", "lower"),
    ("sources.ingest_s", "s", "lower"),
    ("sources.dims_s", "s", "lower"),
    ("sources.partition_overwrite_s", "s", "lower"),
    ("sources.snapshot_s", "s", "lower"),
    ("sources.maintenance_s", "s", "lower"),
    ("sources.unwrapped_jobs_s", "s", "lower"),
    ("sources.other_s", "s", "lower"),
    ("sources.table_files", "count", "lower"),
    ("sources.table_mb", "MB", "lower"),
    ("wall.cold_cycle_s", "s", "lower"),
    ("wall.warm_cycle_s", "s", "lower"),
    ("cpu.cold_cycle_s", "s", "lower"),
    ("cpu.warm_cycle_s", "s", "lower"),
    ("host.probe_s", "s", "lower"),
    ("trace.cycle_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.accounted_share", "ratio", "higher"),
)

# independently measured spans: each is a wall taken around a call
# (or a Spark job's own submission-to-completion time), none is derived
# from another, so a span that goes missing lowers
# trace.accounted_share. collect.s and sources.other_s are remainders
# (a phase wall minus the spans inside it) and stay out of the sum.
ACCOUNTED = (
    "plans.build_s", "exec.s", "sources.ingest_s", "sources.dims_s",
    "sources.partition_overwrite_s", "sources.snapshot_s",
    "sources.maintenance_s", "sources.unwrapped_jobs_s",
)


def _ui_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    hooked = False

    def group(self, kind: str) -> None:
        pass

    def add(self, name: str, value: float) -> None:
        pass

    @contextmanager
    def pipeline(self):
        yield


class Tracer:
    """Collects one cycle's spans and counters at a time; inactive
    (every hook a no-op) outside :meth:`cycle`."""

    hooked = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        port = urlparse(self.sc.uiWebUrl).port
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.active = False
        self.in_pipeline = False
        self.values: dict[str, float] = defaultdict(float)
        self.groups: dict[str, str] = {}
        self.spans: list[tuple[float, float]] = []  # named pipeline spans, epoch s
        self._seq = 0
        self._install_py4j_counter()

    # -- hooks -----------------------------------------------------------
    def _install_py4j_counter(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if tracer.active:
                    tracer.values["py4j.calls"] += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command

    def wrap_pipeline(self, pipeline_mod, snapshots_mod) -> None:
        tracer = self

        def wrap(fn, span):
            def wrapped(*a, **kw):
                if not (tracer.active and tracer.in_pipeline):
                    return fn(*a, **kw)
                t0, epoch0 = time.perf_counter(), time.time()
                try:
                    return fn(*a, **kw)
                finally:
                    tracer.values[span] += time.perf_counter() - t0
                    tracer.spans.append((epoch0, time.time()))
            return wrapped

        for name, span in PIPELINE_SPANS.items():
            setattr(pipeline_mod, name, wrap(getattr(pipeline_mod, name), span))
        snapshots_mod.snapshot_write = wrap(snapshots_mod.snapshot_write, "sources.snapshot_s")

    def group(self, kind: str) -> None:
        """Tag the Spark jobs started from here on with a fresh group
        of ``kind`` (build / exec / pipeline)."""
        if not self.active:
            return
        self._seq += 1
        g = f"lakebench-{self._seq}-{kind}"
        self.sc.setJobGroup(g, kind)
        self.groups[g] = kind

    def add(self, name: str, value: float) -> None:
        if self.active:
            self.values[name] += value

    @contextmanager
    def pipeline(self):
        self.in_pipeline = True
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.in_pipeline = False
            self.add("pipeline_s", time.perf_counter() - t0)

    @contextmanager
    def cycle(self):
        self.values = defaultdict(float)
        self.groups = {}
        self.spans = []
        self.active = True
        try:
            yield self.values
        finally:
            self.active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- after the cycle (untimed) ------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def _drain_listener_bus(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.5)

    def finish(self, values: dict, cycle_s: float) -> dict:
        """Fold the cycle's Spark job and stage metrics into ``values``
        and derive the remainder layers."""
        self._drain_listener_bus()
        for _ in range(20):
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in self.groups]
            if all(j.get("completionTime") for j in jobs):
                break
            time.sleep(0.25)
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        job_s = defaultdict(float)
        stage_ids = set()
        for j in jobs:
            kind = self.groups[j["jobGroup"]]
            start = _ui_time(j["submissionTime"])
            wall = _ui_time(j["completionTime"]) - start
            job_s[kind] += wall
            # run_pipeline's own jobs, outside every named callee (today
            # the Silver isEmpty short-circuit)
            # the UI's millisecond stamps may read up to 1 ms early
            if kind == "pipeline" and not any(a - 0.002 <= start <= b for a, b in self.spans):
                values["sources.unwrapped_jobs_s"] += wall
            values[f"jobs.{kind}"] += 1
            stage_ids.update(j["stageIds"])
        values["plans.build_jobs"] = values.pop("jobs.build", 0)
        values.pop("jobs.exec", None)
        values.pop("jobs.pipeline", None)
        values["exec.jobs"] = len(jobs)
        values["exec.s"] = job_s["exec"]
        values["collect.s"] = max(0.0, values.pop("exec_phase_s", 0.0) - job_s["exec"])
        for s in stages.values():
            if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
                continue
            values["exec.stages"] += 1
            values["exec.tasks"] += s["numCompleteTasks"]
            values["exec.task_s"] += s["executorRunTime"] / 1e3
            values["exec.cpu_s"] += s["executorCpuTime"] / 1e9
            values["exec.input_mb"] += s["inputBytes"] / MB
            values["exec.output_mb"] += s["outputBytes"] / MB
            values["exec.shuffle_read_mb"] += s["shuffleReadBytes"] / MB
            values["exec.shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
            values["exec.gc_s"] += s["jvmGcTime"] / 1e3
            values["exec.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
        pipeline_s = values.pop("pipeline_s", 0.0)
        if pipeline_s:
            named = sum(values[k] for k in ACCOUNTED if k.startswith("sources."))
            values["sources.other_s"] = max(0.0, pipeline_s - named)
        values["trace.cycle_s"] = cycle_s
        values["trace.accounted_share"] = sum(values[k] for k in ACCOUNTED) / cycle_s
        return values

    def heap_peak_mb(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        total = 0
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType()) == "Heap memory":
                total += pool.getPeakUsage().getUsed()
        return total / MB
