"""Pipeline orchestration (SURVEY §2.12 C1-C5).

The reference's Step Functions state machine — IngestBronze →
ProcessDimensions → BronzeToSilver → SilverToGold → Maintenance with
per-state retry/backoff (``terraform/stepfunctions.tf:72-179``) —
collapsed into one SparkSession and a Python call chain. Data passes
through the catalog/filesystem between stages exactly as it did
through S3, but without five cluster cold-starts.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from aws_lakehouse_spark.sources.ingest import ingest_copy
from aws_lakehouse_spark.sources.maintenance import run_maintenance
from aws_lakehouse_spark.sources.medallion import (
    DATE_PARTITIONS,
    bronze_to_silver_observations,
    parse_countries,
    parse_inventory,
    parse_states,
    parse_stations,
    silver_to_gold,
)
from aws_lakehouse_spark.sources.writers import (
    sink_partition_overwrite,
    sink_table_overwrite,
)


def retrying(
    attempts: int = 2, interval_s: float = 30.0, backoff: float = 2.0
):
    """C2 — per-stage retry with backoff (the reference's 2 attempts
    / 30-60 s interval / ×2.0 backoff,
    ``terraform/stepfunctions.tf:83-90``)."""

    def deco(fn: Callable):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            delay = interval_s
            for attempt in range(attempts + 1):
                try:
                    return fn(*args, **kwargs)
                except Exception:
                    if attempt == attempts:
                        raise
                    time.sleep(delay)
                    delay *= backoff
            raise AssertionError("unreachable")

        return wrapped

    return deco


@dataclass
class PipelineConfig:
    """Stage parameters, mirroring the Glue job args
    (``noaa_ghcn_bronze_to_silver.py:15-24``)."""

    source_path: str
    bronze_root: str
    silver_db: str = "silver"
    gold_db: str = "gold"
    dataset: str = "observations"
    dim_paths: dict[str, str] = field(default_factory=dict)
    retry_interval_s: float = 0.1  # test-friendly; prod: 30.0
    maintenance_tables: tuple[str, ...] = ()
    # when set, each run also commits the gold fact to a manifest
    # snapshot log (sources.snapshots) — one version per pipeline
    # run, time-travelable, with real M1/M3 maintenance; the
    # engine's stand-in for the reference's Iceberg gold tables
    gold_snapshot_path: str | None = None


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """C1 — the full DAG; returns a stage→result manifest.

    C4 (empty-input short-circuit) uses ``isEmpty()`` — one partial
    scan, not the reference's triple ``count()`` (SURVEY §4.3.1).
    Maintenance isolates each table's ops, then a ``RuntimeError``
    names every op that failed: the data is written, but the run did
    not succeed.
    """
    retry = retrying(attempts=2, interval_s=cfg.retry_interval_s)
    manifest: dict = {}

    for db in (cfg.silver_db, cfg.gold_db):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

    # 1. IngestBronze (S8)
    manifest["ingest"] = retry(ingest_copy)(
        spark, cfg.source_path, cfg.bronze_root, cfg.dataset
    )

    # 2. ProcessDimensions — overwrite semantics (S5)
    parsers = {
        "dim_stations": parse_stations,
        "dim_countries": parse_countries,
        "dim_states": parse_states,
        "dim_inventory": parse_inventory,
    }
    for dim, parser in parsers.items():
        path = cfg.dim_paths.get(dim)
        if not path:
            continue
        df = retry(parser)(spark, path)
        sink_table_overwrite(df, f"{cfg.silver_db}.{dim}")
        manifest[dim] = "overwritten"

    # 3. BronzeToSilver — cleanse, empty short-circuit (C4), then
    #    partition-overwrite. The reference appended here and relied
    #    on Glue job bookmarks for only-new-files; the engine's batch
    #    path gets the same idempotency by overwriting exactly the
    #    date partitions present in this run's input (re-running a
    #    day reprocesses that day, never duplicates it). True
    #    only-new-files incremental is streaming.incremental_process.
    silver = retry(bronze_to_silver_observations)(
        spark, f"{cfg.bronze_root.rstrip('/')}/{cfg.dataset}"
    )
    if silver.isEmpty():
        manifest["bronze_to_silver"] = "empty-input-short-circuit"
        return manifest
    silver_table = f"{cfg.silver_db}.observations"
    sink_partition_overwrite(silver, silver_table, DATE_PARTITIONS)
    manifest["bronze_to_silver"] = {"table": silver_table, "format": "parquet"}

    # 4. SilverToGold — dims overwrite, fact partition-overwrite
    #    (fixes the reference's append-duplication, SURVEY §4.3.5)
    gold = silver_to_gold(spark.table(silver_table))
    sink_table_overwrite(gold["dim_element"], f"{cfg.gold_db}.dim_element")
    sink_table_overwrite(gold["dim_date"], f"{cfg.gold_db}.dim_date")
    sink_partition_overwrite(
        gold["fact_climate"], f"{cfg.gold_db}.fact_climate", DATE_PARTITIONS
    )
    manifest["silver_to_gold"] = "done"

    if cfg.gold_snapshot_path:
        from aws_lakehouse_spark.sources.snapshots import snapshot_write

        version = snapshot_write(
            spark, gold["fact_climate"], cfg.gold_snapshot_path, "overwrite"
        )
        manifest["gold_snapshot"] = {
            "path": cfg.gold_snapshot_path, "version": version,
        }

    # 5. Maintenance (M1-M4)
    tables = cfg.maintenance_tables or (silver_table,)
    manifest["maintenance"] = run_maintenance(spark, list(tables))
    failed = [
        f"{e['table']} {e['op']}: {e['error']}"
        for e in manifest["maintenance"]
        if "error" in e
    ]
    if failed:
        raise RuntimeError("maintenance failed: " + "; ".join(failed))
    return manifest


# --- C3: schedule_cron ------------------------------------------------
# The reference schedules the pipeline with EventBridge crons — ingest
# at 0 2 * * ? * and the Step Functions state machine at 0 3 * * ? *
# (terraform/lambda.tf:94, terraform/stepfunctions.tf:185-191). The
# engine equivalent is a driver-side scheduler: a 5-field cron parser
# plus a run loop with an injectable clock so the cadence logic is
# unit-testable without wall-clock sleeps.


def _cron_field(spec: str, lo: int, hi: int) -> set[int]:
    """Parse one cron field: '*', lists, ranges, steps ('*/6',
    '10-20/5', '1,15'). AWS's 6-field '?' is accepted as '*'."""
    if spec in ("*", "?"):
        return set(range(lo, hi + 1))
    vals: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part in ("*", "?", ""):
            rng = range(lo, hi + 1, step)
        elif "-" in part:
            a, b = part.split("-", 1)
            rng = range(int(a), int(b) + 1, step)
        else:
            a = int(part)
            rng = range(a, hi + 1, step) if step > 1 else range(a, a + 1)
        vals.update(rng)
    if not vals or min(vals) < lo or max(vals) > hi:
        raise ValueError(f"cron field {spec!r} out of range [{lo},{hi}]")
    return vals


def cron_next(expr: str, after):
    """Next fire time strictly after ``after`` for a 5-field cron
    ``minute hour day-of-month month day-of-week`` (0=Sunday, 7 also
    accepted as Sunday). Standard cron day semantics: when BOTH
    day-of-month and day-of-week are restricted, either may match.
    """
    from datetime import datetime, timedelta

    f = expr.split()
    if len(f) != 5:
        raise ValueError(f"need 5 cron fields, got {expr!r}")
    minutes = _cron_field(f[0], 0, 59)
    hours = _cron_field(f[1], 0, 23)
    doms = _cron_field(f[2], 1, 31)
    months = _cron_field(f[3], 1, 12)
    dows = {d % 7 for d in _cron_field(f[4], 0, 7)}
    dom_any = f[2] in ("*", "?")
    dow_any = f[4] in ("*", "?")

    t = (after.replace(second=0, microsecond=0) + timedelta(minutes=1))
    for _ in range(366 * 24 * 60):  # bounded scan, minute resolution
        if t.month in months and t.minute in minutes and t.hour in hours:
            dom_ok = t.day in doms
            dow_ok = (t.isoweekday() % 7) in dows
            # cron's quirky day rule: with BOTH day fields restricted,
            # either matching fires; otherwise the unrestricted side
            # is vacuously true and both must hold
            day_ok = (
                (dom_ok or dow_ok)
                if not (dom_any or dow_any)
                else (dom_ok and dow_ok)
            )
            if day_ok:
                return t
        t += timedelta(minutes=1)
    raise ValueError(f"no fire time within a year for {expr!r}")


def run_scheduled(
    fn: Callable[[], object],
    cron: str,
    max_runs: int,
    now=None,
    sleep_until=None,
) -> list:
    """C3 — run ``fn`` on a cron cadence, ``max_runs`` times.

    ``now()`` and ``sleep_until(dt)`` are injectable for tests (and
    for deployments that want their own wait primitive); defaults use
    the wall clock. Each run is isolated: an exception is recorded,
    the schedule continues — the per-state retry/continue posture of
    the reference's Step Functions states.
    """
    import time as _time
    from datetime import datetime

    now = now or datetime.now
    if sleep_until is None:
        def sleep_until(dt):
            delta = (dt - datetime.now()).total_seconds()
            if delta > 0:
                _time.sleep(delta)

    results = []
    t = now()
    for _ in range(max_runs):
        fire = cron_next(cron, t)
        sleep_until(fire)
        try:
            results.append({"at": fire, "result": fn(), "error": None})
        except Exception as exc:  # isolate, keep cadence
            results.append({"at": fire, "result": None, "error": str(exc)})
        t = fire
    return results


def run_backfill(
    fn: Callable[[str], object],
    start_date: str,
    end_date: str,
    state_dir: str,
    max_failures: int = 0,
) -> dict:
    """C3 extension — idempotent historical backfill: run ``fn(day)``
    for every day in ``[start_date, end_date]``, recording each
    completed day as a marker file so a re-run (after a crash, or a
    widened date range) executes ONLY the missing days. This is the
    reprocess-history workflow the reference would drive by paging
    Step Functions executions per date partition; the marker
    directory plays the role of its execution history.

    Day-level isolation matches partition-level work: one day = one
    partition's recompute, so the unit of retry equals the unit of
    idempotent output (an overwrite of that day's partition). A
    failed day is recorded and skipped on the SAME run (continue
    posture), but NOT marked done — the next invocation retries it.
    Raises after ``max_failures`` is exceeded to stop a
    systematically broken backfill early.

    Returns {"ran": [...], "skipped": [...], "failed": [...]}.
    """
    import os
    from datetime import date, timedelta

    os.makedirs(state_dir, exist_ok=True)
    d0 = date.fromisoformat(start_date)
    d1 = date.fromisoformat(end_date)
    if d1 < d0:
        raise ValueError(f"end {end_date} before start {start_date}")
    ran: list[str] = []
    skipped: list[str] = []
    failed: list[str] = []
    cur = d0
    while cur <= d1:
        day = cur.isoformat()
        marker = os.path.join(state_dir, f"{day}.done")
        if os.path.exists(marker):
            skipped.append(day)
        else:
            try:
                fn(day)
            except Exception:
                failed.append(day)
                if len(failed) > max_failures:
                    raise
            else:
                # marker commit AFTER the day's work: a crash between
                # work and marker re-runs the day, which is safe
                # because the day's output is an idempotent overwrite
                with open(marker, "w") as fh:
                    fh.write(day)
                ran.append(day)
        cur += timedelta(days=1)
    return {"ran": ran, "skipped": skipped, "failed": failed}
