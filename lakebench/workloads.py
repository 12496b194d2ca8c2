"""The benchmark's workloads, as lists of operations.

An operation is one registry query (``spec.fn`` builds it, ``toPandas``
executes and collects it) or one ``sources.pipeline.run_pipeline``
refresh. ``Op.run`` is the timed part; ``Op.check`` and ``Op.reset``
run between cycles, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb

import check

CURATION_QUERIES = (
    "graph_triangle_count",
    "text_span_dedup_apply",
    "dedup_minhash_signature",
    "text_winnow_fingerprint",
)
STAR_SF = 0.01  # scale factor of the star tables the queries read
NOAA_STATIONS = 300  # Bronze = stations x days x 6 elements
NOAA_DAYS = 10


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...] = ()
    pipeline: bool = False  # one run_pipeline refresh per cycle


WORKLOADS = {
    "curation_kernels": Workload(queries=CURATION_QUERIES),
    "lakehouse_writes": Workload(pipeline=True),
}
# every op of every workload; each has an op.<name>_s layer metric
OP_NAMES = ("run_pipeline",) + CURATION_QUERIES


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]
    reset: Callable[[], None] = lambda: None


def registry_op(spark, spec, sf_dir: str, oracle, tracer) -> Op:
    def run():
        tracer.group("build")
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        tracer.group("exec")
        pdf = df.toPandas()
        tracer.add("plans.build_s", t1 - t0)
        tracer.add("exec_phase_s", time.perf_counter() - t1)
        return pdf

    return Op(spec.name, run, lambda pdf: check.compare(spec.name, pdf, oracle))


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


def _tree_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / (1024 * 1024)


def pipeline_op(spark, paths: dict, oracle: dict, root_dir: str, warehouse: str,
                tracer, stats: dict) -> Op:
    """One full ``run_pipeline`` refresh into fresh per-cycle Bronze,
    Silver, Gold and snapshot locations, which ``reset`` drops."""
    from aws_lakehouse_spark.sources import pipeline, snapshots

    state = {"cycle": 0, "silver_files_before": None}
    orig_maintenance = pipeline.run_maintenance

    def run_maintenance(spark_, tables, *a, **kw):
        # Silver file count before compaction, for the check; an
        # os.walk over the table directory, well under a millisecond
        state["silver_files_before"] = _count_files(_silver_dir())
        return orig_maintenance(spark_, tables, *a, **kw)

    pipeline.run_maintenance = run_maintenance
    if tracer.hooked:
        tracer.wrap_pipeline(pipeline, snapshots)

    def names():
        k = state["cycle"]
        root = os.path.join(root_dir, f"refresh-{k}")
        return root, f"silver_c{k}", f"gold_c{k}"

    def _silver_dir():
        _, silver_db, _ = names()
        return os.path.join(warehouse, f"{silver_db}.db", "observations")

    def run():
        root, silver_db, gold_db = names()
        cfg = pipeline.PipelineConfig(
            source_path=paths["source"],
            bronze_root=os.path.join(root, "bronze"),
            silver_db=silver_db,
            gold_db=gold_db,
            dim_paths={k: v for k, v in paths.items() if k.startswith("dim_")},
            gold_snapshot_path=os.path.join(root, "gold_snapshot"),
        )
        tracer.group("pipeline")
        with tracer.pipeline():
            manifest = pipeline.run_pipeline(spark, cfg)
        return manifest, cfg

    def check_(result) -> list[str]:
        # read back what the refresh wrote with DuckDB, straight from
        # the table files: no Spark job runs between timed cycles
        manifest, cfg = result
        _, silver_db, gold_db = names()
        db_dir = {"silver": os.path.join(warehouse, f"{silver_db}.db"),
                  "gold": os.path.join(warehouse, f"{gold_db}.db")}

        def files(db, table):
            return f"read_parquet('{db_dir[db]}/{table}/**/*.parquet', hive_partitioning=true)"

        con = duckdb.connect()
        fact = con.sql(
            "SELECT element_code AS element, CAST(date_key AS VARCHAR) AS d, "
            f"count(*) AS n, sum(value) AS s FROM {files('gold', 'fact_climate')} "
            "GROUP BY ALL"
        ).df()
        dims = {
            f"{db}.{t}": con.sql(f"SELECT count(*) FROM {files(db, t)}").fetchone()[0]
            for db, t in [("gold", "dim_element"), ("gold", "dim_date")]
            + [("silver", d) for d in ("dim_stations", "dim_countries",
                                       "dim_states", "dim_inventory")]
        }
        con.close()
        problems = check.diff_pipeline({"fact": fact, "dims": dims}, oracle)
        after = _count_files(_silver_dir())
        problems += check.manifest_problems(
            manifest, [], snapshots.versions(cfg.gold_snapshot_path),
            (state["silver_files_before"] or 0, after),
        )
        stats["sources.table_files"] = sum(_count_files(d) for d in db_dir.values())
        stats["sources.table_mb"] = sum(_tree_mb(d) for d in db_dir.values())
        return problems

    def reset():
        root, silver_db, gold_db = names()
        for db in (silver_db, gold_db):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(root, ignore_errors=True)
        state["cycle"] += 1

    return Op("run_pipeline", run, check_, reset)
