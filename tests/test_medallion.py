"""End-to-end medallion pipeline tests over reference-shaped raw
fixtures (FIXTURES.md §B; SURVEY §5.2.2-3): bronze→silver→gold
correctness, idempotency (dims identical after re-run, fact not
duplicated — fixing SURVEY §4.3.5), per-file copy-if-absent ingest,
and a day-by-day refresh that ends where a one-shot run does."""

from __future__ import annotations

import os

import pytest

from aws_lakehouse_spark.sources.ingest import ingest_copy
from aws_lakehouse_spark.sources.medallion import (
    bronze_to_silver_observations,
    parse_countries,
    parse_inventory,
    parse_states,
    parse_stations,
    silver_to_gold,
)
from aws_lakehouse_spark.sources.pipeline import PipelineConfig, run_pipeline

STATIONS_TXT = """\
USW00094728  40.7789  -73.9692   39.6 NY NEW YORK CNTRL PK TWR GSN HCN 72506
AGE00147708  36.7200    3.0500   24.0    ALGIERS-UNIVERSITE
USC00300042  42.7342  -73.6747    6.1 NY ALBANY CRN
BR002141011 -10.9830  -61.9330  100.0    JARU

"""

COUNTRIES_TXT = """\
US United States
AG Algeria
BR Brazil
"""

STATES_TXT = """\
NY NEW YORK
CA CALIFORNIA
"""

INVENTORY_TXT = """\
USW00094728  40.7789  -73.9692 TMAX 1869 2025
USW00094728  40.7789  -73.9692 PRCP 1869 2025
AGE00147708  36.7200    3.0500 TMIN 1909 2024
"""


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory, spark):
    """Bronze-shaped fixture tree: partitioned observation parquet
    (B1) + the four dimension text files (B2-B4)."""
    root = tmp_path_factory.mktemp("raw")
    obs = spark.createDataFrame(
        [
            # ID, DATE, DATA_VALUE, M_FLAG, Q_FLAG, S_FLAG, OBS_TIME, ELEMENT, YEAR
            ("USW00094728", "20250115", -23, None, None, "S", "0700", "TMAX", 2025),
            ("USW00094728", "20250115", -80, None, "", "S", "0700", "TMIN", 2025),
            ("USW00094728", "20250116", 150, None, "X", "S", None, "TMAX", 2025),  # bad Q
            ("AGE00147708", "20250115", 210, "B", None, "E", None, "TMAX", 2025),
            ("AGE00147708", "20250116", None, None, None, "E", None, "PRCP", 2025),  # null value
            ("USC00300042", "20250116", 55, None, "", "S", "0800", "PRCP", 2025),
            ("USC00300042", "20250117", 7, None, None, "S", None, "WESD", 2025),  # unmapped elem
        ],
        "ID string, DATE string, DATA_VALUE int, M_FLAG string, Q_FLAG string,"
        " S_FLAG string, OBS_TIME string, ELEMENT string, YEAR int",
    )
    obs.write.partitionBy("YEAR", "ELEMENT").parquet(
        str(root / "bronze" / "observations")
    )
    for name, content in [
        ("stations.txt", STATIONS_TXT),
        ("countries.txt", COUNTRIES_TXT),
        ("states.txt", STATES_TXT),
        ("inventory.txt", INVENTORY_TXT),
    ]:
        (root / name).write_text(content)
    return root


def test_bronze_to_silver_cleanse(spark, raw_dir):
    silver = bronze_to_silver_observations(
        spark, str(raw_dir / "bronze" / "observations")
    )
    rows = {(r["station_id"], r["element"], r["value"]) for r in silver.collect()}
    # bad-quality and null-value rows dropped; 5 good rows survive
    assert len(rows) == 5
    assert ("USW00094728", "TMAX", -23.0) in rows
    assert not any(v is None for _, _, v in rows)
    one = silver.filter("element = 'TMAX' AND station_id = 'USW00094728'").head()
    assert str(one["observation_date"]) == "2025-01-15"
    assert (one["year"], one["month"], one["day"]) == (2025, 1, 15)


def test_station_parser_flags_and_name_stripping(spark, raw_dir):
    dims = {r["station_id"]: r for r in
            parse_stations(spark, str(raw_dir / "stations.txt")).collect()}
    assert len(dims) == 4  # blank line filtered
    ny = dims["USW00094728"]
    assert ny["station_name"] == "NEW YORK CNTRL PK TWR"
    assert ny["is_gsn"] and ny["is_hcn_crn"] and ny["wmo_id"] == "72506"
    assert ny["state"] == "NY" and abs(ny["latitude"] - 40.7789) < 1e-9
    alg = dims["AGE00147708"]
    assert alg["station_name"] == "ALGIERS-UNIVERSITE"
    assert not alg["is_gsn"] and not alg["is_hcn_crn"] and alg["wmo_id"] == ""
    assert dims["USC00300042"]["station_name"] == "ALBANY"
    assert dims["USC00300042"]["is_hcn_crn"]
    assert dims["BR002141011"]["latitude"] == -10.983


def test_country_state_inventory_parsers(spark, raw_dir):
    countries = {r["country_code"]: r["country_name"] for r in
                 parse_countries(spark, str(raw_dir / "countries.txt")).collect()}
    assert countries == {"US": "United States", "AG": "Algeria", "BR": "Brazil"}
    states = {r["state_code"]: r["state_name"] for r in
              parse_states(spark, str(raw_dir / "states.txt")).collect()}
    assert states == {"NY": "NEW YORK", "CA": "CALIFORNIA"}
    inv = parse_inventory(spark, str(raw_dir / "inventory.txt")).collect()
    assert len(inv) == 3
    tmax = next(r for r in inv if r["element"] == "TMAX")
    assert (tmax["first_year"], tmax["last_year"]) == (1869, 2025)


def test_silver_to_gold_normalization(spark, raw_dir):
    silver = bronze_to_silver_observations(
        spark, str(raw_dir / "bronze" / "observations")
    )
    gold = silver_to_gold(silver)
    elements = {r["element_code"]: r["element_name"]
                for r in gold["dim_element"].collect()}
    assert elements["TMAX"] == "Max Temperature"
    assert elements["WESD"] == "WESD"  # unmapped → passthrough
    fact = {(r["station_id"], r["element_code"]): r["value"]
            for r in gold["fact_climate"].collect()}
    assert fact[("USW00094728", "TMAX")] == -2.3   # tenths normalized
    assert fact[("USC00300042", "PRCP")] == 55.0   # not a tenths element
    dates = {str(r["date_key"]) for r in gold["dim_date"].collect()}
    assert dates == {"2025-01-15", "2025-01-16", "2025-01-17"}


def test_pipeline_idempotent_rerun(spark, raw_dir, tmp_path):
    cfg = PipelineConfig(
        source_path=str(raw_dir / "bronze" / "observations"),
        bronze_root=str(tmp_path / "bronze"),
        silver_db="t_silver",
        gold_db="t_gold",
        dataset="obs",
        dim_paths={
            "dim_stations": str(raw_dir / "stations.txt"),
            "dim_countries": str(raw_dir / "countries.txt"),
        },
    )
    m1 = run_pipeline(spark, cfg)
    assert m1["ingest"]["skipped"] is False
    fact1 = spark.table("t_gold.fact_climate").count()
    dims1 = spark.table("t_silver.dim_stations").count()

    m2 = run_pipeline(spark, cfg)
    assert m2["ingest"]["skipped"] is True  # copy-if-absent held
    # dims overwritten identically; fact NOT duplicated (the
    # reference's append bug would have doubled it — SURVEY §4.3.5)
    assert spark.table("t_silver.dim_stations").count() == dims1
    assert spark.table("t_gold.fact_climate").count() == fact1
    # silver is partition-overwrite: re-running the same input
    # rewrites the same date partitions — no duplication
    assert spark.table("t_silver.observations").count() == fact1


def test_sink_partition_overwrite_replaces_only_present_partitions(spark):
    """A later write replaces only the partitions its frame holds;
    a frame whose columns come in another order lands by name."""
    from aws_lakehouse_spark.sources.writers import sink_partition_overwrite

    conf = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(conf)

    def write(rows, schema="k string, v double, day int"):
        sink_partition_overwrite(
            spark.createDataFrame(rows, schema), "t_part_ow", ("day",)
        )

    def read():
        return sorted(
            tuple(r) for r in spark.table("t_part_ow").select("k", "v", "day").collect()
        )

    spark.sql("DROP TABLE IF EXISTS t_part_ow")
    try:
        write([("a", 1.0, 1)])
        write([("b", 2.0, 2)])
        assert read() == [("a", 1.0, 1), ("b", 2.0, 2)]
        write([("c", 3.0, 1), ("d", 4.0, 1)])
        assert read() == [("b", 2.0, 2), ("c", 3.0, 1), ("d", 4.0, 1)]
        write([(2, 5.0, "e")], "day int, v double, k string")
        assert read() == [("c", 3.0, 1), ("d", 4.0, 1), ("e", 5.0, 2)]
        assert spark.conf.get(conf) == mode
    finally:
        spark.sql("DROP TABLE IF EXISTS t_part_ow")


def test_pipeline_day_by_day_equals_one_shot(spark, raw_dir, tmp_path):
    """A daily refresh (d1, d2, then d1 again) into one Bronze root and
    one pair of databases ends where one run over both days' files
    does: each day's files reach Bronze, earlier days survive in
    Silver and Gold, and the repeated day copies nothing."""
    import shutil

    obs = spark.read.parquet(str(raw_dir / "bronze" / "observations"))
    src = {}
    for day, date in (("d1", "20250115"), ("d2", "20250116")):
        src[day] = str(tmp_path / f"src_{day}")
        # Spark names each part file with a fresh UUID: distinct per day
        obs.filter(f"DATE = '{date}'").write.partitionBy("YEAR", "ELEMENT").parquet(
            src[day]
        )
    both = str(tmp_path / "src_both")
    for day in ("d1", "d2"):
        shutil.copytree(src[day], both, dirs_exist_ok=True)

    def run(source, bronze, db):
        return run_pipeline(spark, PipelineConfig(
            source_path=source, bronze_root=bronze, dataset="obs",
            silver_db=f"{db}_silver", gold_db=f"{db}_gold",
        ))

    daily = str(tmp_path / "bronze_daily")
    for day in ("d1", "d2"):
        assert run(src[day], daily, "dd")["ingest"]["skipped"] is False
    again = run(src["d1"], daily, "dd")["ingest"]
    assert again["skipped"] is True and again["copied"] == 0
    # Spark's _SUCCESS and .crc files are not copied into Bronze
    assert not [
        n for _, _, files in os.walk(daily) for n in files if n[0] in "_."
    ]
    with pytest.raises(FileNotFoundError):
        ingest_copy(spark, str(tmp_path / "no_such_source"), daily, "obs")
    run(both, str(tmp_path / "bronze_once"), "os")

    def result(db):
        fact = spark.sql(
            f"SELECT date_key, count(*) AS n, round(sum(value), 6) AS s "
            f"FROM {db}_gold.fact_climate GROUP BY date_key"
        )
        return (
            spark.table(f"{db}_silver.observations").count(),
            sorted(tuple(r) for r in fact.collect()),
            sorted(tuple(r) for r in spark.table(f"{db}_gold.dim_date").collect()),
        )

    daily_result = result("dd")
    assert daily_result == result("os")
    assert [str(d) for d, _, _ in daily_result[1]] == ["2025-01-15", "2025-01-16"]


def test_pipeline_gold_snapshot_versions(spark, raw_dir, tmp_path):
    """With gold_snapshot_path set, each pipeline run commits one
    snapshot version of the gold fact — time-travelable across runs
    (the Iceberg-table semantics of the reference's gold layer)."""
    from aws_lakehouse_spark.sources.snapshots import read_snapshot, versions

    snap = str(tmp_path / "gold_fact_snap")
    cfg = PipelineConfig(
        source_path=str(raw_dir / "bronze" / "observations"),
        bronze_root=str(tmp_path / "bronze"),
        silver_db="s_silver",
        gold_db="s_gold",
        dataset="obs",
        gold_snapshot_path=snap,
    )
    m1 = run_pipeline(spark, cfg)
    assert m1["gold_snapshot"]["version"] == 0
    m2 = run_pipeline(spark, cfg)
    assert m2["gold_snapshot"]["version"] == 1
    assert versions(snap) == [0, 1]
    n_now = spark.table("s_gold.fact_climate").count()
    # both versions readable, identical content (same input re-run)
    assert read_snapshot(spark, snap, 0).count() == n_now
    assert read_snapshot(spark, snap, 1).count() == n_now


def test_pipeline_empty_input_short_circuit(spark, tmp_path):
    src = tmp_path / "empty-src"
    (src / "sub").mkdir(parents=True)
    # schema-bearing but row-free bronze
    spark.createDataFrame(
        [],
        "ID string, DATE string, DATA_VALUE int, M_FLAG string, Q_FLAG string,"
        " S_FLAG string, OBS_TIME string, ELEMENT string, YEAR int",
    ).write.mode("overwrite").parquet(str(src / "sub"))
    cfg = PipelineConfig(
        source_path=str(src / "sub"),
        bronze_root=str(tmp_path / "bronze2"),
        silver_db="t2_silver",
        gold_db="t2_gold",
        dataset="obs",
    )
    manifest = run_pipeline(spark, cfg)
    assert manifest["bronze_to_silver"] == "empty-input-short-circuit"
    assert "silver_to_gold" not in manifest


def test_pipeline_raises_on_maintenance_error(spark, raw_dir, tmp_path, monkeypatch):
    """A maintenance op that fails must fail the run, after every
    table has had its ops: the missing table's error does not stop
    the real table's expiry, compaction and orphan sweep."""
    from aws_lakehouse_spark.sources import pipeline

    entries = []
    real_maintenance = pipeline.run_maintenance
    monkeypatch.setattr(
        pipeline,
        "run_maintenance",
        lambda s, t: entries.extend(real_maintenance(s, t)) or entries,
    )
    cfg = PipelineConfig(
        source_path=str(raw_dir / "bronze" / "observations"),
        bronze_root=str(tmp_path / "bronze"),
        silver_db="e_silver",
        gold_db="e_gold",
        dataset="obs",
        maintenance_tables=("e_silver.no_such_table", "e_silver.observations"),
    )
    with pytest.raises(RuntimeError, match="e_silver.no_such_table"):
        run_pipeline(spark, cfg)
    ok = [e for e in entries if e["table"] == "e_silver.observations"]
    assert [e["op"] for e in ok] == [
        "expire_snapshots", "compact_files", "remove_orphans",
    ]
    assert not [e for e in ok if "error" in e]
    assert [e for e in entries if "error" in e]


def test_maintenance_compaction(spark, tmp_path, monkeypatch):
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.sources import maintenance

    spark.range(0, 10_000).withColumn("v", F.rand(42)).repartition(
        20
    ).write.mode("overwrite").saveAsTable("t_maint")
    before = len(spark.table("t_maint").inputFiles())
    # one catalog DESCRIBE per table serves both snapshot-log ops,
    # also when the table is missing and the lookup finds nothing
    lookups = []
    real_location = maintenance._table_location
    monkeypatch.setattr(
        maintenance,
        "_table_location",
        lambda s, t: lookups.append(t) or real_location(s, t),
    )
    results = maintenance.run_maintenance(spark, ["t_maint", "no_such_table"])
    assert lookups == ["t_maint", "no_such_table"]
    missing = {r["op"]: r for r in results if r["table"] == "no_such_table"}
    assert missing["expire_snapshots"]["applied"] is False
    assert missing["remove_orphans"]["applied"] is False
    assert "error" in missing["compact_files"]
    ops = {r["op"]: r for r in results if r["table"] == "t_maint"}
    assert ops["compact_files"]["applied"]
    after = len(spark.table("t_maint").inputFiles())
    assert after <= ops["compact_files"]["target_files"] < before
    assert spark.table("t_maint").count() == 10_000
    # plain parquet no-ops, the same entries each op returns alone
    assert ops["expire_snapshots"] == {
        "table": "t_maint", "op": "expire_snapshots", "applied": False,
        "reason": "no snapshot metadata for plain parquet tables",
    }
    assert ops["remove_orphans"] == {
        "table": "t_maint", "op": "remove_orphans", "applied": False,
        "reason": "plain parquet: all files under location are live",
    }


def test_maintenance_compaction_partitioned_preserves_data(spark, monkeypatch):
    """Regression: compaction of a *partitioned* table must preserve
    the rows, the partition spec (for later appends) and the table's
    location. It rewrites in place through the partition overwrite:
    no DROP, RENAME or MSCK swap."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.sources.maintenance import (
        _table_location,
        compact_files,
    )

    spark.range(0, 5_000).withColumn(
        "year", (F.col("id") % 3 + 2023).cast("int")
    ).repartition(10).write.partitionBy("year").mode("overwrite").saveAsTable(
        "t_maint_part"
    )
    location = _table_location(spark, "t_maint_part")
    before = len(spark.table("t_maint_part").inputFiles())
    statements = []
    real_sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **kw: statements.append(q) or real_sql(q, *a, **kw)
    )
    for _ in range(2):  # repeated maintenance runs must be stable
        compact_files(spark, "t_maint_part")
        assert spark.table("t_maint_part").count() == 5_000
    monkeypatch.undo()
    assert not [
        q for q in statements
        if any(w in q.upper() for w in ("DROP", "RENAME", "MSCK"))
    ]
    assert _table_location(spark, "t_maint_part") == location
    assert len(spark.table("t_maint_part").inputFiles()) < before
    assert [
        c.name
        for c in spark.catalog.listColumns("t_maint_part")
        if c.isPartition
    ] == ["year"]
    # appends still work after compaction (partition spec preserved)
    spark.createDataFrame([(99_999, 2024)], "id long, year int").write.mode(
        "append"
    ).partitionBy("year").saveAsTable("t_maint_part")
    assert spark.table("t_maint_part").count() == 5_001


def test_upsert_table_scd1(spark, tmp_path):
    """SCD-1 upsert through ``snapshots.merge_into``: matched rows are
    replaced, new keys inserted, untouched rows survive, and
    re-applying the same updates changes nothing."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "upsert_target")
    snapshots.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k bigint, name string, v double",
        ),
        table,
        "overwrite",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "k bigint, name string, v double"
    )

    def rows():
        return {
            r["k"]: (r["name"], r["v"])
            for r in snapshots.read_snapshot(spark, table).collect()
        }

    snapshots.merge_into(spark, table, updates, on=["k"])
    got = rows()
    assert got == {
        1: ("a", 10.0),   # untouched survives
        2: ("b2", 21.0),  # updated in place
        3: ("c", 30.0),
        4: ("d", 40.0),   # inserted
    }
    # idempotent: re-applying the same updates changes nothing
    snapshots.merge_into(spark, table, updates, on=["k"])
    assert rows() == got


def test_cron_next_reference_cadence():
    """C3: the reference's EventBridge crons (ingest 2 AM, pipeline
    3 AM daily) compute correct next-fire times."""
    from datetime import datetime

    from aws_lakehouse_spark.sources.pipeline import cron_next

    after = datetime(2026, 8, 13, 2, 30)
    assert cron_next("0 2 * * *", after) == datetime(2026, 8, 14, 2, 0)
    assert cron_next("0 3 * * *", after) == datetime(2026, 8, 13, 3, 0)
    # lists, ranges, steps
    assert cron_next("*/15 * * * *", datetime(2026, 1, 1, 0, 0)) == (
        datetime(2026, 1, 1, 0, 15)
    )
    assert cron_next("30 9-17 * * *", datetime(2026, 1, 1, 18, 0)) == (
        datetime(2026, 1, 2, 9, 30)
    )
    # weekly: Sunday=0 (2026-08-16 is a Sunday)
    assert cron_next("0 4 * * 0", datetime(2026, 8, 13, 0, 0)) == (
        datetime(2026, 8, 16, 4, 0)
    )
    # both day fields restricted -> either fires (standard cron OR):
    # dom=15 OR friday; from Aug 13 2026 (Thu), Friday Aug 14 wins
    assert cron_next("0 0 15 * 5", datetime(2026, 8, 13, 0, 0)) == (
        datetime(2026, 8, 14, 0, 0)
    )


def test_run_scheduled_injectable_clock_and_isolation():
    """The schedule loop fires at cron times under a fake clock and
    keeps cadence across a failing run (per-state isolate-and-
    continue, like the reference's Step Functions retry posture)."""
    from datetime import datetime

    from aws_lakehouse_spark.sources.pipeline import run_scheduled

    fired = []
    calls = {"n": 0}

    def job():
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("transient")
        return f"run{calls['n']}"

    results = run_scheduled(
        job,
        "0 3 * * *",
        max_runs=3,
        now=lambda: datetime(2026, 8, 13, 0, 0),
        sleep_until=fired.append,
    )
    assert fired == [
        datetime(2026, 8, 13, 3, 0),
        datetime(2026, 8, 14, 3, 0),
        datetime(2026, 8, 15, 3, 0),
    ]
    assert [r["result"] for r in results] == ["run1", None, "run3"]
    assert results[1]["error"] == "transient"
