"""Snapshot-log lifecycle: time travel, expiry (M1), orphan removal
(M3) — the manifest-based stand-in for the reference's Iceberg
procedures (iceberg_maintenance.py:47-81), real `applied: True` ops."""

import os
import time

import pyspark.sql.functions as F
import pytest

from aws_lakehouse_spark.sources import snapshots


@pytest.fixture()
def table_path(tmp_path):
    return str(tmp_path / "snap_table")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_time_travel_across_append_and_overwrite(spark, table_path):
    v0 = snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    v1 = snapshots.snapshot_write(spark, _df(spark, 10, 15), table_path, "append")
    v2 = snapshots.snapshot_write(spark, _df(spark, 100, 103), table_path, "overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    assert snapshots.read_snapshot(spark, table_path, 0).count() == 10
    assert snapshots.read_snapshot(spark, table_path, 1).count() == 15
    assert snapshots.read_snapshot(spark, table_path, 2).count() == 3
    # default = latest
    assert snapshots.read_snapshot(spark, table_path).count() == 3
    # overwrite is logical: v1's rows still readable via time travel
    ids = {r["id"] for r in snapshots.read_snapshot(spark, table_path, 1).collect()}
    assert ids == set(range(15))


def test_expire_then_orphan_removal_preserves_latest(spark, table_path):
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 10, 15), table_path, "append")
    snapshots.snapshot_write(spark, _df(spark, 100, 103), table_path, "overwrite")

    res = snapshots.expire_snapshots(table_path, retain_last=1, older_than_s=0.0)
    assert res["applied"] is True
    assert res["expired_versions"] == [0, 1]
    assert snapshots.versions(table_path) == [2]
    with pytest.raises(ValueError):
        snapshots.read_snapshot(spark, table_path, 0)

    n_files_before = len(
        [f for f in os.listdir(table_path) if f.endswith(".parquet")]
    )
    # single-writer harness reclaiming just-expired files: no commit
    # can be in flight, so the concurrent-writer grace is waived
    res = snapshots.remove_orphans(table_path, older_than_seconds=0.0)
    assert res["applied"] is True
    assert res["removed_files"] > 0
    n_files_after = len(
        [f for f in os.listdir(table_path) if f.endswith(".parquet")]
    )
    assert n_files_after < n_files_before
    # the retained snapshot is untouched
    assert snapshots.read_snapshot(spark, table_path).count() == 3


def test_orphans_never_touch_retained_versions(spark, table_path):
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 10, 15), table_path, "append")
    res = snapshots.remove_orphans(table_path)
    # both versions retained → every file is live → nothing removed
    assert res["removed_files"] == 0
    assert snapshots.read_snapshot(spark, table_path, 0).count() == 10
    assert snapshots.read_snapshot(spark, table_path, 1).count() == 15


def test_maintenance_ops_apply_on_snapshot_table(spark, table_path):
    """M1/M3 report applied:True on a manifest-logged table — the
    verdict's bar for real (non-no-op) maintenance semantics."""
    from aws_lakehouse_spark.sources.maintenance import (
        expire_snapshots,
        remove_orphans,
    )

    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 0, 5), table_path, "overwrite")
    m1 = expire_snapshots(spark, "ignored", retain_days=0, table_path=table_path)
    assert m1["applied"] is True and m1["expired_versions"] == [0]
    m3 = remove_orphans(
        spark, "ignored", older_than_days=0, table_path=table_path
    )
    assert m3["applied"] is True and m3["removed_files"] > 0
    assert snapshots.read_snapshot(spark, table_path).count() == 5


def test_run_maintenance_passes_retain_days(spark, table_path, monkeypatch):
    """``run_maintenance``'s ``retain_days`` reaches snapshot expiry
    and the orphan sweep: with 0 days the older of two versions
    expires and its files go, where the 7-day defaults keep both."""
    from aws_lakehouse_spark.sources import maintenance

    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 0, 5), table_path, "overwrite")
    monkeypatch.setattr(maintenance, "_table_location", lambda s, t: table_path)
    ops = {
        r["op"]: r
        for r in maintenance.run_maintenance(spark, ["t_snap"], retain_days=0)
    }
    assert ops["expire_snapshots"]["expired_versions"] == [0]
    assert ops["remove_orphans"]["removed_files"] > 0
    assert snapshots.versions(table_path) == [1]
    assert snapshots.read_snapshot(spark, table_path).count() == 5


def test_cdc_diff_between_snapshot_versions(spark, table_path):
    """snapshot_diff over two time-travel reads: the lakehouse
    'what changed between yesterday and today' query."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.operators.cdc import snapshot_diff

    v0_df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, status string, amount double",
    )
    v1_df = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id bigint, status string, amount double",
    )
    snapshots.snapshot_write(spark, v0_df, table_path, "overwrite")
    snapshots.snapshot_write(spark, v1_df, table_path, "overwrite")

    old = snapshots.read_snapshot(spark, table_path, 0)
    new = snapshots.read_snapshot(spark, table_path, 1)
    diff = {
        r["id"]: r["change_type"]
        for r in snapshot_diff(
            old, new, ["id"], ["status", "amount"]
        ).collect()
    }
    assert diff == {1: "delete", 2: "update", 4: "insert"}  # 3 unchanged


def test_compact_path_binpacks_directory(spark, tmp_path):
    """Path-flavor M2: 32 small files binpack to the byte-target
    count with content preserved exactly."""
    from aws_lakehouse_spark.sources.maintenance import compact_path

    path = str(tmp_path / "small_files")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(32).write.mode("overwrite").parquet(path)
    stats = compact_path(spark, path)
    assert stats["applied"] and stats["files_before"] == 32
    assert stats["files_after"] == 1  # tiny table, one target file
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == 10000 * 9999


def test_delete_update_time_travel(spark, tmp_path):
    """Copy-on-write DML: every statement commits a version; deleted
    rows stay readable at prior versions until expiry reclaims them."""
    from aws_lakehouse_spark.sources.snapshots import (
        delete_where,
        read_snapshot,
        snapshot_write,
        update_where,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    )
    assert snapshot_write(spark, df, table, "overwrite") == 0
    d = delete_where(spark, table, "k >= 7")
    assert d["rows_deleted"] == 3 and d["version"] == 1
    u = update_where(spark, table, "k = 0", {"v": "'zero'"})
    assert u["version"] == 2
    latest = {r["k"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert len(latest) == 7 and latest[0] == "zero" and 9 not in latest
    # deleted rows still readable at the pre-delete version
    v0 = {r["k"] for r in read_snapshot(spark, table, 0).collect()}
    assert v0 == set(range(10))


def test_update_where_sql_expression(spark, tmp_path):
    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_write,
        update_where,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k bigint, v double"
    )
    snapshot_write(spark, df, table, "overwrite")
    update_where(spark, table, "k = 2", {"v": "v * 10"})
    got = {r["k"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: 10.0, 2: 200.0, 3: 30.0}
    # prior version untouched
    got0 = {r["k"]: r["v"] for r in read_snapshot(spark, table, 0).collect()}
    assert got0 == {1: 10.0, 2: 20.0, 3: 30.0}


def test_schema_evolution_null_backfill(spark, tmp_path):
    from aws_lakehouse_spark.sources.snapshots import (
        read_snapshot_evolved,
        snapshot_write,
    )

    table = str(tmp_path / "t")
    v0 = spark.createDataFrame([(1, "a")], "k bigint, v string")
    v1 = spark.createDataFrame([(2, "b", 9.5)], "k bigint, v string, w double")
    snapshot_write(spark, v0, table, "overwrite")
    snapshot_write(spark, v1, table, "append")
    rows = {r["k"]: (r["v"], r["w"]) for r in
            read_snapshot_evolved(spark, table).collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # time travel to v0: only the old schema's files, evolved read
    # still works and shows just the old rows
    rows0 = [tuple(r) for r in read_snapshot_evolved(spark, table, 0).collect()]
    assert rows0 == [(1, "a")]


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """DELETE three-valued logic: rows where the predicate evaluates
    NULL (not TRUE, not FALSE) are KEPT — Iceberg/Delta DELETE only
    removes rows where the predicate is TRUE. A naive filter(~cond)
    would silently delete the NULL-predicate rows."""
    from aws_lakehouse_spark.sources.snapshots import (
        delete_where,
        read_snapshot,
        snapshot_write,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 3.0), (4, None)],
        "k bigint, v double",
    )
    snapshot_write(spark, df, table, "overwrite")
    stats = delete_where(spark, table, "v > 5.0")
    assert stats["rows_deleted"] == 1  # only k=1 matches TRUE
    kept = {r["k"] for r in read_snapshot(spark, table).collect()}
    assert kept == {2, 3, 4}  # NULL-predicate rows survive


def test_compact_path_refuses_partitioned_layout(spark, tmp_path):
    """compact_path only handles flat directories: a hive-partitioned
    layout (files in key=value subdirs) must be refused — compacting
    it would discard the partition structure — and the original data
    must remain untouched after the refusal."""
    import pytest as _pytest

    from aws_lakehouse_spark.sources.maintenance import compact_path

    path = str(tmp_path / "parted")
    df = spark.range(0, 100).withColumn("p", F.col("id") % 4)
    df.write.partitionBy("p").mode("overwrite").parquet(path)
    with _pytest.raises(ValueError, match="partitioned"):
        compact_path(spark, path)
    assert spark.read.parquet(path).count() == 100


def test_compact_path_crash_leaves_no_absent_table(spark, tmp_path, monkeypatch):
    """Rename-aside swap: even if the final cleanup crashes, the live
    path always holds a complete copy of the data (original or
    compacted) — never an absent directory."""
    import shutil as _shutil

    from aws_lakehouse_spark.sources import maintenance

    path = str(tmp_path / "flat")
    spark.range(0, 1000).repartition(8).write.mode("overwrite").parquet(path)

    real_rmtree = _shutil.rmtree
    calls = []

    def exploding_rmtree(p, *a, **kw):
        if p.endswith("__old"):
            calls.append(p)
            raise OSError("simulated crash during cleanup")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr("shutil.rmtree", exploding_rmtree)
    try:
        maintenance.compact_path(spark, path)
    except OSError:
        pass
    assert calls, "cleanup path was never exercised"
    # the live path must still read complete regardless of the crash
    assert spark.read.parquet(path).count() == 1000


def test_manifest_commit_is_put_if_absent(spark, tmp_path):
    """Two writers racing for the same snapshot version: exactly one
    commits; the loser raises SnapshotConflictError and the winner's
    manifest is NOT clobbered."""
    from aws_lakehouse_spark.sources.snapshots import (
        SnapshotConflictError,
        _commit_manifest,
        _read_manifest,
        snapshot_write,
    )

    table = str(tmp_path / "t")
    snapshot_write(
        spark,
        spark.createDataFrame([(1, "a")], "k bigint, v string"),
        table,
        "overwrite",
    )
    winner = {"version": 1, "mode": "append", "committed_at": 0.0,
              "files": ["winner.parquet"]}
    loser = {"version": 1, "mode": "append", "committed_at": 0.0,
             "files": ["loser.parquet"]}
    _commit_manifest(table, 1, winner)
    with pytest.raises(SnapshotConflictError):
        _commit_manifest(table, 1, loser)
    assert _read_manifest(table, 1)["files"] == ["winner.parquet"]


def test_concurrent_snapshot_writers_never_clobber(spark, tmp_path):
    """Interleaved snapshot_write calls from two threads: every
    success holds a DISTINCT version, any failure is the explicit
    conflict error, and all committed manifests parse with live
    files actually on disk."""
    import threading

    from aws_lakehouse_spark.sources import snapshots
    from aws_lakehouse_spark.sources.snapshots import SnapshotConflictError

    table = str(tmp_path / "t")
    barrier = threading.Barrier(2)
    results: list = [None, None]

    def writer(slot: int) -> None:
        df = spark.createDataFrame(
            [(slot, f"w{slot}")], "k bigint, v string"
        )
        barrier.wait()
        try:
            results[slot] = ("ok", snapshots.snapshot_write(
                spark, df, table, "append"))
        except SnapshotConflictError as e:
            results[slot] = ("conflict", e)
        except Exception as e:  # any other error type is a bug
            results[slot] = ("bug", e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert all(r is not None for r in results)
    assert not any(r[0] == "bug" for r in results), results
    wins = [v for tag, v in results if tag == "ok"]
    assert len(wins) >= 1  # at least one writer must commit
    assert len(set(wins)) == len(wins)  # never the same version twice
    for v in snapshots.versions(table):
        m = snapshots._read_manifest(table, v)
        for f in m["files"]:
            assert os.path.exists(os.path.join(table, f))


def test_optimistic_retry_melee_log_stays_consistent(spark, tmp_path):
    """Three writers each land three appends under the real client
    protocol — retry on SnapshotConflictError until committed. The
    melee must leave a GAP-FREE version sequence with one manifest
    per success, the head must hold every (writer, seq) row exactly
    once, and a zero-grace orphan sweep afterwards (all writers
    drained, so 0 is safe per the remove_orphans contract) must
    reclaim only loser debris: every version stays readable and the
    head contents are byte-identical before and after the sweep."""
    import threading

    from aws_lakehouse_spark.sources import snapshots
    from aws_lakehouse_spark.sources.snapshots import SnapshotConflictError

    table = str(tmp_path / "t")
    writers, commits_each = 3, 3
    barrier = threading.Barrier(writers)
    errors: list = []

    def run_writer(w: int) -> None:
        barrier.wait()
        for seq in range(commits_each):
            df = spark.createDataFrame(
                [(w, seq)], "writer int, seq int"
            )
            for _ in range(40):  # bounded optimistic retry
                try:
                    snapshots.snapshot_write(spark, df, table, "append")
                    break
                except SnapshotConflictError:
                    continue
            else:
                errors.append((w, seq, "retries exhausted"))
                return

    threads = [
        threading.Thread(target=run_writer, args=(w,))
        for w in range(writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors

    total = writers * commits_each
    vs = snapshots.versions(table)
    assert vs == list(range(total))  # gap-free, one per success
    head = sorted(
        tuple(r)
        for r in snapshots.read_snapshot(spark, table).collect()
    )
    assert head == sorted(
        (w, s) for w in range(writers) for s in range(commits_each)
    )
    # loser attempts left orphan part files; with all writers drained
    # a zero-grace sweep is in-contract and must not touch live data
    snapshots.remove_orphans(table, older_than_seconds=0)
    assert (
        sorted(
            tuple(r)
            for r in snapshots.read_snapshot(spark, table).collect()
        )
        == head
    )
    for v in vs:  # time travel intact at EVERY version post-sweep
        m = snapshots._read_manifest(table, v)
        for f in m["files"]:
            assert os.path.exists(os.path.join(table, f)), (v, f)


def test_all_null_stats_column_is_always_candidate(spark, tmp_path):
    """A column that is entirely NULL in a file has no footer min/max;
    the stats writer must omit it and the pruner must keep the file
    as a candidate (never wrongly skip it) — while the actual read
    still returns zero rows because NULL never satisfies BETWEEN."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(None).cast("bigint").alias("v"),
    )
    snapshots.snapshot_write(
        spark, df.repartition(4), table, "overwrite", stats_cols=["k", "v"]
    )
    planned, total = snapshots.plan_pruned_files(table, {"v": (1, 5)})
    assert total == 4
    assert len(planned) == total  # stats-less: always-candidate
    assert (
        snapshots.read_snapshot_pruned(spark, table, {"v": (1, 5)}).count()
        == 0
    )
    # the sibling column with real stats is unaffected
    assert snapshots.plan_pruned_files(table, {"k": (1, 5)})[1] == 4


def test_merge_into_update_insert_delete_arms(spark, table_path):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, status string, amt double",
    )
    snapshots.snapshot_write(spark, target, table_path, "overwrite")
    source = spark.createDataFrame(
        [(2, "B", 200.0), (3, "DEL", 0.0), (4, "d", 40.0)],
        "k int, status string, amt double",
    )
    m = snapshots.merge_into(
        spark,
        table_path,
        source,
        on=["k"],
        when_matched_delete=F.col("__src_status") == "DEL",
    )
    assert m["version"] == 1
    rows = {
        r["k"]: (r["status"], r["amt"])
        for r in snapshots.read_snapshot(spark, table_path).collect()
    }
    # 1 untouched, 2 updated whole-row, 3 deleted, 4 inserted
    assert rows == {1: ("a", 10.0), 2: ("B", 200.0), 4: ("d", 40.0)}
    # pre-merge version still time-travels
    assert snapshots.read_snapshot(spark, table_path, 0).count() == 3


def test_merge_into_rejects_duplicate_source_keys(spark, table_path):
    target = spark.createDataFrame([(1, "a")], "k int, status string")
    snapshots.snapshot_write(spark, target, table_path, "overwrite")
    source = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k int, status string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        snapshots.merge_into(spark, table_path, source, on=["k"])


def test_merge_into_insert_disabled_and_custom_update(spark, table_path):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, status string, amt double"
    )
    snapshots.snapshot_write(spark, target, table_path, "overwrite")
    source = spark.createDataFrame(
        [(2, "B", 5.0), (9, "z", 1.0)], "k int, status string, amt double"
    )
    snapshots.merge_into(
        spark,
        table_path,
        source,
        on=["k"],
        # custom assignment: accumulate amount, keep target status
        when_matched_update={"amt": F.col("amt") + F.col("__src_amt")},
        when_not_matched_insert=False,
    )
    rows = {
        r["k"]: (r["status"], r["amt"])
        for r in snapshots.read_snapshot(spark, table_path).collect()
    }
    assert rows == {1: ("a", 10.0), 2: ("b", 25.0)}


def test_merge_into_source_missing_target_column_inserts_null(spark, table_path):
    target = spark.createDataFrame(
        [(1, "a", 10.0)], "k int, status string, amt double"
    )
    snapshots.snapshot_write(spark, target, table_path, "overwrite")
    source = spark.createDataFrame([(5, "e")], "k int, status string")
    snapshots.merge_into(spark, table_path, source, on=["k"])
    rows = {
        r["k"]: (r["status"], r["amt"])
        for r in snapshots.read_snapshot(spark, table_path).collect()
    }
    assert rows == {1: ("a", 10.0), 5: ("e", None)}


def test_tags_resolve_and_are_immutable(spark, table_path):
    v0 = snapshots.snapshot_write(spark, _df(spark, 0, 5), table_path, "overwrite")
    v1 = snapshots.snapshot_write(spark, _df(spark, 5, 8), table_path, "append")
    assert snapshots.tag_snapshot(table_path, "baseline", v0) == v0
    assert snapshots.tag_snapshot(table_path, "latest") == v1  # default=latest
    assert snapshots.resolve_tag(table_path, "baseline") == v0
    assert snapshots.resolve_tag(table_path, "latest") == v1
    # tagged time travel reads the tagged version's content
    df = snapshots.read_snapshot(
        spark, table_path, snapshots.resolve_tag(table_path, "baseline")
    )
    assert df.count() == 5
    # tags are immutable: re-tagging raises, never silently moves
    with pytest.raises(snapshots.SnapshotConflictError):
        snapshots.tag_snapshot(table_path, "baseline", v1)
    assert snapshots.resolve_tag(table_path, "baseline") == v0


def test_delete_where_no_snapshots_is_value_error(spark, table_path):
    # error contract: an empty table path raises ValueError('no
    # snapshots ...'), never a bare IndexError from versions()[-1]
    # (regression guard for the manifest-sum base_v lookup)
    with pytest.raises(ValueError, match="no snapshots"):
        snapshots.delete_where(spark, table_path, "k > 0")


def test_tag_validation(spark, table_path):
    with pytest.raises(ValueError, match="no snapshots"):
        snapshots.tag_snapshot(table_path, "x")
    snapshots.snapshot_write(spark, _df(spark, 0, 3), table_path, "overwrite")
    with pytest.raises(ValueError, match="not in"):
        snapshots.tag_snapshot(table_path, "x", 99)
    with pytest.raises(ValueError, match="invalid tag"):
        snapshots.tag_snapshot(table_path, "a/b")
    with pytest.raises(ValueError, match="unknown tag"):
        snapshots.resolve_tag(table_path, "nope")


def test_rollback_restores_prior_file_set(spark, tmp_path):
    """rollback_to commits a NEW version re-listing the target's
    files; bad versions stay time-travelable, and rolling back to a
    bad version's parent is metadata-only (no file copies)."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "t")
    df = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS STRING) AS v"
    )
    assert snapshots.snapshot_write(spark, df(0, 10), table, "overwrite") == 0
    assert snapshots.snapshot_write(spark, df(10, 20), table, "append") == 1
    assert snapshots.snapshot_write(spark, df(90, 95), table, "overwrite") == 2

    n_files_before = len(snapshots._data_files(table))
    v = snapshots.rollback_to(table, 1)
    assert v == 3
    # metadata-only: the rollback added no data files
    assert len(snapshots._data_files(table)) == n_files_before

    current = {r["k"] for r in snapshots.read_snapshot(spark, table).collect()}
    assert current == set(range(20))
    # the bad version is still time-travelable for audit
    bad = {
        r["k"]
        for r in snapshots.read_snapshot(spark, table, version=2).collect()
    }
    assert bad == set(range(90, 95))
    # manifest records provenance
    m = snapshots._read_manifest(table, 3)
    assert m["mode"] == "rollback" and m["rolled_back_to"] == 1


def test_rollback_unknown_version_raises(spark, tmp_path):
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "t")
    snapshots.snapshot_write(
        spark, spark.range(3).selectExpr("id AS k"), table, "overwrite"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in"):
        snapshots.rollback_to(table, 7)


def test_file_stats_pruning_plans_subset_and_never_drops(spark, tmp_path):
    """Footer min/max stats in the manifest: a ranged read plans a
    strict subset of files yet returns exactly the rows a full-scan
    filter returns (pruning is an optimization, never a semantics
    change). Files without stats stay candidates."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    snapshots.snapshot_write(
        spark,
        df.repartitionByRange(5, "k"),
        table,
        "overwrite",
        stats_cols=["k"],
    )
    planned, total = snapshots.plan_pruned_files(table, {"k": (100, 250)})
    assert total == 5 and 0 < len(planned) < total

    got = {
        r["k"]
        for r in snapshots.read_snapshot_pruned(
            spark, table, {"k": (100, 250)}
        ).collect()
    }
    assert got == set(range(100, 251))

    # append WITHOUT stats: new files must remain candidates
    extra = spark.range(2000, 2010).selectExpr("id AS k", "id * 2 AS v")
    snapshots.snapshot_write(spark, extra, table, "append")
    got2 = {
        r["k"]
        for r in snapshots.read_snapshot_pruned(
            spark, table, {"k": (2000, 2005)}
        ).collect()
    }
    assert got2 == set(range(2000, 2006))

    # disjoint range plans zero files and returns an empty frame
    planned3, _ = snapshots.plan_pruned_files(table, {"k": (50_000, 60_000)})
    stats_files = [
        f for f in planned3
    ]
    assert all(
        f
        in snapshots._read_manifest(
            table, snapshots.versions(table)[-1]
        )["files"]
        for f in stats_files
    )
    empty = snapshots.read_snapshot_pruned(spark, table, {"k": (-10, -5)})
    assert empty.count() == 0


def test_rollback_preserves_file_stats(spark, tmp_path):
    """A rollback commit carries the target's per-file stats, so the
    restored table still prunes ranged scans."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "t")
    df = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS v")
    snapshots.snapshot_write(
        spark, df.repartitionByRange(5, "k"), table, "overwrite",
        stats_cols=["k"],
    )
    snapshots.snapshot_write(  # bad load without stats
        spark, spark.range(9000, 9010).selectExpr("id AS k", "id AS v"),
        table, "overwrite",
    )
    snapshots.rollback_to(table, 0)
    planned, total = snapshots.plan_pruned_files(table, {"k": (0, 50)})
    assert total == 5 and 0 < len(planned) < total


def test_bloom_pruning_no_false_negatives(spark, tmp_path):
    """Bloom planning keeps every file that truly holds the value
    (never a false negative), prunes most that don't, and the pruned
    read returns exactly the matching rows."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "bloomed")
    df = spark.range(0, 4000).withColumn("key", F.col("id") % 500)
    clustered = df.repartition(8, "key")
    snapshots.snapshot_write(
        spark, clustered, table, "overwrite", bloom_cols=["key"]
    )
    for probe in (0, 97, 499):
        planned, total = snapshots.plan_bloom_pruned_files(
            table, "key", probe
        )
        assert total == 8
        assert 0 < len(planned) < total, (probe, planned)
        got = snapshots.read_snapshot_bloom_pruned(
            spark, table, "key", probe
        )
        assert got.count() == 8  # 4000 ids / 500 keys
        assert all(r["key"] == probe for r in got.collect())


def test_bloom_absent_value_prunes_everything_or_rare_fp(spark, tmp_path):
    """A value absent from the table plans at most a rare
    false-positive file; the read still returns zero rows."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "bloomed_absent")
    df = spark.range(0, 1000).withColumn("key", F.col("id"))
    snapshots.snapshot_write(
        spark, df.repartition(4, "key"), table, "overwrite",
        bloom_cols=["key"],
    )
    planned, total = snapshots.plan_bloom_pruned_files(
        table, "key", 999_999
    )
    assert len(planned) <= 1  # fpp ~1e-2 per file
    got = snapshots.read_snapshot_bloom_pruned(
        spark, table, "key", 999_999
    )
    assert got.count() == 0


def test_bloom_carried_through_append_and_rollback(spark, tmp_path):
    """Append carries prior files' blooms and adds the new file's;
    rollback_to restores the target version's blooms so a restored
    table keeps its point-lookup pruning."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "bloom_carry")
    a = spark.createDataFrame([(1,), (2,)], "key bigint").coalesce(1)
    b = spark.createDataFrame([(100,), (200,)], "key bigint").coalesce(1)
    snapshots.snapshot_write(spark, a, table, "overwrite", bloom_cols=["key"])
    snapshots.snapshot_write(spark, b, table, "append", bloom_cols=["key"])
    planned, total = snapshots.plan_bloom_pruned_files(table, "key", 1)
    assert total == 2 and len(planned) == 1
    planned, _ = snapshots.plan_bloom_pruned_files(table, "key", 200)
    assert len(planned) == 1
    v2 = snapshots.rollback_to(table, 0)
    planned, total = snapshots.plan_bloom_pruned_files(
        table, "key", 1, version=v2
    )
    assert total == 1 and len(planned) == 1


def test_incremental_scan_reads_only_appended(spark, tmp_path):
    """read_snapshot_incremental returns exactly the rows of files
    added after the anchor version; empty diff -> empty frame."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "incr")
    a = spark.range(0, 100).withColumn("batch", F.lit("a"))
    b = spark.range(100, 150).withColumn("batch", F.lit("b"))
    v0 = snapshots.snapshot_write(spark, a.coalesce(1), table, "overwrite")
    v1 = snapshots.snapshot_write(spark, b.coalesce(1), table, "append")
    incr = snapshots.read_snapshot_incremental(spark, table, v0)
    assert incr.count() == 50
    assert incr.agg(F.min("id")).first()[0] == 100
    # anchor at the head -> nothing new
    assert snapshots.read_snapshot_incremental(spark, table, v1).count() == 0
    # bounded to an explicit end version
    v2 = snapshots.snapshot_write(
        spark,
        spark.range(150, 160).withColumn("batch", F.lit("c")).coalesce(1),
        table,
        "append",
    )
    mid = snapshots.read_snapshot_incremental(
        spark, table, v0, to_version=v1
    )
    assert mid.count() == 50
    full = snapshots.read_snapshot_incremental(spark, table, v0, v2)
    assert full.count() == 60


def test_multi_column_pruning_conjunctive(spark, tmp_path):
    """plan_pruned_files keeps a file only when EVERY predicate
    intersects; a column without stats never causes a skip. A
    one-entry dict is the single-column planner and reader."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "multi")
    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (999 - F.col("id")).alias("b")
    )
    clustered = df.repartitionByRange(4, "a")
    snapshots.snapshot_write(
        spark, clustered, table, "overwrite", stats_cols=["a", "b"]
    )
    # a in [0,100] selects the low-a file; b in [899,999] agrees
    planned, total = snapshots.plan_pruned_files(
        table, {"a": (0, 100), "b": (899, 999)}
    )
    assert total == 4 and len(planned) == 1
    # one column alone plans the same file; the other column's stats
    # alone agree
    assert snapshots.plan_pruned_files(table, {"a": (0, 100)}) == (
        planned, 4
    )
    assert snapshots.plan_pruned_files(table, {"b": (899, 999)}) == (
        planned, 4
    )
    # contradictory predicates -> zero files
    planned, _ = snapshots.plan_pruned_files(
        table, {"a": (0, 100), "b": (0, 50)}
    )
    assert planned == []
    # un-stat'd column keeps all candidates from the other predicate
    planned, _ = snapshots.plan_pruned_files(
        table, {"a": (0, 100), "nope": (0, 1)}
    )
    assert len(planned) == 1
    got = snapshots.read_snapshot_pruned(
        spark, table, {"a": (0, 100), "b": (899, 999)}
    )
    assert got.count() == 101
    assert (
        snapshots.read_snapshot_pruned(spark, table, {"a": (0, 100)}).count()
        == 101
    )


def test_wap_staged_invisible_until_published(spark, tmp_path):
    """Write-audit-publish: a staged append is invisible to the
    default read and to subsequent append lineage; publish
    cherry-picks it; a bad batch is simply never published."""
    from aws_lakehouse_spark.sources import snapshots

    table = str(tmp_path / "wap")
    base = spark.range(0, 100).coalesce(1)
    snapshots.snapshot_write(spark, base, table, "overwrite")
    staged_v = snapshots.snapshot_write(
        spark, spark.range(100, 150).coalesce(1), table, "append",
        staged_id="b1",
    )
    # main is isolated; the stage is auditable by explicit version
    assert snapshots.read_snapshot(spark, table).count() == 100
    assert snapshots.read_snapshot(spark, table, staged_v).count() == 150
    assert snapshots.published_versions(table) == [0]
    # an independent published append must NOT build on the stage
    snapshots.snapshot_write(
        spark, spark.range(200, 210).coalesce(1), table, "append"
    )
    assert snapshots.read_snapshot(spark, table).count() == 110
    # publish the staged batch: metadata-only cherry-pick
    v_pub = snapshots.publish_staged(table, "b1")
    assert snapshots.read_snapshot(spark, table).count() == 150
    assert snapshots.published_versions(table)[-1] == v_pub
    with pytest.raises(ValueError):
        snapshots.publish_staged(table, "no-such-id")


def test_wap_abandoned_stage_files_reclaimed(spark, tmp_path):
    """A never-published stage's data files become orphans once its
    manifest is expired — remove_orphans reclaims them — and expiry
    never drops main's head even when the stage is newer."""
    from aws_lakehouse_spark.sources import snapshots
    from aws_lakehouse_spark.sources.maintenance import remove_orphans

    table = str(tmp_path / "wap_abandoned")
    snapshots.snapshot_write(
        spark, spark.range(0, 50).coalesce(1), table, "overwrite"
    )
    snapshots.snapshot_write(
        spark, spark.range(50, 60).coalesce(1), table, "append",
        staged_id="bad",
    )
    # the staged head is newest, but main's published head survives
    # expiry (a ref'd snapshot never expires)
    stats = snapshots.expire_snapshots(table, retain_last=1)
    assert 0 in stats["retained_versions"]
    assert snapshots.read_snapshot(spark, table).count() == 50
    # main moves on without the stage; expiry now drops the
    # abandoned stage's manifest, stranding its data files
    snapshots.snapshot_write(
        spark, spark.range(200, 210).coalesce(1), table, "append"
    )
    snapshots.expire_snapshots(table, retain_last=1)
    n_files_before = len(
        [f for f in os.listdir(table) if f.endswith(".parquet")]
    )
    stats = remove_orphans(
        spark, "ignored", older_than_days=0, table_path=table
    )
    n_files_after = len(
        [f for f in os.listdir(table) if f.endswith(".parquet")]
    )
    assert stats["removed_files"] >= 1
    assert n_files_after < n_files_before
    assert snapshots.read_snapshot(spark, table).count() == 60


def test_branch_lifecycle_isolation_and_fast_forward(spark, tmp_path):
    from aws_lakehouse_spark.sources import snapshots

    t = str(tmp_path / "tbl")
    base = spark.range(0, 10).withColumnRenamed("id", "k")
    v0 = snapshots.snapshot_write(spark, base, t, "overwrite")
    assert snapshots.create_branch(t, "exp") == v0
    # duplicate creation is put-if-absent
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshots.create_branch(t, "exp")
    # two chained branch commits, main isolated throughout
    snapshots.snapshot_write(
        spark, spark.range(10, 15).withColumnRenamed("id", "k"), t,
        "append", branch="exp",
    )
    head = snapshots.snapshot_write(
        spark, spark.range(15, 18).withColumnRenamed("id", "k"), t,
        "append", branch="exp",
    )
    assert snapshots.read_snapshot(spark, t).count() == 10
    assert snapshots.read_branch(spark, t, "exp").count() == 18
    assert snapshots.published_versions(t) == [v0]
    # branch heads survive expiry
    snapshots.expire_snapshots(t, retain_last=1)
    assert snapshots.read_branch(spark, t, "exp").count() == 18
    # fast-forward publishes the branch head onto main
    snapshots.fast_forward_main(t, "exp")
    assert snapshots.read_snapshot(spark, t).count() == 18
    assert snapshots.resolve_branch(t, "exp") == head


def test_branch_requires_existing_ref_and_excludes_staged(spark, tmp_path):
    from aws_lakehouse_spark.sources import snapshots

    t = str(tmp_path / "tbl")
    snapshots.snapshot_write(
        spark, spark.range(3).withColumnRenamed("id", "k"), t, "overwrite"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshots.snapshot_write(
            spark, spark.range(3), t, "append", branch="nope"
        )
    with _pytest.raises(ValueError):
        snapshots.snapshot_write(
            spark, spark.range(3), t, "append",
            branch="b", staged_id="s",
        )


def test_fast_forward_refused_when_main_diverged(spark, tmp_path):
    from aws_lakehouse_spark.sources import snapshots

    t = str(tmp_path / "tbl")
    snapshots.snapshot_write(
        spark, spark.range(5).withColumnRenamed("id", "k"), t, "overwrite"
    )
    snapshots.create_branch(t, "exp")
    snapshots.snapshot_write(
        spark, spark.range(5, 8).withColumnRenamed("id", "k"), t,
        "append", branch="exp",
    )
    # a competing commit lands on MAIN after the fork
    snapshots.snapshot_write(
        spark, spark.range(8, 9).withColumnRenamed("id", "k"), t, "append"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fast-forward"):
        snapshots.fast_forward_main(t, "exp")


def test_shallow_clone_zero_copy_reads_and_diverges(spark, tmp_path):
    src = str(tmp_path / "clone_src")
    dst = str(tmp_path / "clone_dst")
    snapshots.snapshot_write(spark, _df(spark, 0, 10), src, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 10, 15), src, "append")

    assert snapshots.clone_snapshot(src, dst) == 0
    # zero-copy: the clone directory holds NO parquet of its own
    assert snapshots._data_files(dst) == set()
    assert {r["id"] for r in snapshots.read_snapshot(spark, dst).collect()} == set(
        range(15)
    )

    # clone evolves independently: append lands locally, source main
    # is untouched
    snapshots.snapshot_write(spark, _df(spark, 100, 103), dst, "append")
    assert snapshots.read_snapshot(spark, dst).count() == 18
    assert snapshots.read_snapshot(spark, src).count() == 15
    assert len(snapshots._data_files(dst)) > 0

    # copy-on-write DML on the clone never rewrites source files
    src_files_before = snapshots._data_files(src)
    snapshots.delete_where(spark, dst, F.col("id") < 5)
    assert snapshots.read_snapshot(spark, dst).count() == 13
    assert snapshots.read_snapshot(spark, src).count() == 15
    assert snapshots._data_files(src) == src_files_before


def test_shallow_clone_carries_stats_and_time_travels(spark, tmp_path):
    src = str(tmp_path / "clone_stats_src")
    dst = str(tmp_path / "clone_stats_dst")
    snapshots.snapshot_write(
        spark,
        _df(spark, 0, 100).repartitionByRange(4, "id"),
        src,
        "overwrite",
        stats_cols=["id"],
    )
    v_old = snapshots.snapshot_write(
        spark, _df(spark, 100, 110), src, "append", stats_cols=["id"]
    )
    snapshots.clone_snapshot(src, dst)
    # min/max skipping works from commit zero on the clone
    planned, total = snapshots.plan_pruned_files(dst, {"id": (0, 10)})
    assert 0 < len(planned) < total
    # cloning a PAST version pins that version's file set
    dst2 = str(tmp_path / "clone_stats_dst2")
    snapshots.snapshot_write(spark, _df(spark, 500, 510), src, "overwrite")
    snapshots.clone_snapshot(src, dst2, version=v_old)
    assert snapshots.read_snapshot(spark, dst2).count() == 110
    # a clone target with existing history is refused
    with pytest.raises(ValueError):
        snapshots.clone_snapshot(src, dst)


def test_segmented_append_reuses_segments(spark, table_path):
    """Segment reuse contract: an append onto a segmented base writes
    exactly ONE new segment and keeps the base's segments verbatim —
    metadata per append is O(files added), not O(files in table)."""
    v0 = snapshots.snapshot_write(
        spark, _df(spark, 0, 10), table_path, "overwrite", segmented=True
    )
    m0 = snapshots._read_manifest_raw(table_path, v0)
    assert "files" not in m0 and len(m0["segments"]) == 1

    v1 = snapshots.snapshot_write(
        spark, _df(spark, 10, 15), table_path, "append", segmented=True
    )
    m1 = snapshots._read_manifest_raw(table_path, v1)
    # prefix is the base's segment list, untouched; one new segment
    assert m1["segments"][: len(m0["segments"])] == m0["segments"]
    assert len(m1["segments"]) == len(m0["segments"]) + 1

    v2 = snapshots.snapshot_write(
        spark, _df(spark, 15, 18), table_path, "append", segmented=True
    )
    m2 = snapshots._read_manifest_raw(table_path, v2)
    assert m2["segments"][: len(m1["segments"])] == m1["segments"]
    assert len(m2["segments"]) == len(m1["segments"]) + 1

    # resolved reads are identical to the inline form
    assert snapshots.read_snapshot(spark, table_path).count() == 18
    assert snapshots.read_snapshot(spark, table_path, v1).count() == 15
    assert snapshots.read_snapshot(spark, table_path, v0).count() == 10


def test_segmented_interoperates_with_inline_log(spark, table_path):
    """Inline and segmented commits share one log: a segmented append
    onto an inline base converts the base into one segment (once),
    and a later inline append resolves the segmented base fine."""
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    v1 = snapshots.snapshot_write(
        spark, _df(spark, 10, 15), table_path, "append", segmented=True
    )
    m1 = snapshots._read_manifest_raw(table_path, v1)
    assert len(m1["segments"]) == 2  # converted base + new batch
    assert snapshots.read_snapshot(spark, table_path, v1).count() == 15

    v2 = snapshots.snapshot_write(
        spark, _df(spark, 15, 18), table_path, "append"
    )
    m2 = snapshots._read_manifest_raw(table_path, v2)
    assert "segments" not in m2 and len(m2["files"]) > 0
    assert snapshots.read_snapshot(spark, table_path, v2).count() == 18


def test_segmented_stats_carried_and_pruned(spark, table_path):
    """Per-file stats recorded into segments still drive min/max file
    skipping through the resolved manifest view."""
    snapshots.snapshot_write(
        spark,
        _df(spark, 0, 10),
        table_path,
        "overwrite",
        stats_cols=["id"],
        segmented=True,
    )
    snapshots.snapshot_write(
        spark,
        _df(spark, 1000, 1010),
        table_path,
        "append",
        stats_cols=["id"],
        segmented=True,
    )
    m = snapshots._read_manifest(table_path, 1)
    assert m["stats"]  # merged across segments
    planned, total = snapshots.plan_pruned_files(
        table_path, {"id": (1000, 1050)}
    )
    assert 0 < len(planned) < total
    got = snapshots.read_snapshot_pruned(
        spark, table_path, {"id": (1000, 1050)}
    )
    assert got.count() == 10


def test_segment_gc_after_expiry(spark, table_path):
    """Expiring segmented manifests leaves their unshared segments
    unreferenced; remove_orphans reclaims exactly those."""
    snapshots.snapshot_write(
        spark, _df(spark, 0, 10), table_path, "overwrite", segmented=True
    )
    snapshots.snapshot_write(
        spark, _df(spark, 10, 15), table_path, "append", segmented=True
    )
    # overwrite: fresh single segment; earlier segments now only
    # referenced by the expired-soon manifests
    snapshots.snapshot_write(
        spark, _df(spark, 100, 103), table_path, "overwrite", segmented=True
    )
    seg_dir = snapshots._segments_dir(table_path)
    assert len(os.listdir(seg_dir)) == 3

    snapshots.expire_snapshots(table_path, retain_last=1, older_than_s=0.0)
    res = snapshots.remove_orphans(table_path, older_than_seconds=0.0)
    assert res["removed_segments"] == 2
    assert len(os.listdir(seg_dir)) == 1
    # survivor still reads
    assert snapshots.read_snapshot(spark, table_path).count() == 3


def test_optimize_zorder_preserves_data_and_history(spark, table_path):
    """OPTIMIZE ZORDER is a logical rewrite: same rows, new version,
    pre-optimize snapshot still time-travelable; the committed
    manifest carries stats for every clustered column."""
    df = _df(spark, 0, 500).withColumn(
        "w", (F.col("id") * 37 % 101).cast("double")
    )
    v0 = snapshots.snapshot_write(
        spark, df.repartition(4), table_path, "overwrite",
        stats_cols=["id"],
    )
    v1 = snapshots.optimize_zorder(
        spark, table_path,
        {"id": (0.0, 500.0), "w": (0.0, 101.0)},
        n_files=4,
    )
    assert v1 == v0 + 1
    before = {
        (r["id"], r["w"])
        for r in snapshots.read_snapshot(spark, table_path, v0).collect()
    }
    after = {
        (r["id"], r["w"])
        for r in snapshots.read_snapshot(spark, table_path, v1).collect()
    }
    assert before == after and len(after) == 500
    m = snapshots._read_manifest(table_path, v1)
    for f in m["files"]:
        assert set(m["stats"][f]) == {"id", "w"}


def test_optimize_zorder_carries_bloom_and_segments(spark, table_path):
    """OPTIMIZE must not silently degrade the skipping surface: a
    table maintained with bloom bitsets (and segmented manifests)
    keeps both through the rewrite by default."""
    df = _df(spark, 0, 400)
    snapshots.snapshot_write(
        spark, df.repartition(4), table_path, "overwrite",
        stats_cols=["id"], bloom_cols=["v"], segmented=True,
    )
    v1 = snapshots.optimize_zorder(
        spark, table_path, {"id": (0.0, 400.0)}, n_files=4,
        segmented=True,
    )
    raw = snapshots._read_manifest_raw(table_path, v1)
    assert "segments" in raw
    m = snapshots._read_manifest(table_path, v1)
    for f in m["files"]:
        assert "id" in m["stats"][f]
        assert "v" in m["bloom"][f]
    # bloom pruning still functions post-OPTIMIZE
    planned, total = snapshots.plan_bloom_pruned_files(
        table_path, "v", 2 * 42
    )
    assert 0 < len(planned) <= total
    got = snapshots.read_snapshot_bloom_pruned(
        spark, table_path, "v", 2 * 42
    )
    assert {r["id"] for r in got.collect()} == {42}


def test_remove_orphans_reclaims_crashed_segment_tmp(spark, table_path):
    """A .json.tmp left by a _write_segment that died between write
    and rename is debris — but only once it has AGED past the grace
    period (Iceberg's remove_orphan_files older_than contract): a
    fresh tmp may belong to a concurrent writer's in-flight commit
    about to os.replace it, and sweeping it would fail that commit."""
    snapshots.snapshot_write(
        spark, _df(spark, 0, 10), table_path, "overwrite", segmented=True
    )
    seg_dir = snapshots._segments_dir(table_path)
    fresh = os.path.join(seg_dir, "seg-inflight.json.tmp")
    stale = os.path.join(seg_dir, "seg-deadbeef.json.tmp")
    # a renamed-but-not-yet-committed segment: unreferenced by any
    # manifest only because its writer's put-if-absent commit hasn't
    # landed yet — sweeping it would make that commit unreadable
    fresh_renamed = os.path.join(seg_dir, "seg-precommit.json")
    for p in (fresh, stale, fresh_renamed):
        with open(p, "w") as fh:
            fh.write("{}")
    old = time.time() - snapshots._ORPHAN_TMP_GRACE_SECONDS - 60
    os.utime(stale, (old, old))
    res = snapshots.remove_orphans(table_path)
    assert res["removed_segments"] >= 1
    assert not os.path.exists(stale)  # aged debris swept
    assert os.path.exists(fresh)  # in-flight tmp protected
    assert os.path.exists(fresh_renamed)  # in-flight commit protected
    assert snapshots.read_snapshot(spark, table_path).count() == 10


def test_rewrite_data_files_binpacks_with_history(spark, table_path):
    """Snapshot-aware compaction: many small files collapse to the
    target count in a NEW version; the fragmented version stays
    time-travelable; stats carry through."""
    snapshots.snapshot_write(
        spark, _df(spark, 0, 600).repartition(12), table_path,
        "overwrite", stats_cols=["id"],
    )
    res = snapshots.rewrite_data_files(spark, table_path, target_files=2)
    assert res["applied"] and res["files_before"] == 12
    assert res["files_after"] <= 2
    assert snapshots.read_snapshot(spark, table_path).count() == 600
    # pre-compaction version still readable
    assert snapshots.read_snapshot(spark, table_path, 0).count() == 600
    m = snapshots._read_manifest(table_path, res["version"])
    for f in m["files"]:
        assert "id" in m["stats"][f]


def test_check_constraints_gate_writes(spark, table_path):
    """Delta CHECK semantics: a batch with any row where a registered
    predicate is not TRUE (NULLs violate — the constraint must PROVE
    validity) is rejected whole, committing nothing; clean batches
    commit normally."""
    snapshots.add_table_constraint(table_path, "v_positive", "v > 0")
    snapshots.add_table_constraint(table_path, "id_not_null", "id IS NOT NULL")

    good = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id bigint, v double")
    v0 = snapshots.checked_snapshot_write(spark, good, table_path, "overwrite")
    assert v0 == 0

    bad = spark.createDataFrame(
        [(3, 6.0), (4, -1.0), (None, 8.0)], "id bigint, v double"
    )
    with pytest.raises(snapshots.ConstraintViolationError) as e:
        snapshots.checked_snapshot_write(spark, bad, table_path, "append")
    assert "v_positive" in str(e.value) and "id_not_null" in str(e.value)
    # nothing committed: table still at version 0 with 2 rows
    assert snapshots.versions(table_path) == [0]
    assert snapshots.read_snapshot(spark, table_path).count() == 2

    # NULL predicate result is a violation, not a pass
    nullish = spark.createDataFrame(
        [(5, None)], "id bigint, v double"
    )
    with pytest.raises(snapshots.ConstraintViolationError):
        snapshots.checked_snapshot_write(spark, nullish, table_path, "append")


def test_snapshot_history_is_metadata_only(spark, table_path, monkeypatch):
    """Every commit records per-file row counts (one footer read at
    write time), so history over freshly written logs must never
    launch a count job — the property that makes pointing a dashboard
    at a petabyte table's history safe. Locked by poisoning the scan
    fallback: any read_snapshot call from snapshot_history fails."""
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 10, 15), table_path, "append")
    snapshots.snapshot_write(
        spark, _df(spark, 100, 103), table_path, "append", segmented=True
    )
    snapshots.rollback_to(table_path, 1)

    def boom(*a, **k):
        raise AssertionError("snapshot_history fell back to a scan job")

    monkeypatch.setattr(snapshots, "read_snapshot", boom)
    hist = {
        r["version"]: (r["n_rows"], r["n_files"])
        for r in snapshots.snapshot_history(spark, table_path).collect()
    }
    assert hist[0][0] == 10
    assert hist[1][0] == 15
    assert hist[2][0] == 18  # segmented append carries base + batch
    assert hist[3][0] == 15  # rollback carries the target's counts


def _strip_rows(table_path, version):
    """Simulate a pre-round-6 manifest: drop its per-file counts."""
    import json as _json

    mf = snapshots._manifest_file(table_path, version)
    m = _json.load(open(mf))
    m.pop("rows", None)
    _json.dump(m, open(mf, "w"))


def test_snapshot_history_counts_pre_rows_manifests(spark, table_path):
    """Manifests committed before per-file row counts existed (or
    hand-edited logs missing one) still produce correct history —
    since round 8 via per-file parquet-FOOTER backfill, which is
    metadata-only: passing spark=None proves no count job is even
    reachable (the old fallback ran read_snapshot().count())."""
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    _strip_rows(table_path, 0)
    assert snapshots._version_row_count(None, table_path, 0) == 10
    hist = snapshots.snapshot_history(spark, table_path).collect()
    assert hist[0]["n_rows"] == 10


def test_legacy_logs_stay_metadata_only_through_every_path(
    spark, table_path, tmp_path
):
    """r7 verdict item 7: any version written by ANY path — append
    onto a legacy base, rollback to a legacy version, clone of a
    legacy table, publish of a legacy staged snapshot — commits a
    COMPLETE per-file count map, and counting a still-legacy version
    itself backfills from footers without a scan job."""
    snapshots.snapshot_write(spark, _df(spark, 0, 10), table_path, "overwrite")
    snapshots.snapshot_write(spark, _df(spark, 10, 15), table_path, "append")
    for v in (0, 1):
        _strip_rows(table_path, v)

    def complete(tp, v):
        m = snapshots._read_manifest(tp, v)
        return set(m.get("rows", {})) == set(m["files"])

    # counting the stripped versions: correct, and spark=None proves
    # the path can't launch a job
    assert snapshots._version_row_count(None, table_path, 0) == 10
    assert snapshots._version_row_count(None, table_path, 1) == 15
    # append onto the legacy base: the new manifest covers the base's
    # files too
    v2 = snapshots.snapshot_write(
        spark, _df(spark, 20, 23), table_path, "append"
    )
    assert complete(table_path, v2)
    assert snapshots._version_row_count(None, table_path, v2) == 18
    # rollback to the legacy v0: the restore commit is fully counted
    v3 = snapshots.rollback_to(table_path, 0)
    assert complete(table_path, v3)
    assert snapshots._version_row_count(None, table_path, v3) == 10
    # clone of the still-legacy v1: counted from birth
    dst = str(tmp_path / "clone_of_legacy")
    snapshots.clone_snapshot(table_path, dst, version=1)
    assert complete(dst, 0)
    assert snapshots._version_row_count(None, dst, 0) == 15
    # WAP publish of a legacy staged snapshot
    v4 = snapshots.snapshot_write(
        spark, _df(spark, 30, 34), table_path, "overwrite", staged_id="aud"
    )
    _strip_rows(table_path, v4)
    v5 = snapshots.publish_staged(table_path, "aud")
    assert complete(table_path, v5)
    assert snapshots._version_row_count(None, table_path, v5) == 4
    # DML reporting on a legacy head: rows_before/rows_deleted are
    # manifest+footer sums (the only scan is the survivor rewrite)
    _strip_rows(table_path, v5)
    res = snapshots.delete_where(spark, table_path, "id >= 32")
    assert (res["rows_before"], res["rows_deleted"]) == (4, 2)


# --- one table format: foreign tables are refused ------------------


def test_delta_table_without_runtime_refuses_loudly(spark, tmp_path):
    """A directory that IS a Delta table (it holds ``_delta_log``) was
    written by another program: the snapshot log must neither read it
    as bare parquet — that would return uncommitted/tombstoned files
    as live rows — nor commit into it."""
    t = str(tmp_path / "delta_born")
    os.makedirs(os.path.join(t, "_delta_log"))
    before = sorted(os.listdir(t))
    with pytest.raises(RuntimeError, match="Delta"):
        snapshots.read_snapshot(spark, t)
    with pytest.raises(RuntimeError, match="Delta"):
        snapshots.snapshot_write(spark, _df(spark, 0, 5), t, "overwrite")
    assert sorted(os.listdir(t)) == before == ["_delta_log"]
    assert os.listdir(os.path.join(t, "_delta_log")) == []


def test_staged_only_log_has_no_default_head(spark, tmp_path):
    """A log whose only snapshot is a staged WAP batch has no main
    head: every entry point that defaults its version raises the same
    ValueError as read_snapshot instead of falling through to the
    unpublished stage (planning it, tagging it, or cloning it as the
    clone's PUBLISHED v0 — which would skip the audit entirely),
    while an explicit version still reads the stage for audit."""
    t = str(tmp_path / "staged_only")
    df = spark.range(0, 10).selectExpr("id AS a", "id * 2 AS v").coalesce(1)
    assert snapshots.snapshot_write(
        spark, df, t, "append", staged_id="b1",
        stats_cols=["a"], bloom_cols=["a"],
    ) == 0
    assert snapshots.published_versions(t) == []
    with pytest.raises(ValueError) as head:
        snapshots.read_snapshot(spark, t)
    msg = str(head.value)
    assert "no published snapshots" in msg

    clone = str(tmp_path / "staged_only_clone")
    defaults = {
        "tag_snapshot": lambda: snapshots.tag_snapshot(t, "prod"),
        "clone_snapshot": lambda: snapshots.clone_snapshot(t, clone),
        "create_branch": lambda: snapshots.create_branch(t, "dev"),
        "plan_pruned_files": lambda: snapshots.plan_pruned_files(
            t, {"a": (0, 5)}
        ),
        "read_snapshot_pruned": lambda: snapshots.read_snapshot_pruned(
            spark, t, {"a": (0, 5)}
        ),
        "plan_bloom_pruned_files": lambda: snapshots.plan_bloom_pruned_files(
            t, "a", 3
        ),
        "read_snapshot_bloom_pruned": (
            lambda: snapshots.read_snapshot_bloom_pruned(spark, t, "a", 3)
        ),
        "read_snapshot_evolved": lambda: snapshots.read_snapshot_evolved(
            spark, t
        ),
        "read_snapshot_incremental": (
            lambda: snapshots.read_snapshot_incremental(spark, t, 0)
        ),
        "optimize_zorder": lambda: snapshots.optimize_zorder(
            spark, t, {"a": (0, 10)}, n_files=1
        ),
        "rewrite_data_files": lambda: snapshots.rewrite_data_files(
            spark, t, target_files=1
        ),
        "delete_where": lambda: snapshots.delete_where(spark, t, "a > 3"),
        "update_where": lambda: snapshots.update_where(
            spark, t, "a > 3", {"v": "0"}
        ),
        "merge_into": lambda: snapshots.merge_into(
            spark, t, df.limit(1), on=["a"]
        ),
    }
    for name, call in defaults.items():
        with pytest.raises(ValueError) as err:
            call()
        assert str(err.value) == msg, name
    # nothing was committed, tagged, branched or cloned
    assert snapshots.versions(t) == [0]
    with pytest.raises(ValueError, match="unknown tag"):
        snapshots.resolve_tag(t, "prod")
    assert snapshots.list_branches(t) == {}
    assert snapshots.versions(clone) == []

    # an explicit version still audits the stage
    assert snapshots.read_snapshot(spark, t, 0).count() == 10
    assert snapshots.read_snapshot_evolved(spark, t, 0).count() == 10
    planned, total = snapshots.plan_pruned_files(
        t, {"a": (0, 5)}, version=0
    )
    assert total == 1 and len(planned) == 1
    assert snapshots.read_snapshot_pruned(
        spark, t, {"a": (0, 5)}, version=0
    ).count() == 6
    assert snapshots.plan_bloom_pruned_files(t, "a", 3, version=0)[0] == (
        planned
    )
    assert snapshots.tag_snapshot(t, "audit", version=0) == 0
