"""Minimal snapshot/transaction log over plain-Parquet tables — the
engine's only table format.

The reference's Silver/Gold tables are Iceberg: ACID append,
snapshots, time travel, expire_snapshots / remove_orphan_files
procedures (``glue-jobs/noaa_ghcn_bronze_to_silver.py:108-143``,
``glue-jobs/iceberg_maintenance.py:47-81``). This module implements
the table-format *idea* from first principles, the way Delta's log
works: a table is a directory of immutable parquet files plus an
ordered log of manifests, where manifest N lists the files live at
version N. WAP staging, branches, tags, segments and stats/bloom
manifest pruning all live on the same log. A directory that holds
a Delta table's ``_delta_log`` is refused by every write and read
with ``RuntimeError``, so the log never adopts or corrupts a table
another program wrote.

- writes go through ``snapshot_write``: new part files land in the
  directory (parquet append — filenames are already UUID-unique),
  then one manifest commit makes them visible. Overwrite commits a
  manifest WITHOUT the old files but leaves them on disk — that is
  what makes time travel and snapshot expiry meaningful;
- ``read_snapshot(..., version=N)`` is a real time-travel read: it
  hands Catalyst exactly manifest N's file list (scan prunes to
  those files; all pushdown still applies). Every reader and planner
  resolves ``version=None`` to main's latest PUBLISHED version and
  raises ``ValueError`` on an empty or staged-only log;
- ``expire_snapshots`` (M1) drops manifests beyond the retention
  window — real work with an ``applied: True`` result;
- ``remove_orphans`` (M3) diffs the directory against the union of
  live manifests and deletes unreferenced part files — the exact
  contract of Iceberg's remove_orphan_files.

Writer concurrency: the manifest commit is a put-if-absent (atomic
exclusive create), so two writers racing for the same version can
never clobber each other — exactly one commits, the other raises
:class:`SnapshotConflictError` (Iceberg's ``CommitFailedException``
contract: the caller re-reads the table state and retries). The
reference's schedule is one-Glue-job-per-table, so conflicts are
the exception path, not the steady state; on an object store the
same commit maps to put-if-absent/CAS.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_snapshots"

# remove_orphans only sweeps in-flight .json.tmp segment files older
# than this (Iceberg remove_orphan_files' older_than contract): a
# younger tmp may belong to a concurrent writer's imminent os.replace.
_ORPHAN_TMP_GRACE_SECONDS = 300.0


class SnapshotConflictError(RuntimeError):
    """Another writer committed this snapshot version first; re-read
    the table state and retry the write (Iceberg
    ``CommitFailedException`` semantics)."""


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, LOG_DIR)


def _refuse_foreign(table_path: str) -> None:
    """A directory holding a Delta ``_delta_log`` was written by
    another program: reading it as bare parquet would return
    uncommitted or tombstoned files as live rows, and committing a
    manifest into it would fork the table's history. Refuse both."""
    if os.path.isdir(os.path.join(table_path, "_delta_log")):
        raise RuntimeError(
            f"{table_path!r} is a Delta table (it holds _delta_log); "
            "the snapshot log neither reads nor writes foreign tables"
        )


def _manifest_file(table_path: str, version: int) -> str:
    return os.path.join(_log_path(table_path), f"{version:012d}.json")


def versions(table_path: str) -> list[int]:
    """All committed snapshot versions, ascending."""
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return []
    # only digit-named manifests are versions (the log dir also holds
    # constraints.json and the segments/ subdir)
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(log)
        if f.endswith(".json") and f.split(".")[0].isdigit()
    )


def _segments_dir(table_path: str) -> str:
    return os.path.join(_log_path(table_path), "segments")


def _read_manifest_raw(table_path: str, version: int) -> dict:
    """The manifest exactly as committed — a segmented manifest keeps
    its ``segments`` reference list, files unresolved."""
    with open(_manifest_file(table_path, version)) as fh:
        return json.load(fh)


def _write_segment(table_path: str, content: dict) -> str:
    """Persist an immutable manifest segment (its own file subset +
    per-file stats/bloom); returns the segment file name. Segments are
    content-complete and never rewritten, so later commits reference
    them by name at O(1) metadata cost."""
    seg_dir = _segments_dir(table_path)
    os.makedirs(seg_dir, exist_ok=True)
    name = f"seg-{uuid.uuid4().hex}.json"
    tmp = os.path.join(seg_dir, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(content, fh)
    os.replace(tmp, os.path.join(seg_dir, name))
    return name


def _read_manifest(table_path: str, version: int) -> dict:
    """Resolved manifest view: always carries ``files`` (and merged
    ``stats``/``bloom``), whether the commit was inline or segmented —
    every reader downstream sees ONE shape."""
    m = _read_manifest_raw(table_path, version)
    if "segments" not in m:
        return m
    files: set[str] = set()
    stats: dict = {}
    bloom: dict = {}
    rows: dict = {}
    for name in m["segments"]:
        with open(os.path.join(_segments_dir(table_path), name)) as fh:
            seg = json.load(fh)
        files.update(seg["files"])
        stats.update(seg.get("stats", {}))
        bloom.update(seg.get("bloom", {}))
        rows.update(seg.get("rows", {}))
    out = dict(m)
    out["files"] = sorted(files)
    if stats:
        out["stats"] = stats
    if bloom:
        out["bloom"] = bloom
    if rows:
        out["rows"] = rows
    return out


def _data_files(table_path: str) -> set[str]:
    return {
        f
        for f in os.listdir(table_path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }


def _file_footer(path: str):
    """One parquet footer read for a just-written file. On object
    storage every ``ParquetFile`` open is a GET round-trip, so the
    commit path reads each new file's footer ONCE and derives both
    the column stats and the row count from it."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata


def _file_column_stats(path: str, cols: list[str], md=None) -> dict:
    """Per-file min/max for ``cols`` from the parquet FOOTER (row
    group statistics — no data pages read; this is exactly what
    Iceberg stores per data file in its manifests). All-null or
    stats-less columns are omitted, which the pruner treats as
    always-candidate (never wrongly skipped)."""
    import datetime

    def safe(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    if md is None:
        md = _file_footer(path)
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for col in cols:
        idx = names.get(col)
        if idx is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[col] = [safe(lo), safe(hi)]
    return out


def _file_row_count(path: str, md=None) -> int:
    """Row count from the parquet FOOTER — no data pages read. Every
    commit records this per new file so version-level row counts
    (``snapshot_history``) are a metadata sum, never a scan job."""
    if md is None:
        md = _file_footer(path)
    return md.num_rows


def _complete_rows(table_path: str, manifest: dict) -> dict[str, int]:
    """Per-file row counts covering EVERY file in ``manifest`` —
    recorded counts where the commit wrote them, one parquet-footer
    read per missing file otherwise (pre-row-count legacy logs). The
    lazy backfill that keeps DML reporting and ``snapshot_history``
    metadata-only on tables of any age: a footer read is a bounded
    GET, never a scan job, and every metadata commit that passes
    through here (publish / rollback / clone / fast-forward / append
    base) persists the completed map so the backfill is paid at most
    once per legacy file."""
    rows = manifest.get("rows", {})
    return {
        f: (
            rows[f]
            if f in rows
            else _file_row_count(os.path.join(table_path, f))
        )
        for f in manifest["files"]
    }


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    staged_id: str | None = None,
    branch: str | None = None,
    segmented: bool = False,
) -> int:
    """Write ``df`` as a new snapshot; returns the committed version.

    ``staged_id`` commits the snapshot as STAGED (Iceberg
    write-audit-publish: the snapshot exists, is auditable by
    explicit version, but the default read — "main" — does not see
    it until :func:`publish_staged` cherry-picks it). A staged
    append's base is the last PUBLISHED manifest, so publishing
    yields exactly base + batch.

    ``mode='append'``: new manifest = previous live files + new part
    files. ``mode='overwrite'``: new manifest = new part files only;
    prior files stay on disk, readable via time travel until expired.

    ``stats_cols`` records per-file min/max for those columns in the
    manifest (footer-only reads — Iceberg's data-file stats), which
    :func:`read_snapshot_pruned` uses to plan range scans over only
    the files whose ranges intersect the predicate.

    ``bloom_cols`` additionally records a per-file bloom bitset for
    those columns (Iceberg/Puffin-style blobs), which
    :func:`read_snapshot_bloom_pruned` uses to plan EQUALITY lookups
    — the skipping structure for high-cardinality keys that min/max
    ranges can't prune unless the data is range-clustered.

    ``segmented=True`` commits the manifest as a SEGMENT REFERENCE
    LIST instead of an inline file list (Iceberg's manifest-list →
    manifest-file hierarchy): each commit's new files (plus their
    stats/bloom) land in one immutable segment; an append's manifest
    is the base's segment list + that one new segment. Metadata
    written per append is O(files added), never O(files in table) —
    the property that lets a petabyte table absorb appends without
    rewriting its file inventory every commit. Readers are unchanged
    (resolution is transparent in ``_read_manifest``), inline and
    segmented commits interoperate on the same log (an append onto an
    inline base converts the base into one segment, once), and
    ``remove_orphans`` reclaims segments no live manifest references.

    ``branch`` commits onto a named BRANCH (Iceberg branch
    semantics): the append base is the branch's current head — never
    main's — the manifest is marked with the branch name so main
    readers (:func:`published_versions`) skip it, and on success the
    branch ref advances to the new version. The branch must already
    exist (:func:`create_branch`). ``staged_id`` and ``branch`` are
    mutually exclusive (staging IS the anonymous one-shot branch).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot_write mode must be append/overwrite, got {mode!r}")
    if staged_id is not None and branch is not None:
        raise ValueError("staged_id and branch are mutually exclusive")
    _refuse_foreign(table_path)
    if branch is not None:
        resolve_branch(table_path, branch)  # must exist; raises otherwise
    os.makedirs(_log_path(table_path), exist_ok=True)
    # Stage into a PRIVATE directory, then move part files into the
    # table root. Writing straight into the table root would (a) share
    # Hadoop's _temporary/0 committer dir between concurrent writers —
    # the first job to commit deletes it out from under the other —
    # and (b) force a before/after directory diff that could attribute
    # a concurrent writer's files to this manifest. Part-file names
    # embed the job UUID, so moves into the root cannot collide.
    stage = os.path.join(table_path, f"__stage.{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    new_files = []
    for f in sorted(os.listdir(stage)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            os.rename(os.path.join(stage, f), os.path.join(table_path, f))
            new_files.append(f)
    shutil.rmtree(stage, ignore_errors=True)

    vs = versions(table_path)
    version = (vs[-1] + 1) if vs else 0
    stats: dict = {}
    bloom: dict = {}
    rows: dict = {}
    # append base: the branch head for branch commits, else the last
    # PUBLISHED state — a staged snapshot must never become part of
    # another write's lineage before publish
    if branch is not None:
        base_v: int | None = resolve_branch(table_path, branch)
    else:
        pub = published_versions(table_path)
        base_v = pub[-1] if pub else None
    prev_segments: list[str] | None = None
    prev: dict | None = None
    if mode == "append" and base_v is not None:
        prev = _read_manifest(table_path, base_v)
        live = prev["files"]
        stats.update(prev.get("stats", {}))
        bloom.update(prev.get("bloom", {}))
        # completed (footer-backfilled) so an append onto a legacy
        # pre-row-count base commits a fully-counted manifest
        rows.update(_complete_rows(table_path, prev))
        prev_segments = _read_manifest_raw(table_path, base_v).get(
            "segments"
        )
    else:
        live = []
    for f in new_files:
        # ONE footer read per just-written file serves the column
        # stats, the always-recorded row count, AND the bloom
        # builder's schema probe (each open is a GET round-trip on
        # object storage); the row counts keep snapshot_history
        # metadata-only at any table size
        path = os.path.join(table_path, f)
        md = _file_footer(path)
        if stats_cols:
            stats[f] = _file_column_stats(path, list(stats_cols), md=md)
        rows[f] = _file_row_count(path, md=md)
        if bloom_cols:
            bloom[f] = _file_bloom(path, list(bloom_cols), md=md)
    manifest = {
        "version": version,
        "mode": mode,
        "committed_at": time.time(),
    }
    if segmented:
        segs: list[str] = []
        if mode == "append" and live:
            if prev_segments:
                segs.extend(prev_segments)  # O(1) reuse, never rewritten
            else:
                # inline base: convert its full state into ONE segment
                # (one-time O(files) cost; every later append is O(delta))
                assert prev is not None
                segs.append(
                    _write_segment(
                        table_path,
                        {
                            "files": list(prev["files"]),
                            "stats": prev.get("stats", {}),
                            "bloom": prev.get("bloom", {}),
                            # rows was completed from prev above
                            "rows": {
                                f: rows[f] for f in prev["files"]
                            },
                        },
                    )
                )
        if new_files:
            segs.append(
                _write_segment(
                    table_path,
                    {
                        "files": sorted(new_files),
                        "stats": {
                            f: stats[f] for f in new_files if f in stats
                        },
                        "bloom": {
                            f: bloom[f] for f in new_files if f in bloom
                        },
                        "rows": {
                            f: rows[f] for f in new_files if f in rows
                        },
                    },
                )
            )
        manifest["segments"] = segs
    else:
        manifest["files"] = sorted(set(live) | set(new_files))
        if stats:
            manifest["stats"] = {
                f: stats[f] for f in manifest["files"] if f in stats
            }
        if bloom:
            manifest["bloom"] = {
                f: bloom[f] for f in manifest["files"] if f in bloom
            }
        if rows:
            manifest["rows"] = {
                f: rows[f] for f in manifest["files"] if f in rows
            }
    if staged_id is not None:
        manifest["staged"] = staged_id
    if branch is not None:
        manifest["branch"] = branch
    _commit_manifest(table_path, version, manifest)
    if branch is not None:
        _move_branch(table_path, branch, version)
    return version


def _put_if_absent(final: str, content: dict) -> bool:
    """Write ``content`` as JSON at ``final`` only if nothing is there;
    False when another writer got there first. The tmp file is
    hard-linked to the final name (atomic, fails with EEXIST) rather
    than ``os.replace``d (which would silently clobber the winner).
    Manifests, tags and branch refs all commit through here."""
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(content, fh)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _commit_manifest(table_path: str, version: int, manifest: dict) -> None:
    """Atomically publish ``manifest`` as ``version`` — put-if-absent.
    A losing writer raises :class:`SnapshotConflictError`; its data
    files stay on disk, unreferenced by any manifest, until
    ``remove_orphans`` reclaims them."""
    if not _put_if_absent(_manifest_file(table_path, version), manifest):
        raise SnapshotConflictError(
            f"version {version} at {table_path!r} was committed by "
            f"another writer; re-read the table state and retry"
        )


def _commit_copy(
    table_path: str,
    version: int,
    src_table: str,
    src_version: int,
    provenance: dict,
    prefix: str = "",
) -> int:
    """Commit ``version`` of ``table_path`` as a metadata-only copy of
    ``src_table``'s manifest ``src_version``: its files, stats, bloom
    and complete per-file row counts (a legacy source is backfilled
    from footers, so the copy is countable without a scan). Each file
    reference becomes ``os.path.join(prefix, f)`` — the identity for
    the default empty prefix, an absolute path into the source for a
    shallow clone. ``provenance`` (mode plus where the files came
    from) heads the manifest. Returns ``version``."""
    src = _read_manifest(src_table, src_version)
    ref = {f: os.path.join(prefix, f) for f in src["files"]}
    rows = _complete_rows(src_table, src)
    manifest = {
        "version": version,
        **provenance,
        "committed_at": time.time(),
        "files": sorted(ref.values()),
    }
    for key in ("stats", "bloom"):
        if src.get(key):
            manifest[key] = {
                ref[f]: meta for f, meta in src[key].items() if f in ref
            }
    manifest["rows"] = {ref[f]: n for f, n in rows.items()}
    _commit_manifest(table_path, version, manifest)
    return version


def published_versions(table_path: str) -> list[int]:
    """Versions visible on "main": every committed version except
    STAGED ones (write-audit-publish snapshots not yet published)
    and BRANCH commits (visible only through their branch ref)."""
    return [
        v
        for v in versions(table_path)
        if not (
            {"staged", "branch"} & _read_manifest(table_path, v).keys()
        )
    ]


def publish_staged(table_path: str, staged_id: str) -> int:
    """PUBLISH step of write-audit-publish: cherry-pick the staged
    snapshot carrying ``staged_id`` onto main — a NEW commit whose
    file list (and stats/bloom) copies the staged manifest's, exactly
    Iceberg's ``cherrypick_snapshot``. Metadata-only (no data files
    move); the staged version stays in history for audit. Raises
    ``ValueError`` when no staged snapshot carries ``staged_id``."""
    staged_v = None
    for v in versions(table_path):
        if _read_manifest(table_path, v).get("staged") == staged_id:
            staged_v = v  # latest wins if re-staged
    if staged_v is None:
        raise ValueError(
            f"no staged snapshot with id {staged_id!r} at {table_path!r}"
        )
    return _commit_copy(
        table_path,
        versions(table_path)[-1] + 1,
        table_path,
        staged_v,
        {
            "mode": "publish",
            "published_from": staged_v,
            "staged_id": staged_id,
        },
    )


def _resolve_version(table_path: str, version: int | None = None) -> int:
    """The version a read, plan or maintenance op works on. ``None``
    means main's latest PUBLISHED version — never a staged WAP batch
    awaiting audit nor a branch commit; an explicit ``version`` may
    name either (that is how a stage is audited). Raises
    ``ValueError`` on an empty log, a staged-only log with no
    explicit version, and a version that is not committed."""
    _refuse_foreign(table_path)
    vs = versions(table_path)
    if not vs:
        raise ValueError(f"no snapshots at {table_path}")
    if version is None:
        pub = published_versions(table_path)
        if not pub:
            raise ValueError(
                f"no published snapshots at {table_path} "
                f"(staged-only history; publish or read by version)"
            )
        return pub[-1]
    if version not in vs:
        raise ValueError(
            f"version {version} not in {vs} (expired or never committed)"
        )
    return version


def _read_files(
    spark: SparkSession,
    table_path: str,
    files: list[str],
    merge_schema: bool = False,
) -> DataFrame:
    """Scan exactly ``files`` (relative to ``table_path``, or absolute
    for a shallow clone's references); no files reads as the table's
    zero-row frame."""
    if not files:
        return spark.read.parquet(table_path).limit(0)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(table_path, f) for f in files])


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the DataFrame scans exactly the part files
    live at ``version`` (default: latest PUBLISHED — staged
    write-audit-publish snapshots are invisible to main until
    published, though an explicit ``version`` can audit them).
    Column pruning and filter pushdown apply per-file as with any
    parquet scan."""
    v = _resolve_version(table_path, version)
    files = _read_manifest(table_path, v)["files"]
    return _read_files(spark, table_path, files)


def _plan_files(
    table_path: str, version: int | None, meta_key: str, excludes
) -> tuple[list[str], int]:
    """Manifest scan planning: keep each live file unless
    ``excludes(file_meta)`` proves it holds no match, where
    ``file_meta`` is the file's entry under ``meta_key`` ("stats" or
    "bloom"; empty when none was recorded, which never excludes).
    Returns ``(planned_files, total_live_files)``."""
    m = _read_manifest(table_path, _resolve_version(table_path, version))
    meta = m.get(meta_key, {})
    planned = [f for f in m["files"] if not excludes(meta.get(f, {}))]
    return planned, len(m["files"])


def plan_pruned_files(
    table_path: str,
    preds: dict,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Iceberg-style conjunctive scan planning: keep a file only if
    EVERY ``col: (lo, hi)`` predicate intersects that file's recorded
    min/max (missing stats for a column keep the file — never skip a
    candidate). This is the planner a Z-ORDERED layout feeds: Morton
    clustering makes every file's footer range tight on every
    clustered column simultaneously, so an N-dimensional range query
    prunes multiplicatively instead of on one leading column.
    Returns ``(planned_files, total_live_files)``."""

    def excludes(fstats: dict) -> bool:
        return any(
            (rng := fstats.get(col)) is not None
            and (hi < rng[0] or lo > rng[1])
            for col, (lo, hi) in preds.items()
        )

    return _plan_files(table_path, version, "stats", excludes)


def read_snapshot_pruned(
    spark: SparkSession,
    table_path: str,
    preds: dict,
    version: int | None = None,
) -> DataFrame:
    """Ranged read that opens ONLY the stat-intersecting files
    (conjunctive pruning over ``{col: (lo, hi)}``), with the exact
    residual filters applied to surviving rows. This is the
    metadata-pruned scan that keeps a key-ranged query over a
    petabyte table proportional to the files actually touched —
    the same job hive partitioning does for dates, but driven by
    footer stats on ANY clustered column, no directory layout
    needed."""
    import functools
    import operator

    import pyspark.sql.functions as F

    planned, _total = plan_pruned_files(table_path, preds, version)
    residual = functools.reduce(
        operator.and_,
        [F.col(c).between(lo, hi) for c, (lo, hi) in preds.items()],
    )
    return _read_files(spark, table_path, planned).filter(residual)


def read_snapshot_incremental(
    spark: SparkSession,
    table_path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Iceberg incremental-scan semantics: read ONLY the data files
    ADDED after ``since_version`` up to ``to_version`` (default
    latest published) — the input an incremental consumer (downstream
    ETL, a backfill, a CDC-less append feed) processes per cycle. A
    metadata-only diff of the two manifests' file lists; cost is
    proportional to the files appended, never the table. Overwritten
    files (removed then re-added) count as added — same as Iceberg's
    append-scan over an overwrite boundary."""
    base = set(
        _read_manifest(
            table_path, _resolve_version(table_path, since_version)
        )["files"]
    )
    now = _read_manifest(table_path, _resolve_version(table_path, to_version))
    added = [f for f in now["files"] if f not in base]
    return _read_files(spark, table_path, added)


def _recorded_cols(manifest: dict, meta_key: str) -> list[str]:
    """Columns the manifest records ``meta_key`` ("stats" or "bloom")
    for on any file — the skipping surface a rewrite carries over."""
    per_file = manifest.get(meta_key, {}).values()
    return sorted({c for fmeta in per_file for c in fmeta})


def optimize_zorder(
    spark: SparkSession,
    table_path: str,
    col_ranges: dict,
    n_files: int,
    bits: int = 8,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    segmented: bool = False,
) -> int:
    """Delta ``OPTIMIZE ... ZORDER BY`` for the snapshot log: rewrite
    the CURRENT snapshot's live rows clustered by the Morton
    interleave of ``col_ranges`` (one range-partition shuffle +
    within-partition sort — ``layout.zorder_code``'s pure-codegen
    expression, no UDF) and commit the rewrite as a new OVERWRITE
    snapshot carrying fresh per-file min/max stats for every
    clustered column. The pre-optimize files stay on disk,
    time-travelable until expiry — OPTIMIZE is a logical rewrite,
    exactly like Delta's.

    Why this is a maintenance operation and not a write option: data
    usually ARRIVES clustered by ingest time, while queries filter on
    other columns; re-clustering periodically makes every file's
    footer range tight on every Z-ordered column simultaneously, so
    ``plan_pruned_files``' conjunctive pruning drops from
    "every file overlaps" to a cell of the file grid. Returns the
    committed version.

    Skipping metadata carries over rather than silently degrading:
    ``stats_cols`` defaults to the union of the Z-order columns and
    every column the current manifest already records min/max for,
    and ``bloom_cols`` defaults to the columns the current manifest
    records bloom bitsets for — so a table maintained for point
    lookups keeps its bloom pruning through an OPTIMIZE. Pass
    explicit lists to change the skipping surface; pass
    ``segmented=True`` to keep a segmented table's manifest-list
    layout (the rewrite is one fresh segment either way)."""
    from aws_lakehouse_spark.layout import zorder_code

    cur_v = _resolve_version(table_path)
    cur_m = _read_manifest(table_path, cur_v)
    if stats_cols is None:
        carried = _recorded_cols(cur_m, "stats")
        stats_cols = sorted(set(col_ranges) | set(carried))
    if bloom_cols is None:
        bloom_cols = _recorded_cols(cur_m, "bloom")

    current = read_snapshot(spark, table_path, cur_v)
    clustered = (
        current.withColumn("__z", zorder_code(col_ranges, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return snapshot_write(
        spark,
        clustered,
        table_path,
        "overwrite",
        stats_cols=stats_cols,
        bloom_cols=bloom_cols or None,
        segmented=segmented,
    )


def rewrite_data_files(
    spark: SparkSession,
    table_path: str,
    target_files: int,
    segmented: bool = False,
) -> dict:
    """Iceberg ``rewrite_data_files`` / Delta ``OPTIMIZE`` bin-pack:
    coalesce the CURRENT snapshot's live rows into ``target_files``
    part files and commit the rewrite as a new time-travelable
    OVERWRITE — the small-files cure for streaming/trickle-ingested
    tables, where thousands of kilobyte files make every scan pay
    per-file open/footer costs and blow up manifest size. Metadata
    the table maintains (min/max stats columns, bloom columns)
    carries through, same policy as :func:`optimize_zorder`; unlike
    Z-ordering this preserves no clustering — it is the cheap
    rewrite you run hourly, with OPTIMIZE ZORDER the periodic one.
    Returns {files_before, files_after, version}."""
    cur_v = _resolve_version(table_path)
    cur_m = _read_manifest(table_path, cur_v)
    stats_cols = _recorded_cols(cur_m, "stats")
    bloom_cols = _recorded_cols(cur_m, "bloom")
    current = read_snapshot(spark, table_path, cur_v)
    v = snapshot_write(
        spark,
        current.coalesce(target_files),
        table_path,
        "overwrite",
        stats_cols=stats_cols or None,
        bloom_cols=bloom_cols or None,
        segmented=segmented,
    )
    new_m = _read_manifest(table_path, v)
    return {
        "op": "rewrite_data_files",
        "applied": True,
        "files_before": len(cur_m["files"]),
        "files_after": len(new_m["files"]),
        "version": v,
    }


BLOOM_M_BITS = 16384  # MINIMUM bloom width; _file_bloom sizes by NDV
BLOOM_K = 3  # hash functions


def _bloom_positions(value, m: int = BLOOM_M_BITS, k: int = BLOOM_K) -> list[int]:
    """Deterministic bit positions for ``value``: k independent
    md5-derived hashes over the stringified value. Callers must probe
    with the same Python type they wrote (str(42) != str('42.0'))."""
    import hashlib

    s = str(value)
    return [
        int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def _file_bloom(path: str, cols: list[str], md=None) -> dict:
    """Per-file bloom bitsets (hex-encoded) for ``cols`` — the
    Iceberg/Puffin-style point-lookup skipping complement to the
    min/max footer stats: min/max prunes RANGE predicates on
    clustered columns; a bloom prunes EQUALITY predicates on any
    column, clustered or not. The caller-supplied footer metadata
    (``md``, the same object the commit path already read for stats
    and row counts) answers the which-columns-exist probe without a
    second footer GET; the values come from ONE projected read of
    all requested columns (one object-storage round-trip, not one
    per column — the same cost Iceberg pays to emit its bloom
    blobs), with a per-column fallback so one unreadable column
    drops only its own bloom, never every column's."""
    import pyarrow.parquet as pq

    out: dict = {}
    try:
        if md is None:
            md = _file_footer(path)
        present = set(md.schema.to_arrow_schema().names)
        want = [c for c in cols if c in present]
        if not want:
            return out
    except Exception:
        return out
    try:
        t = pq.read_table(path, columns=want)
        columns = {c: t.column(c) for c in want}
    except Exception:
        # combined read failed (e.g. one undecodable column):
        # degrade per column instead of dropping every bloom —
        # a missing bloom only disables pruning for that column
        columns = {}
        for c in want:
            try:
                columns[c] = pq.read_table(path, columns=[c]).column(c)
            except Exception:
                continue
    for col, arr in columns.items():
        vals = {v for v in arr.to_pylist() if v is not None}
        # ADAPTIVE sizing (Iceberg sizes its bloom blobs by NDV too):
        # with k=3 hashes, ~10 bits/key gives ~1.7% false positives.
        # The old fixed 16 Kbit bitset saturated one decade above the
        # bench scale (18.7k keys/file -> kn/m = 3.4 -> ~90% FP ->
        # every file a candidate, zero pruning; caught by the r8 sf1
        # parity sweep). Power-of-two widths, floored at 16 Kbit so
        # small files' blobs are byte-identical to the old format;
        # the probe derives the width from the stored blob, so old
        # manifests stay readable.
        m = BLOOM_M_BITS
        while m < 10 * len(vals):
            m *= 2
        bits = bytearray(m // 8)
        for v in vals:
            for h in _bloom_positions(v, m=m):
                bits[h >> 3] |= 1 << (h & 7)
        out[col] = bits.hex()
    return out


def _bloom_maybe_contains(hex_bits: str, value) -> bool:
    bits = bytes.fromhex(hex_bits)
    # width travels with the blob (adaptive sizing): probe with the
    # same modulus the writer used
    return all(
        bits[h >> 3] & (1 << (h & 7))
        for h in _bloom_positions(value, m=len(bits) * 8)
    )


def plan_bloom_pruned_files(
    table_path: str, col: str, value, version: int | None = None
) -> tuple[list[str], int]:
    """Equality-predicate scan planning from the manifest's per-file
    bloom filters: keep only files whose bloom POSSIBLY contains
    ``value``. Files without a recorded bloom for ``col`` are kept
    (pruning must never drop a candidate). Returns
    ``(planned_files, total_live_files)``."""
    return _plan_files(
        table_path,
        version,
        "bloom",
        lambda fbloom: col in fbloom
        and not _bloom_maybe_contains(fbloom[col], value),
    )


def read_snapshot_bloom_pruned(
    spark: SparkSession,
    table_path: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point-lookup read that opens ONLY the bloom-candidate files,
    with the exact equality residual applied to surviving rows (a
    bloom admits false positives, never false negatives). At 100 TB
    this turns `WHERE key = x` over an unpartitioned table from a
    full scan into a handful of file opens — the complement of
    min/max range pruning for high-cardinality, unclustered keys."""
    import pyspark.sql.functions as F

    planned, _total = plan_bloom_pruned_files(table_path, col, value, version)
    return _read_files(spark, table_path, planned).filter(F.col(col) == value)


def expire_snapshots(
    table_path: str, retain_last: int = 2, older_than_s: float | None = None
) -> dict:
    """M1 — drop old manifests (the snapshot metadata), keeping the
    newest ``retain_last`` and anything newer than ``older_than_s``.
    Mirrors Iceberg ``expire_snapshots`` (iceberg_maintenance.py:
    47-56); orphaned data files are left for ``remove_orphans``.

    The last PUBLISHED version is always retained even when
    ``retain_last`` newer staged snapshots exist — it is main's head
    (Iceberg never expires a ref'd snapshot), and dropping it would
    leave the table with no default-readable state. Every BRANCH
    head is protected for the same reason (Iceberg never expires a
    snapshot a ref points to); drop the branch first to let its
    head expire."""
    vs = versions(table_path)
    keep = set(vs[-max(1, retain_last):])
    pub = published_versions(table_path)
    if pub:
        keep.add(pub[-1])
    keep.update(list_branches(table_path).values())
    now = time.time()
    expired = []
    for v in vs:
        if v in keep:
            continue
        if older_than_s is not None:
            if now - _read_manifest(table_path, v)["committed_at"] < older_than_s:
                continue
        os.remove(_manifest_file(table_path, v))
        expired.append(v)
    return {
        "op": "expire_snapshots",
        "applied": True,
        "expired_versions": expired,
        "retained_versions": sorted(set(vs) - set(expired)),
    }


def remove_orphans(
    table_path: str,
    older_than_seconds: float = _ORPHAN_TMP_GRACE_SECONDS,
) -> dict:
    """M3 — delete part files referenced by NO live manifest (the
    contract of Iceberg ``remove_orphan_files``, iceberg_maintenance
    .py:74-81). Run after ``expire_snapshots``; files belonging to
    still-retained versions are never touched.

    ``older_than_seconds`` mirrors Iceberg's ``older_than`` and
    applies to EVERY candidate — unreferenced data files,
    unreferenced segment .json files, and segment .json.tmp debris —
    because the log supports concurrent writers: a younger
    unreferenced file may belong to an in-flight commit (part files
    and segments land BEFORE the put-if-absent manifest commit that
    references them), and sweeping one makes that commit permanently
    unreadable. Pass 0 only when no writer can be in flight (e.g.
    single-writer test harnesses reclaiming just-expired files)."""
    live: set[str] = set()
    live_segments: set[str] = set()
    for v in versions(table_path):
        live |= set(_read_manifest(table_path, v)["files"])
        live_segments |= set(
            _read_manifest_raw(table_path, v).get("segments", [])
        )
    # the same older_than gate protects DATA files: a concurrent
    # snapshot_write lands its part files before its manifest commit,
    # so a fresh unreferenced part file may be about to become live
    now = time.time()
    orphans = []
    for f in sorted(_data_files(table_path) - live):
        path = os.path.join(table_path, f)
        try:
            if now - os.path.getmtime(path) <= older_than_seconds:
                continue
        except OSError:
            continue  # raced with a concurrent writer/sweeper
        orphans.append(f)
    for f in orphans:
        try:
            os.remove(os.path.join(table_path, f))
        except FileNotFoundError:
            pass  # a concurrent sweep got there first
    # manifest segments referenced by no live manifest (their
    # manifests were expired) are metadata orphans — same contract
    seg_dir = _segments_dir(table_path)
    seg_orphans: list[str] = []
    if os.path.isdir(seg_dir):
        # the log supports CONCURRENT writers (put-if-absent
        # commits), so a fresh segment file may belong to an
        # in-flight commit: a .json.tmp about to be os.replace-d,
        # or a renamed .json whose manifest commit hasn't landed
        # yet (it is unreferenced only for that window — sweeping
        # it would make the subsequent commit permanently
        # unreadable). Only sweep files older than a grace period,
        # mirroring Iceberg's remove_orphan_files(older_than=...)
        # contract, which applies the age gate to ALL candidates.
        now = time.time()
        for f in sorted(os.listdir(seg_dir)):
            path = os.path.join(seg_dir, f)
            is_candidate = (
                f.endswith(".json") and f not in live_segments
            ) or f.endswith(".json.tmp")
            if not is_candidate:
                continue
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue  # raced with the writer's os.replace
            if age > older_than_seconds:
                seg_orphans.append(f)
        for f in seg_orphans:
            try:
                os.remove(os.path.join(seg_dir, f))
            except FileNotFoundError:
                pass  # a concurrent sweep got there first
    return {
        "op": "remove_orphans",
        "applied": True,
        "removed_files": len(orphans),
        "removed_segments": len(seg_orphans),
    }


def _version_row_count(
    spark: SparkSession, table_path: str, version: int
) -> int:
    """Row count of a committed version from manifest metadata: per-
    file footer counts recorded at write time, lazily backfilled from
    the files' own parquet footers for pre-row-count legacy logs
    (:func:`_complete_rows`). NEVER a scan job — ``spark`` is unused
    and kept only for call-site compatibility (and so the no-scan
    contract is testable by passing ``spark=None``). Keeps DML
    reporting and history metadata-only on tables of any size or
    age."""
    del spark  # metadata-only by contract
    m = _read_manifest(table_path, version)
    return sum(_complete_rows(table_path, m).values())


def delete_where(
    spark: SparkSession, table_path: str, predicate
) -> dict:
    """Row-level DELETE with copy-on-write semantics (the
    Iceberg/Delta ``DELETE FROM t WHERE ...`` the reference's ACID
    layer provides): rows matching ``predicate`` (a Column or SQL
    string) disappear from the NEW snapshot version; prior versions
    still time-travel to the undeleted data.

    Copy-on-write: survivors are rewritten as new part files and the
    manifest commits only those — the deleted rows' files stay on
    disk for time travel until ``expire_snapshots`` + ``remove_
    orphans`` reclaim them. At scale the rewrite cost is bounded by
    the files that CONTAIN matches when the predicate aligns with
    the partition/file layout (min/max pruning); this implementation
    rewrites the live set, the honest local equivalent.
    """
    import pyspark.sql.functions as F  # noqa: F401 (Column coercion)

    base_v = _resolve_version(table_path)
    current = read_snapshot(spark, table_path, base_v)
    cond = predicate if not isinstance(predicate, str) else F.expr(predicate)
    # Iceberg/Delta DELETE removes rows where the predicate is TRUE;
    # rows where it evaluates NULL (three-valued logic, e.g. a
    # predicate over a NULL column) are KEPT. A bare filter(~cond)
    # would drop them, silently deleting rows the user never matched.
    survivors = current.filter(~F.coalesce(cond, F.lit(False)))
    # both counts are manifest sums (footer counts recorded at write
    # time) — the DELETE's only scan is the survivor rewrite itself
    n_before = _version_row_count(spark, table_path, base_v)
    version = snapshot_write(spark, survivors, table_path, "overwrite")
    return {
        "op": "delete_where",
        "version": version,
        "rows_before": n_before,
        "rows_deleted": n_before
        - _version_row_count(spark, table_path, version),
    }


def update_where(
    spark: SparkSession,
    table_path: str,
    predicate,
    assignments: dict,
) -> dict:
    """Row-level UPDATE, copy-on-write: rows matching ``predicate``
    get ``assignments`` (col -> Column/SQL expr) applied in the new
    snapshot version; everything else carries over unchanged. Same
    cost model and time-travel behavior as :func:`delete_where`.
    """
    import pyspark.sql.functions as F

    current = read_snapshot(spark, table_path)
    cond = predicate if not isinstance(predicate, str) else F.expr(predicate)
    updated = current
    for col, expr in assignments.items():
        val = expr if not isinstance(expr, str) else F.expr(expr)
        updated = updated.withColumn(
            col, F.when(cond, val).otherwise(F.col(col))
        )
    version = snapshot_write(spark, updated, table_path, "overwrite")
    return {"op": "update_where", "version": version}


def read_snapshot_evolved(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read with SCHEMA EVOLUTION: part files written
    under older schemas surface with the union-by-name schema, new
    columns NULL-backfilled (Iceberg/Delta add-column semantics).
    Plain ``read_snapshot`` hands Catalyst one file list and lets
    parquet's own schema resolution pick a winner; this variant sets
    ``mergeSchema`` so heterogeneous manifests read correctly."""
    v = _resolve_version(table_path, version)
    files = _read_manifest(table_path, v)["files"]
    return _read_files(spark, table_path, files, merge_schema=True)


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict | None = None,
    when_matched_delete=None,
    when_not_matched_insert: bool = True,
) -> dict:
    """Delta/Iceberg-style ``MERGE INTO`` against the snapshot table
    (the upsert DML the reference's ACID layer provides alongside
    DELETE/UPDATE — ``glue-jobs/noaa_ghcn_bronze_to_silver.py``'s
    Iceberg tables support the same statement): join ``source`` to
    the current snapshot on the ``on`` key columns, then

    - matched + ``when_matched_delete`` true -> row removed;
    - matched otherwise -> ``when_matched_update`` assignments
      applied; default (None) replaces every shared non-key column
      with the source value. Updates are whole-row atomic: all
      assignments come from the SAME source row.

    In ``when_matched_*`` expressions, target columns are referenced
    by their plain name and source columns as ``__src_<name>`` (the
    merge join aliases the source side to avoid ambiguity — the
    moral equivalent of Delta's ``source.``/``target.`` prefixes);
    - source-only + ``when_not_matched_insert`` -> source row
      inserted (projected to the target schema, missing cols NULL);
    - target-only -> carried over unchanged.

    Ambiguity contract (Delta's ``DeltaUnsupportedOperationException``
    for multiple source matches): if >1 source row matches one
    target key, the merge raises rather than pick nondeterministic
    winners.

    Scale: one shuffle-or-broadcast equi-join on the merge keys (AQE
    picks broadcast when ``source`` is small — the common CDC-batch
    shape); the duplicate-key guard is a count-aggregate on the
    source keyed the same way, so it reuses the join's partitioning.
    Copy-on-write commit like :func:`delete_where`.
    """
    import pyspark.sql.functions as F

    target = read_snapshot(spark, table_path)
    t_cols = target.columns
    for k in on:
        if k not in t_cols or k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from source or target")

    dup = (
        source.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in on}
        raise ValueError(
            f"MERGE source has multiple rows for key {key}; merge would be "
            "nondeterministic (Delta raises here too)"
        )

    src = source.select(
        *on, *[F.col(c).alias(f"__src_{c}") for c in source.columns if c not in on]
    )
    # a matched row has non-null presence on both sides; track with flags
    # (key cols can't distinguish sides after the USING-style join)
    target_f = target.withColumn("__in_tgt", F.lit(True))
    src_f = src.withColumn("__in_src", F.lit(True))
    joined = target_f.join(src_f, on=on, how="full_outer")
    matched = F.col("__in_tgt").isNotNull() & F.col("__in_src").isNotNull()

    def _src_view(c: str):
        return F.col(f"__src_{c}") if f"__src_{c}" in joined.columns else F.lit(None)

    delete_cond = F.lit(False)
    if when_matched_delete is not None:
        delete_cond = when_matched_delete
    survivors = joined.filter(~(matched & F.coalesce(delete_cond, F.lit(False))))

    if when_matched_update is None:
        when_matched_update = {
            c: _src_view(c)
            for c in t_cols
            if c not in on and f"__src_{c}" in joined.columns
        }

    out_cols = []
    for c in t_cols:
        if c in on:
            out_cols.append(F.col(c).alias(c))
            continue
        upd = when_matched_update.get(c, F.col(c))
        upd = F.expr(upd) if isinstance(upd, str) else upd
        src_only = F.col("__in_tgt").isNull()
        insert_val = _src_view(c) if when_not_matched_insert else F.lit(None)
        out_cols.append(
            F.when(matched, upd)
            .when(src_only, insert_val)
            .otherwise(F.col(c))
            .alias(c)
        )
    result = survivors.filter(
        F.col("__in_tgt").isNotNull()
        | (F.lit(bool(when_not_matched_insert)) & F.col("__in_src").isNotNull())
    ).select(*out_cols)

    version = snapshot_write(spark, result, table_path, "overwrite")
    return {"op": "merge_into", "version": version}


def rollback_to(table_path: str, version: int) -> int:
    """Roll the table back to an earlier snapshot by committing a NEW
    version whose file list is ``version``'s (Iceberg
    ``rollback_to_snapshot`` / Delta ``RESTORE`` semantics): history
    is never rewritten — the bad versions stay time-travelable for
    audit, and the restore itself is one more commit that readers
    pick up atomically. Metadata-only: no data files move or rewrite,
    so a restore of a petabyte table costs one manifest write.
    The restored table keeps the target's stats/bloom pruning.
    Returns the newly committed version."""
    version = _resolve_version(table_path, version)
    return _commit_copy(
        table_path,
        versions(table_path)[-1] + 1,
        table_path,
        version,
        {"mode": "rollback", "rolled_back_to": version},
    )


def clone_snapshot(
    src_table: str, dst_table: str, version: int | None = None
) -> int:
    """SHALLOW clone (Delta ``CREATE TABLE ... SHALLOW CLONE`` /
    Iceberg snapshot-ref semantics): commit version 0 of
    ``dst_table`` whose manifest references the SOURCE's live data
    files by absolute path — zero bytes copied, so cloning a
    petabyte table costs one manifest write. The clone then evolves
    independently: appends land new files in the clone's own
    directory, and copy-on-write DML (``delete_where`` /
    ``update_where`` / ``merge_into``) rewrites survivors locally,
    never touching the source. Per-file stats/bloom skipping
    metadata is carried over, so the clone keeps the source's scan
    pruning from commit zero.

    Caveat (same as Delta's): ``expire_snapshots`` +
    ``remove_orphans`` on the SOURCE can delete files a clone still
    references — retention policy on a cloned table must account
    for its clones, exactly as VACUUM on a Delta source breaks its
    shallow clones.
    """
    v = _resolve_version(src_table, version)
    _refuse_foreign(dst_table)
    if versions(dst_table):
        raise ValueError(f"clone target {dst_table!r} already has snapshots")
    src_root = os.path.abspath(src_table)
    os.makedirs(_log_path(dst_table), exist_ok=True)
    # absolute refs: read_snapshot's os.path.join(dst, f) returns f
    # unchanged when f is absolute, so the clone's reads, appends and
    # copy-on-write DML work with no special-casing anywhere
    return _commit_copy(
        dst_table,
        0,
        src_table,
        v,
        {"mode": "clone", "cloned_from": {"table": src_root, "version": v}},
        prefix=src_root,
    )


def tag_snapshot(
    table_path: str, name: str, version: int | None = None
) -> int:
    """Attach an immutable named tag (Iceberg tag semantics — the
    ``audit-ready``/``prod-validated`` bookmark workflow) to a
    snapshot version (default: latest). Tags live next to the
    manifests and commit put-if-absent like them: re-tagging an
    existing name raises :class:`SnapshotConflictError` rather than
    silently moving a published label. Returns the tagged version."""
    v = _resolve_version(table_path, version)
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name {name!r}")
    tags_dir = os.path.join(_log_path(table_path), "tags")
    os.makedirs(tags_dir, exist_ok=True)
    if not _put_if_absent(
        os.path.join(tags_dir, f"{name}.json"),
        {"name": name, "version": v, "tagged_at": time.time()},
    ):
        raise SnapshotConflictError(
            f"tag {name!r} already exists at {table_path!r}"
        )
    return v


def resolve_tag(table_path: str, name: str) -> int:
    """Tag name -> snapshot version (for ``read_snapshot(...,
    version=resolve_tag(...))`` — time travel by name)."""
    path = os.path.join(_log_path(table_path), "tags", f"{name}.json")
    try:
        with open(path) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        raise ValueError(f"unknown tag {name!r} at {table_path!r}") from None


def _branches_dir(table_path: str) -> str:
    return os.path.join(_log_path(table_path), "branches")


def create_branch(
    table_path: str, name: str, version: int | None = None
) -> int:
    """Create a named BRANCH ref (Iceberg branch semantics: a
    MOVABLE ref, where a tag is frozen) pointing at ``version``
    (default: main's published head). Creation is put-if-absent —
    hard-link commit like manifests/tags, so racing creators get a
    ``ValueError`` instead of silently stealing the name. Branch
    commits land via ``snapshot_write(..., branch=name)``; main
    readers never see them until :func:`fast_forward_main`."""
    version = _resolve_version(table_path, version)
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid branch name {name!r}")
    os.makedirs(_branches_dir(table_path), exist_ok=True)
    if not _put_if_absent(
        os.path.join(_branches_dir(table_path), f"{name}.json"),
        {
            "name": name,
            "version": version,
            "fork_base": version,
            "updated_at": time.time(),
        },
    ):
        raise ValueError(f"branch {name!r} already exists at {table_path!r}")
    return version


def _move_branch(
    table_path: str,
    name: str,
    version: int,
    fork_base: int | None = None,
) -> None:
    """Advance an existing branch ref (preserving its recorded fork
    base unless a new one is given). The manifest commit this
    follows is the put-if-absent race arbiter; the ref move itself is
    an atomic replace (manifests are immutable, so the ref always
    names a fully committed snapshot)."""
    final = os.path.join(_branches_dir(table_path), f"{name}.json")
    if fork_base is None:
        with open(final) as fh:
            fork_base = json.load(fh).get("fork_base")
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "name": name,
                "version": version,
                "fork_base": fork_base,
                "updated_at": time.time(),
            },
            fh,
        )
    os.replace(tmp, final)


def resolve_branch(table_path: str, name: str) -> int:
    """Branch name -> current head version."""
    path = os.path.join(_branches_dir(table_path), f"{name}.json")
    try:
        with open(path) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        raise ValueError(
            f"unknown branch {name!r} at {table_path!r}"
        ) from None


def list_branches(table_path: str) -> dict[str, int]:
    """All branches as name -> head version."""
    d = _branches_dir(table_path)
    if not os.path.isdir(d):
        return {}
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                j = json.load(fh)
            out[j["name"]] = int(j["version"])
    return out


def read_branch(
    spark: SparkSession, table_path: str, name: str
) -> DataFrame:
    """Read a branch's head state (``SELECT ... VERSION AS OF`` the
    branch ref)."""
    return read_snapshot(
        spark, table_path, version=resolve_branch(table_path, name)
    )


def fast_forward_main(table_path: str, name: str) -> int:
    """Fast-forward MAIN to a branch's head (Iceberg
    ``fast_forward('main', branch)``): a NEW published commit whose
    file list (and stats/bloom) copies the branch head's manifest —
    metadata-only, no data files move; the branch's commit history
    stays intact for audit. The branch keeps pointing at its head
    (drop it separately if the experiment is finished).

    True fast-forward ONLY: if main's published head has moved past
    the branch's fork base (a competing main commit landed since the
    fork), the merge is refused with ``ValueError`` — Iceberg's
    fast_forward likewise requires the target to be an ancestor of
    the source; resolving divergence is the caller's decision, never
    a silent overwrite. On success the branch's fork base advances
    to the new main head, so continue-then-merge-again flows keep
    working."""
    ref_path = os.path.join(_branches_dir(table_path), f"{name}.json")
    try:
        with open(ref_path) as fh:
            ref = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"unknown branch {name!r} at {table_path!r}"
        ) from None
    head = int(ref["version"])
    fork_base = ref.get("fork_base")
    pub = published_versions(table_path)
    main_head = pub[-1] if pub else None
    if fork_base is not None and main_head != fork_base:
        raise ValueError(
            f"cannot fast-forward main to branch {name!r}: main moved "
            f"from the fork base {fork_base} to {main_head}; rebase or "
            f"merge explicitly"
        )
    new_version = _commit_copy(
        table_path,
        versions(table_path)[-1] + 1,
        table_path,
        head,
        {
            "mode": "publish",
            "fast_forwarded_from": name,
            "published_from": head,
        },
    )
    # continue-then-merge-again: the branch keeps its head, but its
    # fork base advances to the commit main just gained
    _move_branch(table_path, name, head, fork_base=new_version)
    return new_version


def snapshot_history(spark: SparkSession, table_path: str) -> DataFrame:
    """Iceberg's ``table.history`` / Delta's ``DESCRIBE HISTORY`` as
    a queryable DataFrame: one row per committed version with its
    mode, file count, row count, and main-visibility — the metadata
    table operators point dashboards and audits at. METADATA-ONLY:
    every commit records per-file row counts in its manifest (one
    parquet-footer read per file at write time), so ``n_rows`` is a
    manifest sum — the history of a petabyte table costs zero scan
    jobs. Versions committed before row counts were recorded backfill
    each missing file's count from its parquet footer (a bounded
    metadata read, still zero scan jobs), so old logs stay readable
    AND metadata-only."""
    rows = []
    pub = set(published_versions(table_path))
    for v in versions(table_path):
        m = _read_manifest(table_path, v)
        n_rows = _version_row_count(spark, table_path, v)
        rows.append((v, m.get("mode", ""), len(m["files"]), n_rows, v in pub))
    return spark.createDataFrame(
        rows,
        "version int, mode string, n_files bigint, n_rows bigint, "
        "published boolean",
    )


class ConstraintViolationError(RuntimeError):
    """A write batch violated a table CHECK constraint; nothing was
    committed (Delta's ``CHECK constraint ... violated`` contract)."""


def _constraints_file(table_path: str) -> str:
    return os.path.join(_log_path(table_path), "constraints.json")


def table_constraints(table_path: str) -> dict[str, str]:
    """Named CHECK constraints registered on the table."""
    try:
        with open(_constraints_file(table_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def add_table_constraint(
    table_path: str, name: str, predicate_sql: str
) -> None:
    """Register a Delta-style CHECK constraint (``ALTER TABLE ... ADD
    CONSTRAINT name CHECK (predicate)``): every subsequent
    :func:`checked_snapshot_write` refuses to commit a batch with any
    row where the predicate is not TRUE — the write-time data
    contract that keeps one bad upstream batch from poisoning every
    consumer downstream. Constraints live in the table's log
    directory, so enforcement follows the table, not the caller."""
    os.makedirs(_log_path(table_path), exist_ok=True)
    cons = table_constraints(table_path)
    cons[name] = predicate_sql
    tmp = _constraints_file(table_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cons, fh)
    os.replace(tmp, _constraints_file(table_path))


def checked_snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    **kwargs,
) -> int:
    """:func:`snapshot_write` with the table's CHECK constraints
    enforced FIRST: one pass counts, per constraint, the rows where
    the predicate is not TRUE (SQL three-valued logic: NULL counts
    as a violation — a constraint must PROVE the row valid, matching
    Delta/ANSI CHECK semantics); any violation raises
    :class:`ConstraintViolationError` with per-constraint counts and
    NO version is committed. All violation counts come from a single
    aggregate over one scan of the batch (constraint count doesn't
    add passes), via the Observation-free conditional-sum shape.

    The batch is pinned (``localCheckpoint``) before validation so
    the CHECKED rows are the WRITTEN rows: without pinning, a
    nondeterministic ``df`` or a changing upstream source could pass
    the validation scan yet commit different (violating) rows when
    ``snapshot_write`` re-evaluates the plan (TOCTOU)."""
    import pyspark.sql.functions as F

    cons = table_constraints(table_path)
    if not cons:
        return snapshot_write(spark, df, table_path, mode, **kwargs)
    # localCheckpoint, not persist: a persisted batch whose blocks get
    # evicted would RECOMPUTE from lineage, and a nondeterministic
    # source could then commit rows the validation never saw — the
    # exact TOCTOU this pin exists to prevent. The checkpoint severs
    # lineage, so the checked bytes are the only bytes that can be
    # written; its blocks are reclaimed by the ContextCleaner once
    # this DataFrame is garbage-collected after the commit (bounded:
    # one batch in flight per call — DataFrame.unpersist() cannot
    # free them earlier, it only covers CacheManager entries).
    pinned = df.localCheckpoint(eager=True)
    names = list(cons)
    counts = pinned.agg(
        *[
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(cons[n]), F.lit(False)), 1
                ).otherwise(0)
            ).alias(n)
            for n in names
        ]
    ).collect()[0]
    bad = {n: counts[n] for n in names if (counts[n] or 0) > 0}
    if bad:
        raise ConstraintViolationError(
            f"write to {table_path!r} rejected: constraint "
            f"violations {bad}"
        )
    return snapshot_write(spark, pinned, table_path, mode, **kwargs)
