"""Data-layout operators: Z-order (Morton) clustering for writes.

The reference compacts files by size only (binpack,
``glue-jobs/iceberg_maintenance.py:59-69``); engines with
`OPTIMIZE ZORDER` additionally cluster rows so per-file min/max
statistics become selective on SEVERAL columns at once. This module
is that capability on plain Spark: an interleaved-bits (Morton) sort
key computed as pure JVM expressions. ``snapshots.optimize_zorder``
range-partitions a table rewrite on it — each output file then covers
a compact hyper-cube of the value space, and any engine reading the
parquet footers (Spark, DuckDB, Trino) skips files on any of the
clustered columns.

At 100 TB this is the difference between touching every file for a
2-column predicate and touching the few files whose cube intersects
it — without paying one sort per query: the sort is paid once at
write/compaction time.
"""

from __future__ import annotations

from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def zorder_code(
    col_ranges: Mapping[str, tuple[float, float]], bits: int = 8
) -> Column:
    """Morton code: quantize each column to ``bits`` bits over its
    [lo, hi) range, then interleave the bits round-robin. Values
    outside the range clamp to the edge bins; nulls and NaN go to
    bin 0, ±Inf clamp like any out-of-range value. Pure integer
    expressions — whole-stage codegen, no UDF.

    ``col_ranges`` values (lo, hi) come from table statistics (one
    profiling pass, see ``quality.profile_numeric``) — the code must
    NOT recompute them per write."""
    if not col_ranges:
        raise ValueError("zorder_code needs at least one column")
    n = len(col_ranges)
    max_bin = (1 << bits) - 1
    quantized: list[Column] = []
    for c, (lo, hi) in col_ranges.items():
        span = (hi - lo) or 1.0
        # clamp in DOUBLE space, BEFORE the long cast: an ANSI
        # session throws casting NaN/Inf (or any scaled value past
        # the long range) — one corrupt measure must not kill a
        # compaction job. nanvl first: NaN is "greater than
        # everything" in least/greatest, so it would otherwise
        # clamp to the TOP bin instead of the null bin.
        scaled_d = F.nanvl(
            (F.col(c).cast("double") - lo) / span * max_bin, F.lit(0.0)
        )
        scaled = F.least(
            F.lit(float(max_bin)), F.greatest(F.lit(0.0), scaled_d)
        ).cast("long")
        quantized.append(F.coalesce(scaled, F.lit(0).cast("long")))
    code = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, b * n + i))
    return code


def widen_if_narrow(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Round-robin repartition ``df`` to the cluster's default
    parallelism — but ONLY when the input arrived narrower than
    that.

    The case this exists for: compute-bound operators (shingling +
    digests, per-row cosine scoring, decode) reading a SMALL file.
    The parquet split planner sizes partitions by bytes, so a
    sub-split-size input becomes ONE task and the whole CPU-heavy
    pipeline runs on one core of an otherwise idle cluster. At real
    scale (file count ≫ cores) the guard makes this a no-op — no
    accidental full-corpus shuffle is ever introduced — while small
    inputs pay one tiny exchange to light up every core.

    The narrowness check uses driver-side file metadata
    (:meth:`DataFrame.inputFiles` + the ``spark.sql.files.*`` split
    planning confs) rather than ``df.rdd.getNumPartitions()``, so no
    RDD lineage is ever materialized for a wide plan. When the scan's
    partition count can't be estimated (no input files — an in-memory
    relation — or a non-local filesystem), the input is left alone:
    never introduce a speculative shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    est = _estimated_scan_partitions(df)
    if est is None or est >= target:
        return df
    return df.repartition(target)


_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_bytes(value) -> int | None:
    """Spark size-conf parser (``JavaUtils.byteStringAsBytes`` shapes):
    a plain integer, or an integer with a b/k/kb/m/mb/g/gb/t/tb/p/pb
    suffix, case-insensitive — ``134217728b``, ``128MB``, ``1g`` are
    all valid spark-submit inputs and all reach ``spark.conf.get``
    verbatim. Returns None on anything else (caller declines to
    estimate rather than guess)."""
    import re as _re

    m = _re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(value))
    if not m:
        return None
    mult = _BYTE_SUFFIXES.get(m.group(2).lower())
    return None if mult is None else int(m.group(1)) * mult


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many partitions the file scan under ``df`` plans,
    from driver-side metadata only: replicates Spark's
    ``FilePartition`` packing — ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, (totalBytes + openCost·nFiles) / parallelism))``,
    files chunked at ``maxSplitBytes``, then chunks (each costed at
    ``size + openCost``) greedily packed desc into ``maxSplitBytes``
    bins. Returns None when no estimate is possible (no input files,
    or files not on the local filesystem)."""
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    sizes = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return None
    spark = df.sparkSession
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    if max_part is None or open_cost is None:
        return None  # unparseable conf: never guess a shuffle in
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    total = sum(sizes) + open_cost * len(sizes)
    max_split = max(1, min(max_part, max(open_cost, total // parallelism)))
    chunks = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        chunks.append(s)
    n_bins, current = 0, 0
    for c in sorted(chunks, reverse=True):
        cost = c + open_cost
        if current + cost > max_split and current > 0:
            n_bins += 1
            current = 0
        current += cost
    return n_bins + (1 if current > 0 else 0)
