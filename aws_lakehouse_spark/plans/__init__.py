"""The engine's registered query surface.

Importing this package populates :data:`aws_lakehouse_spark.registry.
REGISTRY` with every declared query: the SURVEY §2 operator inventory
(core relational + scalar functions + event-time windows), the
medallion pipeline queries, and the LLM training-data extensions
(dedup / similarity / text analysis / multimodal).
"""

from aws_lakehouse_spark.plans import (  # noqa: F401
    core,
    core_ext,
    formats,
    scalar,
    events_windows,
    medallion,
    sql_surface,
    stats,
    timeseries,
    quality,
    drift,
    geo,
    tpch,
    tpch2,
    tpch3,
    graph,
    llm_text,
    behavior,
    retrieval,
    llm_dedup,
    llm_similarity,
    llm_semantic,
    multimodal,
)

from aws_lakehouse_spark.registry import REGISTRY

# The driver's correctness gate grades exactly the FIRST 50 entries of
# the registry dict. Coverage debt closed at r7 (every registry query
# driver-green at least once), so from ROUND 8 on the window enforces
# the STANDING RULE from the r7 verdict: a query whose plan changed
# after its last green grade re-enters the next window as a re-verify
# pin (`tools/rotate_window.py --changed` derives the list from the
# git diff against each query's last-grade driver commit, through the
# fingerprint taint, tools/code_fingerprint.py since r10). The current
# window pins, stalest last-green round first, the queries whose
# fingerprint changed since their last green grade, among them the
# table-writing builders whose scratch location moved to
# ``session.scratch_dir``; the changed grades that did not fit are
# reprinted as DEFERRED by any `rotate_window.py --changed` run.
# Head-of-tree cover for the un-graded remainder stays the
# committed full-registry parity artifacts (PARITY_SF001_r11.txt,
# PARITY_SF1_r11.txt).
#
# Registry FROZEN at 328 since r5.
# `python tools/rotate_window.py --changed --apply` (run at round
# START, after the driver writes CORRECTNESS_r{N-1}.json) computes
# the next window mechanically; tools/artifact_check.py fails at
# round close if _PRIORITY[:50] still equals the last graded key set
# (the r10 fumble, made mechanical). Update this comment with each
# round's rationale.
_PRIORITY = [
    "format_roundtrip_csv",
    "format_roundtrip_orc",
    "streaming_incremental_bookmark",
    "embed_pca_covariance",
    "snapshot_check_constraints",
    "snapshot_clone_shallow",
    "snapshot_history_table",
    "snapshot_incremental_scan",
    "snapshot_optimize_zorder",
    "snapshot_partition_evolution",
    "snapshot_rewrite_files",
    "snapshot_rollback_restore",
    "snapshot_segmented_manifest",
    "snapshot_stats_pruned_scan",
    "snapshot_tagged_read",
    "snapshot_wap_publish",
    "text_dsir_importance",
    "text_span_dedup_apply",
    "ann_range_search",
    "dedup_cluster_survivor_quality",
    "dedup_minhash_jaccard_estimate",
    "embed_drift_monitor",
    "embed_matryoshka_topk",
    "format_roundtrip_json",
    "format_roundtrip_xml",
    "join_bucketed_colocated",
    "join_dynamic_partition_pruning",
    "incremental_join_maintenance",
    "incremental_partition_recompute",
    "layout_zorder_pruned_scan",
    "sink_dynamic_partition_overwrite",
    "source_python_stream_datasource",
    "ann_ivf_topk",
    "dedup_incremental_minhash",
    "join_range_banded",
    "media_audio_decode",
    "media_image_decode",
    "ann_bruteforce_topk",
    "ann_lsh_bucketed",
    "ann_lsh_multiprobe",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_signature",
    "dedup_near_duplicate_resolution",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "text_fingerprint",
    "ann_embedding_neardup",
    "ann_hybrid_rrf",
    "ann_ivf_pq",
    # --- index 50 boundary: the graded window ends here ---
]


def _reorder() -> None:
    ordered = {}
    for name in _PRIORITY:
        spec = REGISTRY.get(name)
        if spec is None:  # pragma: no cover - priority list drift
            raise KeyError(f"_PRIORITY names unknown query: {name}")
        if spec.oracle is None:  # pragma: no cover
            raise ValueError(f"_PRIORITY entry lacks an oracle: {name}")
        ordered[name] = spec
    # remaining oracle-backed queries, in registration order
    for name, spec in REGISTRY.items():
        if name not in ordered and spec.oracle is not None:
            ordered[name] = spec
    # rows-only specs dead last — outside any graded window
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY"]
