"""Plan-quality guards: physical-plan assertions over the whole
registry — the automated face of the `.explain()` review. Catches
scale regressions (accidental cartesian products, lost pushdown,
lost broadcast) that row-level correctness tests cannot see."""

from __future__ import annotations

import pytest

from aws_lakehouse_spark.registry import load_all

REGISTRY = load_all()

# queries whose physical plan we don't inspect: side-effecting or
# driver-looping by design
PLAN_EXEMPT = {"streaming_incremental_bookmark", "dedup_near_duplicate_resolution"}


def _plan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    # full formatted explain — executedPlan().toString() truncates
    # long PushedFilters lists
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "name", sorted(set(REGISTRY) - PLAN_EXEMPT)
)
def test_no_cartesian_product(name, spark, sf_dir):
    """No registered query may plan a CartesianProduct — non-equi
    joins must go through broadcast nested loop (small side) or a
    bucketed equi-join."""
    assert "CartesianProduct" not in _plan(spark, sf_dir, name), name


def test_flagship_plan_shape(spark, sf_dir):
    plan = _plan(spark, sf_dir, "medallion_star_revenue")
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 3  # fact never shuffles
    assert "SortMergeJoin" not in plan
    # dedup is a min_by hash aggregate with a map-side partial —
    # not a window (which would shuffle+sort every orders row)
    assert "partial_min_by" in plan
    assert "Window" not in plan
    # the payload struct must not defeat column pruning: the orders
    # scan reads only the 3 survivor-determining/downstream columns
    assert (
        "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderdate" in plan
    )


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    for pushed in (
        "GreaterThanOrEqual(l_discount,0.03)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, pushed
    # projection pruned to the 4 needed columns
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "limit_topk")
    assert "TakeOrderedAndProject" in plan  # never a global sort


def test_q4_semi_join_with_residual(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4_order_priority")
    # EXISTS must decorrelate to a semi join carrying the non-equi
    # date predicate as a residual — never inner join + distinct
    assert "LeftSemi" in plan
    assert "Inner" not in plan


def test_q18_topk_and_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q18_large_volume_customer")
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan


def test_asof_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_asof")
    # union+window as-of: exactly one shuffle (by user_id) feeding the
    # window; the plan must not contain any join operator at all
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count(" Exchange (") == 1


def test_banded_range_join_is_equi(spark, sf_dir):
    """The banded range join must plan as an equi-join on the band id
    (hash/broadcast-hash), never a nested loop over the cross space."""
    plan = _plan(spark, sf_dir, "join_range_banded")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_quality_expectations_single_scan(spark, sf_dir):
    """All expectation rules must be counted in one scan — conditional
    sums, never one pass per rule. (simple mode: formatted explain
    prints each node twice, tree + details)"""
    df = REGISTRY["quality_expectations"].fn(spark, sf_dir)
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Scan parquet") == 1


def test_q5_bounded_dims_broadcast(spark, sf_dir):
    """nation/region (bounded at any scale) must broadcast; the plan
    must never sort-merge the tiny dims."""
    plan = _plan(spark, sf_dir, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_corpus_prep_mapside_dedup(spark, sf_dir):
    """The corpus-prep dedup must prune duplicate groups map-side
    before the exchange (WindowGroupLimit), not ship every duplicate."""
    plan = _plan(spark, sf_dir, "text_corpus_prep")
    assert "WindowGroupLimit" in plan


def test_scd2_single_window_shuffle(spark, sf_dir):
    """SCD2 history build must cost exactly one exchange (the window
    partitioning on the dimension key) — no self-join. Counted in
    "simple" mode: formatted explain prints every node twice."""
    df = REGISTRY["medallion_dim_scd2"].fn(spark, sf_dir)
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_quantize_int8_no_shuffle(spark, sf_dir):
    """Quantization is scan+project: zero joins, and the only
    exchange ever allowed is the conditional round-robin widening of
    a narrow test input (widen_if_underparallel fires on the
    one-split sf0.001 file; at production file counts it is a no-op
    and the plan is pure scan+project). No KEYED shuffle exists at
    any scale."""
    plan = _plan(spark, sf_dir, "ann_quantize_int8")
    assert "Join" not in plan
    # formatted explain puts the node header and its Arguments on
    # separate lines — count exchanges and round-robins node-wise
    n_exchange = sum(
        1 for line in plan.splitlines() if line.startswith("(")
        and "Exchange" in line
    )
    n_rr = plan.count("RoundRobinPartitioning")
    assert n_exchange == n_rr, plan


def test_tfidf_no_cartesian_and_single_scan_tf(spark, sf_dir):
    """tf-idf's only cross join is the broadcast single-row corpus
    count; candidate stats join stays a broadcast/shuffle equi-join."""
    plan = _plan(spark, sf_dir, "text_tfidf_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row n_docs frame


def test_q2_dim_chain_broadcast_and_part_filter_pushed(spark, sf_dir):
    """Q2's supplier->nation->region chain broadcasts (never a
    sort-merge of bounded dims) and the part-type filter reaches the
    parquet scan."""
    plan = _plan(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(p_type,LARGE)" in plan
    assert "CartesianProduct" not in plan


def test_q11_threshold_is_broadcast_single_row(spark, sf_dir):
    """Q11's scalar total-value threshold must be a broadcast
    nested-loop over ONE row, not a real cartesian; the per-part
    frame is checkpointed so lineitem is scanned once."""
    plan = _plan(spark, sf_dir, "tpch_q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the checkpointed frame hides the second lineitem scan: at most
    # one parquet scan of lineitem in the final plan
    assert plan.count("Scan parquet") <= 2  # lineitem + checkpoint RDD


def test_q21_sibling_exists_is_one_aggregate(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must decorrelate into a single
    per-order aggregate joined back — two HashAggregate pairs (the
    order stats + the final numwait), never a per-row subquery and
    never a cartesian."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # asia supplier dim chain


def test_decontaminate_eval_set_broadcast(spark, sf_dir):
    """The eval shingle set must broadcast to the training side — the
    corpus is never shuffled by shingle (eval suites are bounded at
    any corpus scale)."""
    plan = _plan(spark, sf_dir, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_score_mapside_combine(spark, sf_dir):
    """Repetition stats must partial-aggregate before each exchange
    (HashAggregate below Exchange) — per-doc token counts collapse
    map-side, the corpus text never crosses the wire raw."""
    plan = _plan(spark, sf_dir, "text_repetition_score")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_shard_plan_no_global_window_over_corpus(spark, sf_dir):
    """The shard planner's distributed prefix sum: the only
    single-partition exchange feeds the bucket-offset window (a
    bucket-count-sized frame), while the per-doc cumsum runs under a
    hash partitioning on the bucket key — the corpus itself never
    funnels through one partition."""
    df = REGISTRY["text_shard_plan"].fn(spark, sf_dir)
    # count in "simple" mode — formatted explain prints nodes twice
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # exactly one SinglePartition exchange: the tiny bucket offsets
    assert plan.count("Exchange SinglePartition") == 1, plan
    # the corpus-side window is partitioned by the range bucket
    assert "hashpartitioning(__bucket" in plan, plan


def test_pii_redact_scan_project_only(spark, sf_dir):
    """PII redaction is a pure scan+project: no exchange, no join."""
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_aqe_splits_skewed_join(spark):
    """Scale posture: a hot key that dwarfs every other partition is
    split by AQE's skew-join handling (OptimizeSkewedJoin) — the
    runtime defense the engine's docs lean on for skewed fact joins.
    Thresholds are lowered to make test-scale data look skewed; the
    assertion is on the EXECUTED adaptive plan."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # key 0 carries 100k rows; keys 1..1000 one row each
        hot = F.when(F.col("id") < 100_000, 0).otherwise(
            F.col("id") - 100_000 + 1
        )
        left = spark.range(0, 101_000).select(
            hot.alias("k"), F.col("id").alias("payload")
        )
        right = spark.range(0, 1_001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("r")
        )
        joined = left.join(right, "k")
        # materialize THIS DataFrame's own QueryExecution — a count()
        # would execute a derived aggregate plan and leave this one
        # unadapted (isFinalPlan=false)
        assert len(joined.collect()) == 101_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# queries whose multi-consumer frames were pinned in round 5 after the
# same-table rescan audit (tools/rescan_audit.py): unpinned, their
# source scans compound per consumer (triangle counting measured 14
# fact scans). The VISIBLE scan count in the final plan must stay at
# the audited minimum — checkpointed derivations show as RDD scans,
# so a regression (someone dropping a pin) reappears as parquet scans.
RESCAN_PINNED_MAX_VISIBLE = {
    "graph_triangle_count": 0,   # everything behind the edge pin
    "graph_adamic_adar": 0,
    # round 7: fused — one events scan feeds the per-user stage
    # window chain (no per-stage scans since the funnel fusion)
    "events_funnel": 1,
    "events_funnel_steps": 1,
    "events_growth_accounting": 0,
    # round 7: fused — both cohorts' moments in one when()-guarded
    # global aggregate (0.63x of the two-filter shape at sf0.1)
    "quality_ab_ttest": 1,
    # round 7: fused — first view / first later purchase as stacked
    # min-over-user windows (0.80x of the join shape at sf0.1)
    "events_time_to_convert": 1,
    # round 7: the banded interval self-join's NARROW hourly frame
    # (type, bucket, x) pins — halves the fact I/O (0.89x at sf0.1)
    "events_ewma_trailing": 0,
    # round 7: fused — the per-type mean is a window over the hourly
    # frame (no join-back; 0.79x at sf0.1)
    "events_cusum_changepoint": 1,
    # round 7: the calendar-lag self-join's NARROW daily frame
    # (day, x) pins — row-lag windows would be wrong across missing
    # days; the pin halves the fact I/O (wall-neutral at sf0.1)
    "ts_autocorrelation": 0,
    # round 7: fused — median and MAD are priority-partitioned window
    # aggregates on the one daily frame (no join-backs, no pins;
    # 0.66x of the pinned shape at sf0.1)
    "ts_anomaly_mad": 1,
    "ts_gap_fill": 0,
    "quality_chisquare_drift": 0,
    "quality_ks_drift": 0,
    "text_jsd_langs": 0,
    # round 7: fused — nation totals are window aggregates on the
    # supplier-cardinality frame (no join-back, no pin; 0.88x of the
    # pinned shape at sf0.1). 3 = lineitem + the two broadcast dims,
    # each scanned once (the pin previously hid all three)
    "agg_market_share_hhi": 3,
    "agg_histogram_equidepth": 1,  # the final bucketing scan
    # round 7: fused — the grand total is a single-partition window
    # over the tiny category frame (no pin, no broadcast join-back;
    # 0.74x of the pinned shape at sf0.1). 3 = one scan per profiled
    # column, previously hidden behind the pins
    "quality_entropy_profile": 3,
    "ann_recall_eval": 2,        # exact + approx corpus passes ARE
    #                              the comparison being evaluated
    "graph_degree_distribution": 0,
    # round 7: fused — first-seen day is a min-over-user window on the
    # distinct frame (no join-back, no pin; 0.77x of the pinned shape)
    "events_retention": 1,
    # round 7: fused — the observed-day clamp rides the contribution
    # explode as an offset-0 marker (no day-list join-back, no pin;
    # 0.84x of the pinned shape at sf0.1)
    "events_rolling_wau": 1,
    "text_vocab_topk": 0,
    "text_tfidf_topk": 1,   # the n_docs count scan
    "text_bm25_topk": 1,    # the avgdl stats scan
    "ann_hybrid_rrf": 3,    # stats scan + embeddings corpus + query row
    # round 7: the SimHash fingerprint frame (narrow, but 64
    # sign-votes per doc to derive) fed 10 consumers unpinned —
    # 4 band branches x 2 self-join sides + 2 verify sides
    "dedup_simhash_pairs": 0,  # everything behind the fp pin
    # round 7: digest frames hash the FAT text column once, not per
    # consumer; the corpus probe stays a single streamed scan
    "dedup_incremental_exact": 1,   # the corpus scan
    "dedup_incremental_bloom": 1,   # the corpus scan
    # round 7: the weekly cohort triangle fused to ONE visible fact
    # scan — cohort week is a min-over-user window on the distinct
    # user-week frame (no groupBy+join-back, no pins), cohort size is
    # the triangle's own offset-0 cell (measured 0.78x of the
    # join-back shape at sf0.1; the pinned variant measured 1.09x)
    "events_cohort_retention": 1,
    # round 7: both cohort sketches fused into ONE global aggregation
    # (when()-guarded inputs; aggregates skip NULLs) + one-pass
    # overlap — no 2-row intermediate frame, no pin (the pin measured
    # 1.25x at sf0.1; the fused shape 0.82x of the unpinned baseline)
    "agg_hll_intersection": 2,  # sketch scan + overlap scan
    # round 7: the 16-row IVF centroid frame (1 + 2·iterations corpus
    # scans deep) pins inside ivf_centroids; unpinned, the list
    # assignment and the query probe each re-derived it (9 visible
    # corpus scans). Remaining 3: corpus vectors + list assign + query
    "ann_ivf_topk": 3,
    # round 7: the candidate frame (band collisions, ≪ corpus — its
    # derivation embeds the full corpus band scan) has exactly ONE
    # consumer: it broadcasts whole into the corpus verify join, so
    # the band scan runs once. All 5 visible scans are distinct
    # single-pass reads: corpus bands + corpus verify + batch bands +
    # batch shingles + the pruned doc_id probe. (A checkpoint pin
    # also reached one band scan but measured 1.2x at sf0.1 — the
    # job-boundary cost; the one-consumer shape is 1.04x vs unpinned
    # with half the corpus I/O.)
    "dedup_incremental_minhash": 5,
}


@pytest.mark.parametrize(
    "name,max_scans", sorted(RESCAN_PINNED_MAX_VISIBLE.items())
)
def test_pinned_fanout_scan_budget(name, max_scans, spark, sf_dir):
    # count on the SIMPLE plan: formatted explain prints every node
    # twice (tree + per-node detail), doubling the scan count
    df = REGISTRY[name].fn(spark, sf_dir)
    simple = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    n = simple.count("Scan parquet")
    assert n <= max_scans, (name, n, max_scans)


def test_ivf_centroid_plan_depth_constant_in_iterations(spark, sf_dir):
    """The Lloyd refinement loop pins each iteration's 16-row centroid
    frame; without the pin, iteration k's plan embeds iteration k-1's
    whole derivation, so visible corpus scans grow linearly with
    iterations (and every downstream consumer re-runs them all). The
    pinned frame must keep the FINAL centroid plan's visible scan
    count constant as iterations grow."""
    from aws_lakehouse_spark.llm.similarity import ivf_centroids

    from aws_lakehouse_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, f"{sf_dir}/embeddings.parquet").filter(
        "embedding is not null"
    )

    def scans(iters: int) -> int:
        df = ivf_centroids(emb, refine_iterations=iters)
        simple = spark._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        return simple.count("Scan parquet")

    one, three = scans(1), scans(3)
    assert one == three, (one, three)


def test_pregel_default_pin_is_checkpoint_not_cache(spark):
    """Round-5 measurement guard: the kernels' one adjacency pin must
    be the raw-row checkpoint, not a cached relation — the
    repartition+persist variant measured 3-4x slower for the same
    rounds at sf0.1 (columnar cache build over array columns + GC)
    while AQE broadcast made its preserved partitioning moot. This
    test fails if the pin becomes a cache again."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.operators.graph import (
        pagerank_from_adjacency,
        symmetrize,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src bigint, dst bigint"
    )
    adj = symmetrize(edges).groupBy("src").agg(
        F.collect_set("dst").alias("nbrs")
    )
    pr = pagerank_from_adjacency(adj, iterations=2)
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        pr._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryTableScan" not in plan, plan
    # the adjacency must still be pinned (scanned as a checkpoint
    # RDD, not rebuilt from parquet/lineage inside the rounds)
    assert "Scan ExistingRDD" in plan, plan
