"""Unit tests for semantic clustering + SemDeDup (llm/semantic.py)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from aws_lakehouse_spark.llm.semantic import (
    assign_clusters,
    semdedup_pairs,
    semdedup_summary,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def _axes(spark):
    # two orthogonal directions + near-copies of each
    return _vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (10, [0.9, 0.1, 0.0, 0.0]),
            (11, [0.95, 0.05, 0.0, 0.0]),
            (20, [0.1, 0.9, 0.0, 0.0]),
        ],
    )


def test_assign_clusters_picks_max_cosine_centroid(spark):
    vecs = _axes(spark)
    centroids = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters(vecs, centroids).collect()
    }
    assert got == {0: 0, 1: 1, 10: 0, 11: 0, 20: 1}


def test_assign_clusters_tie_breaks_on_lower_centroid_id(spark):
    vecs = _vecs(spark, [(5, [1.0, 1.0, 0.0, 0.0])])
    centroids = _vecs(
        spark, [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    ).select(F.col("vec_id").alias("cid"), "embedding")
    [row] = assign_clusters(vecs, centroids).collect()
    assert row["cluster_id"] == 0  # equal cosine both sides


def test_semdedup_drops_only_within_cluster_above_threshold(spark):
    vecs = _axes(spark)
    centroids = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    assignment = assign_clusters(vecs, centroids)
    pairs = semdedup_pairs(vecs, assignment, threshold=0.95)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    # cross-cluster near-orthogonal pairs never appear; in-cluster
    # near-copies do (0~10, 0~11, 10~11 in cluster 0; 1~20 in 1)
    assert (0, 10) in got and (10, 11) in got and (1, 20) in got
    assert all(a < b for a, b in got)
    assert not any({a, b} == {10, 20} for a, b in got)

    summary = {
        r["cluster_id"]: (r["n_members"], r["n_dropped"])
        for r in semdedup_summary(assignment, pairs).collect()
    }
    # keep-the-first: cluster 0 keeps vec 0, drops 10 and 11;
    # cluster 1 keeps vec 1, drops 20
    assert summary[0] == (3, 2)
    assert summary[1] == (2, 1)


def test_semdedup_similarity_is_symmetric_exact(spark):
    vecs = _vecs(
        spark,
        [
            (0, [3.0, 4.0, 0.0, 0.0]),
            (1, [6.0, 8.0, 0.0, 0.0]),  # same direction, scaled
        ],
    )
    centroids = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    assignment = assign_clusters(vecs, centroids)
    [p] = semdedup_pairs(vecs, assignment, threshold=0.5).collect()
    assert math.isclose(p["pair_sim"], 1.0, abs_tol=1e-6)


def test_cluster_assign_plan_broadcasts_centroids(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    plan = assign_clusters(emb, centroids)._jdf.queryExecution().executedPlan().toString()
    # centroid side broadcast, never shuffled
    assert "BroadcastExchange" in plan
    # argmax as a combinable aggregate: a map-side partial max runs
    # before the single exchange, so only N (id, struct) rows — not
    # N*K scored rows — ever shuffle; no window/sort in the plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan or "partial_first" in plan
    assert "Window" not in plan


def test_winnow_fingerprint_detects_shared_substrings(spark):
    import pyspark.sql.functions as FF

    import aws_lakehouse_spark.plans.llm_text as LT

    # identical docs -> identical fingerprint set; unrelated docs
    # share nothing (same gram/window constants as the registered
    # text_winnow_fingerprint query)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different words with nothing in common"),
        ],
        "doc_id bigint, text string",
    )
    k, w = LT.WINNOW_K, LT.WINNOW_W
    wins = (
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {w - 1}, 1)), "
        f"i -> array_min(slice(hs, i, {w}))))"
    )
    expr = (
        "element_at(transform(array(transform(sequence(1, "
        f"greatest(length(text) - {k - 1}, 1)), i -> md5(substring(text, i, {k})))"
        f"), hs -> {wins}), 1)"
    )
    rows = {
        r["doc_id"]: set(r["fps"])
        for r in docs.select(
            "doc_id", FF.expr(expr).alias("fps")
        ).collect()
    }
    assert rows[1] == rows[2]
    # winnowing guarantee: shared substring >= k+w-1 chars -> shared
    # fingerprint; docs 1 and 3 share none that long
    assert rows[1].isdisjoint(rows[3])


def test_quantile_sketch_exact_at_high_accuracy(spark):
    import pyspark.sql.functions as FF

    df = spark.range(0, 1001).select(
        FF.lit("g").alias("grp"), FF.col("id").cast("double").alias("v")
    )
    [row] = (
        df.groupBy("grp")
        .agg(
            FF.expr(
                "approx_percentile(v, array(0.25D, 0.5D, 0.75D), 100000)"
            ).alias("q")
        )
        .collect()
    )
    assert list(row["q"]) == [250.0, 500.0, 750.0]


def test_update_centroids_matches_numpy_means(spark):
    import numpy as np
    import pyspark.sql.functions as FF

    from aws_lakehouse_spark.llm.semantic import update_centroids

    rng = np.random.RandomState(7)
    vecs = rng.rand(40, 4).astype(np.float64)
    assign = [int(i % 3) for i in range(40)]
    vdf = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    adf = spark.createDataFrame(
        [(i, assign[i]) for i in range(40)], "vec_id long, cluster_id int"
    )
    got = {
        (r["cluster_id"], r["pos"]): (r["centroid"], r["n_members"])
        for r in update_centroids(vdf, adf).collect()
    }
    for c in range(3):
        members = vecs[[i for i in range(40) if assign[i] == c]]
        for pos in range(4):
            cen, n = got[(c, pos + 1)]
            assert n == len(members)
            assert abs(cen - round(float(members[:, pos].mean()), 6)) < 1e-9


def test_lloyd_iterations_reduce_distortion(spark):
    """Two full E+M rounds: mean within-cluster cosine must not
    decrease — the monotonicity that makes Lloyd converge."""
    import pyspark.sql.functions as FF

    from aws_lakehouse_spark.catalog import load_table
    from aws_lakehouse_spark.llm.semantic import (
        assign_clusters,
        update_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    cents = emb.filter(FF.col("vec_id") < 8).select(
        FF.col("vec_id").alias("cid"), "embedding"
    )
    a1 = assign_clusters(emb, cents)
    m1 = a1.agg(FF.avg("cosine_sim")).collect()[0][0]
    new_rows = update_centroids(emb, a1).collect()
    by_cid = {}
    for r in new_rows:
        by_cid.setdefault(r["cluster_id"], [0.0] * 64)[r["pos"] - 1] = r[
            "centroid"
        ]
    cents2 = spark.createDataFrame(
        [(c, v) for c, v in by_cid.items()], "cid long, embedding array<double>"
    )
    a2 = assign_clusters(emb, cents2)
    m2 = a2.agg(FF.avg("cosine_sim")).collect()[0][0]
    assert m2 >= m1 - 1e-9, (m1, m2)


def test_hoisted_norm_cosine_is_bit_identical(spark):
    """The round-5 hoist's core claim, locked: ``cosine_ratio_col``
    over per-SIDE precomputed norms produces the exact bits of the
    per-pair ``cosine_sim_col`` — same IEEE ops in the same order,
    just evaluated per row instead of per pair. Includes the edge
    values real corpora ship: negative components, a zero vector
    (which under ANSI mode — the Spark 4 / driver default — would
    THROW as double 0/0 without the ``nullif`` guard; both guarded
    forms yield NULL instead), and denormal-ish magnitudes."""
    from aws_lakehouse_spark.llm.similarity import (
        cosine_ratio_col,
        cosine_sim_col,
        dot_col,
        norm_col,
    )

    rows = [
        ([1.0, 2.0, -3.0], [0.5, -0.25, 8.0]),
        ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),      # zero vector -> NULL
        ([1e-300, 2e-300, 3e-300], [1e300, -1e300, 1e300]),
        ([0.1, 0.2, 0.3], [0.1, 0.2, 0.3]),      # self-similarity
        ([-1.0, -1.0, -1.0], [1.0, 1.0, 1.0]),   # exactly -1
    ]
    df = spark.createDataFrame(
        rows, "a array<double>, b array<double>"
    ).withColumn("na", norm_col("a")).withColumn("nb", norm_col("b"))
    got = df.select(
        "a",
        cosine_sim_col("a", "b").alias("per_pair"),
        cosine_ratio_col(
            dot_col("a", "b"), F.col("na"), F.col("nb")
        ).alias("hoisted"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        if all(x == 0.0 for x in r["a"]):
            # zero-magnitude vector: similarity undefined -> NULL on
            # both forms (an unguarded 0/0 would THROW under ANSI)
            assert r["per_pair"] is None, r
            assert r["hoisted"] is None, r
        elif r["per_pair"] is not None and math.isnan(r["per_pair"]):
            # norm under/overflow (na->0 while nb->inf makes the
            # denominator 0*inf = NaN): NaN on both forms — nullif
            # passes a NaN denominator through (NaN != 0.0)
            assert r["hoisted"] is not None and math.isnan(r["hoisted"]), r
        else:
            # bitwise, not isclose: the hoist claims identity
            assert r["per_pair"] == r["hoisted"], r
