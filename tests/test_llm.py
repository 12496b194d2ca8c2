"""Unit tests for the LLM training-data operators: dedup invariants,
similarity-search correctness, text features, multimodal plumbing."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from aws_lakehouse_spark.llm.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_band_pairs,
)
from aws_lakehouse_spark.llm.multimodal import (
    attach_media_columns,
    extract_features,
    frame_sample_plan,
)
from aws_lakehouse_spark.llm.similarity import brute_force_topk, lsh_bucket_topk
from aws_lakehouse_spark.llm.text import language_scores


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups_identical_texts(spark):
    df = docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")])
    out = {r["keep_id"]: r["n_copies"] for r in
           exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 3, 3: 1}


def test_jaccard_identical_is_one_disjoint_absent(spark):
    df = docs(spark, [
        (1, "the quick brown fox jumps over dog"),
        (2, "the quick brown fox jumps over dog"),
        (3, "totally different words entirely here now ok"),
    ])
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(df, "doc_id", "text").collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_finds_exact_duplicates(spark):
    df = docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (3, "one two three four five six seven"),
    ])
    pairs = {(r["doc_a"], r["doc_b"])
             for r in lsh_band_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_band_cols_64bit(spark):
    from aws_lakehouse_spark.llm.dedup import simhash_band_cols

    df = docs(spark, [
        (1, "spark shuffle partition broadcast join"),
        (2, "spark shuffle partition broadcast join"),
        (3, "llama gradient tokenizer embedding corpus"),
    ])
    rows = {r["doc_id"]: tuple(r[f"simhash_b{b}"] for b in range(4))
            for r in df.select(
                "doc_id", *simhash_band_cols("text")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    for v in rows[1]:
        assert 0 <= v < 2**16


def _simhash_candidate_count(spark_df):
    from aws_lakehouse_spark.llm.dedup import simhash_band_cols

    fp = spark_df.select(
        F.col("doc_id"), *simhash_band_cols("text")
    )
    bands = None
    for b in range(4):
        one = fp.select(
            "doc_id", F.lit(b).alias("band_id"),
            F.col(f"simhash_b{b}").alias("bv"),
        )
        bands = one if bands is None else bands.unionByName(one)
    return (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )


def test_simhash_banding_candidate_volume_realistic(spark):
    """On a realistic-vocabulary 500-doc corpus, 4×16-bit banding
    prunes candidates to ≪ N² (the scale property that makes SimHash
    a join, not a disguised cross join)."""

    def words(doc, n=40):
        return " ".join(
            hashlib.md5(f"{doc}:{i}".encode()).hexdigest()[:8]
            for i in range(n)
        )

    n = 500
    rows = [(i, words(i)) for i in range(n)]
    # plant 20 exact-duplicate pairs (hamming 0) that banding MUST keep
    for j in range(20):
        rows.append((n + j, words(j)))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    candidates = _simhash_candidate_count(df)
    all_pairs = (n + 20) * (n + 19) // 2
    assert candidates >= 20  # planted dups all collide on every band
    assert candidates < 0.01 * all_pairs, (candidates, all_pairs)


def test_simhash_banding_candidate_volume_fixture(spark, sf_dir):
    """The sf0.01 documents fixture is adversarial for SimHash (a
    ~30-word vocabulary makes every doc resemble every other), but
    4×16 banding must still beat the old 2×8-bit banding's 40,482
    candidates (~32% of all pairs)."""
    from aws_lakehouse_spark.catalog import load_table

    docs_df = load_table(spark, "/root/testdata/sf0.01", "documents")
    n = docs_df.count()
    candidates = _simhash_candidate_count(docs_df)
    all_pairs = n * (n - 1) // 2
    assert candidates < 0.20 * all_pairs, (candidates, all_pairs)


def test_brute_force_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0]), (3, [0.7, 0.7, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") == 0)
    out = brute_force_topk(vecs, q, k=3).collect()
    ranked = [(r["neighbor_id"], r["cosine_sim"]) for r in
              sorted(out, key=lambda r: r["rnk"])]
    assert ranked[0][0] == 1 and ranked[0][1] == 1.0  # identical vector first
    assert ranked[1][0] == 3                          # 45° second
    assert ranked[2] == (2, 0.0)                      # orthogonal last


def test_lsh_bucket_recall_on_identical_vectors(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float((i * 3) % 5), 1.0, 0.5]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") < 3)
    out = lsh_bucket_topk(vecs, q, dim=4, bits=4, k=5)
    rows = out.collect()
    # identical-direction vectors always share a bucket → each query
    # finds at least its exact duplicates (i and i+7 share direction
    # only when components align; weak check: results exist and are
    # valid)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert all(-1.0001 <= r["cosine_sim"] <= 1.0001 for r in rows)


def test_language_scores_pick_matching_profile(spark):
    df = docs(spark, [
        (1, "the value in the table is a row"),
        (2, "le valeur la ligne vite le la"),
        (3, "der wert die zeile schnell der die"),
    ])
    out = {r["doc_id"]: r["lang_pred"] for r in df.select(
        "doc_id",
        *[c.alias(n) for n, c in language_scores(F.col("text")).items()],
    ).collect()}
    assert out == {1: "en", 2: "fr", 3: "de"}


def test_multimodal_plumbing_roundtrip(spark):
    df = docs(spark, [(0, "hello world"), (1, "abc"), (2, "longer video payload")])
    media = attach_media_columns(df, "text", "doc_id")
    assert dict(media.dtypes)["content"] == "binary"
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[0]["first_byte"] == ord("h")
    assert feats[0]["size_bytes"] == len("hello world")
    assert feats[1]["byte_sum_mod"] == sum(b"abc") % 997
    frames = frame_sample_plan(media).collect()
    assert all(r["media_id"] % 3 == 2 for r in frames)
    for r in frames:
        assert r["sampled_frames"][0] == 0
        assert len(r["sampled_frames"]) == (r["n_frames"] - 1) // 4 + 1


def test_vectorized_topk_matches_expression_topk(spark, sf_dir):
    from aws_lakehouse_spark.catalog import load_table
    from aws_lakehouse_spark.llm.similarity import brute_force_topk_vectorized

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    expr = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["cosine_sim"])
        for r in brute_force_topk(emb, queries, k=3, round_digits=None).collect()
    }
    vect = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["cosine_sim"])
        for r in brute_force_topk_vectorized(
            emb, queries.toPandas(), k=3
        ).collect()
    }
    assert set(expr) == set(vect)
    for key, (nid, sim) in expr.items():
        vnid, vsim = vect[key]
        assert vnid == nid
        assert abs(vsim - sim) < 1e-9


def test_salted_agg_equals_direct(spark, sf_dir):
    from aws_lakehouse_spark.catalog import load_table
    from aws_lakehouse_spark.operators.skew import salted_group_agg

    orders = load_table(spark, sf_dir, "orders")
    salted = {
        r["o_orderstatus"]: (r["n_rows"], round(r["sum_o_totalprice"], 4),
                             round(r["avg_o_totalprice"], 6))
        for r in salted_group_agg(
            orders, ["o_orderstatus"], avg_of=["o_totalprice"]
        ).collect()
    }
    direct = {
        r["o_orderstatus"]: (r["n"], round(r["s"], 4), round(r["a"], 6))
        for r in orders.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.avg("o_totalprice").alias("a"),
        ).collect()
    }
    assert salted == direct


def test_jaccard_df_cap_bounds_hot_shingle_join(spark):
    """A shingle present in EVERY doc must not quadratically blow up
    the candidate join: with the df cap the candidate count tracks
    the true near-dup structure, not N²."""
    from aws_lakehouse_spark.llm.dedup import jaccard_pairs

    def mkdocs(n):
        # every doc shares the stopword shingle "of the and"; only
        # consecutive ids share a discriminative shingle
        return spark.createDataFrame(
            [(i, f"of the and unique{i} token{i} mark{i} "
                 f"bridge{i // 2} span{i // 2} link{i // 2}")
             for i in range(n)],
            "doc_id bigint, text string",
        )

    small = jaccard_pairs(
        mkdocs(60), "doc_id", "text", shingle_k=3, max_shingle_df=5
    ).count()
    big = jaccard_pairs(
        mkdocs(120), "doc_id", "text", shingle_k=3, max_shingle_df=5
    ).count()
    # uncapped, the universal shingle alone yields N(N-1)/2 pairs:
    # 1770 vs 7140 (4.03x). Capped, pairs come only from the
    # bridge/span/link shingles → linear growth (~2x).
    assert small == 30 and big == 60, (small, big)


def test_salted_agg_avg_ignores_nulls(spark):
    from aws_lakehouse_spark.operators.skew import salted_group_agg

    df = spark.createDataFrame(
        [("a", 10.0), ("a", None), ("a", 20.0), ("b", None), ("b", None)],
        "k string, v double",
    )
    got = {
        r["k"]: (r["n_rows"], r["avg_v"])
        for r in salted_group_agg(df, ["k"], avg_of=["v"], salt_buckets=4)
        .collect()
    }
    # AVG ignores NULLs: a → 15.0 over 2 non-null of 3 rows; b → NULL
    assert got["a"] == (3, 15.0)
    assert got["b"][0] == 2 and got["b"][1] is None


def test_connected_components_clusters(spark):
    from aws_lakehouse_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "doc_a bigint, doc_b bigint"
    )
    comps = {r["node"]: r["component"]
             for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_no_plan_blowup(spark):
    """Min-label propagation moves one hop per round: a 22-edge chain
    needs >20 rounds. The periodic localCheckpoint keeps each round's
    plan shallow; without it this test's later rounds re-execute all
    earlier rounds' joins (O(rounds²)) and take minutes, not seconds."""
    import time

    from aws_lakehouse_spark.llm.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(22)], "doc_a bigint, doc_b bigint"
    )
    t0 = time.time()
    comps = {r["node"]: r["component"]
             for r in connected_components(chain, max_iterations=30).collect()}
    elapsed = time.time() - t0
    assert comps == {i: 0 for i in range(23)}
    assert elapsed < 120, f"plan blowup? {elapsed:.0f}s"


def test_near_duplicate_survivors_end_to_end(spark):
    from aws_lakehouse_spark.llm.dedup import near_duplicate_survivors

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs(spark, [
        (1, base),
        (2, base),                       # exact dup of 1
        (3, base + " extra"),            # near dup of 1/2
        (4, "one two three four five six seven eight nine ten"),
    ])
    out = {r["doc_id"]: (r["survivor_id"], r["is_survivor"])
           for r in near_duplicate_survivors(df, "doc_id", "text",
                                             jaccard_threshold=0.5).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert 4 not in out  # no near-dups → not in any cluster


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from aws_lakehouse_spark.llm.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx_rows = ivf_topk(
        emb, queries, n_centroids=16, nprobe=4, k=5
    ).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # every query answered with exactly k candidates
    from collections import Counter
    per_q = Counter(q for q, _ in approx)
    assert set(per_q) == {r["vec_id"] for r in queries.collect()}
    assert all(v == 5 for v in per_q.values())
    # nprobe=4 of 16 lists must still recover a solid share of the
    # true neighbors (deterministic: seeded centroids, fixed data)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_salted_join_left_semantics(spark):
    from aws_lakehouse_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "z")], "k bigint, v string"
    )
    small = spark.createDataFrame(
        [(1, "x"), (2, "y")], "j bigint, w string"
    )
    inner = salted_join(big, small, "k", "j", salt_buckets=4).collect()
    assert sorted((r["k"], r["v"], r["w"]) for r in inner) == [
        (1, "a", "x"), (1, "b", "x"), (2, "c", "y")
    ]
    left = salted_join(big, small, "k", "j", salt_buckets=4, how="left").collect()
    # unmatched key 9 survives exactly once with nulls, never ×salts
    assert sorted((r["k"], r["v"], r["w"]) for r in left) == [
        (1, "a", "x"), (1, "b", "x"), (2, "c", "y"), (9, "z", None)
    ]


def test_ivf_index_persisted_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The IVF scale story made concrete: persist the inverted lists
    partitioned by centroid_id; a probe of nprobe lists is then a
    partition-pruned read — PartitionFilters in the scan, not a full
    corpus pass."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.llm.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=8, refine_iterations=0)
    lists = ivf_assign(emb, cents)
    index_path = str(tmp_path / "ivf-index")
    (
        emb.join(lists, "vec_id")
        .write.partitionBy("centroid_id")
        .parquet(index_path)
    )

    probe = spark.read.parquet(index_path).filter(
        F.col("centroid_id").isin(1, 2)
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [centroid_id" in plan
    # pruned read returns exactly the two lists' vectors
    expected = lists.filter(F.col("centroid_id").isin(1, 2)).count()
    assert probe.count() == expected > 0


def test_multiprobe_lsh_beats_single_probe_recall(spark, sf_dir):
    from aws_lakehouse_spark.llm.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
        lsh_bucket_topk_multiprobe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    single = recall(lsh_bucket_topk(emb, queries, dim=64, bits=6, k=5))
    multi = recall(
        lsh_bucket_topk_multiprobe(emb, queries, dim=64, bits=6, k=5)
    )
    # multi-probe touches (bits+1)/2^bits ≈ 11% of the corpus vs
    # single-probe's ~1.6%; recall must improve accordingly (absolute
    # recall on these near-uniform synthetic embeddings is inherently
    # modest — raise nprobe/lower bits for more)
    assert multi >= single
    assert multi >= 2 * single or multi >= 0.25
    assert multi > 0


def test_image_dhash_resolution_invariant_and_discriminative(spark):
    from aws_lakehouse_spark.llm.codecs import png_encode
    from aws_lakehouse_spark.llm.multimodal import _dhash_one, image_dhash

    def px(x, y):
        return ((x * 73 + y * 29) % 256, (x * 151) % 256, (y * 97 + x * 13) % 256)

    base = png_encode(24, 16, px)
    up3 = png_encode(72, 48, lambda x, y: px(x // 3, y // 3))  # 3x clone
    other = png_encode(24, 16, lambda x, y: px(x + 5, y + 2))  # shifted content
    assert _dhash_one(base) == _dhash_one(up3)
    assert _dhash_one(base) != _dhash_one(other)

    media = spark.createDataFrame(
        [(0, bytearray(base)), (1, bytearray(up3)), (2, bytearray(other))],
        "media_id bigint, content binary",
    )
    rows = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    assert rows[0] == rows[1] != rows[2]


def test_span_dedup_flags_copied_passage(spark):
    from aws_lakehouse_spark.plans.llm_text import _positional_ngrams

    passage = " ".join(f"w{i}" for i in range(12))  # 12 tokens → 5 8-spans
    unique_a = " ".join(f"a{i}" for i in range(8))
    unique_b = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, passage + " " + unique_a),
            (1, passage + " " + unique_b),
            (2, "short doc"),  # under 8 tokens → zero spans, no row
        ],
        "doc_id bigint, text string",
    )
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    spans = docs.select(
        "doc_id", F.explode(_positional_ngrams(toks, 8)).alias("span")
    ).select("doc_id", F.md5("span").alias("dg"))
    counted = spans.select(
        "doc_id", F.count(F.lit(1)).over(Window.partitionBy("dg")).alias("c")
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup"])
        for r in counted.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .collect()
    }
    # 20 tokens → 13 spans; the 5 spans fully inside the shared
    # 12-token passage are duplicated across docs, the rest unique
    assert out[0] == (13, 5) and out[1] == (13, 5)
    assert 2 not in out


def test_bigram_lm_scores_rank_formulaic_text_higher(spark):
    common = "the cat sat on the mat " * 20
    docs = spark.createDataFrame(
        [(i, common.strip()) for i in range(4)]
        + [(4, "zeta xylo qoph vex jumble quartz")],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("___bigram_docs")
    from aws_lakehouse_spark.plans.llm_text import _positional_ngrams

    toks = F.split(F.col("text"), " ")
    bg = docs.select(
        "doc_id", F.explode(_positional_ngrams(toks, 2)).alias("big")
    ).withColumn("w1", F.split(F.col("big"), " ")[0])
    cb = bg.groupBy("big").agg(F.count(F.lit(1)).alias("c12"))
    cw = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    scores = {
        r["doc_id"]: r["s"]
        for r in bg.join(cb, "big")
        .join(cw, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.avg(
                F.log(F.col("c12") + 1) - F.log(F.col("c1") + F.col("v"))
            ).alias("s")
        )
        .collect()
    }
    # under add-one smoothing, the repeated formulaic docs' bigrams
    # have high counts in a high-count context; the one-off doc's
    # singleton bigrams get p ≈ 2/(1+V) — far lower
    assert all(scores[i] > scores[4] for i in range(4))


def test_incremental_exact_status_classification(spark):
    from aws_lakehouse_spark.llm.dedup import incremental_exact_status

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # exact dup of corpus doc 1
            (11, "eta theta iota"),     # new
            (12, "eta theta iota"),     # dup of 11 within batch
            (13, "kappa lambda mu"),    # new
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_exact_status(
            batch, corpus, "doc_id", "text"
        ).collect()
    }
    assert out == {
        10: "dup_in_corpus",
        11: "new",
        12: "dup_in_batch",
        13: "new",
    }


def test_incremental_lsh_finds_corpus_neardup(spark):
    from aws_lakehouse_spark.llm.dedup import incremental_lsh_matches

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark shuffles")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # doc 10 = corpus doc 1 with one word changed (high Jaccard);
        # doc 11 shares nothing
        [(10, base.replace("dog", "cat")), (11, "unrelated text entirely")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_corpus_matches"], r["first_match"])
        for r in incremental_lsh_matches(
            batch, corpus, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert out[10] == (1, 1)
    assert out[11] == (0, None)


def test_incremental_exact_corpus_never_exchanged(spark):
    from aws_lakehouse_spark.llm.dedup import incremental_exact_status

    corpus = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc "), "id").alias("text")
    )
    batch = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc "), "id").alias("text")
    )
    plan = incremental_exact_status(
        batch, corpus, "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()

    # Exchanges over batch-derived digest sets are fine (they carry
    # ≤ |batch| rows); what must NEVER happen is the corpus feeding a
    # shuffle before the broadcast semi join bounds it. Walk each
    # hashpartitioning-exchange subtree: if the corpus scan (the
    # Range(0,1000) leaf) appears inside it, a LeftSemi broadcast
    # join must sit between the exchange and that scan.
    def node_depth(line):
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    lines = plan.splitlines()
    corpus_marker = "Range (0, 1000"
    assert any(corpus_marker in ln for ln in lines), plan
    n_exchanges = 0
    for idx, line in enumerate(lines):
        if "Exchange hashpartitioning" not in line:
            continue
        n_exchanges += 1
        d = node_depth(line)
        subtree = []
        for nxt in lines[idx + 1 :]:
            if node_depth(nxt) <= d:
                break
            subtree.append(nxt)
        corpus_at = [i for i, ln in enumerate(subtree) if corpus_marker in ln]
        for ci in corpus_at:
            # the semi join must appear above (printed before) the
            # corpus scan within this exchange's subtree
            assert any(
                "LeftSemi" in ln for ln in subtree[:ci]
            ), f"corpus enters exchange unbounded:\n{line}\n" + "\n".join(subtree)
    # batch_min digest agg + bounded hit-set agg; anything more means
    # the plan grew an unplanned shuffle
    assert n_exchanges <= 3, plan


def _bpe_reference(word_counts, n_merges, min_pair_count=2):
    """Independent sequential BPE (Sennrich): returns ordered merge
    rules [(a, b, count)] with the same determinism contract as the
    distributed version (max count, then lexicographic tie-break)."""
    seqs = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for w, syms in seqs.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < min_pair_count:
            break
        merges.append((a, b, n))
        for w, syms in seqs.items():
            out, jm = [], False
            for x in syms:
                if out and not jm and out[-1] == a and x == b:
                    out[-1] = a + b
                    jm = True
                else:
                    out.append(x)
                    jm = False
            seqs[w] = out
    return merges


def test_bpe_train_matches_sequential_reference(spark):
    from aws_lakehouse_spark.llm.bpe import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(docs, "text", n_merges=8)

    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    expected = _bpe_reference(counts, 8)
    assert [(m["left"], m["right"], m["pair_count"]) for m in got] == expected
    # classic Sennrich example: 'es', 'est' family merges must appear
    assert any(m["left"] + m["right"] == "es" for m in got)


def test_bpe_apply_tokenizes_with_learned_rules(spark):
    from aws_lakehouse_spark.llm.bpe import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [(0, "aaab aaab aaab"), (1, "ab ab")], "doc_id long, text string"
    )
    merges = bpe_train(docs, "text", n_merges=3)
    out = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_apply(docs, merges).collect()
    }
    # rules learned on 'aaab': ('a','a')->'aa' (count 6... weighted),
    # then more; whatever the rules, applying them must reproduce the
    # training segmentation: all words concat back to the original
    for doc_id, (tokens, n) in out.items():
        assert n == len(tokens)
    assert "".join(out[1][0]) == "abab"


def test_bpe_simultaneous_pass_no_remerge(spark):
    """A merged symbol must not immediately re-merge as the LEFT side
    within the same round: with rule (a, aa) on 'aaaa' the result is
    [aaa, a] (greedy left-to-right, fresh 'aaa' doesn't re-merge) —
    not [aaaa]."""
    import pyspark.sql.functions as F

    from aws_lakehouse_spark.llm.bpe import _merge_pair

    df = spark.createDataFrame([(["a", "a", "a", "a"],)], "syms array<string>")
    got = df.select(
        _merge_pair(F.col("syms"), "a", "aa").alias("m")
    ).first()["m"]
    # left-to-right: [a,a,a,a]: a+aa? pairs are (left='a', right='aa');
    # no element equals 'aa' so nothing merges
    assert got == ["a", "a", "a", "a"]

    df2 = spark.createDataFrame([(["a", "aa", "aa", "a"],)], "syms array<string>")
    got2 = df2.select(
        _merge_pair(F.col("syms"), "a", "aa").alias("m")
    ).first()["m"]
    # first (a, aa) merges -> 'aaa' (jm set); fresh 'aaa' is not 'a',
    # so the following 'aa' survives; then (aa, a) is not the rule
    assert got2 == ["aaa", "aa", "a"]


def _bpe_fold_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Sequential reference for one word: per rule, left-to-right
    non-overlapping simultaneous-pass replacement over the symbol
    sequence (the _merge_pair contract)."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        jm = False
        for x in syms:
            if out and not jm and out[-1] == a and x == b:
                out[-1] = a + b
                jm = True
            else:
                out.append(x)
                jm = False
        syms = out
    return syms


def test_bpe_apply_matches_fold_reference_edge_cases(spark):
    """The string-replace formulation must reproduce the fold
    semantics on the awkward inputs: self-pair rules (a,a) over runs,
    cascading multi-char rules, newlines inside words, and repeated
    separators."""
    from aws_lakehouse_spark.llm.bpe import bpe_apply

    rules = [("a", "a"), ("aa", "a"), ("t", "h"), ("th", "e"), ("e", "\n")]
    merges = [
        {"rank": i, "left": a, "right": b} for i, (a, b) in enumerate(rules)
    ]
    texts = [
        "aaaa aaa aa a",          # run of self-pairs: (a,a) then (aa,a)
        "the theater  aethe",     # cascade + double space
        "the\nthe e\na",          # newline is a symbol INSIDE a word
        "x",                      # untouched
        "aaaaaa",                 # long run: [aa,aa,aa] -> [aaa? no: see ref
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_apply(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        expect: list[str] = []
        for w in t.split(" "):
            if w:
                expect.extend(_bpe_fold_reference(w, rules))
        assert got[i][0] == expect, (t, got[i][0], expect)
        assert got[i][1] == len(expect)


# --- hash and vector kernels against pure-Python references ---
# Each kernel is one F.expr SQL string. These tests recompute its
# output in plain Python (hashlib md5 hex slices; a left-to-right
# fold from a 0.0 seed, which IEEE doubles make bit-identical), so a
# changed hex-slice offset, fold seed or fold order fails here and
# not only in the parity artifacts.

_PATH_DOCS = [
    (1, "spark shuffle partition broadcast join spark"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "one"),
    (4, ""),
    (5, "llama gradient tokenizer embedding corpus llama gradient"),
]


def _md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _ref_shingles(text: str, k: int) -> set[str]:
    # split on one space, keep empty tokens; one shingle for a
    # document shorter than k tokens
    toks = text.split(" ")
    return {
        " ".join(toks[i:i + k]) for i in range(max(len(toks) - (k - 1), 1))
    }


def _ref_minhash(text: str, k: int = 3, num_hashes: int = 4) -> tuple:
    digests = [_md5_hex(s) for s in _ref_shingles(text, k)]
    return tuple(
        min(d[8 * j:8 * j + 8] for d in digests) for j in range(num_hashes)
    )


def _ref_simhash_bands(text: str, n_bands: int = 4, band_bits: int = 16):
    hex_chars = band_bits // 4
    toks = set(text.split(" "))
    bands = []
    for b in range(n_bands):
        hashes = [
            int(_md5_hex(t)[hex_chars * b:hex_chars * (b + 1)], 16)
            for t in toks
        ]
        bands.append(sum(
            1 << i for i in range(band_bits)
            if sum(1 if h & (1 << i) else -1 for h in hashes) > 0
        ))
    return tuple(bands)


def _ref_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_simhash_band_cols_match_md5_reference(spark):
    from aws_lakehouse_spark.llm.dedup import simhash_band_cols

    df = docs(spark, _PATH_DOCS)
    got = {r[0]: tuple(r)[1:] for r in
           df.select("doc_id", *simhash_band_cols("text")).collect()}
    assert got == {i: _ref_simhash_bands(t) for i, t in _PATH_DOCS}


def test_minhash_signature_matches_md5_reference(spark):
    from aws_lakehouse_spark.llm.dedup import _shingles_sql, minhash_signature

    df = docs(spark, _PATH_DOCS)
    got = {r[0]: tuple(r)[1:] for r in df.select(
        "doc_id", *minhash_signature(_shingles_sql("text", 3), 4)
    ).collect()}
    assert got == {i: _ref_minhash(t) for i, t in _PATH_DOCS}


def test_shingles_sql_quotes_keyword_and_spaced_columns(spark):
    """ADVICE r12: the SQL-text shingler must treat a column named
    like a keyword, or containing a space, as one identifier; its
    shingles and minhash signatures match the Python reference."""
    from aws_lakehouse_spark.llm.dedup import (
        _shingles_sql,
        minhash_signature,
        shingles_col,
    )

    for name in ("order", "doc text"):
        df = docs(spark, _PATH_DOCS).withColumnRenamed("text", name)
        got = {r[0]: (set(r[1]), tuple(r)[2:]) for r in df.select(
            "doc_id",
            shingles_col(name, 3),
            *minhash_signature(_shingles_sql(name, 3), 4),
        ).collect()}
        want = {
            i: (_ref_shingles(t, 3), _ref_minhash(t)) for i, t in _PATH_DOCS
        }
        assert got == want, name


def test_dot_norm_cosine_match_python_fold(spark):
    """ADVICE r11: the dot fold is the left-to-right sum from a 0.0
    double seed, bit-for-bit, including the zero-vector NULL guard
    and overflow to inf."""
    import math

    from aws_lakehouse_spark.llm.similarity import (
        cosine_sim_col,
        dot_col,
        norm_col,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.1, -0.2, 0.3], [-0.4, 0.5, -0.6]),
        (3, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero vector -> NULL cosine
        (4, [1e-300, 1e300, -1e300], [1e300, 1e-300, 1e-300]),
        (5, [1.0, 1e16, -1e16], [1.0, 1.0, 1.0]),  # 0.0 only left-to-right
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = {r[0]: tuple(r)[1:] for r in df.select(
        "id",
        dot_col("a", "b").alias("d"),
        norm_col("a").alias("n"),
        cosine_sim_col("a", "b").alias("c"),
    ).collect()}
    want = {}
    for i, a, b in rows:
        d, na, nb = _ref_dot(a, b), math.sqrt(_ref_dot(a, a)), math.sqrt(
            _ref_dot(b, b)
        )
        want[i] = (d, na, None if na * nb == 0.0 else d / (na * nb))
    assert got == want
