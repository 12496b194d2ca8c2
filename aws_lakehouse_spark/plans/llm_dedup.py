"""Deduplication query surface (LLM training-data ops).

MinHash/SimHash use md5-derived hashing, so every tier except the
(approximation-free-by-construction) LSH candidate generation is
exactly oracle-checkable — signatures, bands, Jaccard values and
fingerprints are bit-identical across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.catalog import load_table
from aws_lakehouse_spark.llm.dedup import (
    _shingles_sql,
    exact_dedup,
    jaccard_pairs,
    lsh_band_pairs,
    minhash_signature,
    shingles_col,
    simhash_band_cols,
)
from aws_lakehouse_spark.plans.llm_text import DUCK_SHINGLES, DUCK_TOKS
from aws_lakehouse_spark.registry import register

SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16

# minhash_j = min over shingles of the j-th 8-hex-char slice of ONE
# md5 per shingle — in lockstep with llm.dedup.minhash_signature /
# lsh_band_rows_sql (disjoint digest slices are independent hashes;
# one digest per shingle, not one per seed)
# the per-shingle md5 list is computed ONCE per row in the inner
# projection — the previous shape expanded DUCK_SHINGLES + the md5
# transform inside each of the four minhash_j expressions, hashing
# every shingle 4x (r10)
DUCK_SIG = f"""
    SELECT doc_id,
           {", ".join(
               "list_min(list_transform(hs, "
               f"h -> substring(h, {1 + 8 * j}, 8))) AS minhash_{j}"
               for j in range(4)
           )}
    FROM (SELECT doc_id,
                 list_transform({DUCK_SHINGLES}, s -> md5(s)) AS hs
          FROM documents)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS digest,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    category="llm dedup",
    doc="Exact dedup via content digest: one survivor per digest "
    "group; the shuffle carries 32-byte digests, never document "
    "bodies.",
    bench=True,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "dedup_minhash_signature",
    oracle=DUCK_SIG,
    category="llm dedup",
    doc="MinHash signatures (k=4, md5-seeded) over distinct 3-token "
    "shingles — computed scan-side with higher-order array "
    "functions, no UDF, no shuffle.",
)
def dedup_minhash_signature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # shingle+hash is CPU-heavy per row; a corpus that fits one
    # parquet split would serialize it (measured r8 at sf1: 61 s on
    # 1 task -> 9.6 s widened). No-op at production file counts.
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", *minhash_signature(_shingles_sql("text", 3), 4)
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH sig AS ({DUCK_SIG}),
    bands AS (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    """,
    category="llm dedup",
    doc="MinHash-LSH candidate pairs: signatures banded 2×2; "
    "candidates come from an equi-join on (band_id, band_hash) — "
    "no cross join at any scale.",
)
def dedup_minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_band_pairs(
        docs, "doc_id", "text", shingle_k=3, num_hashes=4, band_size=2
    )


NGRAM_DF_CAP = 20


@register(
    "dedup_ngram_jaccard",
    bench=True,  # r7 verdict item 5: heaviest non-bench queries join the watched set
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {DUCK_SHINGLES} AS shingles
        FROM documents WHERE doc_id % 10 = 0
    ), e AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), rare AS (
        SELECT shingle FROM e GROUP BY shingle
        HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ), ec AS (
        SELECT e.doc_id, e.shingle FROM e JOIN rare USING (shingle)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ec a JOIN ec b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.shingles, sb.shingles))
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    """,
    category="llm dedup",
    doc="Exact n-gram Jaccard over df-capped candidates: shingles in "
    f"> {NGRAM_DF_CAP} docs are dropped from candidate generation "
    "(a df-d shingle contributes d² join rows — one stopword shingle "
    "is a disguised cross join at corpus scale; capped, join input "
    "is linear in corpus size), then Jaccard is computed exactly "
    "per pair from the full shingle sets. Docs subset doc_id%10=0 "
    "keeps the demo bounded; at scale candidates come from the LSH "
    "band join instead.",
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, max_shingle_df=NGRAM_DF_CAP
    )


NEAR_DUP_ORACLE = f"""
    WITH RECURSIVE sig AS MATERIALIZED ({DUCK_SIG}),
    bands AS MATERIALIZED (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
    ),
    sh AS MATERIALIZED (SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents),
    verified AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b
        WHERE len(list_intersect(a.shingles, b.shingles))
              / len(list_distinct(list_concat(a.shingles, b.shingles)))
              >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION SELECT doc_b, doc_a FROM verified
    ),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id,
           LEAST(s, MIN(d)) AS survivor_id,
           s = LEAST(s, MIN(d)) AS is_survivor
    FROM reach GROUP BY s
"""


@register(
    "dedup_near_duplicate_resolution",
    # the iterative label propagation is exactly replicated by a
    # recursive-CTE transitive closure (near-dup graphs are tiny
    # forests, so the closure stays bounded at oracle scale)
    oracle=NEAR_DUP_ORACLE,
    category="llm dedup",
    doc="End-to-end near-dup resolution: MinHash-LSH candidates → "
    "per-pair exact Jaccard (array_intersect on shingle sets) → "
    "connected-components label propagation → one survivor per "
    "duplicate cluster. Oracle-checked end to end: DuckDB replays "
    "the same candidates/verification and resolves components via "
    "WITH RECURSIVE reachability.",
    bench=True,
)
def dedup_near_duplicate_resolution_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import near_duplicate_survivors

    docs = load_table(spark, sf_dir, "documents")
    return near_duplicate_survivors(
        docs, "doc_id", "text", jaccard_threshold=0.5
    )


def _simhash_band_sql(b: int) -> str:
    """One 16-bit band value: the per-band integer token hashes are
    precomputed once per row as ``bh{b}`` (see ``_simhash_oracle``) —
    the previous shape re-derived md5(token) inside every one of the
    16 bit votes, hashing each token 64x across the 4 bands (r10)."""
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(bh{b}, h -> CASE WHEN "
        f"(h & {1 << i}) != 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BAND_BITS)
    )
    return f"CAST({bit_terms} AS BIGINT) AS simhash_b{b}"


def _simhash_oracle() -> str:
    hex_chars = SIMHASH_BAND_BITS // 4
    band_hash_lists = ",\n               ".join(
        f"list_transform(hm, h -> CAST('0x' || "
        f"substring(h, {1 + hex_chars * b}, {hex_chars}) AS BIGINT)) "
        f"AS bh{b}"
        for b in range(SIMHASH_BANDS)
    )
    band_exprs = ",\n           ".join(
        _simhash_band_sql(b) for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH t AS (
        SELECT doc_id, list_distinct({DUCK_TOKS}) AS toks FROM documents
    ), hm AS (
        SELECT doc_id, list_transform(toks, t -> md5(t)) AS hm FROM t
    ), bh AS (
        SELECT doc_id,
               {band_hash_lists}
        FROM hm
    )
    SELECT doc_id, {band_exprs}
    FROM bh
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    category="llm dedup",
    doc="SimHash fingerprint (64-bit as 4×16-bit bands, md5-derived "
    "token hashes): sign-aggregated per-bit votes, one aggregate "
    "pass per band. Pure array expressions, one scan, no shuffle.",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # the per-band vote aggregation serializes on a one-split corpus
    # scan (same class as the minhash/winnow kernels); no-op at
    # production file counts
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        *simhash_band_cols("text", SIMHASH_BANDS, SIMHASH_BAND_BITS),
    )


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_id, simhash_b{b} AS bv FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    ham = " + ".join(
        f"bit_count(xor(fa.simhash_b{b}, fb.simhash_b{b}))"
        for b in range(SIMHASH_BANDS)
    )
    # NOTE: fp is referenced six times, but MATERIALIZED measured a
    # wash here (r10 A/B at sf1: 115-131 s vs 138 s inlined) — the
    # wall is the 16.8M-pair candidate join + DISTINCT, which is the
    # pair-generating semantics, not CTE re-derivation. Left inlined
    # to keep the swept artifact's plan exact.
    return f"""
    WITH fp AS ({_simhash_oracle()}),
    bands AS (
{band_union}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.bv = r.bv
             AND l.doc_id < r.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE {ham} <= {max_hamming}
    """


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    category="llm dedup",
    doc="SimHash near-dup pairs at 64-bit/4×16-band scale: 65,536 "
    "buckets per band keeps candidates ~N²/65,536 per band instead "
    "of the N²/256 a 2×8-bit banding degrades to; hamming ≤ 3 pairs "
    "share ≥1 band by pigeonhole (exact recall), verified by "
    "bit_count(xor) summed over bands.",
)
def dedup_simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import simhash_hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        docs, "doc_id", "text", SIMHASH_BANDS, SIMHASH_BAND_BITS, 3
    )


# Incremental ingest split: the "new batch" is every 5th doc, the
# "existing corpus" is the rest — deterministic, so the oracle
# reproduces the exact same partition.
_BATCH_PRED = "doc_id % 5 = 0"
_CORPUS_PRED = "doc_id % 5 != 0"


@register(
    "dedup_incremental_exact",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, md5(text) AS digest
        FROM documents WHERE {_BATCH_PRED}
    ), k AS (
        SELECT digest, MIN(doc_id) AS keep FROM b GROUP BY digest
    ), h AS (
        SELECT DISTINCT md5(text) AS digest
        FROM documents WHERE {_CORPUS_PRED}
    )
    SELECT b.doc_id, b.digest,
           CASE WHEN b.digest IN (SELECT digest FROM h)
                  THEN 'dup_in_corpus'
                WHEN b.doc_id != k.keep THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM b JOIN k USING (digest)
    """,
    category="llm dedup",
    doc="Incremental exact dedup: classify a new ingest batch "
    "against the existing corpus ('dup_in_corpus' / 'dup_in_batch' "
    "/ 'new') with the corpus only STREAMED through a broadcast "
    "semi join — never shuffled. The production shape for daily "
    "crawl ingest against a 100 TB historical corpus.",
)
def dedup_incremental_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import incremental_exact_status

    docs = load_table(spark, sf_dir, "documents")
    return incremental_exact_status(
        docs.filter(F.expr(_BATCH_PRED)),
        docs.filter(F.expr(_CORPUS_PRED)),
        "doc_id",
        "text",
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH sig AS ({DUCK_SIG}),
    bands AS (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS corpus_id
        FROM bands b JOIN bands c
          ON b.band_id = c.band_id AND b.band_hash = c.band_hash
        WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 != 0
    ),
    sh AS (SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents),
    verified AS (
        SELECT cand.doc_id, cand.corpus_id
        FROM cand
        JOIN sh a ON a.doc_id = cand.doc_id
        JOIN sh c ON c.doc_id = cand.corpus_id
        WHERE len(list_intersect(a.shingles, c.shingles))
              / len(list_distinct(list_concat(a.shingles, c.shingles)))
              >= 0.5
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n, MIN(corpus_id) AS fm
        FROM verified GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(agg.n, 0) AS n_corpus_matches,
           agg.fm AS first_match
    FROM (SELECT doc_id FROM documents WHERE {_BATCH_PRED}) d
    LEFT JOIN agg USING (doc_id)
    """,
    category="llm dedup",
    doc="Incremental near-dup probe: new-batch docs LSH-banded and "
    "broadcast against the corpus band index (one narrow corpus "
    "scan, no corpus exchange); band collisions verified with exact "
    "shingle Jaccard computed only for candidate corpus docs. Per "
    "batch doc: how many corpus docs it near-duplicates.",
)
def dedup_incremental_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import incremental_lsh_matches

    docs = load_table(spark, sf_dir, "documents")
    return incremental_lsh_matches(
        docs.filter(F.expr(_BATCH_PRED)),
        docs.filter(F.expr(_CORPUS_PRED)),
        "doc_id",
        "text",
        threshold=0.5,
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id, {DUCK_SHINGLES} AS shingles
        FROM documents WHERE doc_id % 4 = 0
    ), e AS MATERIALIZED (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), rare AS (
        SELECT shingle FROM e GROUP BY shingle
        HAVING COUNT(*) <= {NGRAM_DF_CAP}
    ), ec AS MATERIALIZED (
        SELECT e.doc_id, e.shingle FROM e JOIN rare USING (shingle)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ec a JOIN ec b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ), scored AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.shingles, sb.shingles))
                 / len(sa.shingles) AS containment_a,
               len(list_intersect(sa.shingles, sb.shingles))
                 / len(sb.shingles) AS containment_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT * FROM scored
    WHERE greatest(containment_a, containment_b) >= 0.1
    """,
    category="llm dedup",
    doc="Directional containment (Broder): |A∩B|/|A| and |A∩B|/|B| "
    "per shared-shingle candidate pair, kept when either direction "
    "≥ 0.1 — flags near-SUPERSET duplicates (a doc quoted whole "
    "inside a larger one has Jaccard ≈ |A|/|B| but containment "
    "≈ 1.0), the inclusion shape Jaccard-threshold dedup misses. "
    "Candidates reuse the df-capped shingle join (linear in corpus "
    "size); intersections computed exactly per candidate.",
)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    return containment_pairs(
        docs,
        "doc_id",
        "text",
        shingle_k=3,
        max_shingle_df=NGRAM_DF_CAP,
        threshold=0.1,
    )


@register(
    "dedup_lsh_quality",
    oracle=f"""
    WITH sub AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 5 = 0 AND doc_id < 500
    ), sig AS (
        SELECT doc_id,
               {", ".join(
                   "list_min(list_transform(hs, "
                   f"h -> substring(h, {1 + 8 * j}, 8))) AS minhash_{j}"
                   for j in range(4)
               )}
        FROM (SELECT doc_id,
                     list_transform({DUCK_SHINGLES}, s -> md5(s)) AS hs
              FROM sub)
    ), bands AS (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    ), cand AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
         AND l.doc_id < r.doc_id
    ), sh AS (
        SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM sub
    ), truth AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) >= 0.4
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT COUNT(*) FROM cand JOIN truth USING (doc_a, doc_b))
               AS BIGINT) AS n_true_positives,
           ROUND((SELECT COUNT(*) FROM cand JOIN truth USING (doc_a, doc_b))
               / GREATEST((SELECT COUNT(*) FROM cand), 1), 6) AS precision,
           ROUND((SELECT COUNT(*) FROM cand JOIN truth USING (doc_a, doc_b))
               / GREATEST((SELECT COUNT(*) FROM truth), 1), 6) AS recall
    """,
    category="llm dedup (evaluation)",
    doc="LSH banding quality report: candidate pairs from the 2x2 "
    "band scheme scored against exhaustive exact Jaccard (J >= 0.4) "
    "over a 100-doc evaluation sample — the precision/recall tuning "
    "pass run BEFORE committing a band configuration to a 100 TB "
    "corpus (recall misses are silent at scale; this is how you "
    "catch them). The exhaustive all-pairs truth is deliberately "
    "sample-bounded: 100 docs -> 4950 pairs, broadcast-joined; the "
    "production LSH path itself never goes all-pairs.",
)
def dedup_lsh_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the evaluation sample is FIXED at 100 docs (doc_id < 500, every
    # 5th) at every scale factor — identical to the old %5-only
    # predicate at gate scales (doc ids stop at 499 there), but no
    # longer 20% of the corpus at sf0.1+: an exhaustive-truth tuning
    # pass whose sample grows with the corpus is O(corpus²) — the r9
    # sf1 sweep measured its oracle at ~36 min and the engine truth
    # join quadratic the same way. Calibration needs a sample, not a
    # census.
    sub = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 500)
    )
    # each frame feeds its own count AND the tp join — checkpoint so
    # candidates/truth compute once
    cand = lsh_band_pairs(sub, "doc_id", "text", 3, 4, 2).localCheckpoint(
        eager=False
    )
    truth = jaccard_pairs(
        sub, "doc_id", "text", 3, threshold=0.4
    ).localCheckpoint(eager=False)
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    t = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    tp = cand.join(truth.select("doc_a", "doc_b"), ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_true_positives")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_true_positives",
            F.round(
                F.col("n_true_positives")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("precision"),
            F.round(
                F.col("n_true_positives")
                / F.greatest(F.col("n_true_pairs"), F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH aug AS (
        -- plant trivially-different variants: 1/4 of docs get an
        -- uppercased, whitespace-padded twin appended to the corpus
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               upper(text) || '   '
        FROM documents WHERE doc_id % 4 = 0
    )
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
             AS norm_digest,
           MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM aug
    GROUP BY norm_digest
    HAVING COUNT(*) > 1
    ORDER BY norm_digest
    """,
    category="llm dedup",
    doc="Normalization-aware exact dedup: casefold + whitespace "
    "collapse + trim BEFORE digesting, so case and formatting "
    "variants of identical content collapse into one group — the "
    "cheap tier between byte-exact and MinHash that catches "
    "re-encoded/reformatted mirror copies byte-exact dedup misses. "
    "Planted uppercase/padded twins for 1/4 of docs make the catch "
    "observable; one shuffle on the normalized digest.",
)
def dedup_exact_normalized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("   ")).alias("text"),
        )
    )
    norm = F.md5(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    )
    return (
        aug.groupBy(norm.alias("norm_digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy("norm_digest")
    )


@register(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, md5(text) AS digest
        FROM documents WHERE {_BATCH_PRED}
    ), k AS (
        SELECT digest, MIN(doc_id) AS keep FROM b GROUP BY digest
    ), h AS (
        SELECT DISTINCT md5(text) AS digest
        FROM documents WHERE {_CORPUS_PRED}
    )
    SELECT b.doc_id, b.digest,
           CASE WHEN b.digest IN (SELECT digest FROM h)
                  THEN 'dup_in_corpus'
                WHEN b.doc_id != k.keep THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM b JOIN k USING (digest)
    """,
    category="llm dedup",
    doc="Incremental exact dedup for the too-big-to-broadcast batch "
    "regime: the batch digest set is folded into a Bloom bitmap "
    "(operators/bloom.py) that inlines into the corpus scan's "
    "codegen, so the corpus is pruned scan-side to ~|batch| + fpp "
    "candidate digests before a bounded exact-verify shuffle join — "
    "no broadcast on either side, corpus never fully shuffled. Same "
    "classification contract and oracle as dedup_incremental_exact "
    "(the bloom only bounds the verify input; results stay exact).",
)
def dedup_incremental_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import incremental_exact_status_bloom

    docs = load_table(spark, sf_dir, "documents")
    return incremental_exact_status_bloom(
        docs.filter(F.expr(_BATCH_PRED)),
        docs.filter(F.expr(_CORPUS_PRED)),
        "doc_id",
        "text",
    )


NEAR_DUP_QUALITY_ORACLE = f"""
    WITH RECURSIVE sig AS MATERIALIZED ({DUCK_SIG}),
    bands AS MATERIALIZED (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
    ),
    sh AS MATERIALIZED (SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents),
    verified AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b
        WHERE len(list_intersect(a.shingles, b.shingles))
              / len(list_distinct(list_concat(a.shingles, b.shingles)))
              >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION SELECT doc_b, doc_a FROM verified
    ),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS component_id
        FROM reach GROUP BY s
    ),
    q AS MATERIALIZED (
        SELECT doc_id, CAST(len(list_distinct({DUCK_TOKS})) AS BIGINT)
                 AS quality
        FROM documents
    ),
    scored AS (
        SELECT comp.doc_id, comp.component_id, q.quality
        FROM comp JOIN q USING (doc_id)
    )
    SELECT doc_id, component_id, quality,
           FIRST_VALUE(doc_id) OVER (
               PARTITION BY component_id
               ORDER BY quality DESC, doc_id ASC) AS survivor_id,
           doc_id = FIRST_VALUE(doc_id) OVER (
               PARTITION BY component_id
               ORDER BY quality DESC, doc_id ASC) AS is_survivor
    FROM scored
"""


@register(
    "dedup_cluster_survivor_quality",
    oracle=NEAR_DUP_QUALITY_ORACLE,
    category="llm dedup",
    doc="Quality-aware near-dup survivorship: the same MinHash-LSH → "
    "exact-Jaccard → connected-components clustering as "
    "dedup_near_duplicate_resolution, but each cluster keeps its "
    "highest-quality member (quality = distinct token count; ties → "
    "lowest id) instead of the lowest id — keep the best-written "
    "copy of a boilerplate family, not the first-crawled one. "
    "Quality is evaluated only for clustered docs (semi-join "
    "bounded) and the per-cluster arg-max is a window over "
    "cluster-sized groups.",
)
def dedup_cluster_survivor_quality_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import (
        near_duplicate_survivors_by_quality,
    )

    docs = load_table(spark, sf_dir, "documents")
    quality = F.size(F.array_distinct(F.split(F.col("text"), " "))).cast(
        "bigint"
    )
    return near_duplicate_survivors_by_quality(
        docs, "doc_id", "text", quality, jaccard_threshold=0.5
    )


@register(
    "dedup_minhash_jaccard_estimate",
    oracle=f"""
    WITH sig AS ({DUCK_SIG}),
    bands AS (
        SELECT doc_id, 0 AS band_id,
               md5(minhash_0 || '|' || minhash_1) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_id,
               md5(minhash_2 || '|' || minhash_3) AS band_hash FROM sig
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
    ),
    sh AS (SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents),
    est AS (
        SELECT c.doc_a, c.doc_b,
               ((CASE WHEN a.minhash_0 = b.minhash_0 THEN 1 ELSE 0 END)
                + (CASE WHEN a.minhash_1 = b.minhash_1 THEN 1 ELSE 0 END)
                + (CASE WHEN a.minhash_2 = b.minhash_2 THEN 1 ELSE 0 END)
                + (CASE WHEN a.minhash_3 = b.minhash_3 THEN 1 ELSE 0 END))
               / 4.0 AS jaccard_est
        FROM cand c
        JOIN sig a ON a.doc_id = c.doc_a
        JOIN sig b ON b.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.jaccard_est,
           ROUND(len(list_intersect(x.shingles, y.shingles))
                 / CAST(len(list_distinct(
                       list_concat(x.shingles, y.shingles))) AS DOUBLE), 6)
             AS jaccard_exact,
           ROUND(abs(e.jaccard_est
                 - len(list_intersect(x.shingles, y.shingles))
                 / CAST(len(list_distinct(
                       list_concat(x.shingles, y.shingles))) AS DOUBLE)), 6)
             AS abs_err
    FROM est e
    JOIN sh x ON x.doc_id = e.doc_a
    JOIN sh y ON y.doc_id = e.doc_b
    """,
    category="llm dedup",
    doc="MinHash estimator calibration: for every LSH candidate "
    "pair, the signature-based Jaccard ESTIMATE (fraction of equal "
    "minhash components — the only number a sketch-based pipeline "
    "ever sees at scale) against the EXACT shingle Jaccard, with "
    "absolute error. This is the query that justifies the "
    "verification threshold in near-dup resolution: it quantifies, "
    "on the live corpus, how far the 4-hash estimate strays. Scale "
    "shape: candidates from the banded equi-join (never all pairs), "
    "signatures joined back per side, exact Jaccard only for "
    "candidates.",
)
def dedup_minhash_jaccard_estimate_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import (
        lsh_band_pairs,
        minhash_signature,
        shingles_col,
    )
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # three CPU-heavy derivations (signatures, band pairs, shingle
    # sets — two of them checkpointed) hang off this scan; a one-split
    # corpus serializes all of them AND materializes one-partition
    # checkpoints (r9 core-count probe: 62 s at sf1 regardless of
    # cores). Widen once; every consumer inherits.
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    sig = docs.select(
        "doc_id", *minhash_signature(_shingles_sql("text", 3), 4)
    ).localCheckpoint(eager=False)
    cand = lsh_band_pairs(
        docs, "doc_id", "text", shingle_k=3, num_hashes=4, band_size=2
    )
    est_expr = (
        sum(
            F.when(
                F.col(f"a.minhash_{i}") == F.col(f"b.minhash_{i}"), 1
            ).otherwise(0)
            for i in range(4)
        )
        / F.lit(4.0)
    )
    est = (
        cand.join(sig.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sig.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", est_expr.alias("jaccard_est"))
    )
    sh = docs.select(
        "doc_id", shingles_col("text", 3).alias("sh")
    ).localCheckpoint(eager=False)
    exact = (
        F.size(F.array_intersect("x.sh", "y.sh"))
        / F.size(F.array_union("x.sh", "y.sh")).cast("double")
    )
    return (
        est.join(sh.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sh.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard_est",
            F.round(exact, 6).alias("jaccard_exact"),
            F.round(F.abs(F.col("jaccard_est") - exact), 6).alias("abs_err"),
        )
    )
