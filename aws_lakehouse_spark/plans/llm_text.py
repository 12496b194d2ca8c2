"""Text-analysis query surface (LLM training-data ops).

Every query is a pure scan+project over ``documents`` — no shuffle —
and each is oracle-checked: integer-ratio features divide exact ints
so the doubles are bit-identical across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_lakehouse_spark.catalog import load_table
from aws_lakehouse_spark.llm.text import (
    BPE_ISH_PATTERN,
    DEFAULT_STOPWORDS,
    LANGUAGE_PROFILES,
    language_scores,
    quality_features,
    token_count,
    tokens_col,
)
from aws_lakehouse_spark.registry import register

# DuckDB fragment: distinct 3-token shingles of `text` (1-based lists)
DUCK_TOKS = "str_split(text, ' ')"
# the token list binds ONCE per row through a single-element
# transform lambda (the engine's own LSH-band trick): the naive
# inline form re-split the text 3x PER SHINGLE POSITION inside the
# lambda — 13 s -> 3.1 s for the sf1 shingle pass, results identical
# (r10; feeds every dedup_* shingle oracle)
DUCK_SHINGLES = (
    f"list_extract(list_transform([{DUCK_TOKS}], toks -> "
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))), 1)"
)


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(list_distinct({DUCK_TOKS})) AS BIGINT)
             AS n_distinct_tokens
    FROM documents
    """,
    category="llm text",
    doc="Token counting: whitespace, BPE-ish regex, distinct.",
    bench=True,
)
def text_token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        token_count(text).alias("n_tokens"),
        token_count(text, BPE_ISH_PATTERN).alias("n_bpe_tokens"),
        F.size(F.array_distinct(tokens_col(text)))
        .cast("bigint")
        .alias("n_distinct_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '\\s+', '', 'g'))
             / greatest(len({DUCK_TOKS}), 1) AS avg_token_len,
           len(list_filter({DUCK_TOKS},
               t -> t IN ({_sql_in_list(DEFAULT_STOPWORDS)})))
             / greatest(len({DUCK_TOKS}), 1) AS stopword_ratio,
           len(list_distinct({DUCK_TOKS}))
             / greatest(len({DUCK_TOKS}), 1) AS distinct_ratio
    FROM documents
    """,
    category="llm text",
    doc="Quality-scoring features: token count, mean token length, "
    "stopword ratio, repetition (distinct-token) ratio.",
)
def text_quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


def _lang_oracle() -> str:
    score_exprs = []
    for lang in LANGUAGE_PROFILES:
        words = _sql_in_list(tuple(LANGUAGE_PROFILES[lang]))
        score_exprs.append(
            f"len(list_filter({DUCK_TOKS}, t -> t IN ({words})))"
            f" / greatest(len({DUCK_TOKS}), 1) AS score_{lang}"
        )
    langs = sorted(LANGUAGE_PROFILES)
    gmax = f"greatest({', '.join('score_' + l for l in langs)})"
    case = "CASE " + " ".join(
        f"WHEN score_{l} = {gmax} THEN '{l}'" for l in langs
    ) + " ELSE 'unknown' END"
    return f"""
    WITH scored AS (
        SELECT doc_id, lang, {', '.join(score_exprs)} FROM documents
    )
    SELECT doc_id, lang, score_en, score_fr, score_de,
           {case} AS lang_pred
    FROM scored
    """


@register(
    "text_lang_id",
    oracle=_lang_oracle(),
    category="llm text",
    doc="Language-ID heuristic: per-language stopword-hit ratios, "
    "argmax with deterministic (code-order) tie-break; the `lang` "
    "column rides along for downstream accuracy eval.",
)
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = language_scores(F.col("text"))
    return docs.select(
        "doc_id", "lang", *[c.alias(n) for n, c in scores.items()]
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS doc_fp,
           list_min(list_transform({DUCK_SHINGLES}, s -> md5(s)))
             AS min_shingle_fp
    FROM documents
    """,
    category="llm text",
    doc="Document fingerprinting: whole-document digest + minimum "
    "shingle digest (rolling-hash-style winnowing representative).",
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import shingles_col
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # per-row shingle hashing serializes on a one-split corpus scan
    # (r8 sf1: 15 s on 1 task -> 1.6 s widened); no-op at production file counts
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("doc_fp"),
        F.array_min(
            F.transform(shingles_col("text", 3), lambda s: F.md5(s))
        ).alias("min_shingle_fp"),
    )


@register(
    "text_corpus_prep",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id, source, lang, n_chars,
               md5(text) AS digest,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
               len(list_distinct({DUCK_TOKS}))
                 / greatest(len({DUCK_TOKS}), 1) AS distinct_ratio
        FROM documents
    ), qualified AS (
        SELECT * FROM enriched
        WHERE n_tokens >= 5 AND distinct_ratio > 0.3
    ), survivors AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY digest ORDER BY doc_id) AS rn
            FROM qualified
        ) WHERE rn = 1
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM survivors
    GROUP BY source
    ORDER BY source
    """,
    category="llm text",
    doc="End-to-end corpus preparation in ONE plan: tokenize → "
    "quality gate (min length, repetition ratio) → exact dedup "
    "(md5 digest, min-doc_id survivor) → per-source corpus stats. "
    "The training-data composition every curation pipeline runs "
    "before sharding. Scale shape: one shuffle on the uniform "
    "digest (map-side WindowGroupLimit prunes dup groups early), "
    "then a tiny per-source aggregate.",
    bench=True,
)
def text_corpus_prep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators import dedupe_by_key

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    enriched = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5(F.col("text")).alias("digest"),
        n.cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))).alias(
            "distinct_ratio"
        ),
    )
    qualified = enriched.filter(
        (F.col("n_tokens") >= 5) & (F.col("distinct_ratio") > 0.3)
    )
    survivors = dedupe_by_key(qualified, ["digest"], [F.asc("doc_id")])
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


@register(
    "text_sample_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7)
               AS BIGINT) % 100 < 10
    """,
    category="llm text",
    doc="Deterministic hash sampling (~10%): md5(id) bucket < pct — "
    "the reproducible sampling a training pipeline needs (same rows "
    "on every run, every engine, any partitioning — unlike "
    "rand()-based sampling, which is neither reproducible across "
    "engines nor stable under repartitioning). Pure scan+filter, "
    "no shuffle.",
)
def text_sample_hash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
        ).cast("bigint")
        % 100
    )
    return docs.filter(bucket < 10).select("doc_id", "lang", "n_chars")


@register(
    "text_sample_balanced",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
        ) AS rn
        FROM documents
    ) WHERE rn <= 50
    """,
    category="llm text",
    doc="Class-balanced downsampling: at most N docs per label, "
    "chosen by hash order (deterministic, unbiased within class). "
    "One shuffle on the label; map-side WindowGroupLimit prunes "
    "each class to N before the exchange, so the shuffle moves "
    "O(classes x N) rows, not the corpus.",
)
def text_sample_balanced_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens) / 512) AS BIGINT) AS pack_id
    FROM t
    """,
    category="llm text",
    doc="Sequence packing for training batches: per-source running "
    "token count assigns each doc to a 512-token pack "
    "(bin = floor(tokens-before-me / budget)) — the shuffle-light "
    "approximation of greedy bin packing (bins may overflow by one "
    "doc's tail, never underfill). One window shuffle on source.",
)
def text_pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col(F.col("text"))).cast("bigint")
    t = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before_me = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(before_me / 512).cast("bigint").alias("pack_id"),
    )


@register(
    "text_tfidf_topk",
    bench=True,  # r7 verdict item 5: heaviest non-bench queries join the watched set
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({DUCK_TOKS}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term
    ), idf AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln((n.n_docs + 1) / (idf.df + 1)), 6)
                 AS tfidf
        FROM tf JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
    category="llm text",
    doc="Per-document top-3 keywords by tf-idf: token explode -> "
    "(doc, term) count -> document-frequency join -> windowed "
    "top-k. Two shuffles (term stats, per-doc window); the "
    "idf table is term-cardinality-bounded, corpus-size-free. "
    "Scores rounded to 6 dp BEFORE ranking, ties broken by term, "
    "so the ranked output hash-matches across engines.",
)
def text_tfidf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    # the TF table feeds BOTH the document-frequency aggregate and
    # the score join — pin it (the materialized TF table every real
    # indexing pipeline keeps) so the explode + group runs once
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "text_top_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {DUCK_TOKS} AS t FROM documents
    ), bigrams AS (
        -- range() excludes its upper bound: range(1, len) = 1..len-1
        SELECT unnest(CASE WHEN len(t) >= 2 THEN list_transform(
            range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
            ELSE [] END) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
    category="llm text",
    doc="Corpus-level top-20 bigrams: in-row bigram construction "
    "(sequence+transform, no self-join), one count shuffle keyed by "
    "bigram, TakeOrderedAndProject for the limit. The standard "
    "corpus-stats pass before building filter lists.",
)
def text_top_bigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bigram_arr = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 2))) "
        "ELSE array() END"
    )
    return (
        docs.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_normalize_scrub",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' Contact: user' || doc_id ||
               '@example.com or call 5550' || doc_id AS raw
        FROM documents WHERE doc_id % 10 = 0
    ), low AS (
        SELECT doc_id, lower(raw) AS lowered FROM aug
    ), emails AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lowered,
                    '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT)
                 AS n_emails_redacted,
               regexp_replace(lowered, '[a-z0-9._]+@[a-z0-9.-]+',
                              '[EMAIL]', 'g') AS s1
        FROM low
    ), nums AS (
        SELECT doc_id, n_emails_redacted,
               CAST(len(regexp_extract_all(s1, '[0-9]{3,}')) AS BIGINT)
                 AS n_numbers_redacted,
               regexp_replace(s1, '[0-9]{3,}', '[NUM]', 'g') AS s2
        FROM emails
    )
    SELECT doc_id,
           substring(trim(regexp_replace(regexp_replace(s2,
                '[^a-z0-9\\[\\] ]', ' ', 'g'), '\\s+', ' ', 'g')), 1, 60)
             AS scrubbed_prefix,
           n_emails_redacted, n_numbers_redacted
    FROM nums
    """,
    category="llm text",
    doc="Normalization + PII scrub (corpus-prep face): lowercase, "
    "redact emails/long digit runs with counted replacements, strip "
    "punctuation, collapse whitespace. The fixture plants one email "
    "and one phone-like run per doc so the check exercises real "
    "redactions. Pure regexp expressions, one scan, no shuffle.",
)
def text_normalize_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.text import normalize_scrub_cols

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 5550"),
            F.col("doc_id").cast("string"),
        ).alias("raw"),
    )
    cols = normalize_scrub_cols(F.col("raw"))
    return aug.select(
        "doc_id",
        F.substring(cols["scrubbed"], 1, 60).alias("scrubbed_prefix"),
        cols["n_emails_redacted"].alias("n_emails_redacted"),
        cols["n_numbers_redacted"].alias("n_numbers_redacted"),
    )


@register(
    "text_reservoir_sample",
    oracle=f"""
    SELECT source, doc_id, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT source, doc_id, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY md5('rsv:' || doc_id), doc_id
        ) AS rnk
        FROM documents
    ) WHERE rnk <= 10
    ORDER BY source, rnk
    """,
    category="llm text",
    doc="Fixed-size per-group sample (reservoir semantics, k=10 per "
    "source): rank by md5(seed||id) — a uniform, REPRODUCIBLE draw "
    "(rand() would differ per retry/executor), one window shuffle "
    "on the group key. Complements fraction sampling "
    "(text_sample_hash) and class balancing (text_sample_balanced).",
)
def text_reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .orderBy("source", "rnk")
    )


@register(
    "text_domain_stats",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' see https://site' || (doc_id % 7) ||
               '.example.org/path/' || doc_id ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' and http://cdn' || (doc_id % 2) || '.example.net/x'
                    ELSE '' END AS raw
        FROM documents
    ), urls AS (
        SELECT doc_id, unnest(regexp_extract_all(raw,
               'https?://([a-z0-9.-]+)', 1)) AS domain
        FROM aug
    )
    SELECT domain,
           COUNT(*) AS n_urls,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY domain
    ORDER BY domain
    """,
    category="llm text",
    doc="URL domain extraction + per-domain stats — the pass behind "
    "domain-level quality filtering in web-corpus curation. URLs are "
    "planted deterministically (the fixture has none); extraction is "
    "regexp_extract_all capture group 1, stats one shuffle on the "
    "bounded domain key.",
)
def text_domain_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/path/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" and http://cdn"),
                    (F.col("doc_id") % 2).cast("string"),
                    F.lit(".example.net/x"),
                ),
            ).otherwise(F.lit("")),
        ).alias("raw"),
    )
    urls = aug.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col("raw"), F.lit(r"https?://([a-z0-9.-]+)"), 1
            )
        ).alias("domain"),
    )
    return (
        urls.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy("domain")
    )


# DuckDB fragment: NON-distinct 3-token shingles (repetition math
# needs multiplicity; DUCK_SHINGLES dedups)
DUCK_GRAMS = (
    "list_transform("
    f"range(1, greatest(len({DUCK_TOKS}) - 2, 1) + 1), "
    f"i -> {DUCK_TOKS}[i] || ' ' || {DUCK_TOKS}[i+1] || ' ' || {DUCK_TOKS}[i+2])"
)

# the house deterministic hash split (same predicate as
# text_sample_hash): md5(doc_id) bucket in [0, 100)
_DUCK_BUCKET = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100"
)


def _bucket_col() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
            "bigint"
        )
        % 100
    )


@register(
    "text_decontaminate",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {DUCK_SHINGLES} AS shingles,
               {_DUCK_BUCKET} AS bucket
        FROM documents
    ), eval_sh AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE bucket < 10
    ), train AS (
        SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles,
               unnest(shingles) AS shingle
        FROM sh WHERE bucket >= 10
    )
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_shared,
           t.n_shingles,
           ROUND(COUNT(DISTINCT t.shingle) / t.n_shingles, 4) AS overlap_ratio
    FROM train t JOIN eval_sh e ON t.shingle = e.shingle
    GROUP BY t.doc_id, t.n_shingles
    ORDER BY n_shared DESC, doc_id
    """,
    category="llm text",
    doc="Train/eval decontamination: flag training docs sharing any "
    "3-token shingle with the (hash-held-out) eval split — the "
    "benchmark-leakage scrub every training pipeline runs. The eval "
    "shingle set is DISTINCT-collapsed then broadcast (eval suites "
    "are bounded at any corpus scale), so the training side is one "
    "explode + broadcast-semi-hash-join + one groupBy on doc_id — "
    "the corpus itself never shuffles by shingle.",
)
def text_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.dedup import shingles_col
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # shingling is CPU-heavy per row; a one-split corpus serializes it
    # (r9 core-count probe: 40-50 s at sf1 regardless of cores).
    # No-op at production file counts.
    docs = widen_if_underparallel(
        load_table(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        shingles_col("text", k=3).alias("shingles"),
        _bucket_col().alias("bucket"),
    )
    eval_sh = (
        docs.filter(F.col("bucket") < 10)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    train = docs.filter(F.col("bucket") >= 10).select(
        "doc_id",
        F.size("shingles").cast("bigint").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    return (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.countDistinct("shingle").cast("bigint").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
                "overlap_ratio"
            ),
        )
        .orderBy(F.col("n_shared").desc(), "doc_id")
    )


@register(
    "text_repetition_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents
    ), tc AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ), ts AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(MAX(c) AS BIGINT) AS max_freq
        FROM tc GROUP BY doc_id
    ), gr AS (
        SELECT doc_id, unnest({DUCK_GRAMS}) AS g FROM documents
    ), gc AS (
        SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY doc_id, g
    ), gs AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams
        FROM gc GROUP BY doc_id
    )
    SELECT ts.doc_id, ts.n_tokens,
           ROUND(ts.max_freq / ts.n_tokens, 4) AS top_token_ratio,
           ROUND(1 - gs.n_distinct_grams / gs.n_grams, 4) AS dup_3gram_ratio,
           (ROUND(ts.max_freq / ts.n_tokens, 4) > 0.2
            OR ROUND(1 - gs.n_distinct_grams / gs.n_grams, 4) > 0.2)
               AS is_repetitive
    FROM ts JOIN gs ON ts.doc_id = gs.doc_id
    ORDER BY ts.doc_id
    """,
    category="llm text",
    doc="Intra-document repetition signals (Gopher/C4-style quality "
    "gate): top-token frequency ratio and duplicate-3-gram ratio per "
    "doc. Both computed by explode + two-level groupBy keyed "
    "(doc_id, token) — map-side combine collapses each doc's counts "
    "before the exchange, and the doc_id key component keeps "
    "globally-hot tokens from concentrating on one reducer.",
)
def text_repetition_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # tokenize/shingle explodes serialize on a one-split corpus (r9
    # core-count probe); no-op at production file counts
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    ts = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.max("c").cast("bigint").alias("max_freq"),
        )
    )
    # non-distinct grams: shingles_col minus its array_distinct
    t = tokens_col(F.col("text"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - F.lit(2), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, 3)))
    gs = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
        )
    )
    top_ratio = F.round(F.col("max_freq") / F.col("n_tokens"), 4)
    dup_ratio = F.round(1 - F.col("n_distinct_grams") / F.col("n_grams"), 4)
    return (
        ts.join(gs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            top_ratio.alias("top_token_ratio"),
            dup_ratio.alias("dup_3gram_ratio"),
            ((top_ratio > 0.2) | (dup_ratio > 0.2)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


_MIXTURE_TARGETS = [
    ("de", 0.15),
    ("en", 0.40),
    ("es", 0.15),
    ("fr", 0.15),
    ("zh", 0.15),
]


@register(
    "text_mixture_weights",
    oracle=f"""
    WITH agg AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({DUCK_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM agg
    ), tgt AS (
        SELECT * FROM (VALUES
            {", ".join(f"('{lang}', CAST('{share}' AS DOUBLE))" for lang, share in _MIXTURE_TARGETS)}
        ) t(lang, target_share)
    )
    SELECT a.lang, a.n_docs, a.n_tokens,
           ROUND(a.n_tokens / t.total, 4) AS observed_share,
           tg.target_share,
           ROUND(LEAST(tg.target_share / (a.n_tokens / t.total), 3.0), 4)
               AS sample_weight,
           CAST(FLOOR(a.n_tokens *
                ROUND(LEAST(tg.target_share / (a.n_tokens / t.total), 3.0), 4))
                AS BIGINT) AS planned_tokens
    FROM agg a, tot t
    JOIN tgt tg ON a.lang = tg.lang
    ORDER BY a.lang
    """,
    category="llm text",
    doc="Corpus mixture weighting: per-language observed token share "
    "vs a declared target mixture -> per-language sampling/repeat "
    "weight (capped at 3x upsample) and the planned token budget — "
    "the mixture-rebalancing computation in front of every training "
    "run. One groupBy on the bounded lang key; the corpus total and "
    "the target table are single-row/bounded broadcasts.",
)
def text_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(tokens_col(F.col("text"))))
            .cast("bigint")
            .alias("n_tokens"),
        )
        # referenced twice (total + output): checkpoint so the corpus
        # is scanned once, not twice
        .localCheckpoint(eager=False)
    )
    total = agg.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    targets = spark.createDataFrame(_MIXTURE_TARGETS, "lang string, target_share double")
    weight = F.round(
        F.least(
            F.col("target_share") / (F.col("n_tokens") / F.col("total")),
            F.lit(3.0),
        ),
        4,
    )
    return (
        agg.crossJoin(F.broadcast(total))
        .join(F.broadcast(targets), "lang")
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total"), 4).alias("observed_share"),
            "target_share",
            weight.alias("sample_weight"),
            F.floor(F.col("n_tokens") * weight).cast("bigint").alias(
                "planned_tokens"
            ),
        )
        .orderBy("lang")
    )


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {DUCK_TOKS} AS toks, len({DUCK_TOKS}) AS n
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST(unnest(range(1, n + 1, 24)) AS BIGINT) AS chunk_start,
               toks, n
        FROM base
    )
    SELECT doc_id,
           CAST((chunk_start - 1) // 24 AS BIGINT) AS chunk_id,
           chunk_start,
           CAST(LEAST(32, n - chunk_start + 1) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(
               list_slice(toks, chunk_start, chunk_start + 31), ' ')
               AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    category="llm text",
    doc="Document chunking: fixed 32-token windows with stride 24 "
    "(8-token overlap) — the sample-construction step between "
    "curation and tokenization. Chunk starts are a per-row sequence "
    "exploded JVM-side (no Python, no shuffle: chunking is "
    "embarrassingly parallel over the scan; the only exchange is "
    "the output sort, which a real pipeline would drop).",
)
def text_chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    starts = F.sequence(F.lit(1), F.col("n"), F.lit(24))
    return (
        base.select(
            "doc_id",
            F.explode(starts).alias("start_i"),
            "toks",
            "n",
        )
        .withColumn("chunk_start", F.col("start_i").cast("bigint"))
        .select(
            "doc_id",
            F.expr("CAST((chunk_start - 1) DIV 24 AS BIGINT)").alias("chunk_id"),
            "chunk_start",
            F.least(F.lit(32), F.col("n") - F.col("chunk_start") + 1)
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("start_i"), 32)
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# DuckDB fragment: the characters of `text` as a 1-based list (kept
# in lockstep with the Spark transform(sequence...) expression in
# text_char_entropy — neither engine splits on '' consistently)
_DUCK_CHARS = (
    "list_transform(range(1, length(text) + 1), i -> substring(text, i, 1))"
)


@register(
    "text_char_entropy",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, unnest({_DUCK_CHARS}) AS c FROM documents
    ), cc AS (
        SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c
    ), cc2 AS (
        SELECT doc_id, cnt,
               SUM(cnt) OVER (PARTITION BY doc_id) AS total
        FROM cc
    ), st AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               ROUND(-SUM((cnt / total) * log2(cnt / total)), 4)
                   AS char_entropy_bits
        FROM cc2 GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted, n_distinct_chars, char_entropy_bits,
           char_entropy_bits < 3.0 AS is_low_entropy
    FROM st ORDER BY doc_id
    """,
    category="llm text",
    doc="Character-unigram entropy per document (bits) — the "
    "compression-style quality proxy behind boilerplate/gibberish "
    "filters (low entropy = repeated boilerplate, high = random "
    "noise). Explode + (doc_id, char)-keyed counts combine map-side; "
    "the entropy fold is a windowless re-aggregate per doc.",
)
def text_char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # the per-CHARACTER explode is the package's widest scan-side
    # fan-out; one-split corpora serialize it (r9 core-count probe)
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    # substring with a column start position needs the expr form
    chars = F.expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))"
    )
    cc = (
        docs.select("doc_id", F.explode(chars).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cc2 = cc.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("doc_id"))
    )
    p = F.col("cnt") / F.col("total")
    st = cc2.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars_counted"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
        F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy_bits"),
    )
    return st.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        "char_entropy_bits",
        (F.col("char_entropy_bits") < 3.0).alias("is_low_entropy"),
    ).orderBy("doc_id")


WINNOW_K = 8  # char-gram width
WINNOW_W = 4  # winnowing window (selects one min-hash per window)


@register(
    "text_winnow_fingerprint",
    # the sliding min runs as a vectorized window MIN over zip-
    # unnested (hash, position) rows rather than a per-position
    # list-slice lambda (O(len*w) slice allocations interpreted per
    # doc): verified row-identical at sf0.001/sf0.01, 279 s -> 26 s
    # at sf1 (r10). The frame CURRENT..w-1 FOLLOWING truncates at the
    # partition edge exactly like the hs[i:i+w-1] slice did.
    oracle=f"""
    WITH g AS MATERIALIZED (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(length(text) - {WINNOW_K - 1}, 1) + 1),
                   i -> md5(substr(text, i, {WINNOW_K}))) AS hs
        FROM documents
    ), h AS MATERIALIZED (
        SELECT doc_id, len(hs) AS n,
               unnest(hs) AS hv,
               unnest(range(1, len(hs) + 1)) AS i
        FROM g
    ), m AS (
        SELECT doc_id, i, n,
               MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW
                             AND {WINNOW_W - 1} FOLLOWING) AS mh
        FROM h
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT mh) AS BIGINT) AS n_fingerprints,
           md5(string_agg(DISTINCT mh, '' ORDER BY mh)) AS fp_digest
    FROM m WHERE i <= greatest(n - {WINNOW_W - 1}, 1)
    GROUP BY doc_id
    """,
    category="llm text",
    doc="Winnowing document fingerprints (Schleimer, Wilkerson, "
    "Aiken 2003 — the MOSS algorithm): hash every 8-char gram, keep "
    "the minimum hash of each 4-gram sliding window. Guarantees any "
    "shared substring of length ≥ k+w-1 contributes a shared "
    "fingerprint, at ~2/(w+1) sampling density — the local-dedup / "
    "plagiarism sketch between exact-hash and MinHash. One pass of "
    "in-row array expressions (no explode, no shuffle); the digest "
    "summarises the sorted fingerprint set for direct equality "
    "checks. Lexicographic md5 minima are engine-agnostic.",
)
def text_winnow_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # the k-gram hash + sliding-min chain is the package's heaviest
    # scan-side expression; one-split corpora serialize it (r8 sf1:
    # 38.5 s on 1 task -> 4.6 s widened); no-op at production file counts
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    # one fused expression: grams are hashed once, bound through a
    # single-element transform lambda (same trick as the LSH bands)
    wins = (
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)), "
        f"i -> array_min(slice(hs, i, {WINNOW_W}))))"
    )
    expr = f"""
    element_at(transform(array(
        transform(sequence(1, greatest(length(text) - {WINNOW_K - 1}, 1)),
                  i -> md5(substring(text, i, {WINNOW_K})))
    ), hs -> element_at(transform(array({wins}), fps -> named_struct(
        'n', size(fps),
        'dg', md5(concat_ws('', array_sort(fps)))
    )), 1)), 1)
    """
    return docs.select(
        "doc_id",
        F.expr(expr).alias("__w"),
    ).select(
        "doc_id",
        F.col("__w.n").cast("bigint").alias("n_fingerprints"),
        F.col("__w.dg").alias("fp_digest"),
    )


@register(
    "text_train_split",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE
                 WHEN CAST('0x' || substring(
                     md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 7)
                     AS BIGINT) % 100 < 90 THEN 'train'
                 WHEN CAST('0x' || substring(
                     md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 7)
                     AS BIGINT) % 100 < 95 THEN 'val'
                 ELSE 'test'
               END AS split,
               len(str_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM assigned GROUP BY split, lang
    """,
    category="llm text",
    doc="Deterministic 90/5/5 train/val/test split: the split is a "
    "pure function of md5(doc_id), so it is reproducible across "
    "runs, engines and partitioning, and any doc's membership can "
    "be recomputed without the assignment table (the property that "
    "makes decontamination and incremental re-splits tractable). "
    "Reported per (split, language) with token mass — the "
    "stratification check. Scan + one small keyed shuffle.",
)
def text_train_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "lang",
            F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


@register(
    "text_global_shuffle",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS k,
               CAST('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 7)
                   AS BIGINT) % 8 AS shard_id
        FROM documents
    )
    SELECT doc_id,
           CAST(shard_id AS INTEGER) AS shard_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard_id ORDER BY k, doc_id
           ) AS INTEGER) AS position
    FROM keyed
    """,
    category="llm text",
    doc="Deterministic global corpus shuffle into training shards: "
    "every doc gets a pseudorandom-but-reproducible md5 sort key "
    "(salted by epoch — change the salt, get an independent "
    "permutation), a hash shard assignment, and a dense position "
    "within its shard. ONE shuffle keyed by shard; within-shard "
    "order comes from the sort key, so the permutation is "
    "independent of input partitioning. At scale shards ≫ cores "
    "(here 8 for oracle-size output) and each reducer streams one "
    "shard out in sorted order.",
)
def text_global_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0")))
    shard = (
        F.conv(F.substring(k, 1, 7), 16, 10).cast("bigint") % 8
    ).cast("int")
    keyed = docs.select("doc_id", k.alias("k"), shard.alias("shard_id"))
    w = Window.partitionBy("shard_id").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("int").alias("position"),
    )


def _positional_ngrams(toks: F.Column, k: int) -> F.Column:
    """All positional (overlapping, non-distinct) k-token windows of
    a token array — ``[]`` when the document is shorter than k.

    ``sequence(1, n-k+1)`` must be guarded: Spark's ``sequence(1, 0)``
    yields a DESCENDING ``[1, 0]``, not an empty array.
    """

    def _win(i: F.Column) -> F.Column:  # closure, not default-arg capture
        return F.concat_ws(" ", F.slice(toks, i, k))

    n = F.size(toks)
    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - F.lit(k - 1)), _win)
    ).otherwise(F.array().cast("array<string>"))


@register(
    "text_bigram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, str_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, lang, t[u.i] AS w1, t[u.i] || ' ' || t[u.i+1] AS big
        FROM toks, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
    ), cb AS (
        SELECT big, COUNT(*) AS c12 FROM bg GROUP BY big
    ), cw AS (
        SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
    ), vocab AS (
        SELECT COUNT(DISTINCT u.tok) AS v
        FROM toks, UNNEST(t) AS u(tok)
    ), agg AS (
        SELECT b.doc_id, b.lang,
               COUNT(*) AS n_bigrams,
               ROUND(AVG(ln(cb.c12 + 1) - ln(cw.c1 + vocab.v)), 4)
                 AS avg_logprob
        FROM bg b JOIN cb USING (big) JOIN cw USING (w1), vocab
        GROUP BY b.doc_id, b.lang
    )
    SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           avg_logprob,
           CASE ntile(3) OVER (
               PARTITION BY lang ORDER BY avg_logprob DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM agg
    """,
    category="llm text",
    doc="CCNet-style corpus-LM quality scoring: an add-one-smoothed "
    "bigram model is trained on the corpus itself (p = (c(w1,w2)+1)"
    "/(c(w1·)+V) over positional bigrams — unsmoothed MLE would "
    "hand every one-off bigram p=1 and score gibberish perfectly), "
    "each doc scored by mean log-probability (the negative of "
    "per-token log-perplexity), and docs cut into head/middle/tail "
    "tertiles per language — the exact shape of CCNet's perplexity "
    "buckets, with the corpus n-gram model standing in for KenLM. "
    "Plan: one explode, two count aggregations whose outputs are "
    "at most vocab^2 rows (tiny vs the corpus — AQE broadcasts "
    "them back), a broadcast scalar for V, one per-doc agg. The "
    "tertile window partitions by language; at extreme scale the "
    "cut would come from approx quantile thresholds instead of a "
    "per-lang sort, trading exactness for no global order.",
)
def text_bigram_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # positional-ngram derivation serializes on a one-split corpus
    # (r9 core-count probe); no-op at production file counts
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    bg = docs.select(
        "doc_id",
        "lang",
        F.explode(_positional_ngrams(toks, 2)).alias("big"),
    ).withColumn("w1", F.split(F.col("big"), " ")[0])
    cb = bg.groupBy("big").agg(F.count(F.lit(1)).alias("c12"))
    cw = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    agg = (
        bg.join(cb, "big")
        .join(cw, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c12") + 1) - F.log(F.col("c1") + F.col("v"))),
                4,
            ).alias("avg_logprob"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    tertile = F.ntile(3).over(w)
    return agg.select(
        "doc_id",
        "lang",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        "avg_logprob",
        F.when(tertile == 1, "head")
        .when(tertile == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@register(
    "text_span_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), spans AS (
        SELECT doc_id,
               substring(md5(array_to_string(t[u.i:u.i+7], ' ')), 1, 16)
                 AS dg
        FROM toks, UNNEST(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
    ), cnt AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY dg) AS c FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM cnt GROUP BY doc_id
    """,
    category="llm text",
    doc="Exact-substring dedup signal (the fixed-width approximation "
    "of Lee et al.'s suffix-array dedup): every positional 8-token "
    "span is digested scan-side, a window count over the digest "
    "finds spans occurring more than once ANYWHERE in the corpus, "
    "and each doc reports its duplicated-span fraction — the "
    "per-document signal used to drop or trim boilerplate-heavy "
    "docs. Two shuffles, both keyed by uniform 16-hex digests "
    "(never span text): one for the global span count, one for the "
    "per-doc rollup. Span count >1 includes intra-doc repeats, "
    "matching the 'any repeated passage' training-data criterion.",
)
def text_span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    spans = docs.select(
        "doc_id",
        F.explode(_positional_ngrams(toks, 8)).alias("span"),
    ).select("doc_id", F.substring(F.md5("span"), 1, 16).alias("dg"))
    counted = spans.select(
        "doc_id", F.count(F.lit(1)).over(Window.partitionBy("dg")).alias("c")
    )
    n_dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        n_dup.cast("bigint").alias("n_dup_spans"),
        (n_dup.cast("double") / F.count(F.lit(1))).alias("dup_frac"),
    )


@register(
    "text_vocab_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents
    ), vocab AS (
        SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM tok GROUP BY token
    ), total AS (
        SELECT SUM(tf) AS tt FROM vocab
    ), top AS (
        SELECT token, tf, df FROM vocab ORDER BY tf DESC, token LIMIT 200
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INTEGER)
             AS rank,
           token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(SUM(tf) OVER (ORDER BY tf DESC, token) AS DOUBLE)
             / (SELECT tt FROM total) AS cum_share
    FROM top
    """,
    category="llm text",
    doc="Vocabulary building for tokenizer training: corpus-wide "
    "term frequency and document frequency per token, top-200 by "
    "frequency, with each token's cumulative share of total token "
    "mass (the coverage curve that sizes a vocab). The first agg "
    "runs per (doc, token) — partial-combine-friendly, no "
    "count-distinct expand — then re-aggregates per token "
    "(tf = sum of per-doc counts, df = group size). Top-k is "
    "TakeOrdered (no global sort); the cumulative window runs over "
    "k=200 rows on one partition, which is bounded regardless of "
    "corpus size. cum_share is an exact int/int ratio — "
    "bit-identical across engines, no rounding needed.",
)
def text_vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # two consumers (the total mass, the top-200 cut) — pin the
    # vocab-sized frame so the explode + both aggregates run once
    vocab = per_doc.groupBy("token").agg(
        F.sum("c").alias("tf"), F.count(F.lit(1)).alias("df")
    ).localCheckpoint(eager=False)
    total = vocab.agg(F.sum("tf").alias("tt"))
    top = vocab.orderBy(F.col("tf").desc(), "token").limit(200)
    w = Window.orderBy(F.col("tf").desc(), "token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("tf").desc(), "token"))
            .cast("int")
            .alias("rank"),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.sum("tf").over(w).cast("double") / F.col("tt")).alias(
                "cum_share"
            ),
        )
    )


@register(
    "text_shard_plan",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST(FLOOR((run - n_tokens) / 2000.0) AS BIGINT) AS shard_id
    FROM (
        SELECT doc_id,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
               SUM(CAST(len({DUCK_TOKS}) AS BIGINT))
                 OVER (ORDER BY doc_id) AS run
        FROM documents
    )
    """,
    category="llm text",
    doc="Token-budget shard planning: assign each document a shard id "
    "so consecutive (by doc_id) shards hold ~2000 tokens each — the "
    "export step that turns a curated corpus into training shards of "
    "uniform token mass. Scale shape: a DISTRIBUTED two-level prefix "
    "sum — per-range-bucket token totals (one small agg), exclusive "
    "bucket offsets via a window over the bucket-count-sized frame, "
    "broadcast back, then a PARTITIONED window for the local cumsum; "
    "the full corpus never passes through a single-partition global "
    "window. Bucket width is a knob: deployments size it so the "
    "bucket-total frame stays driver-broadcastable (e.g. one bucket "
    "per input split at 100 TB).",
    bench=True,
)
def text_shard_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    budget = 2000
    bucket_width = 64
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.floor(F.col("doc_id") / bucket_width).alias("__bucket"),
    )
    per_bucket = d.groupBy("__bucket").agg(
        F.sum("n_tokens").alias("__btoks")
    )
    # exclusive running offset over the (tiny) bucket frame
    off_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("__btoks").over(off_w), F.lit(0)).alias("__offset"),
    )
    local_w = (
        Window.partitionBy("__bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(offsets), "__bucket")
        .withColumn("__run", F.sum("n_tokens").over(local_w))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(
                (F.col("__offset") + F.col("__run") - F.col("n_tokens"))
                / F.lit(float(budget))
            ).alias("shard_id"),
        )
    )


# planted-PII augmentation, identical on both engines: the synthetic
# documents contain no emails/phones/IPs, so deterministic fixtures
# are appended by doc_id residue to make the redaction observable
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\d{3}-\\d{3}-\\d{4}"
_PII_IP = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 5 = 0 THEN ' contact user'
                        || CAST(doc_id AS VARCHAR) || '@example.com now'
                        ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567'
                        ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.3.'
                        || CAST(doc_id % 255 AS VARCHAR) ELSE '' END)
               AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT)
             AS n_ips,
           md5(regexp_replace(regexpreplace_ip, '{_PII_EMAIL}',
               '<EMAIL>', 'g')) AS redacted_digest
    FROM (
        SELECT doc_id, text,
               regexp_replace(regexp_replace(text, '{_PII_IP}', '<IP>',
                   'g'), '{_PII_PHONE}', '<PHONE>', 'g')
                 AS regexpreplace_ip
        FROM aug
    )
    """,
    category="llm text",
    doc="PII scrubbing: count and redact emails / phone numbers / "
    "IPv4 addresses (RE2-and-Java-compatible patterns, no "
    "lookaround), emitting per-doc counts plus the md5 of the "
    "redacted text so the oracle certifies the exact replacement "
    "output, not just the counts. Pure scan+project — no shuffle; "
    "the mandatory compliance pass every training corpus runs "
    "before export.",
)
def text_pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567"))
            .otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" host 10.0.3."),
                    (F.col("doc_id") % 255).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_IP, "<IP>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_EMAIL,
        "<EMAIL>",
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL))
        .cast("int")
        .alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_PHONE))
        .cast("int")
        .alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_PII_IP))
        .cast("int")
        .alias("n_ips"),
        F.md5(redacted).alias("redacted_digest"),
    )


@register(
    "text_curation_pipeline",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id, lang,
               md5(text) AS digest,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
               len(list_distinct({DUCK_TOKS}))
                 / greatest(len({DUCK_TOKS}), 1) AS distinct_ratio,
               list_distinct(list_transform(range(1, greatest(len(str_split(text, ' ')) - 4, 1) + 1), i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1] || ' ' || str_split(text, ' ')[i+2] || ' ' || str_split(text, ' ')[i+3] || ' ' || str_split(text, ' ')[i+4])) AS shingles
        FROM documents
    ), qualified AS (
        SELECT * FROM enriched
        WHERE n_tokens >= 5 AND distinct_ratio > 0.3
    ), survivors AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY digest ORDER BY doc_id) AS rn
            FROM qualified
        ) WHERE rn = 1
    ), eval_sh AS (
        SELECT DISTINCT unnest(shingles) AS shingle
        FROM enriched
        WHERE {_DUCK_BUCKET} < 10
    ), clean AS (
        SELECT s.doc_id, s.lang, s.n_tokens
        FROM survivors s
        WHERE {_DUCK_BUCKET.replace('doc_id', 's.doc_id')} >= 10
          AND NOT EXISTS (
              SELECT 1 FROM eval_sh e
              WHERE list_contains(s.shingles, e.shingle)
          )
    ), sharded AS (
        SELECT doc_id, lang, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id)
                           - n_tokens) / 2000.0) AS BIGINT) AS shard_id
        FROM clean
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM sharded
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    category="llm text (composite)",
    doc="The WHOLE curation pipeline as ONE Catalyst plan — quality "
    "gate (token count + repetition ratio) -> exact dedup (min-id "
    "survivor per md5 digest) -> eval-set decontamination (drop "
    "train docs sharing any 5-shingle with the held-out 10% hash "
    "bucket, plus the bucket itself) -> token-budget shard "
    "assignment -> per-shard composition stats. Every stage reuses "
    "the registered single-op semantics, so the composite is "
    "oracle-checked end-to-end. The enriched frame is lazily "
    "checkpointed at its fan-out point, so the corpus parquet is "
    "scanned ONCE — when the enriched checkpoint materializes; "
    "every later stage reads its cached partitions — and "
    "tokenize+shingle runs once per doc. The wide shingles column "
    "never crosses an exchange: the digest dedup shuffles only the "
    "narrow survivor columns (map-side-combined min_by), and "
    "decontamination candidates explode shingles straight out of "
    "the cached enriched partitions (a candidate superset is "
    "harmless under the anti-join); the eval shingle set "
    "broadcasts un-deduped (a semi-join probe only tests key "
    "existence, so the pre-broadcast distinct's exchange bought "
    "nothing; past the broadcast threshold AQE flips this to a "
    "shuffled semi-join whose map-side partial aggregation dedups "
    "for free), shards come from the bucketed prefix sum whose "
    "repartition('__b') exchange is REUSED by both the offsets "
    "aggregate and the per-bucket running sum — nothing is ever "
    "globally sorted (the driver's value hash is order-insensitive, "
    "so the final ORDER BY, whose range partitioner costs a "
    "sampling job, is left to the caller).",
    bench=True,
)
def text_curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aws_lakehouse_spark.layout import widen_if_narrow
    from aws_lakehouse_spark.llm.dedup import shingles_col
    from aws_lakehouse_spark.operators import dedupe_by_key_agg

    # the expensive stage is tokenize+shingle over every document; a
    # sub-split-size input would run it on ONE core — widen first
    # (no-op at real scale where file count >> cores)
    docs = widen_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("bigint") % 100
    )
    enriched = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("digest"),
        n.cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))).alias(
            "distinct_ratio"
        ),
        shingles_col("text", 5).alias("shingles"),
        bucket.alias("__bucket"),
    ).localCheckpoint(eager=False)
    # the digest-dedup shuffle must NOT carry `shingles` (by far the
    # widest column — at sf0.1 it dominated the exchange and forced a
    # second wide checkpoint): survivorship needs only the narrow
    # columns, and decontamination candidates can come straight from
    # `enriched`'s cached partitions instead of from the survivors —
    # the anti-join below is insensitive to a candidate SUPERSET
    # (non-survivor doc_ids simply match nothing), so both frames
    # stay semantically identical to the oracle while the wide column
    # never crosses an exchange or a checkpoint again.
    qualify = (F.col("n_tokens") >= 5) & (F.col("distinct_ratio") > 0.3)
    qualified = enriched.select(
        "doc_id", "lang", "digest", "n_tokens", "__bucket"
    ).filter(qualify)
    survivors = dedupe_by_key_agg(qualified, ["digest"], ["doc_id"])
    # no .distinct() on either join input: left_semi/left_anti are
    # insensitive to duplicate build-side keys, so the dedup
    # exchanges would be pure overhead (measured ~0.8 s of the
    # pipeline's 2.5 s at sf0.1)
    eval_shingles = enriched.filter(F.col("__bucket") < 10).select(
        F.explode("shingles").alias("shingle")
    )
    contaminated = (
        enriched.filter(qualify & (F.col("__bucket") >= 10))
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(eval_shingles), "shingle", "left_semi")
        .select("doc_id")
    )
    clean = (
        survivors.filter(F.col("__bucket") >= 10)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .select("doc_id", "lang", "n_tokens")
    )
    # two-level prefix sum (same shape as text_shard_plan); the one
    # explicit exchange on __b is shared by both consumers below via
    # ReusedExchange, so `clean` needs no checkpoint of its own
    d = clean.withColumn("__b", F.floor(F.col("doc_id") / 64)).repartition("__b")
    off_w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("__b")
        .agg(F.sum("n_tokens").alias("__bt"))
        .select("__b", F.coalesce(F.sum("__bt").over(off_w), F.lit(0)).alias("__off"))
    )
    local_w = (
        Window.partitionBy("__b").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sharded = (
        d.join(F.broadcast(offsets), "__b")
        .withColumn("__run", F.sum("n_tokens").over(local_w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(
                (F.col("__off") + F.col("__run") - F.col("n_tokens")) / F.lit(2000.0)
            ).alias("shard_id"),
        )
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


@register(
    "text_url_canonical_dedup",
    oracle="""
    WITH raw AS (
        -- deterministic planted URLs: mixed-case hosts, tracking
        -- params, fragments, trailing slashes — 20 canonical targets
        SELECT doc_id,
               'https://Site' || (doc_id % 4) || '.Example.org/page/'
               || (doc_id % 20)
               || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&utm_campaign=x' ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
               AS url
        FROM documents
    ), canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, 'https?://([^/?#]+)', 1))
               || rtrim(regexp_replace(
                      regexp_extract(url, 'https?://[^/?#]+([^?#]*)', 1),
                      '/+$', ''), '/')
               AS canonical_url
        FROM raw
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(doc_id) AS keep_doc
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    category="llm text",
    doc="URL canonicalization + dedup: lowercase the host, strip "
    "query strings (tracking params), fragments, and trailing "
    "slashes, then group crawl records by canonical URL keeping the "
    "min doc — the fetch-dedup step every crawler runs BEFORE "
    "content dedup (the same page fetched via 6 tracking-param "
    "variants is one document, and catching it at the URL level "
    "skips 5 fetches + 5 content hashes). Pure scan + one shuffle "
    "on the canonical key. Planted variants cover case, utm, "
    "fragment, and trailing-slash noise over 20 canonical targets.",
)
def text_url_canonical_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://Site"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(".Example.org/page/"),
        (F.col("doc_id") % 20).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("?utm_source=feed&utm_campaign=x"),
        ).otherwise(""),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#section-2")).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(""),
    )
    host = F.lower(F.regexp_extract(url, r"https?://([^/?#]+)", 1))
    path = F.rtrim(
        F.regexp_replace(
            F.regexp_extract(url, r"https?://[^/?#]+([^?#]*)", 1),
            r"/+$",
            "",
        ),
    )
    canonical = F.concat(host, path)
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("keep_doc"),
        )
        .orderBy("canonical_url")
    )


@register(
    "text_gopher_quality",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_words,
               length(text) AS n_chars,
               len(list_filter({DUCK_TOKS},
                   t -> regexp_matches(t, '^[a-z]+$'))) AS n_alpha_words,
               len(regexp_extract_all(text, '[#*>=_|]')) AS n_symbols
        FROM documents
    )
    SELECT doc_id,
           n_words >= 50 AND n_words <= 100000 AS pass_word_count,
           CAST(n_chars AS DOUBLE) / greatest(n_words, 1) >= 3
             AND CAST(n_chars AS DOUBLE) / greatest(n_words, 1) <= 10
             AS pass_mean_word_len,
           CAST(n_alpha_words AS DOUBLE) / greatest(n_words, 1) >= 0.8
             AS pass_alpha_ratio,
           CAST(n_symbols AS DOUBLE) / greatest(n_words, 1) <= 0.1
             AS pass_symbol_ratio,
           (n_words >= 50 AND n_words <= 100000)
             AND (CAST(n_chars AS DOUBLE) / greatest(n_words, 1) >= 3
                  AND CAST(n_chars AS DOUBLE) / greatest(n_words, 1) <= 10)
             AND (CAST(n_alpha_words AS DOUBLE) / greatest(n_words, 1) >= 0.8)
             AND (CAST(n_symbols AS DOUBLE) / greatest(n_words, 1) <= 0.1)
             AS pass_all
    FROM f
    """,
    category="llm text",
    doc="Gopher-style quality ruleset (Rae et al. 2021 §A1.1, "
    "adapted to the fixture's scale): per-document booleans for "
    "word-count bounds, mean word length 3-10, alphabetic-word "
    "ratio >= 0.8, and symbol-to-word ratio <= 0.1, plus the "
    "conjunction — PER-RULE attribution, so curation can see WHY a "
    "doc failed, not just that it did (the operational difference "
    "between a filter and a debuggable filter). Pure scan+project; "
    "integer-ratio arithmetic is bit-identical across engines.",
)
def text_gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_words = F.size(toks).cast("bigint")
    n_chars = F.length("text")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    n_symbols = F.size(
        F.expr(r"regexp_extract_all(text, '[#*>=_|]', 0)")
    )
    mwl = n_chars.cast("double") / F.greatest(n_words, F.lit(1))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_words, F.lit(1))
    sym_ratio = n_symbols.cast("double") / F.greatest(n_words, F.lit(1))
    p_wc = (n_words >= 50) & (n_words <= 100000)
    p_mwl = (mwl >= 3) & (mwl <= 10)
    p_alpha = alpha_ratio >= 0.8
    p_sym = sym_ratio <= 0.1
    return docs.select(
        "doc_id",
        p_wc.alias("pass_word_count"),
        p_mwl.alias("pass_mean_word_len"),
        p_alpha.alias("pass_alpha_ratio"),
        p_sym.alias("pass_symbol_ratio"),
        (p_wc & p_mwl & p_alpha & p_sym).alias("pass_all"),
    )


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens,
               length(regexp_replace(text, '\\s+', '', 'g'))
                 / greatest(len({DUCK_TOKS}), 1) AS avg_token_len,
               len(list_filter({DUCK_TOKS},
                   t -> t IN ({_sql_in_list(DEFAULT_STOPWORDS)})))
                 / greatest(len({DUCK_TOKS}), 1) AS stopword_ratio,
               len(list_distinct({DUCK_TOKS}))
                 / greatest(len({DUCK_TOKS}), 1) AS distinct_ratio
        FROM documents
    ), scored AS (
        SELECT doc_id,
               ROUND(1.0 / (1.0 + exp(-(-3.0 + 0.012 * n_tokens
                   + 0.25 * avg_token_len + 4.0 * stopword_ratio
                   + 1.5 * distinct_ratio))), 6) AS quality_p
        FROM feats
    )
    SELECT doc_id, quality_p, quality_p >= 0.5 AS keep
    FROM scored
    ORDER BY doc_id
    """,
    category="llm text",
    doc="fastText-style quality classifier (the CCNet/LLaMA corpus "
    "filter shape): logistic regression over the scan-side "
    "quality_features vector with planted literal weights, sigmoid "
    "probability rounded pre-threshold, keep decision at 0.5. Costs "
    "a projection in the same single scan that read the documents — "
    "no UDF, no shuffle; swapping in trained weights changes "
    "literals, not the plan. Oracle recomputes features, sigmoid, "
    "and threshold in SQL.",
)
def text_quality_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.text import quality_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    out = quality_classifier_score(F.col("text"))
    return docs.select(
        "doc_id",
        out["quality_p"].alias("quality_p"),
        out["keep"].alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_dsir_importance",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               CAST(substr(source, 4) AS BIGINT) < 5 AS is_target,
               unnest(CASE WHEN len(str_split(text, ' ')) >= 2 THEN
                   list_transform(
                       range(1, len(str_split(text, ' '))),
                       i -> str_split(text, ' ')[i] || ' '
                            || str_split(text, ' ')[i + 1])
                   ELSE [] END) AS bigram
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, is_target,
               ('0x' || substr(md5(bigram), 1, 8))::BIGINT % 128 AS b
        FROM grams
    ),
    raw_counts AS (
        SELECT b, CAST(COUNT(*) AS DOUBLE) AS cr FROM hashed GROUP BY b
    ),
    tgt_counts AS (
        SELECT b, CAST(COUNT(*) AS DOUBLE) AS ct
        FROM hashed WHERE is_target GROUP BY b
    ),
    totals AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nr,
               CAST(COUNT(*) FILTER (is_target) AS DOUBLE) AS nt
        FROM hashed
    ),
    ratio AS (
        SELECT r.b,
               ln((COALESCE(t.ct, 0) + 1) / ((SELECT nt FROM totals) + 128))
               - ln((r.cr + 1) / ((SELECT nr FROM totals) + 128)) AS lr
        FROM raw_counts r LEFT JOIN tgt_counts t ON r.b = t.b
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(rt.lr), 6) AS dsir_logratio
    FROM hashed h JOIN ratio rt ON h.b = rt.b
    GROUP BY h.doc_id
    """,
    category="llm text (data mixing)",
    doc="DSIR-style importance weight per document (Xie et al. 2023: "
    "Data Selection via Importance Resampling): hashed-bigram bag "
    "features (md5 -> 128 buckets, engine-identical), add-1-smoothed "
    "unigram models over the TARGET cohort (src0-4, the quality "
    "proxy) and the RAW corpus, and per-doc log importance = sum of "
    "per-feature log-likelihood ratios — the standard recipe for "
    "resampling a web-scale corpus toward a target domain. Scale "
    "shape: the feature LM is a FIXED 128-row table (two grouped "
    "counts over the exploded grams, broadcast back), so the corpus "
    "is scanned once for counting and once for scoring; nothing "
    "data-sized ever sorts or cross-joins.",
    bench=True,
)
def text_dsir_importance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # the hashed-bigram explode below is checkpointed; widen FIRST so
    # the materialized frame is not one partition (r9 core-count probe)
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    bigram_arr = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat_ws(' ', slice(split(text, ' '), i, 2))) "
        "ELSE array() END"
    )
    # checkpoint the exploded hash table: it feeds both the feature-LM
    # counts and the per-doc scoring pass, and without it the
    # tokenize+explode+md5 over the whole corpus re-ran once per
    # consumer (the former three separate count passes also collapse
    # into ONE bucket aggregate + a 128-row total below — together
    # −60% wall at sf0.1)
    hashed = (
        docs.select(
            "doc_id",
            # try_cast: source tags are free text in the wild — a
            # non-numeric suffix must score as non-target (NULL is
            # falsy in the count-if), not throw an ANSI cast error
            (F.substring("source", 4, 10).try_cast("bigint") < 5).alias(
                "is_target"
            ),
            F.explode(bigram_arr).alias("bigram"),
        )
        .select(
            "doc_id",
            "is_target",
            (
                F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % 128
            ).alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    counts = hashed.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("cr"),
        F.count(F.when(F.col("is_target"), F.lit(1)))
        .cast("double")
        .alias("ct"),
    )
    totals = counts.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + 128))
            - F.log((F.col("cr") + 1) / (F.col("nr") + 128))
        ).alias("lr"),
    )
    return (
        hashed.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("lr"), 6).alias("dsir_logratio"),
        )
    )


@register(
    "text_span_dedup_apply",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), spans AS (
        SELECT doc_id, u.i AS pos,
               substring(md5(array_to_string(t[u.i:u.i+7], ' ')), 1, 16)
                 AS dg
        FROM toks, UNNEST(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
    ), dup AS (
        SELECT dg FROM spans GROUP BY dg HAVING COUNT(*) > 1
    ), covered AS (
        SELECT DISTINCT s.doc_id, s.pos + o.j AS tpos
        FROM spans s JOIN dup USING (dg), UNNEST(range(0, 8)) AS o(j)
    ), tokens AS (
        SELECT doc_id, u.i AS tpos, t[u.i] AS tok
        FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ), kept AS (
        SELECT tk.doc_id, tk.tpos, tk.tok
        FROM tokens tk
        ANTI JOIN covered c
          ON tk.doc_id = c.doc_id AND tk.tpos = c.tpos
    ), agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    category="llm text",
    doc="The APPLY face of exact-substring dedup (Lee et al.): every "
    "8-token span duplicated anywhere in the corpus marks its token "
    "positions as covered; covered tokens are removed (symmetrically "
    "— all occurrences, the conservative boilerplate-strip variant) "
    "and the surviving tokens reassemble in position order into the "
    "cleaned text. Complements text_span_dedup, which only SCORES "
    "docs by duplicated-span fraction. Scale: spans materialize ONCE "
    "(lazy checkpoint — they feed both the duplicate count and the "
    "coverage expansion) and shuffle once keyed by uniform 16-hex "
    "digest for the global count; the covered-position set is "
    "semi-join bounded (only spans whose digest is duplicated expand "
    "into positions) and collapses to ONE doc-keyed array, so the "
    "rebuild is a doc-sized join plus linear array expressions — "
    "array_except(sequence, covered) is hash-set based, O(tokens + "
    "covered) per doc, preserves the sequence's order, and "
    "element_at re-picks survivors in place. No token-level "
    "anti-join, no per-group sort, no global sort, no all-pairs "
    "anything.",
    bench=True,
)
def text_span_dedup_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # the 8-gram span explode + md5 serializes on a one-split corpus,
    # AND the lazy checkpoint below would materialize one partition
    # for every downstream consumer (r9 core-count probe); widen first
    docs = widen_if_underparallel(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    spans = (
        docs.select(
            "doc_id",
            F.posexplode(_positional_ngrams(toks, 8)).alias("p0", "span"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.substring(F.md5("span"), 1, 16).alias("dg"),
        )
        .localCheckpoint(eager=False)
    )
    dup = spans.groupBy("dg").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") > 1
    ).select("dg")
    covered = (
        spans.join(dup, "dg", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(7))
            ).alias("tpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tpos").alias("cov"))
    )
    cov = F.coalesce(F.col("cov"), F.expr("array()").cast("array<int>"))
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size(toks)), cov.cast("array<int>")
    )
    t = F.col("__t")
    return (
        docs.join(covered, "doc_id", "left")
        .withColumn("__t", toks)
        .select(
            "doc_id",
            F.size(t).cast("bigint").alias("n_tokens"),
            F.size(kept_pos).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(kept_pos, lambda p: F.element_at(t, p)),
            ).alias("clean_text"),
        )
    )


# Shipped-tokenizer merge table for text_bpe_encode: a FIXED, ordered
# BPE merge list (the artifact a trained tokenizer exports) chosen to
# cascade on the synthetic vocabulary. Literal rules keep the query
# deterministic and let the oracle replay the exact same fold.
BPE_ENCODE_MERGES: list[tuple[str, str]] = [
    ("t", "a"),
    ("l", "e"),
    ("ta", "b"),
    ("tab", "le"),
    ("v", "a"),
    ("va", "l"),
    ("r", "o"),
    ("ro", "w"),
    ("s", "c"),
    ("sc", "a"),
]

# fold-state encoding for the DuckDB list_reduce replica of
# llm.bpe._merge_pair: accumulated symbols joined by US (\x1f), with
# an RS (\x1e) suffix marking "just merged" (blocks a second merge
# consuming the freshly created symbol)
_US = chr(31)
_RS = chr(30)


def _bpe_rule_sql(arr_expr: str, a: str, b: str) -> str:
    """SQL array->array: one merge rule applied with the same
    left-to-right, non-overlapping, simultaneous-pass semantics as
    ``llm.bpe._merge_pair`` (list_reduce fold over an encoded
    accumulator string)."""
    merged = a + b
    # accumulator pieces, written as SQL over (acc, x)
    jm = f"(acc LIKE '%{_RS}')"
    base = f"rtrim(acc, '{_RS}')"
    last = f"COALESCE(list_extract(str_split({base}, '{_US}'), -1), '')"
    can = f"(NOT {jm} AND {last} = '{a}' AND x = '{b}')"
    left = (
        f"substring({base}, 1, greatest(len({base}) - len({last}) - 1, 0))"
    )
    on_merge = (
        f"CASE WHEN len({base}) = len({last}) THEN '{merged}{_RS}' "
        f"ELSE {left} || '{_US}' || '{merged}{_RS}' END"
    )
    no_merge = f"{base} || '{_US}' || x"
    fold = (
        f"list_reduce({arr_expr}, "
        f"(acc, x) -> CASE WHEN {can} THEN {on_merge} ELSE {no_merge} END)"
    )
    return f"str_split(rtrim({fold}, '{_RS}'), '{_US}')"


def _bpe_encode_oracle() -> str:
    syms = "str_split(w, '')"
    expr = syms
    for a, b in BPE_ENCODE_MERGES:
        expr = _bpe_rule_sql(expr, a, b)
    return f"""
    WITH ws AS (
        SELECT doc_id,
               list_filter(str_split(text, ' '), w -> w != '') AS words
        FROM documents
    ), words AS (
        SELECT doc_id, u.i AS wpos, words[u.i] AS w
        FROM ws, UNNEST(range(1, len(words) + 1)) AS u(i)
    ), toked AS (
        SELECT doc_id, wpos, {expr} AS toks FROM words
    )
    SELECT doc_id,
           string_agg(array_to_string(toks, '|'), '|' ORDER BY wpos)
             AS tokens,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
    FROM toked GROUP BY doc_id
    """


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    category="llm text",
    doc="Distributed tokenization with a SHIPPED BPE merge table "
    "(the artifact llm.bpe.bpe_train exports): per word, the ordered "
    "merge rules apply left-to-right/non-overlapping via a pure "
    "array-expression fold — the hot tokenize path stays in the JVM "
    "with zero Python, zero shuffle (scan-side projection only). "
    "The oracle replays the identical fold with list_reduce over an "
    "encoded accumulator, so even the merge-order semantics are "
    "cross-engine-checked. Token streams surface joined by '|' so "
    "the value hash covers every token boundary.",
    bench=True,
)
def text_bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_lakehouse_spark.llm.bpe import bpe_apply

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        {"rank": i, "left": a, "right": b}
        for i, (a, b) in enumerate(BPE_ENCODE_MERGES)
    ]
    toked = bpe_apply(docs, merges)
    return toked.select(
        "doc_id",
        F.array_join("tokens", "|").alias("tokens"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "text_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) AS BIGINT) AS draw
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) < n_chars * 400000
    """,
    category="llm text",
    doc="Weight-proportional (PPS / Poisson) sampling: each document "
    "is selected with probability proportional to its length — the "
    "mixture-construction primitive that up-weights long documents "
    "without materializing w copies. The inclusion test is PURE "
    "INTEGER arithmetic (md5-derived 32-bit draw < weight x scale), "
    "so selection is bit-reproducible across engines, runs, and "
    "partitionings — no pow/ln in the hot path, no libm divergence "
    "to pin, unlike a u^(1/w) Efraimidis-Spirakis key (whose "
    "last-ulp float ordering can flip a top-k cut between engines). "
    "Pure scan+filter, zero shuffles; the scale constant is the "
    "sampling-rate knob.",
)
def text_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return docs.filter(draw < F.col("n_chars") * 400000).select(
        "doc_id", "lang", "n_chars", draw.alias("draw")
    )


@register(
    "text_unicode_nfc",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               substring(text, 1, 40)
                   || 'e' || chr(769) || 'A' || chr(776) AS s
        FROM documents
        WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS raw_len,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS nfc_len,
           md5(nfc_normalize(s)) AS nfc_md5
    FROM raw
    ORDER BY doc_id
    """,
    category="2.11 UDF surface (Arrow Python UDF)",
    doc="Unicode NFC normalization via an ARROW-optimized Python UDF "
    "(useArrow=True) — the canonicalization pass multilingual "
    "curation needs before hashing/dedup (visually-identical text "
    "in composed vs decomposed form hashes differently; NFC is the "
    "W3C-recommended canonical form) and exactly the kind of "
    "transform Spark has no built-in for: unicodedata lives in "
    "Python. Arrow batches move columns, not pickled rows (the "
    "modern slow-path contract: when Python is unavoidable, it is "
    "vectorized transport, never per-row serialization). Each doc "
    "gets deterministic decomposed sequences appended (e+U+0301, "
    "A+U+0308), so the code-point length MUST contract by 2 and "
    "the md5 of the normalized text hash-matches DuckDB's native "
    "nfc_normalize — certifying byte-identical normalization "
    "against an independent ICU-family implementation.",
)
def text_unicode_nfc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata

    nfc = F.udf(
        lambda s: unicodedata.normalize("NFC", s) if s is not None else None,
        "string",
        useArrow=True,
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    raw = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit("éÄ")
        ).alias("s"),
    )
    return (
        raw.select(
            "doc_id",
            F.length("s").cast("bigint").alias("raw_len"),
            F.length(nfc(F.col("s"))).cast("bigint").alias("nfc_len"),
            F.md5(nfc(F.col("s")).cast("binary")).alias("nfc_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "scalar_mapinarrow_checksum",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                i -> ascii(substring(text, i, 1)))) % 997 AS BIGINT)
             AS byte_sum_mod
    FROM documents
    WHERE doc_id < 300
    ORDER BY doc_id
    """,
    category="2.11 UDF surface (mapInArrow)",
    doc="Per-document byte checksum via mapInArrow — the LOWEST-"
    "level Python batch API, one rung below mapInPandas: the "
    "function receives raw Arrow RecordBatches and computes per-row "
    "byte sums ZERO-COPY from the StringArray's offset and data "
    "buffers (numpy prefix-sum over the value buffer, differenced "
    "at the offsets — no per-row Python, no pandas conversion, no "
    "string materialization). This is the API for payload-heavy "
    "transforms where even the Arrow→pandas hop costs memory "
    "bandwidth. Corpus is ASCII, so the oracle's per-character "
    "code-point sum equals the byte sum.",
)
def scalar_mapinarrow_checksum_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from collections.abc import Iterator

    def checksum(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            # RecordBatch columns are contiguous Arrays;
            # (Large)StringArray layout: buffers = [validity,
            # offsets, data] — offsets are int64 under
            # spark.sql.execution.arrow.useLargeVarTypes, int32
            # otherwise; reading the wrong width would silently
            # interleave garbage
            arr = batch.column("text")
            off_t = (
                np.int64
                if pa.types.is_large_string(arr.type)
                else np.int32
            )
            offsets = np.frombuffer(arr.buffers()[1], dtype=off_t)[
                arr.offset : arr.offset + len(arr) + 1
            ].astype(np.int64)
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            cum = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data, dtype=np.int64, out=cum[1:])
            sums = cum[offsets[1:]] - cum[offsets[:-1]]
            yield pa.record_batch(
                [
                    batch.column("doc_id"),
                    pa.array(offsets[1:] - offsets[:-1], type=pa.int64()),
                    pa.array(sums % 997, type=pa.int64()),
                ],
                names=["doc_id", "n_bytes", "byte_sum_mod"],
            )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    return docs.mapInArrow(
        checksum, "doc_id bigint, n_bytes bigint, byte_sum_mod bigint"
    ).orderBy("doc_id")


@register(
    "text_jsd_langs",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(str_split(text, ' ')) AS tok
        FROM documents WHERE lang IN ('en', 'de')
    ),
    cp AS (SELECT tok, COUNT(*) AS c FROM toks WHERE lang = 'en'
           GROUP BY tok),
    cq AS (SELECT tok, COUNT(*) AS c FROM toks WHERE lang = 'de'
           GROUP BY tok),
    joined AS (
        SELECT COALESCE(cp.tok, cq.tok) AS tok,
               COALESCE(cp.c, 0) AS a, COALESCE(cq.c, 0) AS b
        FROM cp FULL OUTER JOIN cq ON cp.tok = cq.tok
    ),
    tot AS (
        SELECT CAST(SUM(a) AS DOUBLE) AS ta,
               CAST(SUM(b) AS DOUBLE) AS tb,
               CAST(SUM(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS va,
               CAST(SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vb
        FROM joined
    ),
    terms AS (
        SELECT j.tok,
               CASE WHEN j.a > 0 THEN CAST(FLOOR((j.a / t.ta) * log2(
                   (j.a / t.ta)
                   / ((j.a / t.ta + j.b / t.tb) / 2.0))
                   * 1000000000.0) AS BIGINT) ELSE 0 END AS tpi,
               CASE WHEN j.b > 0 THEN CAST(FLOOR((j.b / t.tb) * log2(
                   (j.b / t.tb)
                   / ((j.a / t.ta + j.b / t.tb) / 2.0))
                   * 1000000000.0) AS BIGINT) ELSE 0 END AS tqi
        FROM joined j, tot t
    )
    SELECT (SELECT va FROM tot) AS vocab_en,
           (SELECT vb FROM tot) AS vocab_de,
           ROUND((SELECT (SUM(tpi) + SUM(tqi)) / 2000000000.0
                  FROM terms), 6) AS jsd_bits
    """,
    category="llm text (distribution shift)",
    doc="Jensen-Shannon divergence (bits) between the English and "
    "German cohorts' word distributions — the DISCRETE-distribution "
    "shift metric completing the numeric drift tier (PSI/KS work on "
    "ordered values; vocabulary needs a symmetric, always-finite "
    "divergence — KL alone blows up on single-cohort words, which "
    "dominate cross-language vocab). Counts are exact integers off "
    "one keyed aggregate per cohort; each per-token KL term is "
    "floored to micro-bit INTEGERS (x1e9) so both halves reduce "
    "with a plain order-free SUM — exact and deterministic with no "
    "collect_list, so the plan stays vocabulary-DISTRIBUTED even "
    "on an open web-corpus vocabulary (the prior ordered-fold "
    "variant gathered the whole vocab into one row). One "
    "token-explode scan; JSD in [0,1] bits: 0 = identical "
    "mixtures, 1 = disjoint.",
)
def text_jsd_langs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de")
    )
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cp = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    cq = (
        toks.filter(F.col("lang") == "de")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("b"))
    )
    joined = (
        cp.join(cq, "tok", "full_outer")
        .select(
            "tok",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
        )
        # two consumers (the totals, the KL fold) — pin the vocab-
        # sized frame so the explode + both count aggregates + the
        # full-outer join run once, not twice
        .localCheckpoint(eager=False)
    )
    tot = joined.agg(
        F.sum("a").cast("double").alias("ta"),
        F.sum("b").cast("double").alias("tb"),
        F.sum(F.when(F.col("a") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("va"),
        F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("vb"),
    )
    j = joined.crossJoin(F.broadcast(tot))
    p = F.col("a") / F.col("ta")
    q = F.col("b") / F.col("tb")
    m = (p + q) / F.lit(2.0)
    # Per-token KL terms floored to micro-bit integers (x1e9): the
    # halves then reduce with a plain SUM, which is order-free and
    # exact over bigints — no collect_list, so the aggregate stays
    # distributed even over an unbounded web-corpus vocabulary.
    tpi = F.when(
        F.col("a") > 0,
        F.floor(p * F.log2(p / m) * F.lit(1000000000.0)),
    ).otherwise(F.lit(0)).cast("bigint")
    tqi = F.when(
        F.col("b") > 0,
        F.floor(q * F.log2(q / m) * F.lit(1000000000.0)),
    ).otherwise(F.lit(0)).cast("bigint")

    return j.agg(
        F.max("va").alias("vocab_en"),
        F.max("vb").alias("vocab_de"),
        F.round(
            (F.sum(tpi) + F.sum(tqi)) / F.lit(2000000000.0), 6
        ).alias("jsd_bits"),
    )


# Placeholder category word lists (real pipelines ship curated
# multilingual lists; the MECHANISM — word-boundary matching, per-
# category attribution, docs flagged on ANY hit — is what's tested)
_BLOCKLIST = {
    "infra": ["crash", "deadlock"],
    "perf": ["slow", "spill"],
    "data_loss": ["corrupt", "drop"],
}


def _blocklist_oracle() -> str:
    # DuckDB single-quoted strings are literal (no backslash
    # processing): the regex engine must see a single \b
    bslash_b = "\\b"
    cases = []
    for cat, words in _BLOCKLIST.items():
        hits = " OR ".join(
            f"regexp_matches(text, '{bslash_b}{w}{bslash_b}')"
            for w in words
        )
        cases.append(f"CASE WHEN {hits} THEN 1 ELSE 0 END AS {cat}")
    case_sql = ",\n               ".join(cases)
    return f"""
    WITH flags AS (
        SELECT doc_id, lang,
               {case_sql}
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(infra) AS BIGINT) AS n_infra,
           CAST(SUM(perf) AS BIGINT) AS n_perf,
           CAST(SUM(data_loss) AS BIGINT) AS n_data_loss,
           CAST(SUM(CASE WHEN infra + perf + data_loss > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN infra + perf + data_loss = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM flags GROUP BY lang ORDER BY lang
    """


@register(
    "text_blocklist_filter",
    oracle=_blocklist_oracle(),
    category="llm text (safety filtering)",
    doc="Category blocklist filtering — the safety/compliance gate "
    "every curation pipeline runs before training: word-boundary "
    "regex per category (substring matching would flag 'dropout' "
    "for 'drop'; the word-boundary anchor is RE2-and-Java "
    "compatible), per-language counts of each category's hits plus "
    "the flagged/clean split (a doc is flagged on ANY category). "
    "Placeholder word lists — the mechanism is the deliverable; "
    "real deployments swap in curated lists. Pure scan+project: "
    "all categories evaluate in one pass inside codegen, one "
    "lang-keyed aggregate, zero joins.",
)
def text_blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        "lang",
        *[
            F.when(
                F.col("text").rlike(
                    "|".join("\\b" + w + "\\b" for w in words)
                ),
                1,
            )
            .otherwise(0)
            .alias(cat)
            for cat, words in _BLOCKLIST.items()
        ],
    )
    total = sum(F.col(c) for c in _BLOCKLIST)
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *[
                F.sum(cat).cast("bigint").alias(f"n_{cat}")
                for cat in _BLOCKLIST
            ],
            F.sum(F.when(total > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(F.when(total == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clean"),
        )
        .orderBy("lang")
    )


@register(
    "text_curriculum_order",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), words AS (
        SELECT doc_id, u.tok FROM toks, UNNEST(t) AS u(tok)
    ), cw AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM words GROUP BY tok
    ), tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words
    ), diff AS (
        SELECT w.doc_id, COUNT(*) AS n_tokens,
               ROUND(SUM(CAST(FLOOR(-ln(cw.c / tot.n)
                                    * 1000000000.0) AS BIGINT))
                     / (COUNT(*) * 1000000000.0), 6) AS difficulty
        FROM words w JOIN cw USING (tok), tot
        GROUP BY w.doc_id
    ), phased AS (
        SELECT doc_id, n_tokens, difficulty,
               NTILE(4) OVER (ORDER BY difficulty, doc_id) AS phase
        FROM diff
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, difficulty,
           CAST(phase AS INTEGER) AS phase,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY phase
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cur'), doc_id
           ) AS INTEGER) AS position
    FROM phased
    """,
    category="llm text (curriculum)",
    doc="Competence-based curriculum schedule (Bengio et al. 2009; "
    "Platanios et al. 2019): per-doc difficulty = mean word rarity "
    "-ln(c(w)/N) under the corpus unigram LM (rare-word-heavy docs "
    "are 'hard'), docs cut into 4 difficulty phases, and within "
    "each phase given a deterministic md5-shuffled training "
    "position — the easy-to-hard ordered manifest a curriculum "
    "trainer consumes. Plan: one explode, a vocab-sized word-count "
    "table broadcast back (AQE), a broadcast scalar total, one "
    "per-doc agg. The NTILE phase cut is a global order over "
    "doc-count rows (not token rows); at extreme scale the cut "
    "would come from approx difficulty quantiles instead, same as "
    "the perplexity-bucket tradeoff in text_bigram_lm_score. The "
    "within-phase position is ONE shuffle keyed by phase; each "
    "reducer streams its phase in md5 order.",
)
def text_curriculum_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).localCheckpoint(eager=False)
    cw = words.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    tot = words.agg(F.count(F.lit(1)).cast("double").alias("n"))
    diff = (
        words.join(F.broadcast(cw), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            # per-word rarity floored to integer nano-nats (x1e9) so
            # the mean reduces as an order-free exact bigint SUM —
            # the NTILE phase cut downstream sits right on this
            # value, so a half-ulp association flip would otherwise
            # cascade through every within-phase position
            F.round(
                F.sum(
                    F.floor(
                        -F.log(F.col("c") / F.col("n"))
                        * F.lit(1000000000.0)
                    ).cast("bigint")
                )
                / (F.count(F.lit(1)) * F.lit(1000000000.0)),
                6,
            ).alias("difficulty"),
        )
    )
    phased = diff.withColumn(
        "phase",
        F.ntile(4)
        .over(Window.orderBy("difficulty", "doc_id"))
        .cast("int"),
    )
    pos_w = Window.partitionBy("phase").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cur"))),
        "doc_id",
    )
    return phased.select(
        "doc_id",
        "n_tokens",
        "difficulty",
        "phase",
        F.row_number().over(pos_w).cast("int").alias("position"),
    )


@register(
    "text_epoch_allocation",
    oracle=f"""
    WITH agg AS (
        SELECT lang,
               CAST(SUM(len({DUCK_TOKS})) AS DOUBLE) AS c
        FROM documents GROUP BY lang
    ), w AS (
        SELECT lang, c, power(c, 0.7) AS w, 2.0 * c AS cap,
               2.0 * c / power(c, 0.7) AS ratio
        FROM agg
    ), tot AS (
        SELECT SUM(w) AS wt, 1.75 * SUM(c) AS budget FROM w
    ), ranked AS (
        SELECT lang, c, w, cap, ratio,
               COALESCE(SUM(cap) OVER (
                   ORDER BY ratio, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cap_before,
               COALESCE(SUM(w) OVER (
                   ORDER BY ratio, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS w_before,
               LAG(ratio) OVER (ORDER BY ratio, lang) AS prev_ratio
        FROM w
    ), lvl AS (
        SELECT (tot.budget - cap_before) / (tot.wt - w_before) AS t
        FROM ranked, tot
        WHERE (prev_ratio IS NULL OR
               prev_ratio <= (tot.budget - cap_before)
                             / (tot.wt - w_before))
          AND ratio > (tot.budget - cap_before) / (tot.wt - w_before)
    )
    SELECT r.lang,
           CAST(r.c AS BIGINT) AS n_tokens,
           ROUND(LEAST(r.cap, lvl.t * r.w), 2) AS alloc_tokens,
           ROUND(LEAST(r.cap, lvl.t * r.w) / r.c, 4) AS epochs,
           r.cap <= lvl.t * r.w AS capped
    FROM ranked r, lvl
    ORDER BY r.lang
    """,
    category="llm text (data mixing)",
    doc="Token-budget epoch allocation across corpus domains — the "
    "planning table in front of a multi-source pretraining run: "
    "alpha-smoothed sampling weights w = c^0.7 (the multilingual "
    "exponent of Conneau et al. 2020) target each domain's share of "
    "a global budget of 1.75x the corpus tokens, with a hard 2.0-"
    "epoch repetition cap per domain; the excess from capped "
    "domains redistributes to uncapped ones EXACTLY via sorted "
    "prefix-sum water-filling — rank domains by cap/w, and the "
    "unique water level t where the capped set is the rank prefix "
    "falls out of one window pass (no iteration, no driver loop). "
    "Scale: per-domain token counts are one keyed shuffle over the "
    "corpus; everything after runs on a domain-count-sized frame "
    "(the single-partition window is over #domains rows, the same "
    "vocabulary-sized-frame tradeoff as text_mixture_weights).",
)
def text_epoch_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.sum(F.size(tokens_col(F.col("text"))))
        .cast("double")
        .alias("c")
    )
    w = agg.select(
        "lang",
        "c",
        F.pow("c", F.lit(0.7)).alias("w"),
        (F.lit(2.0) * F.col("c")).alias("cap"),
        (F.lit(2.0) * F.col("c") / F.pow("c", F.lit(0.7))).alias(
            "ratio"
        ),
    ).localCheckpoint(eager=False)
    tot = w.agg(
        F.sum("w").alias("wt"),
        (F.lit(1.75) * F.sum("c")).alias("budget"),
    )
    order = Window.orderBy("ratio", "lang")
    prefix = order.rowsBetween(Window.unboundedPreceding, -1)
    ranked = w.select(
        "lang",
        "c",
        "w",
        "cap",
        "ratio",
        F.coalesce(F.sum("cap").over(prefix), F.lit(0.0)).alias(
            "cap_before"
        ),
        F.coalesce(F.sum("w").over(prefix), F.lit(0.0)).alias(
            "w_before"
        ),
        F.lag("ratio").over(order).alias("prev_ratio"),
    ).localCheckpoint(eager=False)
    t_expr = (F.col("budget") - F.col("cap_before")) / (
        F.col("wt") - F.col("w_before")
    )
    lvl = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            (
                F.col("prev_ratio").isNull()
                | (F.col("prev_ratio") <= t_expr)
            )
            & (F.col("ratio") > t_expr)
        )
        .select(t_expr.alias("t"))
    )
    alloc = F.least(F.col("cap"), F.col("t") * F.col("w"))
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .select(
            "lang",
            F.col("c").cast("bigint").alias("n_tokens"),
            F.round(alloc, 2).alias("alloc_tokens"),
            F.round(alloc / F.col("c"), 4).alias("epochs"),
            (F.col("cap") <= F.col("t") * F.col("w")).alias("capped"),
        )
        .orderBy("lang")
    )


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ), bucketed AS (
        SELECT doc_id,
               LEAST(9, CAST(FLOOR((doc_id - bounds.lo) * 10.0
                   / (bounds.hi - bounds.lo + 1)) AS INTEGER)) AS bucket,
               {DUCK_TOKS} AS toks
        FROM documents, bounds
    ), per_bucket AS (
        SELECT bucket, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
        FROM bucketed GROUP BY bucket
    ), first_seen AS (
        SELECT u.tok, MIN(bucket) AS first_bucket
        FROM bucketed, UNNEST(toks) AS u(tok)
        GROUP BY u.tok
    ), new_types AS (
        SELECT first_bucket AS bucket,
               CAST(COUNT(*) AS BIGINT) AS new_types
        FROM first_seen GROUP BY first_bucket
    )
    SELECT CAST(p.bucket AS INTEGER) AS bucket,
           p.n_tokens,
           CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket) AS BIGINT)
               AS tokens_cum,
           COALESCE(n.new_types, 0) AS new_types,
           CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY p.bucket)
               AS BIGINT) AS vocab_cum
    FROM per_bucket p LEFT JOIN new_types n USING (bucket)
    ORDER BY p.bucket
    """,
    category="llm text (corpus audit)",
    doc="Heaps'-law vocabulary-growth audit: the corpus is cut into "
    "10 deterministic doc-id-range buckets (a range formula over "
    "broadcast min/max ids — no global sort, unlike an ntile cut), "
    "each token type is attributed to the FIRST bucket it appears "
    "in (one token-keyed min aggregate over the exploded corpus), "
    "and the report is cumulative tokens seen vs cumulative "
    "distinct types — the V(N) ~ k*N^beta curve whose flattening "
    "(or failure to flatten) signals near-duplicate pollution or "
    "vocabulary drift between corpus segments. Scale: one corpus "
    "scan + explode, one token-keyed shuffle (map-side partial min), "
    "then everything is bucket-count-sized; the cumulative window "
    "runs over 10 rows.",
)
def text_vocab_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    bucketed = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("doc_id") - F.col("lo"))
                    * 10.0
                    / (F.col("hi") - F.col("lo") + 1)
                ).cast("int"),
            ).alias("bucket"),
            tokens_col(F.col("text")).alias("toks"),
        )
        .localCheckpoint(eager=False)
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum(F.size("toks")).cast("bigint").alias("n_tokens")
    )
    first_seen = (
        bucketed.select("bucket", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
    )
    new_types = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    cum = Window.orderBy("bucket")
    return (
        per_bucket.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_types", F.lit(0).cast("bigint")).alias(
                "new_types"
            ),
        )
        .select(
            "bucket",
            "n_tokens",
            F.sum("n_tokens").over(cum).cast("bigint").alias("tokens_cum"),
            "new_types",
            F.sum("new_types").over(cum).cast("bigint").alias("vocab_cum"),
        )
        .select(
            "bucket", "n_tokens", "tokens_cum", "new_types", "vocab_cum"
        )
        .orderBy("bucket")
    )
