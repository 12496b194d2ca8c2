"""Deduplication operators for training-data curation.

Five tiers, all shuffle-disciplined for 100 TB:

- **exact**: group by content digest (md5) — one shuffle on the
  digest, never on the raw text;
- **MinHash**: k independent min-hashes over token shingles. Hashing
  is md5-based (identical hex in every engine → oracle-checkable and
  cluster-reproducible); signatures are computed scan-side with
  higher-order array functions, no UDF;
- **LSH banding**: candidate pairs come from an equi-join on
  (band_id, band_hash) — the only shuffle key; no cross join exists
  anywhere;
- **n-gram Jaccard**: exact verification for candidate pairs via
  shared-shingle equi-join + per-pair set arithmetic;
- **SimHash**: 64-bit sign-aggregated fingerprint as 4×16-bit bands
  (65,536 buckets/band); hamming-close docs share a band by
  pigeonhole, verified by exact bit_count(xor).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def content_digest(text: Column) -> Column:
    """Stable content fingerprint for exact dedup."""
    return F.md5(text)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup: one surviving id per distinct content digest.

    Returns (digest, keep_id, n_copies). Survivor = min id
    (deterministic). The shuffle key is the 32-char digest, not the
    document body — at 100 TB the exchange carries ~50 B/row.
    """
    return (
        df.select(
            content_digest(F.col(text_col)).alias("digest"),
            F.col(id_col).alias("keep_id"),
        )
        .groupBy("digest")
        .agg(
            F.min("keep_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_col(text_col: str, k: int = 3) -> Column:
    """Distinct k-token shingles of a document as an array column.

    Built with sequence+transform over one split — no explode until
    a join actually needs rows. One ``F.expr`` string: a single py4j
    round trip with JVM-side parsing, where each Python-lambda HOF
    costs ~60-100 round trips of query-build time per call site."""
    return F.expr(_shingles_sql(text_col, k))


def minhash_signature(shingles: str, num_hashes: int = 4) -> list[Column]:
    """MinHash signature: hash function j is the j-th 8-hex-char
    slice of ONE md5 per shingle (disjoint digest slices are
    independent hashes), minimized over the shingle set.

    One md5 call per shingle — not one per (seed, shingle) — cuts
    the dominant per-row cost of candidate generation 4×; md5's hex
    ordering is engine-agnostic, so signatures stay bit-identical
    everywhere. Supports up to 4 hashes per md5 (32 hex chars).

    ``shingles`` is the SQL TEXT of the shingle-array expression
    (e.g. :func:`_shingles_sql`); each hash is one ``F.expr`` string.
    """
    if num_hashes > 4:
        raise ValueError("num_hashes > 4 needs a second digest")
    return [
        F.expr(
            f"array_min(transform(transform({shingles}, s -> md5(s)), "
            f"h -> substring(h, {1 + 8 * j}, 8)))"
        ).alias(f"minhash_{j}")
        for j in range(num_hashes)
    ]


def _shingles_sql(text_col: str, k: int) -> str:
    """SQL text of :func:`shingles_col`, for callers that splice the
    shingle array into a larger expression (the LSH banding must be
    ONE expression tree). The column name is backtick-quoted, so a
    keyword or a name with a space stays one identifier."""
    toks = f"split(`{text_col}`, ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {k}))))"
    )


def lsh_band_rows_sql(
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    band_size: int,
    shingles_expr: str | None = None,
) -> str:
    """One fused SQL expression producing the exploded band rows:
    ``array<struct<band_id:int, band_hash:string>>``.

    Why one expression: projecting minhash_0..3 as separate columns
    re-evaluates the shingle+md5 pipeline once PER COLUMN (Catalyst
    collapses projections, inlining the alias into every use, and
    higher-order functions run interpreted with no cross-column
    subexpression elimination — measured 4× the single-pass cost).
    Binding the hashed-shingle array through a single-element
    ``transform(array(<hs>), hs -> ...)`` lambda evaluates it exactly
    once per row; each min-hash is a cheap substring slice of the one
    digest per shingle.
    """
    if num_hashes > 4:
        raise ValueError("num_hashes > 4 needs a second digest")
    n_bands = num_hashes // band_size
    sh = shingles_expr or _shingles_sql(text_col, shingle_k)
    hs = f"transform({sh}, s -> md5(s))"

    def minhash(j: int) -> str:
        return f"array_min(transform(hs, h -> substring(h, {1 + 8 * j}, 8)))"

    bands = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', md5(concat_ws('|', "
        + ", ".join(minhash(b * band_size + r) for r in range(band_size))
        + ")))"
        for b in range(n_bands)
    )
    return f"element_at(transform(array({hs}), hs -> array({bands})), 1)"


def lsh_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 4,
    band_size: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash-LSH banding.

    Signature of ``num_hashes`` min-hashes is cut into bands of
    ``band_size``; docs agreeing on any full band are candidates.
    Plan: scan→project (fused band expression, one pass per row —
    see :func:`lsh_band_rows_sql`) → explode (num_hashes/band_size
    rows per doc) → self-equi-join on (band_id, band_hash) →
    distinct pairs. The join key is a digest: uniform, small,
    skew-free.
    """
    band_rows = lsh_band_rows_sql(text_col, shingle_k, num_hashes, band_size)
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    # widen BEFORE the checkpoint: the signature pass is CPU-heavy and
    # the materialized frame keeps the upstream partitioning for both
    # self-join sides (r9 core-count probe: ~20 s at sf1 on a
    # one-split corpus regardless of cores); no-op at production
    # file counts
    bands = widen_if_underparallel(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(band_rows)).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash").localCheckpoint(
        eager=False
    )  # self-joined below: one signature pass, not two

    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.0,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate document pairs.

    Candidates = pairs sharing ≥1 shingle; their Jaccard is computed
    EXACTLY per pair from the full shingle sets (array_intersect /
    array_union) — never from the shared-shingle join's row counts.

    ``max_shingle_df`` is the scale guard: a shingle occurring in d
    documents contributes d² rows to the candidate self-join, so one
    stopword-like shingle ("of the and" at df=10⁶) alone is a
    disguised cross join. Capping document frequency (standard
    near-dup practice: ubiquitous shingles carry no discriminative
    signal) bounds join input to Σ_{df≤c} df² ≤ c·Σdf — LINEAR in
    corpus size with a constant factor c. Pairs whose every shared
    shingle exceeds the cap are not candidates (they are boilerplate
    overlaps, not near-dups). ``None`` disables the cap.
    """
    # 3 consumers (explode + both per-pair set joins): checkpoint so
    # tokenize+shingle runs once per doc, not once per consumer
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        shingles_col(text_col, shingle_k).alias("shingles"),
    ).localCheckpoint(eager=False)
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        rare = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(rare, "shingle")
    a = exploded.alias("a")
    b = exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    out = (
        candidates.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def connected_components(
    pairs: DataFrame, max_iterations: int = 15
) -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters: (node, component)
    where component = min doc id reachable through the pair graph.

    Iterative min-label propagation with POINTER JUMPING: each round
    every node takes the min label among itself and its neighbors,
    then shortcuts ``component := label(component)`` — composing the
    label map with itself, so a distance-d chain converges in
    O(log d) rounds, not O(d). Converged when no label changes. No
    driver-side graph state; only a scalar convergence count leaves
    the cluster. ``max_iterations`` bounds adversarial inputs.

    Each round runs exactly ONE Spark job: the round's result is a
    *lazy* ``localCheckpoint`` whose partitions are all materialized
    by the changed-count aggregate — the same action that reports
    convergence also persists the round and truncates lineage
    (without truncation every round's plan would embed all prior
    rounds' joins: O(rounds²) re-execution and an eventually-
    overflowing plan tree). The count is a full scan on purpose: an
    early-exiting ``limit(1)`` probe would leave unvisited partitions
    unmaterialized, silently re-attaching their lineage to the next
    round.

    The edge frame is pinned once for the rounds with a lazy
    ``localCheckpoint``: raw row partitions stored once, while AQE
    broadcasts the node-sized label vector into each round's join.
    A ``repartition(dst).persist()`` pin measured ~1.3-3x slower
    end-to-end (the columnar build over the edge frame plus GC
    pressure, while its preserved ``hashpartitioning(dst)`` fact goes
    unused under broadcast).
    """
    # no .distinct() on edges: every downstream use is a min
    # aggregation, which duplicate edges cannot perturb — the
    # dedup shuffle would be pure overhead
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # round-0 labels by direct aggregation — label(node) =
    # min(node, min neighbor) — instead of joining an identity
    # label map (same result, one less join+checkpoint round)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__m")).alias("component"),
        )
    )
    edges = edges.localCheckpoint(eager=False)
    labels = labels.localCheckpoint(eager=False)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "dst_node"),
                edges.dst == F.col("dst_node"),
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neighbor_component"), F.col("component")),
                ).alias("component"),
                F.col("component").alias("__prev"),
            )
        )
        # pointer jumping: follow the label one more hop (labels are
        # always reachable node ids, so composing the map preserves
        # correctness and halves the remaining distance-to-root)
        parent = updated.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        # carry the pre-round label through the plan so the
        # convergence probe is a filter over the checkpointed frame —
        # no extra join job against the previous labels
        new_labels = (
            updated.join(parent, updated.component == parent.p_node, "left")
            .select(
                "node",
                F.coalesce(F.col("p_comp"), F.col("component")).alias(
                    "component"
                ),
                "__prev",
            )
            .localCheckpoint(eager=False)
        )
        # one job: materializes every checkpoint partition AND
        # returns the convergence count (F.count(when) is 0, never
        # NULL, on an empty frame)
        changed = new_labels.agg(
            F.count(
                F.when(F.col("component") != F.col("__prev"), F.lit(1))
            ).alias("n_changed")
        ).first()[0]
        labels = new_labels.drop("__prev")
        if changed == 0:
            break
    return labels


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.6,
    shingle_k: int = 3,
) -> DataFrame:
    """Shared front half of near-dup resolution: LSH candidates →
    exact Jaccard verification. Returns the verified (doc_a, doc_b)
    edge list (doc_a < doc_b).

    Exact Jaccard is computed only for the candidate pairs, per pair
    via array_intersect/union on the two shingle sets — O(candidates),
    never the all-shared-shingle-pairs blowup.
    """
    from aws_lakehouse_spark.layout import widen_if_narrow

    # shingle arrays are computed ONCE, checkpointed, and shared by
    # candidate generation (bands derive from the materialized `sh`
    # attribute) and verification (sh_a/sh_b joins) — without the
    # checkpoint every reference would re-run tokenize+shingle.
    # widen first: shingling is compute-bound, and a small input file
    # otherwise pins the whole pipeline to one scan task
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("doc_id"),
        shingles_col(text_col, shingle_k).alias("sh"),
    ).localCheckpoint(eager=False)
    band_rows = lsh_band_rows_sql(
        text_col, shingle_k, num_hashes=4, band_size=2, shingles_expr="sh"
    )
    bands = sh.select(
        "doc_id", F.explode(F.expr(band_rows)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")
    candidates = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # referenced by both joins below
    )
    verified = (
        candidates.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    return verified


def near_duplicate_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.6,
    shingle_k: int = 3,
) -> DataFrame:
    """End-to-end near-dup resolution: LSH candidates → exact Jaccard
    verification → connected components → one survivor (min id) per
    duplicate cluster. Returns (doc_id, survivor_id, is_survivor) for
    every doc that belongs to some cluster; docs with no near-dup are
    implicitly their own survivors.
    """
    verified = verified_near_dup_pairs(
        df, id_col, text_col, jaccard_threshold, shingle_k
    )
    comps = connected_components(verified)
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("survivor_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


def near_duplicate_survivors_by_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality: Column,
    jaccard_threshold: float = 0.6,
    shingle_k: int = 3,
) -> DataFrame:
    """Quality-aware survivorship: same LSH → verify → connected
    components pipeline, but the survivor of each duplicate cluster
    is the member with the HIGHEST ``quality`` (ties → lowest id)
    instead of the lowest id — the curation move that keeps the
    best-written copy of a boilerplate family rather than whichever
    crawl happened to be ingested first.

    ``quality`` is an expression over ``df``'s columns (e.g. distinct
    token count). Returns (doc_id, component_id, quality, survivor_id,
    is_survivor) for every clustered doc.

    Scale: quality is evaluated once per clustered doc (semi-join
    bounded — never over the full corpus), and the per-cluster
    arg-max is a window over cluster-sized groups; near-dup clusters
    are small by construction, so no skew.
    """
    from pyspark.sql import Window

    verified = verified_near_dup_pairs(
        df, id_col, text_col, jaccard_threshold, shingle_k
    )
    comps = connected_components(verified).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )
    scored = comps.join(
        df.select(F.col(id_col).alias("doc_id"), quality.alias("quality")),
        "doc_id",
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn(
            "survivor_id", F.first("doc_id").over(w)
        )
        .withColumn("is_survivor", F.col("doc_id") == F.col("survivor_id"))
        .select(
            "doc_id", "component_id", "quality", "survivor_id", "is_survivor"
        )
    )


def simhash_band_cols(
    text_col: str, n_bands: int = 4, band_bits: int = 16
) -> list[Column]:
    """64-bit SimHash as ``n_bands`` independent ``band_bits``-bit
    band values (default 4×16 = 64 fingerprint bits, 65,536 buckets
    per band).

    Band *b*'s per-token hash is a disjoint 4-hex-char slice of
    md5(token) — 64 independent md5 bits feed the 64 fingerprint
    bits. Each band's 16 bit-votes accumulate in ONE ``aggregate``
    pass over the token array (array accumulator + ``zip_with``),
    not one pass per bit. Everything is engine-portable integer
    arithmetic: the same expressions are reproducible in ANSI SQL
    for the oracle, and no value ever nears a sign bit (each band
    value is in [0, 2^16)) — unlike a single packed 64-bit
    fingerprint, whose top band would wrap negative in two's-
    complement BIGINT on one engine but error on another.

    Each band is ONE ``F.expr`` string over the backtick-quoted
    column name: one py4j round trip per band, parsed JVM-side.
    """
    hex_chars = band_bits // 4
    masks_sql = (
        "array(" + ", ".join(f"{1 << i}L" for i in range(band_bits)) + ")"
    )
    zero_sql = f"array_repeat(0L, {band_bits})"
    out_sql = []
    for b in range(n_bands):
        hashes = (
            f"transform(array_distinct(split(`{text_col}`, ' ')), "
            f"t -> cast(conv(substring(md5(t), {1 + hex_chars * b}, "
            f"{hex_chars}), 16, 10) as bigint))"
        )
        bit_sums = (
            f"aggregate({hashes}, {zero_sql}, (acc, h) -> "
            f"zip_with(acc, {masks_sql}, (a, m) -> a + "
            "cast(case when (h & m) != 0 then 1 else -1 end as bigint)))"
        )
        band_val = (
            f"aggregate(zip_with({bit_sums}, {masks_sql}, "
            "(s, m) -> case when s > 0 then m else 0L end), "
            "0L, (acc, x) -> acc + x)"
        )
        out_sql.append(F.expr(band_val).alias(f"simhash_b{b}"))
    return out_sql


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs at scale: 64-bit fingerprint (4×16-bit
    bands), candidates = docs agreeing on at least one full band.

    Pigeonhole: hamming ≤ 3 differing bits can touch at most 3 of the
    4 bands, so every true pair shares ≥1 exact band — recall is
    exact, not probabilistic. Candidate volume per band is ~N²/65,536
    per bucket-balance (vs N²/256 for the old 2×8-bit banding — the
    difference between a join and a disguised cross join at 100 TB).
    Verified by exact hamming = Σ_bands bit_count(xor). Both stages
    are equi-joins on small int keys — never a cross join.
    """
    band_cols = [f"simhash_b{b}" for b in range(n_bands)]
    # the fingerprint frame is narrow (1 id + n_bands longs per doc)
    # but EXPENSIVE to derive (band_bits sign-votes per band over the
    # token array), and the plan below consumes it 2·n_bands + 2
    # times (each band branch on both self-join sides, plus the two
    # verify sides) — unpinned, the 10-consumer fanout re-runs the
    # vote aggregation ten times per document (the round-7 rescan
    # audit's worst honest-looking offender). One lazy checkpoint
    # computes it once; every consumer reads the materialized rows.
    # widen BEFORE the vote aggregation: the checkpoint materializes
    # with the upstream partitioning, so a one-split corpus scan
    # would serialize the package's second-heaviest scan-side kernel
    # onto one core AND leave every consumer reading one partition
    # (r8 sf1 probe: 189 s -> 35 s widened); no-op at production
    # file counts (see widen_if_underparallel)
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    fp = widen_if_underparallel(df).select(
        F.col(id_col).alias("doc_id"),
        *simhash_band_cols(text_col, n_bands, band_bits),
    ).localCheckpoint(eager=False)
    bands = None
    for b in range(n_bands):
        one = fp.select(
            "doc_id",
            F.lit(b).alias("band_id"),
            F.col(f"simhash_b{b}").alias("bv"),
        )
        bands = one if bands is None else bands.unionByName(one)
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = fp.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in band_cols],
    )
    fb = fp.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in band_cols],
    )
    hamming = None
    for c in band_cols:
        term = F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_exact_status(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Classify each NEW-BATCH document against an existing corpus
    without ever shuffling the corpus — the production shape of
    incremental ingest dedup (dedupe today's crawl against the 100 TB
    historical corpus; re-running :func:`exact_dedup` over
    corpus+batch would re-shuffle 100 TB for a 0.1% delta).

    Returns (doc_id, digest, status) for every batch doc, status in
    {'dup_in_corpus', 'dup_in_batch', 'new'} — within-batch ties keep
    the min id, and corpus presence wins over batch novelty.

    Scale shape: the corpus is SCANNED ONCE and only streamed — the
    semi join builds its hash table from the (small, broadcast) batch
    digest set, so every corpus row is semi-join-bounded to ≤ |batch|
    digests BEFORE the hit set's dedup aggregation (its partial agg
    runs scan-side; only batch-sized partials enter the exchange).
    The probe set is the already-aggregated ``batch_min`` digest
    column, so the batch is hashed exactly once. Every other join is
    broadcast on a batch-derived side. In a deployed pipeline the
    corpus side reads a persisted digest index (digest-only parquet),
    making the probe column-pruned to ~50 B/row.
    """
    # the digest frame is narrow (id + 32-hex digest) but derives by
    # hashing the FAT text column; unpinned it re-derives three times
    # (directly, and twice through batch_min's two broadcast uses) —
    # three reads of the batch's text at ingest scale. One lazy
    # checkpoint bounds the batch to ONE text scan.
    b = batch.select(
        F.col(id_col).alias("doc_id"),
        content_digest(F.col(text_col)).alias("digest"),
    ).localCheckpoint(eager=False)
    batch_min = b.groupBy("digest").agg(F.min("doc_id").alias("__keep"))
    hits = (
        corpus.select(content_digest(F.col(text_col)).alias("digest"))
        .join(F.broadcast(batch_min.select("digest")), "digest", "leftsemi")
        .groupBy("digest")
        .agg(F.first(F.lit(True)).alias("__in_corpus"))
    )
    return (
        b.join(F.broadcast(batch_min), "digest")
        .join(F.broadcast(hits), "digest", "left")
        .select(
            "doc_id",
            "digest",
            F.when(F.col("__in_corpus").isNotNull(), F.lit("dup_in_corpus"))
            .when(F.col("doc_id") != F.col("__keep"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def incremental_lsh_matches(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 4,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup probe of a new batch against an existing corpus:
    MinHash-LSH band collisions → exact Jaccard verification → per
    batch doc, how many corpus docs it near-duplicates.

    Returns (doc_id, n_corpus_matches, first_match) for EVERY batch
    doc — n_corpus_matches = 0 / first_match NULL when the doc is
    genuinely new; first_match = min matching corpus id otherwise.

    Scale shape: exactly two corpus passes, each run once — the band
    index (one narrow scan-side projection; in production it is
    precomputed and persisted, so the probe reads only the band
    columns) and the verify scan. The candidate frame embeds the
    band scan in its derivation, so it has exactly ONE consumer: it
    broadcasts whole into the corpus verify scan, where shingles are
    computed in the post-join projection — only for the candidate
    rows the broadcast join keeps, never corpus-wide. Batch bands
    broadcast into the band index, so the corpus is never exchanged;
    all remaining joins are broadcast on batch-derived sides.
    """
    band_rows = lsh_band_rows_sql(text_col, shingle_k, num_hashes, band_size)

    # both corpus passes (band derivation, verify-side shingling) are
    # CPU-heavy per row, and a corpus that fits one parquet split
    # serializes each onto one core regardless of cluster size — this
    # kernel's engine wall measured core-count-INVARIANT (~23 s at
    # local[8] and local[32] alike) at sf1, where documents.parquet is
    # 0.9 MB = one split. Same one-split class as the r8 widenings;
    # no-op at production file counts (see widen_if_underparallel).
    from aws_lakehouse_spark.operators.joins import widen_if_underparallel

    corpus = widen_if_underparallel(corpus)
    batch = widen_if_underparallel(batch)

    def _bands(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.expr(band_rows)).alias("band"),
        ).select(out_id, "band.band_id", "band.band_hash")

    # the candidate frame is SMALL (band collisions ≪ |corpus|) but
    # its derivation embeds the full corpus band scan, so it must be
    # consumed exactly ONCE — a second consumer re-runs that scan
    # (two passes over the 100 TB corpus for one ingest probe), and a
    # lazy-checkpoint pin measured 1.2× at sf0.1 (the job-boundary
    # cost of materializing before the verify stage can start).
    # Instead the whole candidate frame broadcasts into the corpus
    # verify scan directly: shingles are computed in the post-join
    # projection, i.e. only for rows the broadcast join keeps, and
    # only this one consumer ever evaluates cand.
    # one row per MATCHED CORPUS DOC, not per pair: collect_set both
    # dedups band collisions (subsuming the old .distinct(), so this
    # is still ONE shuffle on the candidate frame) and groups each
    # corpus doc's colliding batch ids, so the corpus shingle set
    # below is computed once per matched corpus doc and replicated by
    # the explode — a corpus doc colliding with many batch docs no
    # longer re-shingles per pair (r7 advice: collision-skew guard)
    cand = (
        _bands(corpus, "corpus_id")
        .join(F.broadcast(_bands(batch, "doc_id")), ["band_id", "band_hash"])
        .groupBy("corpus_id")
        .agg(F.collect_set("doc_id").alias("doc_ids"))
    )
    sh_batch = batch.select(
        F.col(id_col).alias("doc_id"),
        shingles_col(text_col, shingle_k).alias("sh_b"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"), F.col(text_col).alias("__ctext")
    )
    pairs = c.join(
        F.broadcast(cand), c["__cid"] == cand["corpus_id"]
    ).select(
        F.explode("doc_ids").alias("doc_id"),
        "corpus_id",
        shingles_col("__ctext", shingle_k).alias("sh_c"),
    )
    verified = (
        pairs.join(F.broadcast(sh_batch), "doc_id")
        .filter(
            F.size(F.array_intersect("sh_b", "sh_c"))
            / F.size(F.array_union("sh_b", "sh_c"))
            >= threshold
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_corpus_matches"),
            F.min("corpus_id").alias("first_match"),
        )
    )
    return (
        sh_batch.select("doc_id")
        .join(F.broadcast(verified), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).alias(
                "n_corpus_matches"
            ),
            "first_match",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_shingle_df: int | None = 50,
    threshold: float = 0.5,
) -> DataFrame:
    """Directional containment scoring over shared-shingle candidates:
    for each candidate pair, ``containment_a = |A∩B| / |A|`` and
    ``containment_b = |A∩B| / |B|`` (Broder's containment). Catches
    the near-SUPERSET duplicates Jaccard misses — a document embedded
    whole inside a 10× larger one has Jaccard ≈ 0.1 but containment
    ≈ 1.0 — which is exactly the quote/boilerplate-inclusion shape a
    training-corpus dedup must flag.

    Pairs survive when max(containment_a, containment_b) ≥
    ``threshold``. Candidate generation reuses the df-capped shared-
    shingle equi-join (linear in corpus size, see
    :func:`jaccard_pairs`); the exact intersection is computed only
    for candidates, from full shingle sets.
    """
    # 3 consumers (explode + both per-pair set joins): checkpoint so
    # tokenize+shingle runs once per doc, not once per consumer
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        shingles_col(text_col, shingle_k).alias("shingles"),
    ).localCheckpoint(eager=False)
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        rare = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(rare, "shingle")
    a = exploded.alias("a")
    b = exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        candidates.join(
            sh.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / F.size("sh_a")).alias("containment_a"),
            (inter / F.size("sh_b")).alias("containment_b"),
        )
    )
    if threshold > 0:
        out = out.filter(
            F.greatest("containment_a", "containment_b") >= threshold
        )
    return out


def incremental_exact_status_bloom(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> DataFrame:
    """:func:`incremental_exact_status` for the TOO-BIG-TO-BROADCAST
    batch regime. The broadcast-semi version needs the batch digest
    set to fit in a broadcast hash table (~50 B/digest); a multi-TB
    ingest batch breaks that. A Bloom bitmap of the batch digests
    needs ~1.2 bits of every 8-byte table slot — so the corpus probe
    stays scan-side (the bitmap inlines into the corpus scan's
    codegen, ``operators/bloom.py``), and only the ~|batch| + fpp ×
    |corpus| surviving corpus digests enter the exact-verify join,
    now a bounded shuffle join with NO broadcast requirement on
    either side. Same (doc_id, digest, status) contract, exact
    results — the bloom only bounds the verify input, never decides
    membership.
    """
    from aws_lakehouse_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    b = batch.select(
        F.col(id_col).alias("doc_id"),
        content_digest(F.col(text_col)).alias("digest"),
    ).localCheckpoint(eager=False)  # ONE text hash pass (see exact variant)
    batch_min = (
        b.groupBy("digest")
        .agg(F.min("doc_id").alias("__keep"))
        .localCheckpoint(eager=False)  # feeds bloom build + verify + classify
    )
    words = build_bloom(batch_min, "digest", num_bits, num_hashes)
    candidates = (
        corpus.select(content_digest(F.col(text_col)).alias("digest"))
        .filter(bloom_might_contain("digest", words, num_hashes))
        .distinct()
    )
    hits = candidates.join(batch_min.select("digest"), "digest", "leftsemi")
    return (
        b.join(batch_min, "digest")
        .join(
            hits.withColumn("__in_corpus", F.lit(True)),
            "digest",
            "left",
        )
        .select(
            "doc_id",
            "digest",
            F.when(F.col("__in_corpus").isNotNull(), F.lit("dup_in_corpus"))
            .when(F.col("doc_id") != F.col("__keep"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )
