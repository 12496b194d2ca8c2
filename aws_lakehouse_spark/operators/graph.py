"""Distributed graph analytics over DataFrame edge lists.

The reference engine has no graph tier; these are engine extensions
motivated by the same workloads the LLM-pipeline tier serves — near-
dup clusters ARE connected components (``llm.dedup.connected_
components`` is reused unchanged as the CC kernel), co-occurrence
graphs drive data-mixing decisions, and PageRank-style centrality is
the standard quality prior for web-scraped corpora (the original use
case of the algorithm).

Everything is expressed on plain ``(src, dst [, w])`` DataFrames so
Catalyst owns the physical strategy:

- **degrees** — one shuffle on the node key.
- **triangle counting** — DEGREE-ORDERED orientation (each undirected
  edge directed from its lower-(degree, id) endpoint) before the
  wedge join, the standard trick that bounds wedge fan-out by
  ``O(Σ outdeg²)`` with outdeg ≈ √m at worst, instead of ``Σ deg²``
  which a hub node turns quadratic. At 100 TB the wedge join and the
  closing-edge semi-join are both plain equi-joins — shuffle-
  partitioned, no cartesian anywhere.
- **PageRank / LPA** — the textbook iterate as K rounds of (join +
  keyed aggregate) over an adjacency pinned once with a lazy
  ``localCheckpoint``; another lazy checkpoint every
  :data:`ROUNDS_PER_CHECKPOINT`-th round bounds the plan depth
  without paying a materialization barrier per round (a per-round
  barrier costs ~25% of the 5-round wall at sf0.1).

r11 measurement note on ``localCheckpoint(eager=False)`` under AQE
(Spark 4): the call is NOT free at build time — compiling the
checkpoint RDD forces ``queryExecution.toRdd``, and for an adaptive
plan that executes every upstream shuffle stage eagerly (probed: a
"lazy" pin of the co-purchase edge frame ran its map stages and took
1.7-1.8 s inside the call). The eager=False form still skips the
final-stage materialization and the plan-depth bounding argument is
unchanged; the measured alternatives stay worse or equal (pin
removal 1.0-1.27x, no mid-round checkpoint 1.0x, a
``repartition(src).persist()`` adjacency 3-4x — see
:func:`_pagerank_rounds`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected (src<dst) edge list -> both-direction adjacency."""
    fwd = edges.select("src", "dst")
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return fwd.unionByName(rev)


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of an undirected (src<dst, distinct) edge
    list: ``(node, degree)``. One shuffle."""
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact global triangle count of an undirected graph given as a
    distinct ``(src, dst)`` edge list with ``src < dst``.

    Degree-ordered algorithm (MapReduce-classic): orient every edge
    from its lower-(degree, node-id) endpoint, enumerate wedges by
    self-joining oriented edges on their apex, then close each wedge
    with a semi-join back to the undirected edge set. Each triangle
    is counted exactly once — at its minimum-(degree, id) vertex.
    Returns a single row ``(n_nodes, n_edges, n_triangles)``.
    """
    # the edge list is typically DERIVED (e.g. a two-shuffle
    # fact-table expansion) and this algorithm consumes it five ways
    # (two degree sides, the orientation join, the closing semi-join,
    # the edge count) — unpinned, every consumer re-embeds the
    # derivation and the source scans compound (measured: 14 fact
    # scans for the co-purchase graph). Pin edges and the node-sized
    # degree frame once; the oriented self-join below gets its own
    # pin for the same reason.
    edges = edges.localCheckpoint(eager=False)
    deg = degrees(edges).localCheckpoint(eager=False)
    du = deg.select(
        F.col("node").alias("src"),
        F.col("degree").alias("__sdeg"),
    )
    dv = deg.select(
        F.col("node").alias("dst"),
        F.col("degree").alias("__ddeg"),
    )
    with_deg = edges.select("src", "dst").join(du, "src").join(dv, "dst")
    src_first = (F.col("__sdeg") < F.col("__ddeg")) | (
        (F.col("__sdeg") == F.col("__ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    ).localCheckpoint(eager=False)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo"))
        & (F.col("e1.hi") < F.col("e2.hi")),
    ).select(
        F.least(F.col("e1.hi"), F.col("e2.hi")).alias("src"),
        F.greatest(F.col("e1.hi"), F.col("e2.hi")).alias("dst"),
    )
    closed = wedges.join(edges.select("src", "dst"), ["src", "dst"], "left_semi")
    n_tri = closed.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_edges = edges.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n")).select("n")
    # three scalar aggregates -> one row; broadcast-of-one-row joins
    return (
        n_nodes.select(F.col("n").alias("n_nodes"))
        .crossJoin(n_edges.select(F.col("n").alias("n_edges")))
        .crossJoin(n_tri.select(F.col("n").alias("n_triangles")))
    )


# Neighbor lists longer than this are split across multiple rows
# (hub slices): a web-scale super-hub with 10^8 neighbors must not
# become ONE array row — that row alone would dominate an executor's
# heap and serialize the explode. 1e5 int64 neighbors ≈ 800 KB/row,
# comfortably inside any executor while keeping slice overhead nil
# for ordinary nodes.
DEFAULT_MAX_DEGREE = 100_000

# PageRank and LPA checkpoint their node-sized state every this many
# rounds: bound (don't flatten) the plan — a per-round barrier costs
# ~25% of the 5-round wall (sf0.1); the r11/r12 cadence A/Bs (sf0.1
# and sf1, 5 and 10 rounds) measured every-3rd within noise of the
# alternatives.
ROUNDS_PER_CHECKPOINT = 3


def sliced_adjacency(
    edges: DataFrame, max_degree: int = DEFAULT_MAX_DEGREE
) -> DataFrame:
    """Symmetrized adjacency as HUB-SLICED neighbor-list rows
    ``(src, deg, slice_i, nbrs)`` with ``len(nbrs)`` bounded by
    ~``max_degree``: nodes at or under the cap get one row
    (``slice_i = 0``); a super-hub's neighbors are salted by
    ``xxhash64(dst) % ceil(deg / max_degree)`` into that many slice
    rows. Crucially the split happens AT AGGREGATION TIME — the
    group key is ``(src, slice_i)`` — so the unbounded single row is
    never materialized anywhere, not even transiently inside
    ``collect_list`` (slicing a built array would still build it).
    ``deg`` is the node's FULL degree (what PageRank divides by),
    computed with one map-side-combined count aggregate. Costs one
    extra edge-sized exchange vs the naive one-row-per-node group
    (the degree join); the slice group itself reuses the join's
    ``src`` partitioning, and downstream per-round joins only fan
    out on the bounded slice rows."""
    adj = symmetrize(edges)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_slices = F.ceil(F.col("deg") / F.lit(float(max_degree)))
    return (
        adj.join(deg, "src")
        .withColumn(
            "slice_i",
            F.when(F.col("deg") <= max_degree, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("dst"), n_slices).cast("int")
            ),
        )
        # partitioned by src off the join, and src ⊆ the group keys,
        # so this aggregate adds no exchange
        .groupBy("src", "deg", "slice_i")
        .agg(F.collect_list("dst").alias("nbrs"))
    )


def _slice_nbr_lists(
    adj_lists: DataFrame, max_degree: int = DEFAULT_MAX_DEGREE
) -> DataFrame:
    """Hub-slice a PREBUILT ``(src, nbrs)`` adjacency frame into the
    ``(src, deg, slice_i, nbrs)`` shape :func:`sliced_adjacency`
    produces, via array slicing. The caller already materialized the
    full list once (its input contract); this bounds everything
    DOWNSTREAM — the pinned frame, the per-round join fan-out,
    and each explode — at ``max_degree`` elements per row. Ordinary
    nodes (the overwhelming majority) take the single-slice fast
    path: ``sequence(0, 0)`` → one full-array slice, no copy
    amplification."""
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.floor(
                (F.size("nbrs") - F.lit(1)) / F.lit(max_degree)
            ).cast("int"),
        ),
        lambda i: F.slice(
            F.col("nbrs"), i * F.lit(max_degree) + F.lit(1), F.lit(max_degree)
        ),
    )
    return adj_lists.select(
        "src",
        F.size("nbrs").alias("deg"),
        F.posexplode(chunks).alias("slice_i", "nbrs"),
    )


def _pagerank_rounds(
    sliced: DataFrame, iterations: int, damping: float
) -> DataFrame:
    """The synchronous PageRank iterate over a hub-sliced adjacency
    frame ``(src, deg, slice_i, nbrs)``; see
    :func:`pagerank_from_adjacency` for the algorithm/scale contract.

    The adjacency is pinned for the rounds with a lazy
    ``localCheckpoint``: raw row-format partitions stored once, which
    every round's join scans with no rebuild. The plan loses the
    ``hashpartitioning(src)`` fact, but AQE plans each round as a
    broadcast join (rank side node-sized), so the adjacency is never
    exchanged anyway. Measured (sf0.1, local[32], warm, best-of-3):
    1.5-1.8 s for 5 rounds, against 5-8.6 s for a
    ``repartition("src").persist()`` pin, whose columnar cache build
    over array columns plus GC pressure buys a partitioning fact that
    only pays once the rank vector outgrows the broadcast threshold."""
    sliced = sliced.localCheckpoint(eager=False)
    nodes = sliced.select("src").distinct()
    n = nodes.count()
    if n == 0:
        # a filtered edge set can legitimately be empty (e.g. a
        # min-weight cut on a sparse graph); the rank of an empty
        # graph is an empty frame, not a 1/0 division
        return nodes.select(
            F.col("src").alias("node"), F.lit(0.0).alias("pr")
        )
    pr = nodes.select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("pr")
    )
    base = (1.0 - damping) / n
    for i in range(iterations):
        msgs = sliced.join(
            pr.select(F.col("node").alias("src"), "pr"), "src"
        ).select(
            F.explode("nbrs").alias("node"),
            (F.col("pr") / F.col("deg")).alias("c"),
        )
        pr = msgs.groupBy("node").agg(
            (F.lit(base) + F.lit(damping) * F.sum("c")).alias("pr")
        )
        if (i + 1) % ROUNDS_PER_CHECKPOINT == 0 and (i + 1) < iterations:
            pr = pr.localCheckpoint(eager=False)
    return pr


def pagerank_from_adjacency(
    adj_lists: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    max_degree: int = DEFAULT_MAX_DEGREE,
) -> DataFrame:
    """PageRank over a prebuilt adjacency-list frame ``(src, nbrs)``
    of an undirected graph — one row per node, ``nbrs`` its DISTINCT
    neighbors: uniform ``1/N`` init, K synchronous rounds of
    ``pr'(v) = (1-d)/N + d * Σ_{u~v} pr(u)/deg(u)``; returns
    ``(node, pr)``.

    Callers produce the lists in one shuffle (``collect_set`` straight
    off the pair expansion, which dedups for free), so no
    distinct-edge aggregate runs. A symmetric graph has no dangling
    nodes (every listed node has degree ≥ 1), so no dangling-mass
    redistribution term is needed — and, because every node
    therefore RECEIVES at least one contribution each round, the
    aggregate over incoming edges already covers the full node set:
    no per-round left join back to a node table (dropping it removed
    5 node-sized joins + sorts from the plan, −40% wall at sf0.1).

    ``N`` comes off a count action — one scalar on the driver, never
    row data. The lists are HUB-SLICED (:func:`_slice_nbr_lists`): a
    node past ``max_degree`` neighbors becomes several bounded rows,
    so a web-scale super-hub can't OOM an executor or serialize the
    explode — contributions from its slices re-merge in the same
    keyed aggregate every round already runs. The sliced frame is
    materialized ONCE for the rounds (a lazy ``localCheckpoint``; see
    :func:`_pagerank_rounds` for the measurement); messages explode
    out of the neighbor lists only AFTER the per-round join, so the
    edge-sized frame is never a join input. The only data-sized
    movement per round is the contribution aggregate's shuffle, which
    map-side partial aggregation bounds at (nodes × partitions). This
    is the Pregel shape: edges stay put, only the O(N) rank vector
    moves. Lineage is truncated with a lazy ``localCheckpoint`` every
    :data:`ROUNDS_PER_CHECKPOINT`-th round, not every round: each
    checkpoint costs a materialization barrier (~25% of the 5-round
    wall when done per-round, measured at sf0.1), while the plan tree
    only needs bounding, not flattening — three unchained rounds
    deepen it by a constant.
    """
    return _pagerank_rounds(
        _slice_nbr_lists(adj_lists, max_degree), iterations, damping
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    max_degree: int = DEFAULT_MAX_DEGREE,
) -> DataFrame:
    """Synchronous label propagation (community detection) on an
    undirected ``(src < dst)`` distinct edge list; returns
    ``(node, label)`` after ``rounds`` iterations.

    Every node starts labeled with its own id; each round, a node
    adopts the label held by the MOST of its neighbors, ties broken
    by the smallest label — a fully deterministic variant of
    Raghavan et al.'s LPA (the classic formulation breaks ties
    randomly, which no distributed gate can reproduce). Synchronous
    update: round k+1 reads only round k's labels.

    Pregel shape, same contract as :func:`pagerank_from_adjacency`:
    the adjacency is collapsed to per-node neighbor lists (HUB-
    SLICED at build time via :func:`sliced_adjacency` — a super-hub
    past ``max_degree`` neighbors becomes several bounded rows whose
    votes re-merge in the per-(node, label) count the round already
    runs), materialized ONCE for the rounds with a lazy
    ``localCheckpoint`` (see :func:`_pagerank_rounds` for the
    measurement). Votes explode out of the neighbor lists only after
    the join, and the vote count's map-side partial aggregation bounds
    the shuffle at (node, label)-cardinality. The per-node argmax runs
    ``min_by(label, (-votes, label))`` — one aggregate, no window
    sort. A lazy ``localCheckpoint`` every
    :data:`ROUNDS_PER_CHECKPOINT`-th round bounds the plan depth (same
    policy and measurement as :func:`pagerank_from_adjacency`: a
    per-round barrier costs ~25% of the wall and the tree only needs
    bounding, not flattening); total cost stays O(rounds) keyed
    shuffles.
    """
    adj_lists = sliced_adjacency(edges, max_degree).localCheckpoint(
        eager=False
    )
    labels = (
        adj_lists.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    for r in range(rounds):
        votes = (
            adj_lists.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .select(F.explode("nbrs").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("v"))
        )
        labels = votes.groupBy("node").agg(
            F.expr(
                "min_by(label, struct(-v, label))"
            ).alias("label")
        )
        if (r + 1) % ROUNDS_PER_CHECKPOINT == 0 and (r + 1) < rounds:
            labels = labels.localCheckpoint(eager=False)
    return labels
