"""Graph operator kernels on hand-built graphs with known answers."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from aws_lakehouse_spark.operators.graph import (
    _pagerank_rounds,
    degrees,
    pagerank_from_adjacency,
    sliced_adjacency,
    symmetrize,
    triangle_count,
)

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src bigint, dst bigint"
    )


def _nbr_lists(edges):
    """``(src, nbrs)`` distinct-neighbour lists of an undirected edge
    list: the input ``pagerank_from_adjacency`` takes."""
    return symmetrize(edges).groupBy("src").agg(
        F.collect_set("dst").alias("nbrs")
    )


def test_degrees_path_graph(spark):
    # 1-2-3 path: ends degree 1, middle degree 2
    deg = {
        r["node"]: r["degree"]
        for r in degrees(_edges(spark, [(1, 2), (2, 3)])).collect()
    }
    assert deg == {1: 1, 2: 2, 3: 1}


def test_triangle_count_k4(spark):
    # complete graph on 4 nodes has C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    row = triangle_count(_edges(spark, k4)).first()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_triangle_count_square_with_diagonal(spark):
    # square 1-2-3-4 plus diagonal 1-3: exactly 2 triangles
    e = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]
    assert triangle_count(_edges(spark, e)).first()["n_triangles"] == 2


def test_triangle_count_star_is_zero(spark):
    # hub with 6 spokes: plenty of wedges, zero triangles — exercises
    # the degree-ordered orientation (hub receives, never fans out)
    e = [(1, h) for h in range(2, 8)]
    assert triangle_count(_edges(spark, e)).first()["n_triangles"] == 0


def test_pagerank_sums_to_one_and_respects_symmetry(spark):
    # path 1-2-3: symmetric ends must tie exactly; mass conserved
    pr = {
        r["node"]: r["pr"]
        for r in pagerank_from_adjacency(
            _nbr_lists(_edges(spark, [(1, 2), (2, 3)])), 10
        ).collect()
    }
    assert math.isclose(sum(pr.values()), 1.0, rel_tol=1e-9)
    assert pr[1] == pr[3]
    assert pr[2] > pr[1]


def test_pagerank_matches_dense_reference(spark):
    # independent dense-matrix iterate on the same 5-node graph
    import numpy as np

    e = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    n, it, d = 5, 5, 0.85
    adj = np.zeros((n, n))
    for a, b in e:
        adj[a - 1, b - 1] = adj[b - 1, a - 1] = 1.0
    deg = adj.sum(axis=1)
    p = np.full(n, 1.0 / n)
    for _ in range(it):
        p = (1 - d) / n + d * adj.T @ (p / deg)
    got = {
        r["node"]: r["pr"]
        for r in pagerank_from_adjacency(_nbr_lists(_edges(spark, e)), it).collect()
    }
    for i in range(n):
        assert math.isclose(got[i + 1], p[i], rel_tol=1e-12), (i, got, p)


def test_copurchase_edges_are_canonical(spark):
    from aws_lakehouse_spark.plans.graph import copurchase_edges

    e = copurchase_edges(spark, SF_DIR)
    bad = e.filter(
        (F.col("src") >= F.col("dst")) | (F.col("w") < 1)
    ).count()
    assert bad == 0
    # distinct pairs: no duplicate edges
    assert e.count() == e.select("src", "dst").distinct().count()


def test_pagerank_from_adjacency_matches_edge_form(spark):
    """The adjacency-list path must produce the same ranks as the
    same rounds over the edge-list build (``sliced_adjacency``, which
    label propagation uses)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)], "src long, dst long"
    )
    via_edges = {
        r["node"]: round(r["pr"], 10)
        for r in _pagerank_rounds(sliced_adjacency(edges, 10**6), 4, 0.85).collect()
    }
    via_adj = {
        r["node"]: round(r["pr"], 10)
        for r in pagerank_from_adjacency(_nbr_lists(edges), iterations=4).collect()
    }
    assert via_edges == via_adj
    assert abs(sum(via_adj.values()) - 1.0) < 1e-9


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA labels each
    triangle with its minimum member id; the deterministic min-label
    tie-break keeps the bridge endpoints in their own cliques."""
    from aws_lakehouse_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(4, 5), (4, 6), (5, 6)]
    bridge = [(3, 4)]
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(
            _edges(spark, tri1 + tri2 + bridge), rounds=3
        ).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    # clique 2 converges to its own min label (4's neighbors 5,6
    # vote their clique's labels; the bridge's single vote loses)
    assert labels[5] == labels[6] == labels[4]
    assert labels[4] != labels[1]


def test_label_propagation_sequential_reference(spark):
    """Synchronous LPA on a random-ish graph matches an independent
    sequential implementation of the same update rule."""
    import random

    from aws_lakehouse_spark.operators.graph import label_propagation

    rng = random.Random(7)
    nodes = list(range(20))
    pairs = sorted(
        {
            (a, b)
            for _ in range(40)
            for a, b in [sorted(rng.sample(nodes, 2))]
        }
    )
    rounds = 3

    # sequential reference: same majority-with-min-tie-break rule
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for m in nbrs:
                counts[lab[m]] = counts.get(lab[m], 0) + 1
            nxt[n] = min(
                counts, key=lambda c: (-counts[c], c)
            )
        lab = nxt

    got = {
        r["node"]: r["label"]
        for r in label_propagation(_edges(spark, pairs), rounds).collect()
    }
    assert got == lab


def test_bfs_distances_match_sequential(spark):
    """Frontier-expansion BFS matches a dict-based sequential BFS on
    a seeded random graph, including the 3-hop bound."""
    import random
    from collections import deque

    from aws_lakehouse_spark.operators.graph import symmetrize

    rng = random.Random(11)
    nodes = list(range(30))
    pairs = sorted(
        {
            (a, b)
            for _ in range(45)
            for a, b in [sorted(rng.sample(nodes, 2))]
        }
    )
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    src = min(adj)
    expected = {src: 0}
    dq = deque([src])
    while dq:
        u = dq.popleft()
        if expected[u] >= 3:
            continue
        for v in adj[u]:
            if v not in expected:
                expected[v] = expected[u] + 1
                dq.append(v)

    # replicate graph_bfs_distance's loop on this edge list
    import pyspark.sql.functions as F

    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    sym = symmetrize(edges)
    nodes_df = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes_df.filter(F.col("node") == src).select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    frontier = labels
    for r in range(1, 4):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(labels, "node", "left_anti")
            .select("node", F.lit(r).cast("int").alias("dist"))
        )
        labels = labels.unionByName(nxt).localCheckpoint(eager=False)
        frontier = labels.filter(F.col("dist") == r)
    got = {r["node"]: r["dist"] for r in labels.collect()}
    assert got == expected


def test_hub_slicing_matches_unsliced_pagerank(spark):
    """Planted super-hub (deg >> max_degree): hub-sliced PageRank
    must match the unsliced computation exactly — slicing only
    regroups the same per-edge contributions, and the keyed
    aggregate re-merges them (verdict r4 'super-hub OOM' watch
    item). Exercises BOTH slicing paths: the salted build
    (``sliced_adjacency`` over edges) and the array-slice path
    (pagerank_from_adjacency)."""
    # hub 0 connected to 1..60, plus a ring 1-2, 3-4, ... for texture
    pairs = [(0, i) for i in range(1, 61)] + [
        (i, i + 1) for i in range(1, 60, 2)
    ]
    edges = _edges(spark, pairs)

    adj = _nbr_lists(edges)
    unsliced = {
        r["node"]: r["pr"]
        for r in pagerank_from_adjacency(
            adj, iterations=4, max_degree=10**6
        ).collect()
    }
    via_salted = {
        r["node"]: r["pr"]
        for r in _pagerank_rounds(sliced_adjacency(edges, 7), 4, 0.85).collect()
    }
    via_arrayslice = {
        r["node"]: r["pr"]
        for r in pagerank_from_adjacency(
            adj, iterations=4, max_degree=7
        ).collect()
    }
    assert set(via_salted) == set(unsliced)
    assert set(via_arrayslice) == set(unsliced)
    for n in unsliced:
        assert math.isclose(via_salted[n], unsliced[n], rel_tol=1e-9), n
        assert math.isclose(via_arrayslice[n], unsliced[n], rel_tol=1e-9), n

    # the slicing invariant itself: every slice row bounded, full
    # degree preserved, union of slices = the neighbor set
    sliced = sliced_adjacency(edges, max_degree=7)
    rows = sliced.collect()
    hub_rows = [r for r in rows if r["src"] == 0]
    assert len(hub_rows) == math.ceil(60 / 7)
    assert all(r["deg"] == 60 for r in hub_rows)
    got_nbrs = sorted(x for r in hub_rows for x in r["nbrs"])
    assert got_nbrs == list(range(1, 61))
    # hash salting is balanced in expectation, not exactly; bound by
    # the statistical envelope, not the cap itself
    assert max(len(r["nbrs"]) for r in rows) <= 3 * 7


def test_hub_slicing_matches_unsliced_lpa(spark):
    """Same planted-hub check for label propagation: sliced votes
    re-merge in the (node, label) count, so communities are
    unchanged."""
    from aws_lakehouse_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (1, 3), (2, 3)]
    star = [(4, i) for i in range(5, 30)]  # hub 4, deg 25
    pairs = tri1 + star + [(3, 4)]
    edges = _edges(spark, pairs)
    unsliced = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3, max_degree=10**6).collect()
    }
    sliced = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3, max_degree=4).collect()
    }
    assert sliced == unsliced


def test_pagerank_random_graphs_any_cap_matches_dense(spark):
    """Property over seeded random graphs x aggressive hub caps: the
    sliced kernel must equal the independent dense-matrix iterate
    regardless of where the slice boundaries fall (caps of 2 and 3
    force nearly every node to split)."""
    import random

    import numpy as np

    for seed, cap in ((13, 2), (29, 3), (47, 2)):
        rng = random.Random(seed)
        nodes = list(range(12))
        pairs = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(25)
            }
        )
        present = sorted({x for p in pairs for x in p})
        idx = {n: i for i, n in enumerate(present)}
        n, it, d = len(present), 4, 0.85
        adj = np.zeros((n, n))
        for a, b in pairs:
            adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
        deg = adj.sum(axis=1)
        p = np.full(n, 1.0 / n)
        for _ in range(it):
            p = (1 - d) / n + d * adj.T @ (p / deg)
        got = {
            r["node"]: r["pr"]
            for r in pagerank_from_adjacency(
                _nbr_lists(_edges(spark, pairs)), it, max_degree=cap
            ).collect()
        }
        assert set(got) == set(present), (seed, cap)
        for node in present:
            assert math.isclose(
                got[node], p[idx[node]], rel_tol=1e-9
            ), (seed, cap, node)


def test_mega_basket_join_path_matches_array_expansion(spark, tmp_path):
    """An order whose distinct part set exceeds max_basket routes
    through the explode-then-self-join expansion (shuffle-bounded)
    instead of the in-row array transform (one |ps|^2 row). Both
    paths must produce the identical weighted edge set; with the
    default cap the same data takes the array path, which must agree
    too."""
    from aws_lakehouse_spark.plans.graph import copurchase_edges

    rows = []
    # order 1: a "mega" basket of 9 distinct parts (cap will be 4)
    rows += [(1, p) for p in range(100, 109)]
    # order 2: small basket overlapping order 1's parts
    rows += [(2, 100), (2, 101), (2, 105)]
    # order 3: duplicate lineitems collapse via collect_set
    rows += [(3, 100), (3, 100), (3, 101)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint"
    ).write.parquet(f"{sf}/lineitem.parquet")

    def edge_set(max_basket):
        return sorted(
            tuple(r)
            for r in copurchase_edges(
                spark, sf, min_weight=1, max_basket=max_basket
            ).collect()
        )

    routed = edge_set(4)       # order 1 takes the join path
    array_only = edge_set(10_000)  # everything takes the array path
    assert routed == array_only
    # spot-check a weight: (100, 101) co-occurs in all three orders
    assert (100, 101, 3) in routed
    # and the mega basket produced all C(9,2) = 36 of its own pairs
    mega_pairs = [
        e for e in routed if 100 <= e[0] and e[1] <= 108 and e[0] < e[1]
    ]
    assert len(mega_pairs) >= 36
