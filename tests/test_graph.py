"""Tests for fixed-point PageRank (operators/graph.py)."""

from __future__ import annotations

from sparkfusion.operators.graph import pagerank

ONE = 10**12


def _sym(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src string, dst string")


def test_star_graph_hub_dominates(spark):
    # hub h connected to 4 leaves: h must out-rank every leaf
    edges = _sym(spark, [("h", f"l{i}") for i in range(4)])
    ranks = {r["node"]: r["rank_fp"] for r in pagerank(edges, iterations=5).collect()}
    assert all(ranks["h"] > ranks[f"l{i}"] for i in range(4))
    # leaves are symmetric -> identical ranks (integer-exact, no float fuzz)
    assert len({ranks[f"l{i}"] for i in range(4)}) == 1
    # total mass conserved up to integer-truncation leakage
    assert abs(sum(ranks.values()) - ONE) < len(ranks) * 200


def test_ring_graph_is_uniform(spark):
    n = 6
    edges = _sym(spark, [(f"v{i}", f"v{(i + 1) % n}") for i in range(n)])
    ranks = {r["node"]: r["rank_fp"] for r in pagerank(edges, iterations=4).collect()}
    # a regular graph's stationary distribution is uniform; integer math
    # keeps every node EXACTLY equal
    assert len(set(ranks.values())) == 1


def test_rank_independent_of_partitioning(spark):
    edges = _sym(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")])
    r1 = {r["node"]: r["rank_fp"] for r in pagerank(edges.repartition(1), iterations=3).collect()}
    r8 = {r["node"]: r["rank_fp"] for r in pagerank(edges.repartition(8), iterations=3).collect()}
    assert r1 == r8  # bit-identical across partitionings


def test_bfs_hand_graph(spark):
    """Line graph a-b-c-d plus isolated seed z: exact hop distances,
    unreached node absent, isolated seed kept at dist 0."""
    from sparkfusion.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c"),
         ("x", "y"), ("y", "x")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",), ("z",)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, seeds, max_hops=4).collect()}
    assert got == {"a": 0, "z": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_max_hops_bounds_expansion(spark):
    from sparkfusion.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    out = bfs_distances(edges, seeds, max_hops=3).collect()
    assert {r["node"]: r["dist"] for r in out} == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_min_dist_on_diamond(spark):
    """Two paths of different length to the same node: BFS keeps the min."""
    from sparkfusion.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "t"), ("s", "b"), ("b", "c"), ("c", "t")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("s",)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, seeds, max_hops=4).collect()}
    assert got["t"] == 2


def test_sssp_prefers_longer_but_lighter_path(spark):
    """The defining weighted case BFS gets wrong: a 3-edge path of weight 3
    beats the direct edge of weight 10."""
    from sparkfusion.operators.graph import sssp_distances

    edges = spark.createDataFrame(
        [("s", "t", 10), ("s", "a", 1), ("a", "b", 1), ("b", "t", 1)],
        ["src", "dst", "w"],
    )
    seeds = spark.createDataFrame([("s",)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, seeds, rounds=4).collect()
    }
    assert got == {"s": 0, "a": 1, "b": 2, "t": 3}


def test_sssp_rounds_bound_path_length(spark):
    """After i rounds the distance is min over paths of <= i edges: with
    rounds=1 only the heavy direct edge is reachable."""
    from sparkfusion.operators.graph import sssp_distances

    edges = spark.createDataFrame(
        [("s", "t", 10), ("s", "a", 1), ("a", "t", 1)],
        ["src", "dst", "w"],
    )
    seeds = spark.createDataFrame([("s",)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, seeds, rounds=1).collect()
    }
    assert got == {"s": 0, "a": 1, "t": 10}


def test_sssp_parallel_edges_keep_lightest(spark):
    from sparkfusion.operators.graph import sssp_distances

    edges = spark.createDataFrame(
        [("s", "t", 7), ("s", "t", 3)], ["src", "dst", "w"]
    )
    seeds = spark.createDataFrame([("s",)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, seeds, rounds=2).collect()
    }
    assert got["t"] == 3


def test_kcore_peels_pendants_keeps_clique(spark):
    """A 4-clique (every node degree 3) wearing a pendant chain: k=3 peeling
    must strip the chain — including the cascade where removing one pendant
    drops the next below k — and keep the clique intact."""
    from sparkfusion.operators.graph import kcore_peel

    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]  # pendant path off the clique
    edges = spark.createDataFrame(clique + chain, "u long, v long")
    out = {r["node"]: r["deg"] for r in kcore_peel(edges, k=3, rounds=4).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_fixed_rounds_match_convergence(spark):
    """On the suite's deterministic graph shape (small variant), 3 rounds
    already reach the fixed point: one more peel changes nothing."""
    from sparkfusion.operators.graph import kcore_peel

    import random

    rnd = random.Random(7)
    edges = spark.createDataFrame(
        [(rnd.randrange(60), rnd.randrange(60)) for _ in range(300)],
        "u long, v long",
    )
    r3 = sorted(map(tuple, kcore_peel(edges, k=3, rounds=3).collect()))
    r4 = sorted(map(tuple, kcore_peel(edges, k=3, rounds=4).collect()))
    assert r3 == r4


def test_personalized_pagerank_concentrates_near_seeds(spark):
    """On a barbell (two cliques joined by one bridge), PPR seeded in clique
    A must score clique-A nodes above clique-B nodes, and the seed highest;
    global PageRank would score the symmetric cliques identically."""
    from sparkfusion.operators.graph import personalized_pagerank

    a = [(f"a{i}", f"a{j}") for i in range(4) for j in range(4) if i != j]
    b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(4) if i != j]
    bridge = [("a0", "b0"), ("b0", "a0")]
    edges = spark.createDataFrame(a + b + bridge, "src string, dst string")
    out = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(edges, ["a1"], iterations=4).collect()
    }
    assert out["a1"] == max(out.values())
    assert min(out[f"a{i}"] for i in range(4)) > max(out[f"b{i}"] for i in range(1, 4))


def test_personalized_pagerank_with_every_source_is_pagerank(spark):
    """Both PageRanks share one rank round: with every node of a symmetric
    graph as a source, PPR's teleport and initial ranks are PageRank's, so
    the ranks must be bit-identical."""
    from sparkfusion.operators.graph import personalized_pagerank

    edges = _sym(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")])
    pr = {r["node"]: r["rank_fp"] for r in pagerank(edges, iterations=4).collect()}
    ppr = personalized_pagerank(edges, sorted(pr), iterations=4).collect()
    assert {r["node"]: r["rank_fp"] for r in ppr} == pr
