"""Graph operators: PageRank, BFS, SSSP and k-core with engine-stable numerics.

Complements the connected-components operator in :mod:`sparkfusion.llm.dedup`
(min-label propagation) with the other canonical iterative graph algorithms.
Each is a driver-side loop over pure DataFrame plans run by
:func:`sparkfusion.operators.iterate.iterate`, which checkpoints every round
and releases what the loop persisted; the result is the final checkpoint.

Numeric determinism (the interesting part — float PageRank is NOT
reproducible across partitionings or engines: per-node contribution sums
change addition order, and even round(double, k) disagrees between
implementations at half-point ties, observed live at scale-12). The fix is
FIXED-POINT INTEGER arithmetic: ranks are BIGINTs scaled by 10^scale, every
step is integer division/multiplication/addition — exact, order-independent,
and bit-identical on any engine or cluster size. Mass leaks ~1 ulp per
division (truncation), which is irrelevant for ranking and a fair trade for
full reproducibility — the same trick as the int8-quantized top-k
(llm/similarity.py sim_sq_topk).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .iterate import iterate
from .partitioning import repartition_for_compute


def _degree_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct ``(src, dst, deg)`` edges, hash-partitioned on ``src``. Both
    PageRanks cache it: the cached frame's outputPartitioning survives
    InMemoryTableScan, so each round's rank join shuffles only the n-row
    ranks frame, never the m-row edge list (r9 A/B of the g1 drift)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return repartition_for_compute(e.join(deg, "src"), "src")


def _rank_round(
    e_deg: DataFrame, nodes: DataFrame, teleport: Column, damping_pct: int, ranks: DataFrame
) -> DataFrame:
    """One fixed-point rank round of both PageRanks: ``rank' = teleport +
    (damping_pct * Σ rank div out_degree) div 100`` for every node."""
    contrib = e_deg.join(ranks.withColumnRenamed("node", "src"), "src").select(
        F.col("dst").alias("node"), F.expr("rank_fp div deg").alias("c")
    )
    sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
    return nodes.join(sums, "node", "left").select(
        "node",
        (teleport + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100"))
        .cast("long")
        .alias("rank_fp"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 12,
) -> DataFrame:
    """Fixed-``iterations`` PageRank over a directed edge list in which every
    node has at least one out-edge (symmetrize the graph first otherwise —
    no dangling-mass redistribution is performed).

    Fixed-point update per iteration (all BIGINT, unit = 10^-scale):
    ``contrib = rank div out_degree`` summed per target, then
    ``rank' = teleport_fp + (damping_pct * sum) div 100`` where
    ``teleport_fp = ((100 - damping_pct) * 10^scale) div (100 * N)``.
    One hash shuffle on the node key per iteration; edges and degrees are
    computed once. Returns ``(node, rank_fp)`` — BIGINT ranks; divide by
    10^scale for display.
    """
    one = 10**scale
    # cache the loop-invariant frames, or every round re-runs the edge build
    e_deg = _degree_edges(edges, src, dst).cache()
    # nodes reads the CACHED e_deg (every src in e has a degree), so the edge
    # build runs once and nodes.count() fills both caches in one pass. (r14
    # A/B: repartitioning nodes on "node" before the cache measured SLOWER,
    # 1.87s → 2.07s — the distinct's own partitioning already feeds the join.)
    nodes = e_deg.select("src").distinct().withColumnRenamed("src", "node").cache()
    n_nodes = nodes.count()  # one scalar action; N parameterizes the formula
    ranks = nodes.withColumn("rank_fp", F.lit(one // n_nodes).cast("long"))
    teleport = F.lit(((100 - damping_pct) * one) // (100 * n_nodes))
    step = partial(_rank_round, e_deg, nodes, teleport, damping_pct)
    return iterate(ranks, step, iterations, invariants=(e_deg, nodes))


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Exact global triangle count via DEGREE-ORIENTED wedge joins — the
    canonical distributed-graph pattern (used by every production triangle
    counter: orientation bounds each node's out-degree by O(sqrt(m)), so the
    wedge join's fanout is sum(outdeg^2) ~ m^1.5 instead of the naive
    sum(deg^2), which a single hub node would otherwise blow up
    quadratically).

    Input: undirected edges, any orientation, duplicates/self-loops allowed
    (normalized here). Three shuffles on node/edge keys — groupBy(node) for
    degrees, self-join on the wedge apex, equi-join closing edges against
    the canonical edge set. No cross join, no collect.

    Returns one row: (n_edges, n_wedges, n_triangles), each exact BIGINT.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # orient low-degree -> high-degree (id tiebreak): s is the "apex" side
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            )
            .otherwise(F.col("v"))
            .alias("s"),
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            )
            .otherwise(F.col("u"))
            .alias("t"),
        )
    )
    o1 = oriented.select(F.col("s"), F.col("t").alias("b"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("c"))
    wedges = o1.join(o2, "s").where(F.col("b") < F.col("c"))
    # close each wedge against the CANONICAL (u < v) edge set — the wedge
    # endpoints are already id-ordered by construction, so this is a pure
    # equi-join regardless of how the closing edge was oriented
    tri = wedges.join(
        e, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")), "inner"
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = wedges.agg(F.count(F.lit(1)).alias("n_wedges"))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(F.broadcast(n_wedges)).crossJoin(F.broadcast(n_tri))


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first hop distances over a directed edge list,
    bounded at ``max_hops`` — the third canonical iterative graph algorithm
    next to :func:`pagerank` and the min-label connected components in
    ``llm/dedup.py`` (the reference repo exercises iterative algos only via
    its examples/algo suite; see examples/algo/src/main.rs in the reference
    for the family this extends).

    Frontier discipline (the 100 TB part): each round expands ONLY the nodes
    first reached in the previous round — never the whole visited set — so
    round ``i``'s join cost is proportional to the frontier boundary, not to
    everything seen so far. That is :func:`sssp_distances` with unit
    weights: a node first reached at hop ``h`` is exactly the node whose
    distance improved in round ``h``, and the min-plus distance is the hop
    count the unrolled SQL oracle computes. Fixed ``max_hops`` keeps the
    plan depth bounded and the result deterministic — no convergence race,
    no count() in the loop.

    Returns ``(node, dist)`` with ``dist`` INT in ``[0, max_hops]``; seed
    nodes absent from the edge list still appear at dist 0 (isolated
    sources), unreached nodes are absent.
    """
    unit = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1).alias("w"))
    out = sssp_distances(unit, seeds, node=node, rounds=max_hops)
    return out.select("node", F.col("dist").cast("int").alias("dist"))


def sssp_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    rounds: int = 4,
) -> DataFrame:
    """Multi-source single-source-shortest-path (weighted Bellman-Ford),
    bounded at ``rounds`` relaxation rounds — the weighted sibling of
    :func:`bfs_distances`. After round ``i``, ``dist(v)`` is the exact
    minimum weight over all paths from any seed using at most ``i`` edges,
    which is what the unrolled min-propagation SQL oracle computes.

    Frontier discipline: each round relaxes ONLY the nodes whose distance
    improved in the previous round (classic delta-propagation Bellman-Ford)
    — a node whose value is unchanged already shipped ``dist(u) + w`` to its
    neighbors in an earlier round, so skipping it loses nothing. At 100 TB
    the per-round join cost is proportional to the improving boundary, not
    the visited set. Integer weights keep every distance an exact BIGINT:
    no float min-plus accumulation, bit-identical on any engine or
    partitioning. The one ``(node, dist, is_improved)`` state is
    checkpointed per round; the weighted edge list is cached once.

    Returns ``(node, dist)`` with ``dist`` BIGINT; unreached nodes absent.
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: only the lightest matters
    )
    # cached hash-partitioned on the per-round join key (pagerank e_deg
    # rationale): each relaxation round shuffles only the frontier
    e = repartition_for_compute(e, "src").cache()
    merged = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .withColumn("is_improved", F.lit(True))
    )

    def relax(merged: DataFrame) -> DataFrame:
        # the frontier and the distances are views of one checkpointed state:
        # checkpointing them apart ran each round's join twice (r13 profile)
        improved = merged.filter("is_improved")
        cand = (
            improved.join(e, improved["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        return merged.select("node", "dist").join(cand, "node", "full_outer").select(
            "node",
            F.least(F.col("dist"), F.col("cand")).alias("dist"),
            (
                F.col("dist").isNull()
                | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist")))
            ).alias("is_improved"),
        )

    return iterate(merged, relax, rounds, invariants=(e,)).select("node", "dist")


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-core peeling: iteratively delete nodes of degree < k (and their
    incident edges) — the graph-quality filter that isolates the densely
    connected core (spam/bot subgraph mining, community pre-filtering,
    visualization skeletons). Runs a FIXED number of peel rounds so the
    computation is SQL-expressible for the oracle (same contract as
    :func:`sssp_distances`' fixed-round relaxation); at convergence the
    survivors are exactly the k-core, and tests/test_graph.py pins that
    enough rounds reach the true fixed point.

    Returns ``(node, deg)`` — nodes still carrying edges after ``rounds``
    peels, with their degree in the peeled subgraph.

    Scale shape: each round is one degree aggregation (map-side combinable)
    plus two LEFT SEMI joins (never materializing node×edge products), with
    one checkpoint per round so plan lineage stays flat. Skewed hubs survive
    peeling by definition — AQE handles the degree-join skew."""
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("node"))
            .unionAll(ed.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    def peel(ed: DataFrame) -> DataFrame:
        keep = degrees(ed).filter(F.col("deg") >= k).select("node")
        return (
            ed.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )

    return degrees(iterate(e, peel, rounds))


def personalized_pagerank(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 12,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SOURCE SET instead
    of spreading uniformly — the graph-proximity score behind
    recommendation ("items near what this user touched"), seed-expansion
    community detection, and trust propagation. Same fixed-point BIGINT
    arithmetic as :func:`pagerank` (float PPR is not reproducible across
    partitionings; integer div/mul/add is bit-identical everywhere), the
    same round (one contribution shuffle + one checkpoint), with
    the teleport term gated on source membership: ``rank' =
    e(v)·teleport_fp + (d·Σ contrib) div 100`` where ``e(v)=1`` iff v is a
    source and ``teleport_fp = ((100−d)·10^scale) div (100·|S|)``.
    Non-source nodes unreached after ``iterations`` hops carry rank 0 —
    returned, not dropped, so the output is a total scoring of the node
    set. The node set is src ∪ dst, so sink nodes of a directed graph
    (dst-only) are scored too rather than silently dropping their inbound
    mass (r8 advisor finding)."""
    one = 10**scale
    e_deg = _degree_edges(edges, src, dst).cache()
    # an explicit width: AQE does not coalesce a cached plan, so a bare
    # distinct would cache spark.sql.shuffle.partitions tiny partitions
    ends = e_deg.select(F.col("src").alias("node")).unionByName(
        e_deg.select(F.col("dst").alias("node"))
    )
    nodes = repartition_for_compute(ends, "node").distinct().cache()
    n_src = len(sources)
    is_src = F.col("node").isin(list(sources))
    init = F.when(is_src, F.lit(one // n_src)).otherwise(F.lit(0))
    ranks = nodes.withColumn("rank_fp", init.cast("long"))
    teleport_fp = ((100 - damping_pct) * one) // (100 * n_src)
    teleport = F.when(is_src, F.lit(teleport_fp)).otherwise(F.lit(0))
    step = partial(_rank_round, e_deg, nodes, teleport, damping_pct)
    return iterate(ranks, step, iterations, invariants=(e_deg, nodes))
