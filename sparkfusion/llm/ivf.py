"""IVF (inverted-file) approximate nearest-neighbor search.

The second ANN scale path next to sign-bucket LSH (:mod:`.similarity`):
a coarse quantizer (k-means over the corpus) partitions the corpus into
cells; a query probes only the ``nprobe`` nearest cells, scanning
``~nprobe/k`` of the data. This is the classic IVF-Flat layout: at 100 TB the
assigned corpus is written partitioned by ``cell`` so a probe is a partition-
pruned scan, and the centroid table (k rows) broadcasts. ``k`` is
caller-chosen and MUST grow with the corpus (the FAISS rule of thumb is
k ≈ √n, keeping per-probe scan cost √n instead of linear — the same
pinned-constant-goes-superlinear class the r12 sf1 sweep caught in
semdedup/cosine_pairs; the suite's small fixed k exists only for the
deterministic oracle).

The trainer is :func:`..operators.kmeans.lloyd_centroids`, the exact
quantized-integer Lloyd's the km1 oracle checks bit for bit, so the
production quantizer is reproducible on any partitioning. The suite query
still uses :func:`ivf_seeded_topk`'s SQL-nameable quantizer, whose oracle
needs no unrolled Lloyd's; recall vs the exact scan is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine_queries, cosine_r9, cosine_topk, top_k_per_query


def ivf_build(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Train the coarse quantizer and assign every vector to a cell.

    Returns ``(assigned, centroids)``: the corpus with a ``cell`` column, and
    the k centroid vectors as ``(cell, centroid array<double>)``. Training is
    a fixed number of rounds of quantized Lloyd's (components rounded to
    10^-6, initialized from the ``k`` smallest ids), so the cells are
    deterministic; the assignment is one map-only argmin against the final
    centroids that carries the embedding through."""
    from ..operators.kmeans import (
        _LITERAL_ARGMIN_MAX_K,
        assign_quantized,
        lloyd_centroids,
        quantize_points,
        quantized,
    )
    from ..operators.iterate import _release

    # kmeans_quantized's scale: exact int64 distances to d ≈ 9000 at unit
    # norm (kmeans.check_quantization_envelope)
    scale = 6
    # half the 20-round cap of MLlib's KMeans, which this trainer replaced:
    # on the 500-vector embeddings at k=8, inertia after 10 rounds is within
    # 0.1% of 20 rounds', and the sorted cell sizes are within 2 vectors
    rounds = 10
    pts = quantize_points(df, id_col, emb_col, scale, spread=k <= _LITERAL_ARGMIN_MAX_K)
    try:
        cents = lloyd_centroids(pts, k, rounds)
    finally:  # the assignment below reads the corpus, not the checkpoint
        _release(pts)
    assigned = assign_quantized(
        df.select(id_col, emb_col, quantized(F.col(emb_col), scale).alias("xq")), cents
    ).select(id_col, emb_col, F.col("cid").alias("cell"))
    q = 10**scale
    centroids = df.sparkSession.createDataFrame(
        [(i, [v / q for v in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    return assigned, centroids


def euclid_r9(a, b):
    """Euclidean distance of two float-array columns: sequential fold of
    squared diffs in double, sqrt, rounded to 9 decimals — the rounding
    absorbs ≤1-ulp summation-order differences vs DuckDB's ``list_distance``
    so argmin cell assignment is cross-engine identical."""
    diff2 = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.round(F.sqrt(diff2), 9)


def seeded_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """A *deterministic* data-derived coarse quantizer: the centroids are the
    embeddings of the first ``n_cells`` ids (a degenerate but fully
    SQL-expressible KMeans init — both engines can name the exact same
    centroid rows), and every vector goes to its nearest centroid by
    :func:`euclid_r9`, cell-id tiebreak, in one pass against the broadcast
    centroids. Returns ``(assigned, centroids)`` in :func:`ivf_build`'s
    shapes: ``(id, emb, cell)`` and ``(cell, centroid)``."""
    cents = df.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("cell"), F.col(emb_col).alias("centroid")
    )
    d = euclid_r9(F.col(emb_col), F.col("centroid")).alias("d")
    assigned = (
        df.select(id_col, emb_col)
        .crossJoin(F.broadcast(cents))
        .groupBy(id_col)
        .agg(
            F.min(F.struct(d, F.col("cell"))).alias("m"),
            F.first(emb_col).alias(emb_col),
        )
        .select(id_col, emb_col, F.col("m.cell").alias("cell"))
    )
    return assigned, cents


def probe_cells(centroids: DataFrame, queries: DataFrame, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest cells by round-9 centroid cosine,
    cell-id tiebreak: the centroids ``(cell, centroid)`` cross the broadcast
    query batch ``(q_id, q_emb, ...)`` and the shared ranker keeps ``nprobe``
    rows per query. Returns the query columns with ``cell`` and
    ``centroid``. :func:`.pq.probe_cells_for_query` is the driver-side twin
    over literal centroids."""
    pairs = centroids.crossJoin(F.broadcast(queries)).withColumn(
        "c_cos", cosine_r9(F.col("centroid"), F.col("q_emb"))
    )
    return top_k_per_query(pairs, nprobe, F.col("c_cos").desc(), F.col("cell")).drop(
        "c_cos"
    )


def ivf_seeded_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-Flat top-k over the :func:`seeded_cells` quantizer, so
    assignment, probe selection and ranking are cross-engine reproducible.
    :func:`ivf_build`'s Lloyd's-trained quantizer is the production one
    (better-balanced cells); its recall is covered in tests/test_ivf.py.
    Same plan shape either way (:func:`ivf_topk`): broadcast centroids,
    argmin-assign (one map pass), probe = each query's ``nprobe`` nearest
    cells by centroid cosine, rank only vectors in probed cells.

    At 100 TB the assigned corpus is written partitioned by ``cell`` so the
    probe is a partition-pruned scan; here the cell filter is a broadcast
    equi-join with the probed-cell frame (nprobe rows per query).
    """
    assigned, cents = seeded_cells(df, id_col, emb_col, n_cells)
    return ivf_topk(assigned, cents, query_df, id_col, emb_col, k, nprobe)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the ``nprobe`` cells whose centroids are nearest each query (by
    cosine), then rank only vectors in those cells. Recall < 1 by design —
    the IVF trade; raise ``nprobe`` to trade scan cost for recall."""
    q = cosine_queries(query_df, id_col, emb_col)
    probed = probe_cells(centroids, q, nprobe).drop("centroid")
    return cosine_topk(assigned, probed, k, id_col, emb_col, ["cell"])
