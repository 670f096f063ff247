"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; the sign-bit-bucketed
variant is the ANN scale path (candidates from one bucket → the ranking scan
touches ~1/2^bits of the corpus). Dot products are computed JVM-side with
``zip_with`` + ``aggregate`` in double precision — the sequential fold is
bit-identical to the DuckDB oracle's ``list_cosine_similarity(::DOUBLE[])``
(verified empirically), so results hash-match without rounding.

Every top-k operator here and in :mod:`.ivf` and :mod:`.pq` runs the same
two steps. :func:`score_candidates` joins the corpus to the broadcast query
batch — keyed by bucket, by probed cell or by nothing — and scores each pair;
:func:`top_k_per_query` keeps each query's top k. A query frame of n rows
gets n top-k lists from one corpus pass. At 100 TB the corpus stays
partitioned and never shuffles: each map task cuts its candidates to k rows
per query before the one exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..errors import PlanError


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns (double math)."""
    return dot(a, b) / F.sqrt(dot(a, a)) / F.sqrt(dot(b, b))


def cosine_r9(a: Column, b: Column) -> Column:
    """Cosine rounded to 9 decimals — the cross-engine-stable form. DuckDB's
    ``list_cosine_similarity`` differs from the sequential fold by ≤1 ulp on
    some inputs; 9-decimal rounding absorbs that while keeping full ranking
    fidelity."""
    return F.round(cosine(a, b), 9)


def norm(emb: Column) -> Column:
    """Euclidean norm of a float-array column (double fold)."""
    return F.sqrt(dot(emb, emb))


def cosine_r9_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from pre-computed norms, rounded to 9 decimals.

    Same double math and operation order as :func:`cosine_r9`
    (``dot(a,b) / sqrt(dot(a,a)) / sqrt(dot(b,b))``) — bit-identical results —
    but the two self-dot folds are materialized once per row *before* the
    candidate join instead of re-folded per pair: for a candidate join with
    fan-out ``f`` this removes ``2·f - 2`` array folds per row (~3× less fold
    work at f≈1). The norm columns survive the join as ordinary columns."""
    return F.round(dot(a, b) / norm_a / norm_b, 9)


def score_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    score: Column,
    name: str,
    id_col: str = "vec_id",
    on: list[str] | None = None,
    aggregate: bool = False,
) -> DataFrame:
    """The candidate join of every top-k operator: join ``corpus`` to the
    broadcast query batch ``queries`` (``q_id`` and the columns ``score``
    reads), drop each query's pair with its own id, and score every pair as
    ``(q_id, id, name)``.

    The join keys on the ``on`` columns (a bucket, a probed cell, a PQ
    ``(cell, j, code)`` lookup) or, without ``on``, pairs every corpus row
    with every query in one broadcast nested-loop join. ``score`` is read per
    pair; with ``aggregate`` it is an aggregate over each ``(q_id, id)``
    group instead — the ADC sum of the per-subspace table lookups."""
    q = F.broadcast(queries)
    other = F.col(id_col) != F.col("q_id")
    pairs = corpus.join(q, on).filter(other) if on else corpus.join(q, other)
    if aggregate:
        return pairs.groupBy("q_id", id_col).agg(score.alias(name))
    return pairs.select("q_id", F.col(id_col), score.alias(name))


def top_k_per_query(scored: DataFrame, k: int, *order: Column) -> DataFrame:
    """The ranker of every top-k operator and IVF cell probe: keep the first
    ``k`` rows of each ``q_id`` in ``scored`` by ``order`` (which ends in a
    unique tiebreak), as ``row_number() <= k`` over ``partitionBy("q_id")``.

    Spark plans a partial WindowGroupLimit in each map task, so at most k
    rows per query per partition cross the one exchange; each query's rows
    come out together and in rank order. Spark only plans that limit for
    ``k`` up to ``spark.sql.optimizer.windowGroupLimitThreshold``; past it
    every scored candidate of a query would shuffle to one task, so a larger
    ``k`` raises :class:`PlanError`."""
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    threshold = int(scored.sparkSession.conf.get(key))
    if k > threshold:
        raise PlanError(
            f"top-k of {k} per query exceeds {key}={threshold}: Spark would "
            "not cut candidates before the shuffle"
        )
    rank = F.row_number().over(Window.partitionBy("q_id").orderBy(*order))
    return scored.withColumn("_rank", rank).filter(F.col("_rank") <= k).drop("_rank")


def cosine_queries(query_df: DataFrame, id_col: str, emb_col: str, *extra: Column) -> DataFrame:
    """The query batch of a cosine top-k: ``(q_id, q_emb, q_norm, *extra)``."""
    emb = F.col(emb_col)
    return query_df.select(
        F.col(id_col).alias("q_id"), emb.alias("q_emb"), norm(emb).alias("q_norm"), *extra
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    on: list[str] | None = None,
) -> DataFrame:
    """Each query's ``k`` nearest corpus rows by round-9 cosine (id
    tiebreak) among those sharing its ``on`` keys: ``(q_id, id, cos)``.
    ``queries`` comes from :func:`cosine_queries`."""
    corpus = corpus.withColumn("c_norm", norm(F.col(emb_col)))
    cos = cosine_r9_pre(F.col(emb_col), F.col("q_emb"), F.col("c_norm"), F.col("q_norm"))
    scored = score_candidates(corpus, queries, cos, "cos", id_col, on)
    return top_k_per_query(scored, k, F.col("cos").desc(), F.col(id_col))


def sign_bucket(emb: Column, bits: int = 4, offset: int = 0) -> Column:
    """Deterministic LSH bucket id from the sign bits of ``bits`` dimensions
    starting at ``offset``. A stand-in for random-hyperplane LSH that both
    engines can evaluate identically; production would hash projections onto
    stored random planes through the same column contract. ``offset`` lets
    multi-band callers derive independent bucket functions from disjoint
    dimension slices (band i → offset i·bits)."""
    out = F.lit(0)
    for d in range(bits):
        out = out + F.when(F.get(emb, offset + d) > 0, F.lit(1 << d)).otherwise(
            F.lit(0)
        )
    return out


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH, rounded to 6 decimals so
    the exact same literals can be embedded in oracle SQL."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in rng.randn(dim)] for _ in range(n_planes)]


def hyperplane_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit j = sign(emb · plane_j).

    The real SimHash-for-vectors construction — unlike :func:`sign_bucket`
    (which thresholds raw dimensions), buckets are balanced regardless of the
    data's per-dimension skew. Collision probability for two vectors at angle
    θ is (1 - θ/π)^n_planes.
    """
    out = F.lit(0)
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(p) for p in plane])
        out = out + F.when(dot(emb, plane_col) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def rp_ann_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over random-hyperplane buckets (the production LSH; the
    sign-bucket variant remains as the dependency-free teaching form)."""
    planes = random_hyperplanes(dim, n_planes, seed)
    bucket = hyperplane_bucket(F.col(emb_col), planes).alias("bucket")
    q = cosine_queries(query_df, id_col, emb_col, bucket)
    return cosine_topk(df.select("*", bucket), q, k, id_col, emb_col, ["bucket"])


def brute_force_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of every row of ``query_df`` against the corpus,
    in one corpus pass: the query batch broadcasts into a nested-loop join
    and each map task keeps k rows per query — the corpus never shuffles."""
    return cosine_topk(df, cosine_queries(query_df, id_col, emb_col), k, id_col, emb_col)


def sq_quantize(emb: Column, clip: float = 1.0) -> Column:
    """Deterministic symmetric int8 scalar quantization of a float vector:
    ``q_i = round(clamp(x_i, -clip, clip) * 127 / clip)`` ∈ [-127, 127].

    The 100 TB memory-bandwidth lever for similarity scans: 4× smaller
    vectors (int8 vs float32), integer dot products, exact-replicable by any
    engine (no RNG, no codebook training). Values are widened to double
    before rounding so Spark and the DuckDB oracle round the identical IEEE
    value (both use round-half-away-from-zero).
    """
    s = 127.0 / clip
    return F.transform(
        emb,
        lambda x: F.round(
            F.greatest(F.lit(-clip), F.least(F.lit(clip), x.cast("double"))) * s
        ).cast("int"),
    )


def sq_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    clip: float = 1.0,
) -> DataFrame:
    """Int8-quantized brute-force top-k: quantize corpus and query with
    :func:`sq_quantize`, rank by the INTEGER dot product of the codes.

    Same plan as :func:`brute_force_topk` (broadcast query batch, k rows
    per query per map task, zero corpus shuffle) but the hot loop is int
    multiply-adds over 4×-smaller data — the scan-speed path when the
    corpus doesn't fit in page cache. Scoring is exact integer arithmetic,
    so results are bit-reproducible across engines (unlike float dot
    products, which depend on summation order). Production retrieval
    re-scores this top-k with full-precision cosine; the quantized ranking
    is the candidate generator.
    """
    q = query_df.select(
        F.col(id_col).alias("q_id"),
        sq_quantize(F.col(emb_col), clip).alias("q_code"),
    )
    corpus = df.select(F.col(id_col), sq_quantize(F.col(emb_col), clip).alias("c_code"))
    qscore = F.aggregate(
        F.zip_with(F.col("c_code"), F.col("q_code"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = score_candidates(corpus, q, qscore, "qscore", id_col)
    return top_k_per_query(scored, k, F.col("qscore").desc(), F.col(id_col))


def ann_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
    bits: int = 4,
) -> DataFrame:
    """Bucketed ANN top-k: rank only corpus vectors in the query's sign
    bucket (~1/2^bits of the data scanned; recall < 1 by design — the classic
    LSH trade)."""
    bucket = sign_bucket(F.col(emb_col), bits).alias("bucket")
    q = cosine_queries(query_df, id_col, emb_col, bucket)
    return cosine_topk(df.select("*", bucket), q, k, id_col, emb_col, ["bucket"])


def brute_force_topk_np(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Vectorized brute-force top-k: Arrow batches → numpy/BLAS matmul.

    The expression-fold form (:func:`brute_force_topk`) evaluates one
    interpreted fold per pair — fine to ~10^4 vectors. This variant scores
    each partition's batch as a single ``matrix @ query`` product inside
    ``mapInPandas`` (one Python worker pass), then ranks with the shared
    :func:`top_k_per_query`. This is the 100 TB brute-force shape:
    compute-bound BLAS, linear scan, broadcast query.

    It scores ONE query: a ``query_df`` with more than one row (or none)
    raises :class:`PlanError`; :func:`brute_force_topk` is the batched form.

    Results are rounded to 9 decimals like every cosine here — BLAS pairwise
    summation agrees with the sequential fold well past that precision.
    """
    import numpy as np
    import pandas as pd

    rows = query_df.select(F.col(id_col), F.col(emb_col)).head(2)
    if len(rows) != 1:
        raise PlanError(
            "brute_force_topk_np scores exactly one query row, got "
            f"{'none' if not rows else 'more than one'}; brute_force_topk "
            "ranks a batch"
        )
    q_id = rows[0][0]
    q_vec = np.asarray(rows[0][1], dtype=np.float64)
    q_unit = q_vec / np.linalg.norm(q_vec)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((q_id, q_unit))

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"q_id {id_type}, {id_col} {id_type}, cos double"

    def score(batches):
        qid, qu = bc.value
        for pdf in batches:
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[emb_col]])
            norms = np.linalg.norm(mat, axis=1)
            cos = (mat @ qu) / np.where(norms == 0, 1.0, norms)
            out = pd.DataFrame(
                {"q_id": qid, id_col: pdf[id_col], "cos": np.round(cos, 9)}
            )
            yield out[out[id_col] != qid]

    scored = df.select(id_col, emb_col).mapInPandas(score, out_schema)
    return top_k_per_query(scored, k, F.col("cos").desc(), F.col(id_col))


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    bits: int | None = None,
    exact: bool = False,
    bands: int = 1,
    target_bucket_size: int = 256,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    Default (``bits>0``): sign-bucket LSH — pairs must share a bucket
    (equi-join), the 100 TB path; shuffle is linear in rows, candidate count
    ∝ Σ bucket², never all-pairs. A PINNED ``bits`` makes that Σ bucket²
    quadratic in the corpus (2^bits buckets each growing ∝ n — the r12 sf1
    sweep measured 15× wall at 10× data for bits=4); ``bits=None`` derives
    ``bits = ceil(log2(n / target_bucket_size))`` (clamped to [1, 24]) so
    expected bucket population — and with it expected pair work per row —
    stays constant as the corpus grows.

    Finer buckets trade recall for cost (near-neighbors straddling a sign
    boundary land in different buckets). ``bands > 1`` buys the recall back
    the standard LSH way: band i buckets on the DISJOINT dimension slice
    ``[i·bits, (i+1)·bits)``, candidates are the union over bands (a pair
    collides if it agrees on ANY band), deduplicated, then verified against
    the exact cosine once. Requires ``bands·bits ≤ dim``.

    ``exact=True``: all-pairs O(n²) theta-join — verification/toy scale
    ONLY (this is the plan shape the repo bans at scale, so it is opt-in;
    ``bits``/``bands`` are ignored). Raises if ``exact=False`` and
    ``bits < 1`` so no caller can reach the cartesian form by accident.

    Laziness caveat: the ``bits=None`` default triggers ONE eager
    ``df.count()`` action at plan-build time (the derivation needs n); pass
    explicit ``bits`` to keep the call fully lazy.

    Returns (id_a, id_b, cos), id_a < id_b.
    """
    if not exact and bits is not None and bits < 1:
        raise PlanError(
            "bits must be >= 1 for the LSH path; pass exact=True to opt in "
            "to the all-pairs O(n^2) join (toy scale / verification only)"
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("ea"),
        norm(F.col(emb_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("eb"),
        norm(F.col(emb_col)).alias("nb"),
    )
    if exact:
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
        return (
            joined.withColumn(
                "cos",
                cosine_r9_pre(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")),
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )

    if bits is None:
        import math

        n = df.count()
        bits = max(1, min(24, math.ceil(math.log2(max(2.0, n / target_bucket_size)))))
    if bands < 1:
        raise PlanError(f"bands must be >= 1, got {bands}")
    if bands > 1:
        dim_row = df.select(F.size(emb_col).alias("d")).first()
        if dim_row is None:  # empty input: no pairs, and no dim to validate
            from pyspark.sql.types import DoubleType, StructField, StructType

            id_type = df.schema[id_col].dataType
            return df.sparkSession.createDataFrame(
                [],
                StructType(
                    [
                        StructField("id_a", id_type),
                        StructField("id_b", id_type),
                        StructField("cos", DoubleType()),
                    ]
                ),
            )
        dim = dim_row["d"]
        if bands * bits > dim:
            raise PlanError(
                f"bands*bits = {bands * bits} exceeds embedding dim {dim}; "
                "disjoint-slice banding needs bands*bits <= dim"
            )
        # per-band grouped vectorized verify (the same within_group_pairs_np
        # kernel as the single-band default), then pair-level dedup. The
        # r15 1M-probe smoke caught the old shape — candidate pair list
        # joined back to BOTH embeddings and verified with the interpreted
        # cosine_r9_pre fold — at 11× the single-band wall (21.1s vs 1.9s
        # at n=20k d=768): O(candidates·d) shuffle plus ~µs-per-pair
        # interpreted folds. Verifying inside each band's buckets keeps
        # transfer at O(bands·n·d) and the fold vectorized; a pair
        # colliding on several bands pays the (cheap, bit-deterministic)
        # kernel ≤ bands times and dedups exactly on ids afterwards.
        slim = df.select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("e"),
            norm(F.col(emb_col)).alias("nrm"),
        )
        pairs: DataFrame | None = None
        for band in range(bands):
            side_b = slim.select(
                "vec_id", "e", "nrm",
                sign_bucket(F.col("e"), bits, band * bits).alias("bucket"),
            )
            p = within_group_pairs_np(
                side_b, group_col="bucket", threshold=threshold
            )
            pairs = p if pairs is None else pairs.unionByName(p)
        return (
            pairs.dropDuplicates(["id_a", "id_b"])
            .withColumn("cos", F.round(F.col("cos_raw"), 9))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
    # single-band default: grouped vectorized verify per bucket — the same
    # bucket-equi semantics as the a⋈b self-join it replaces, bit-identical
    # cosines (within_group_pairs_np parity contract; r13 A/B 4.2× on the
    # semdedup shape), with O(n·d) transfer instead of O(pairs·d)
    side = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("e"),
        norm(F.col(emb_col)).alias("nrm"),
        sign_bucket(F.col(emb_col), bits).alias("bucket"),
    )
    return (
        within_group_pairs_np(side, group_col="bucket", threshold=threshold)
        .withColumn("cos", F.round(F.col("cos_raw"), 9))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label embedding centroid — the class-prototype aggregation used
    for centroid classifiers, cluster init, and per-source drift monitoring.

    Returns one row per (label, dim position) with the EXACT integer sum of
    ``round(x·scale)`` quantized components, the member count, and the
    centroid component as their ratio in double. Quantize-then-sum makes the
    reduction integer-exact: a naive double sum's value depends on partition
    merge order (the one thing this suite's determinism contract forbids),
    while BIGINT sums are associative — bit-identical across engines,
    partitionings, and cluster sizes, at 1e-6 quantization granularity
    (float32 inputs carry ~1e-7 relative precision, so nothing real is lost).

    Scale shape: posexplode (rows × dim) feeds a map-side-combinable
    groupBy(label, pos) — the shuffle carries only |labels|·dim partial sums
    per partition, not the exploded rows.
    """
    q = F.round(F.col("x").cast("double") * F.lit(float(scale))).cast("long")
    return (
        df.select(F.col(label_col).alias("label"), F.posexplode(emb_col).alias("pos", "x"))
        .select("label", "pos", q.alias("qx"))
        .groupBy("label", "pos")
        .agg(F.sum("qx").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "centroid",
            F.col("sum_q").cast("double") / F.col("n").cast("double") / F.lit(float(scale)),
        )
    )


def gram_matrix(
    df: DataFrame,
    emb_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Distributed Gram matrix Qᵀ·Q over quantized embeddings — the one-pass
    building block of PCA / whitening / linear probing at corpus scale
    (covariance = Gram of centered vectors; the d×d result is all an SVD
    needs, so a 100 TB embedding table reduces to d(d+1)/2 scalars).

    Per Arrow batch, a vectorized numpy ``int64`` matmul produces a PARTIAL
    d×d Gram of ``round(x·scale)`` quantized components; only the
    upper-triangle entries (i ≤ j) ship into a map-side-combinable
    groupBy(i, j) sum. The shuffle therefore carries
    #batches · d(d+1)/2 partial rows — independent of the corpus row count —
    and integer partial sums are associative, so the result is bit-identical
    across engines and partitionings (a double-sum Gram is merge-order
    dependent).

    ``scale`` bounds exactness end-to-end: |q| ≤ scale for unit-normalized
    inputs, so each product ≤ scale² and 10⁹ rows sum below scale²·10⁹ =
    10¹⁵ < 2⁵³ — the DOUBLE handoff at the end stays exact even at
    full-corpus cardinality (1e-3 quantization granularity is ample for a
    spectrum estimate; raise scale only with a row-count budget in hand).

    Output: (i, j, dot_q) for i ≤ j, ``dot_q`` the exact quantized dot
    product as double.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    partial_schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("j", IntegerType(), False),
            StructField("part_q", LongType(), False),
        ]
    )

    def partial_gram(batches):
        from ..operators.kmeans import _exact_dot_int

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            Q = np.rint(X * scale).astype(np.int64)
            # Qᵀ·Q via the proven-exact BLAS path when batch_rows·scale²
            # < 2^53 (every partial sum an exactly-representable integer —
            # see kmeans._exact_dot_int; int64 matmul has no BLAS kernel)
            G = _exact_dot_int(Q.T, Q.T)
            iu, ju = np.triu_indices(G.shape[0])
            yield pd.DataFrame({"i": iu, "j": ju, "part_q": G[iu, ju]})

    return (
        df.select(emb_col)
        .mapInPandas(partial_gram, partial_schema)
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("part_q").cast("decimal(38,0)")).cast("double").alias("dot_q")
        )
    )


def within_group_pairs_np(
    side: DataFrame,
    group_col: str = "cid",
    id_col: str = "vec_id",
    emb_col: str = "e",
    norm_col: str = "nrm",
    threshold: float = 0.8,
    row_block: int = 2048,
) -> DataFrame:
    """Within-group near-pair candidates ``(id_a, id_b, cos_raw)`` with
    ``id_a < id_b`` and ``cos_raw ≥ threshold − 1e-9`` — the vectorized form
    of the bucket/cluster self-join + cosine-fold verify that dominates
    embedding-dedup cost.

    Why not the expression fold: the equi-self-join ships BOTH embeddings
    across the exchange PER PAIR (O(pairs·d) shuffle bytes) and
    ``F.aggregate``'s lambda fold runs interpreted per pair (the r13 A/B
    measured a 64-dim fold at ~6µs/pair). This operator groups by
    ``group_col`` instead (``applyInPandas``, one group per task — transfer
    is O(n·d), each vector ships once) and accumulates all pairwise dots as
    ``d`` sequential vectorized outer products.

    BIT PARITY with the expression path (pytest-pinned, and the reason this
    is safe under the oracle): the accumulation order per pair is exactly
    ``((0 + a₀·b₀) + a₁·b₁) + …`` in double — numpy elementwise multiply
    and add are separate IEEE ops (no FMA fusion), float32→double casts are
    exact, and the two norm divisions apply in the same (a-then-b) order.
    The 9-decimal HALF_UP round is NOT applied here — callers round in
    Spark (``F.round(cos_raw, 9)``) so the JVM's BigDecimal semantics stay
    authoritative; the ``−1e-9`` emission margin is a superset of every
    pair whose rounded cosine can clear ``threshold`` (rounding moves a
    value by ≤ 5e-10).

    Scale shape: one shuffle on the group key; per-task memory is bounded by
    the per-block accumulator ``row_block_eff·|group|`` doubles, where
    ``row_block_eff = min(row_block, budget // |group|)`` — the block height
    SHRINKS as the group grows (pinned-bits callers can produce groups ∝ n,
    and a fixed block height would make the accumulator O(row_block·n), a
    memory shape the streamed self-join this replaces did not have; r14
    advice). Survivors-only output.

    Zero-norm / duplicate-id parity with the join+fold path it replaced
    (r14 advice, both pinned by pytest):

    - a zero-norm embedding makes the cosine undefined. The replaced
      expression path under Spark 4 ANSI raises ``DIVIDE_BY_ZERO``; a numpy
      division would instead produce NaN, which the pandas→Arrow transit
      coerces to NULL — i.e. the pair would be dropped SILENTLY, the one
      outcome that is parity with neither engine. The kernel therefore
      validates norms up front and raises a named ``PlanError`` (exact
      parity with the expression path it replaced; callers with zero-norm
      rows must filter or epsilon-floor them explicitly). The candidate
      test is still ``~(cos < margin)`` so a residual non-finite SURVIVES
      selection — and is then finite-checked and raised as a named error
      before emission, because a NaN that left the kernel would be coerced
      to NULL by the pandas→Arrow transit and dropped downstream by the
      caller's ``round(cos) >= threshold`` filter (r15 advice: the norm
      guard alone only covers NaN reachable through zero/NaN norms; an Inf
      component passes it and yields Inf/Inf = NaN here).
    - the ``id_a < id_b`` guard compares VALUES, not positions: with
      duplicate ids the positions are distinct but the join path's
      ``a.id < b.id`` excludes the pair, so a positional test would emit a
      spurious self-pair.
    """
    import numpy as np
    import pandas as pd

    id_type = side.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_raw double"
    margin = threshold - 1e-9
    # per-task accumulator budget: 2^24 doubles = 128 MiB — far under the
    # executor-memory-per-core envelope, and still thousands of rows per
    # block for any group the bucketed callers produce
    acc_budget = 1 << 24

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []})
        X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
        nrm = pdf[norm_col].to_numpy().astype(np.float64)
        if not (nrm > 0).all():  # NaN norms also fail this test
            from ..errors import PlanError

            bad = pdf[id_col].to_numpy()[~(nrm > 0)][:5]
            raise PlanError(
                f"within_group_pairs_np: non-positive/NaN norm for ids "
                f"{list(bad)} — cosine undefined (the expression path this "
                f"replaces raises DIVIDE_BY_ZERO under ANSI); filter or "
                f"epsilon-floor zero-norm embeddings upstream"
            )
        ids = pdf[id_col].to_numpy()
        d = X.shape[1]
        block = min(row_block, max(16, acc_budget // m))  # floor keeps progress
        out_a, out_b, out_c = [], [], []
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            # rows lo:hi vs ALL columns; keep only id_a < id_b afterwards
            acc = np.zeros((hi - lo, m), dtype=np.float64)
            for j in range(d):  # sequential per-dim fold == F.aggregate order
                acc += np.outer(X[lo:hi, j], X[:, j])
            cos = (acc / nrm[lo:hi, None]) / nrm[None, :]
            ii, kk = np.nonzero(~(cos < margin))  # NaN survives (see doc)
            keep = ids[ii + lo] < ids[kk]  # VALUE guard: dup ids never pair
            ii, kk = ii[keep], kk[keep]
            vals = cos[ii, kk]
            if not np.isfinite(vals).all():
                from ..errors import PlanError

                bad_a = ids[ii + lo][~np.isfinite(vals)][:5]
                raise PlanError(
                    f"within_group_pairs_np: non-finite cosine for id_a in "
                    f"{list(bad_a)} — an Inf embedding component survived "
                    f"the norm guard; emitting it would become NULL in the "
                    f"pandas→Arrow transit and silently drop downstream"
                )
            out_a.append(ids[ii + lo])
            out_b.append(ids[kk])
            out_c.append(vals)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "cos_raw": np.concatenate(out_c) if out_c else [],
            }
        )

    return side.select(group_col, id_col, emb_col, norm_col).groupBy(
        group_col
    ).applyInPandas(_pairs, out_schema)


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int | None = None,
    iterations: int = 2,
    threshold: float = 0.8,
    scale: int = 6,
    target_cluster_size: int = 256,
    two_level: bool | None = None,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): k-means
    cluster the corpus embeddings, then search for near-duplicates only
    WITHIN each cluster and drop every point that has a lower-id cluster-mate
    with cosine ≥ ``threshold``.

    This is the scalable middle ground between exact dedup (misses
    paraphrases) and global all-pairs cosine (O(n²)): clustering first makes
    the candidate join an EQUI-join on cluster id, so the pair space is
    Σ|cluster|² instead of n² — BUT only if k grows with the corpus. With
    ``k=None`` (the default) k is derived as ``ceil(n / target_cluster_size)``
    so expected pair work stays LINEAR (n · target_cluster_size / 2); a
    pinned k makes the within-cluster join quadratic again, which is exactly
    what the r12 sf1 sweep measured (k=8 at 10× data → 11.5× wall). The
    paper's own posture is the same (k≈110k for 5B embeddings,
    arXiv:2303.09540 §3). Assignment switches form with k
    (:func:`~sparkfusion.operators.kmeans.assign_quantized`): a literal
    map-only expression up to k=128, an exact Arrow-batched numpy argmin
    above (the r12 200k-point probe measured the k=782 literal plan at
    ~390s where the batch path is seconds); the 4096 cap bounds the
    task-closure centroid table. Same bucket-then-join posture as the
    MinHash/LSH families.

    ``two_level`` lifts the flat path's k ≤ 4096 cap by composing the
    existing IVF coarse/fine machinery: a coarse quantized Lloyd's over
    k1 = ⌈√k⌉ cells, then per-cell sub-clustering via
    :func:`~sparkfusion.operators.kmeans.sub_cluster_cells` (one cell = one
    ``applyInPandas`` group, zero driver-side centroid state) with the
    sub-cluster count derived PER CELL as ⌈|cell|/target⌉ — coarse cells
    are skewed, and a fixed per-cell count would make pair work quadratic
    in that skew (r13 probe) — ``cid = cell·2³¹ + sub``. Effective cluster
    ceiling becomes ~4096·|cell|, far past any corpus where k = n/256
    matters. When the derived k is small (≤ the literal-argmin threshold)
    the flat path is already map-only-cheap and ``two_level`` falls back to
    it, so the two modes are output-identical at small n (pinned by
    pytest).

    ``two_level=None`` (the DEFAULT) auto-escalates: the flat path below the
    k ≤ 4096 cap (identical output to an explicit ``two_level=False``,
    pinned by pytest), the hierarchical path at derived k > 4096 — the r13
    500k probe measured flat-at-cap going superlinear (76.0s) where
    two_level stays linear (41.9s), so the library default must take the
    linear path rather than warn+clamp (r13 verdict #1; the warn is
    retired). An EXPLICIT ``two_level=False`` past the cap raises
    ``PlanError``: a clamped k grows per-cluster size ∝ n — the quadratic
    regime the scale-with-corpus rule (CLAUDE.md) forbids a default OR an
    explicit silent path to enter. Callers who genuinely want flat pass an
    explicit ``k ≤ 4096``.

    With ``k=None`` the derivation triggers ONE eager count action (on the
    already-checkpointed quantized frame, so the source is not re-read).

    Determinism: clustering is :func:`sparkfusion.operators.kmeans`'s
    quantized-integer Lloyd's (bit-reproducible trajectory, SQL-replayable;
    the per-cell fine level keeps the same integer contract, and cells are
    processed whole so the trajectory is partitioning-invariant), cosines
    are the round-9 double fold, keeper choice is min-id within the
    ≥-threshold neighbor relation — all engine- and partitioning-invariant.

    Returns one row per input: ``(vec_id, cid, keep)``.
    """
    from ..operators.kmeans import (
        _FLAT_ARGMIN_MAX_K,
        _LITERAL_ARGMIN_MAX_K,
        assign_quantized,
        lloyd_centroids,
        quantize_points,
        sub_cluster_cells,
    )

    # spread (scale no-op) only when the flat literal-argmin path is certain
    # up front — the interpreted k·d expression is what serializes on a
    # one-partition scan; the numpy batch path measured SLOWER spread
    # (see quantize_points). A derived k lands on the numpy path at any
    # corpus past 16·target_cluster_size rows, so k=None stays unspread.
    pts = quantize_points(
        df, id_col, emb_col, scale,
        spread=k is not None and k <= _LITERAL_ARGMIN_MAX_K,
    )
    n = None
    if k is None:
        n = pts.count()  # materializes the checkpoint every path below reads
        k = max(2, -(-n // target_cluster_size))
    if two_level is None:
        two_level = k > _FLAT_ARGMIN_MAX_K  # auto-escalate past the flat cap
    if two_level and k > _LITERAL_ARGMIN_MAX_K:
        import math

        if n is None:
            n = pts.count()
        k1 = min(_FLAT_ARGMIN_MAX_K, math.ceil(math.sqrt(k)))
        # fine level derives its count PER CELL from the cell's own size
        # (coarse cells are skewed; a fixed k2 would make per-cell pair
        # work |cell|^2/k2 — the r13 probe measured sum(|c|^2) at 2.5x the
        # flat path's before this). tcs_eff reproduces the requested total
        # cluster count for explicit k too.
        tcs_eff = max(1, -(-n // k))
        # force_numpy: no SQL-replay constraint here (two_level only engages
        # past the suite's pinned-k range) and the batch argmin is identical
        # by the pinned path-invariance — skips ~3s/pass of interpreted
        # literal expression at probe scale
        coarse_cents = lloyd_centroids(pts, k1, iterations, force_numpy=True)
        coarse = assign_quantized(pts, coarse_cents, force_numpy=True).select(
            "vec_id", "xq", F.col("cid").alias("cell")
        )
        asg = sub_cluster_cells(
            coarse, iterations=iterations, target_size=tcs_eff
        ).select(
            "vec_id",
            ((F.col("cell").cast("long") * (1 << 31)) + F.col("sub")).alias("cid"),
        )
    else:
        if k > _FLAT_ARGMIN_MAX_K:
            from ..errors import PlanError

            raise PlanError(
                f"semdedup: derived k={k} exceeds the flat-path cap "
                f"{_FLAT_ARGMIN_MAX_K} and two_level=False was passed "
                f"explicitly — a clamped k makes per-cluster size grow with "
                f"the corpus (quadratic pair work). Drop two_level (the "
                f"default auto-escalates to the hierarchical path) or pass "
                f"an explicit k ≤ {_FLAT_ARGMIN_MAX_K}."
            )
        cents = lloyd_centroids(pts, k, iterations)
        asg = assign_quantized(pts, cents).select("vec_id", "cid")

    emb = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("e"),
        norm(F.col(emb_col)).alias("nrm"),
    )
    # materialize (assignment ⋈ embedding+norm) ONCE: the grouped pair pass
    # and the final verdict rows both read it, so the argmin and the norm
    # fold run one time per row, not two (localCheckpoint, not cache —
    # the CacheManager-leak rule; eager=False, the pair pass materializes it).
    # hint("merge"): asg is O(n) rows but the two-level path emits it from
    # applyInPandas, whose narrow output makes Catalyst's size estimate
    # tiny — without the hint the planner BROADCASTS a corpus-scaling
    # frame (the r15 500k×d=768 probe died on exactly that: "Not enough
    # memory to build and broadcast"). Both sides are O(n): sort-merge is
    # the only scale-correct strategy.
    side = asg.hint("merge").join(emb, "vec_id").localCheckpoint(eager=False)
    # within-cluster pairs via the grouped vectorized verify — bit-identical
    # to the cid-self-join + expression fold it replaces (r13 A/B: 4.2×,
    # exact pair-set and cosine parity; see within_group_pairs_np). The
    # 9-decimal round stays in Spark so the JVM HALF_UP is authoritative.
    dups = (
        within_group_pairs_np(side, threshold=threshold)
        .withColumn("cos", F.round(F.col("cos_raw"), 9))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    # final verdict rows come from the MATERIALIZED side, not asg: joining
    # asg directly would re-run the k·d-literal argmin over every point a
    # third time (side's inner join on vec_id keeps exactly asg's rows, so
    # the result is identical) — r10 A/B of the semdedup1 cost.
    # hint("merge") on dups: it is O(duplicates) ≤ O(n) and flows out of
    # applyInPandas with the same too-small size estimate as asg above —
    # never broadcast a corpus-scaling frame.
    return side.select("vec_id", "cid").join(
        dups.hint("merge"), "vec_id", "left"
    ).select("vec_id", "cid", F.col("dup").isNull().alias("keep"))


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "id",
    k0: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers (Cormack et al., SIGIR 2009) —
    the standard hybrid-retrieval combiner: keyword relevance (BM25) and
    embedding similarity produce incomparable scores, but
    ``Σ 1/(k0 + rank)`` over their RANKS is scale-free, robust, and needs no
    score normalization. ``a``/``b`` carry ``(id_col, rank_a)`` /
    ``(id_col, rank_b)`` (1-based BIGINT ranks, typically pre-cut to the
    top-N candidates each); an id missing from one ranker simply contributes
    nothing from that side (full outer join + coalesce-to-0).

    Determinism: ranks are exact integers; the score is two IEEE double
    terms added in pinned order and rounded to 9 dp; ties break on id — so
    the fused top-k SET is cross-engine reproducible. Scale: both inputs are
    top-N candidate frames, never the corpus, so the fusion join is trivially
    broadcast-sized."""
    fused = a.join(b, id_col, "full_outer")
    one = F.lit(1).cast("double")
    score = F.round(
        F.coalesce(one / (F.lit(k0) + F.col("rank_a")), F.lit(0.0))
        + F.coalesce(one / (F.lit(k0) + F.col("rank_b")), F.lit(0.0)),
        9,
    )
    return (
        fused.select(id_col, "rank_a", "rank_b", score.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )
