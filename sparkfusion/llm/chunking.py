"""Document chunking and deterministic dataset splitting — the two
pipeline steps between a cleaned corpus and a training/RAG run.

Both are pure column expressions (JVM-side, whole-stage codegen); neither
touches Python rows.

Scale posture (100 TB): chunking is map-only but row-exploding — callers
repartition by doc id BEFORE the explode (CLAUDE.md posture) so the 2-10×
row growth spreads instead of fattening whatever partitioning the scan
produced. Splitting is map-only and shuffle-free: membership is a pure
function of the key, so the same doc lands in the same split on any
cluster, any partitioning, any engine — unlike ``randomSplit``, whose
assignment is partition-layout-dependent and unrepeatable across runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..errors import PlanError


def chunk_sliding(
    df: DataFrame,
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window character chunks: starts 0, stride, 2·stride … < len;
    each chunk is ``substring(text, start+1, size)`` (the RAG/embedding
    chunking primitive; overlap = size - stride keeps boundary context).

    Emits all original columns plus ``chunk_start`` (the offset — stable
    chunk id independent of explode order) and ``chunk_text``. Empty text
    yields one empty chunk (start 0), so no document silently disappears.
    """
    if size <= 0 or stride <= 0:
        raise PlanError("chunk_sliding: size and stride must be positive")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(F.col(text_col)) - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        df.withColumn("chunk_start", F.explode(starts))
        .withColumn(
            "chunk_text",
            F.col(text_col).substr(F.col("chunk_start") + 1, F.lit(size)),
        )
        .drop(text_col)
    )


def assign_split(
    key: Column,
    fractions: Sequence[tuple[str, int]] = (("train", 80), ("val", 10), ("test", 10)),
) -> Column:
    """Deterministic split label from a key column: md5(key) → 32-bit int →
    bucket in [0, 100) → first label whose cumulative fraction covers it.

    ``fractions`` are integer percents summing to 100. Oracle-replicable in
    DuckDB as ``('0x' || substr(md5(k),1,8))::BIGINT % 100`` (same formula
    as :func:`sparkfusion.llm.dedup.base_hash32`).
    """
    total = sum(p for _, p in fractions)
    if total != 100:
        raise PlanError(f"assign_split: fractions must sum to 100, got {total}")
    bucket = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100
    )
    cum = 0
    expr = None
    for label, pct in fractions[:-1]:
        cum += pct
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last_label = fractions[-1][0]
    return (expr.otherwise(F.lit(last_label)) if expr is not None else F.lit(last_label)).alias(
        "split"
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-Res): each row draws a pseudo-uniform u from md5(id) and is
    ranked by u^(1/w) — equivalently ln(u)/w, descending; the top-k win.
    Inclusion probability is proportional to weight, yet the draw is a pure
    key function: identical across runs, engines, partitionings, and cluster
    sizes (unlike ``df.sample``, whose output depends on partition layout).

    Scale: the ranking key is computed map-side in whole-stage codegen; the
    top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a global sort.
    """
    # md5 first 8 hex chars → integer in [0, 2^32) → u in (0, 1]
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col)
    return (
        df.withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col))
        .limit(k)
        .drop("__wkey")
    )


def negative_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    n_buckets: int | None = None,
    pool_factor: int = 8,
) -> DataFrame:
    """Deterministic pseudo-random negative-pair mining for contrastive
    training: each anchor document gets ``k`` negatives drawn uniformly-ish
    from the corpus, as a pure function of the ids — reproducible across
    runs, engines, and partitionings (the property ``df.sample``-based
    negative mining lacks).

    Shape: ids hash into ``n_buckets`` md5 buckets; anchors in bucket ``b``
    take candidates from bucket ``(b+1) % n_buckets`` (an EQUI-join — never a
    cross join), then keep the ``k`` candidates with the smallest
    ``md5(anchor·candidate)`` per anchor (row_number window, anchor
    partition). Candidate pools are disjoint from the anchor's own bucket, so
    a pair can never be a self-pair. A PINNED ``n_buckets`` makes the
    bucket join quadratic in the corpus (each of the fixed buckets grows
    ∝ n — the r12 sf1 sweep measured n_buckets=32 at 11s solo for 50k
    docs); the default ``n_buckets=None`` derives
    ``n_buckets = max(2, n // (pool_factor · k))`` so each anchor sees an
    expected ``pool_factor · k`` candidates regardless of corpus size —
    O(n·k·pool_factor) total work, linear. ``pool_factor=8`` keeps the
    probability of an anchor drawing fewer than ``k`` negatives
    (hash-variance bucket shortfall) negligible; the join shuffles on the
    bucket key and the window on the anchor id.

    Laziness caveat: the ``n_buckets=None`` default triggers ONE eager
    ``df.count()`` action at plan-build time (the derivation needs n); pass
    an explicit ``n_buckets`` to keep the call fully lazy.
    """
    if k < 1:
        raise PlanError(f"negative_pairs: k must be >= 1, got {k}")
    if n_buckets is None:
        if pool_factor < 1:
            raise PlanError(
                f"negative_pairs: pool_factor must be >= 1, got {pool_factor}"
            )
        n_buckets = max(2, df.count() // (pool_factor * k))
    if n_buckets < 2:
        raise PlanError(f"negative_pairs: n_buckets must be >= 2, got {n_buckets}")
    from pyspark.sql import Window

    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % n_buckets
    )
    anchors = df.select(F.col(id_col).alias("anchor_id"), bucket.alias("b"))
    cands = df.select(
        F.col(id_col).alias("neg_id"),
        ((bucket + F.lit(n_buckets) - 1) % n_buckets).alias("b"),
    )
    # EXPLICIT equal partition counts on both sides of the bucket join
    # (guide §2.5): the in-bucket candidate work (one md5 per
    # anchor×candidate pair) is CPU-dense while the exchanges are tiny —
    # AQE's byte-based coalescer ran the join 10-wide at sf1 and ONE-wide
    # at sf0.1 (the window's rank-limit pushdown keeps the join OUTPUT
    # small, so shuffle bytes never reflect the work). Width derives from
    # the input scan, never a constant. A pinned n_buckets close to the
    # width still leaves a hash-collision straggler (≈3 buckets on the
    # busiest partition) — the r14 salt experiment that splits it
    # replicated the candidate build side and measured net SLOWER
    # (sf0.1 0.80→1.36s), so plain widening stays.
    from ..operators.partitioning import copartition_for_compute

    anchors, cands = copartition_for_compute(anchors, cands, "b")
    w = Window.partitionBy("anchor_id").orderBy("pair_h", "neg_id")
    return (
        anchors.join(cands, "b")
        .withColumn(
            "pair_h",
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("anchor_id").cast("string"),
                    F.col("neg_id").cast("string"),
                )
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("anchor_id", "neg_id", "rk")
    )


def fim_splits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 30,
) -> DataFrame:
    """Fill-in-the-middle (FIM) training splits: each document is cut into
    (prefix, middle, suffix) at two deterministic md5-derived points — the
    span-corruption transform FIM/infilling pretraining applies to a slice
    of the corpus (Bavarian et al.-style), as a pure key function so the
    same document always yields the same split across runs and engines.

    Cut points: c1 in [1, L/2], c2 in (c1, L) via two md5 draws scaled by
    integer arithmetic — SQL-expressible (the suite oracle mirrors the
    formula). Documents shorter than ``min_len`` pass through whole as
    prefix-only rows (middle and suffix empty). Map-only pass, no shuffle.
    """
    L = F.length(F.col(text_col))
    h1 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    h2 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 9, 8), 16, 10).cast(
        "long"
    )
    # c1 in [1, L/2]; c2 in [c1+1, L-1] (both 1-based substring bounds).
    # greatest(…, 1) keeps the modulo legal for short (ineligible) docs —
    # the WHEN below never uses those values, but ANSI mode evaluates the
    # expression for every row and x % 0 would error
    c1 = (h1 % F.greatest((L.cast("long") / F.lit(2)).cast("long"), F.lit(1)) + 1).cast(
        "int"
    )
    c2 = c1 + (h2 % F.greatest(L.cast("long") - c1 - 1, F.lit(1))).cast("int") + 1
    eligible = L >= min_len
    base = df.withColumn("__c1", c1).withColumn("__c2", c2)
    return base.select(
        F.col(id_col),
        F.when(eligible, F.expr(f"substring({text_col}, 1, __c1)"))
        .otherwise(F.col(text_col))
        .alias("prefix"),
        F.when(eligible, F.expr(f"substring({text_col}, __c1 + 1, __c2 - __c1)"))
        .otherwise(F.lit(""))
        .alias("middle"),
        F.when(eligible, F.expr(f"substring({text_col}, __c2 + 1)"))
        .otherwise(F.lit(""))
        .alias("suffix"),
        eligible.alias("is_fim"),
    )


def rebalance_by_lang(
    df: DataFrame,
    targets: Sequence[tuple[str, int]],
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Deterministic corpus MIXTURE rebalancing: derive each language's
    keep-rate from its target share vs its ACTUAL share in ``df``
    (rate_ppm = target_ppm · N / n_lang, capped at 1e6) and keep the rows
    whose md5(id) threshold falls under it. All-integer rates, pure-key
    membership — identical across runs, engines and partitionings. Languages
    absent from ``targets`` are dropped (their target share is 0).

    Returns ``df``'s rows (all columns) plus ``rate_ppm``. Two aggregation
    passes over ``df`` + a broadcast rates frame; the selection itself is
    map-only. DuckDB-mirror: same CTE chain with
    ``('0x' || substr(md5(id), 1, 8))::BIGINT % 1000000 < rate_ppm``.
    """
    from ..operators.localrel import inline_rows

    spark = df.sparkSession
    # pure-JVM VALUES relation: createDataFrame's pickled-row RDD spun a
    # Python worker per core to scan a handful of static rows (r14, the km1
    # r13 lesson applied suite-wide — see operators/localrel.py)
    target = inline_rows(spark, list(targets), f"{lang_col} string, target_ppm long")
    actual = df.groupBy(lang_col).agg(F.count(F.lit(1)).alias("__n_l"))
    total = actual.agg(F.sum("__n_l").alias("__n"))
    rates = (
        actual.join(F.broadcast(target), lang_col)
        .crossJoin(F.broadcast(total))
        .select(
            lang_col,
            F.least(
                F.lit(1000000).cast("long"),
                F.expr("(target_ppm * __n) div __n_l"),
            ).alias("rate_ppm"),
        )
    )
    hash_ppm = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 1000000
    )
    return df.join(F.broadcast(rates), lang_col).filter(hash_ppm < F.col("rate_ppm"))


def temperature_rebalance(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Sqrt-TEMPERATURE mixture sampling (τ = 0.5): each language's target
    share is derived from its actual share as p_l ∝ √share_l — the standard
    multilingual up/down-sampling move (XLM-R uses p ∝ share^τ) that lifts
    low-resource languages without hand-written targets (contrast
    :func:`rebalance_by_lang`, which takes an explicit target table).

    Determinism across engines: √ is an IEEE-754 core operation (correctly
    rounded everywhere — unlike pow(), which is libm and may differ by an
    ulp; that is why τ is fixed at 0.5), its input ``n_l / N`` is an exact
    double division of < 2⁵³ integers, and the result is quantized to an
    integer q_l = round(1e9·√share) BEFORE any summation, so the normalizer
    Σq is associative-exact. Keep-rates are exact integer arithmetic in
    DECIMAL(38,0) (1e6·q_l·N clears 2⁶³ at corpus scale) with truncating
    div, membership the md5-threshold key. Returns ``df``'s rows plus
    ``rate_ppm``; same two-aggregation + broadcast shape as
    :func:`rebalance_by_lang`.
    """
    actual = df.groupBy(lang_col).agg(F.count(F.lit(1)).alias("__n_l"))
    total = actual.agg(F.sum("__n_l").alias("__n"))
    q = (
        actual.crossJoin(F.broadcast(total))
        .withColumn(
            "__q",
            F.round(
                F.lit(1000000000.0)
                * F.sqrt(
                    F.col("__n_l").cast("double") / F.col("__n").cast("double")
                )
            ).cast("long"),
        )
    )
    qsum = q.agg(F.sum("__q").alias("__qsum"))
    rates = q.crossJoin(F.broadcast(qsum)).select(
        lang_col,
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * __q * __n)"
                " div (CAST(__qsum AS DECIMAL(38,0)) * __n_l)"
            ),
        ).alias("rate_ppm"),
    )
    hash_ppm = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 1000000
    )
    return df.join(F.broadcast(rates), lang_col).filter(hash_ppm < F.col("rate_ppm"))
