"""Distributed quantized k-means (Lloyd's algorithm) with EXACT integer
arithmetic — the fourth iterative algorithm next to PageRank / BFS / SSSP in
:mod:`.graph` and the label-propagation CC in ``llm/dedup.py``.

Why a hand-rolled Lloyd's rather than MLlib KMeans: MLlib's float centroids
are not reproducible across engines (or even across partitionings —
per-cluster component sums change addition order), so the IVF suite query
had to fall back to a degenerate 0-iteration quantizer for its oracle. This
module makes REAL Lloyd's iterations engine-exact by working in quantized
integer space end-to-end (``llm/ivf.ivf_build`` trains its coarse quantizer
with it too):

- points are quantized once: ``xq_i = CAST(round(x_i * 10^scale) AS BIGINT)``
  (both engines round half away from zero; float32→double is exact);
- distances are exact BIGINT sums of squared integer differences;
- argmin assignment tie-breaks on the lower cluster id;
- updated centroids are component-wise integer means with truncating
  division (sign-split ``-((-s) // n)`` so both engines and Python agree on
  negatives) — a "quantized Lloyd's" whose fixed-iteration trajectory is
  bit-identical on any engine, partitioning, or cluster size, and therefore
  verifiable by an unrolled SQL oracle.

Scale shape (the 100 TB part): assignment is a MAP-ONLY expression — the k
centroids (k·d integers, bounded by contract) are collected to the driver
each round and embedded as literals, so no join and no shuffle touches the
assignment pass; the update is ONE map-side-combinable groupBy producing
k×(d+1) aggregate cells (d per-component sums via ``F.sum(xq[i])`` — no
explode, the shuffle carries one partial row per cluster per partition).
Driver-side state is k·d ints per round — the same bounded-scalar pattern as
the BPE trainer's per-round merge pick (llm/text.py).

Overflow envelope (r14, probed at d=768): the exact-int64 distance math
requires ``4·d·Q² < 2^63`` with ``Q = 10^scale·max|x|`` — checkable up
front via :func:`check_quantization_envelope` (safe scale:
``s < (63·log10 2 − log10 4d)/2 − log10 max|x|``; at d=768 scale=6 is safe
to max|x|≈54) and enforced per actual batch by ``_guard_int64_distances``
inside the numpy kernels. Within the tighter ``d·Qx·Qc < 2^53`` bound the
dot products run through float64 BLAS **bit-exactly** (every product and
partial sum is an integer below 2^53 — see :func:`_exact_dot_int`;
measured 15× over numpy's BLAS-less int64 matmul at d=768).

Reference exercises iterative algos via examples/algo (see
examples/algo/src/main.rs); k-means itself is an extension operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _trunc_div(s: int, n: int) -> int:
    """Truncating integer division matching Spark ``div`` / DuckDB ``//`` on
    positives for either sign of ``s`` (Python ``//`` alone floors)."""
    return -((-s) // n) if s < 0 else s // n


def _argmin_struct(centroids: list[list[int]]) -> F.Column:
    """Map-only argmin over literal centroids: array_min of (dist, cid)
    structs — lexicographic struct ordering gives the lower-cid tie-break.

    Built as ONE parsed SQL string, not k·d python ``F.lit`` Column calls:
    each ``F.lit``/operator is a py4j round trip, and at k=8·d=64 the
    per-round expression build alone measured ~0.7s of driver time (×4
    passes ≈ 2.8s of km1's 5.1s wall). The nested array literal is
    constant-folded by Catalyst once, so ``element_at`` is a plain lookup —
    the same literal-array pattern as the centroid fingerprints below.
    Arithmetic is token-identical to the Column form it replaces
    ((a-b)*(a-b) over the same int/long literals, 0L init, lower-cid
    struct tie-break), so the assignment trajectory is unchanged."""
    k = len(centroids)
    cents_sql = ",".join(
        "array(" + ",".join(str(int(v)) for v in c) + ")" for c in centroids
    )
    return F.expr(
        f"array_min(transform(sequence(0, {k - 1}), i -> named_struct("
        f"'d', aggregate(zip_with(xq, element_at(array({cents_sql}), i + 1),"
        f" (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v),"
        f" 'cid', CAST(i AS INT))))"
    )


#: above this k, the literal-argmin expression (k·d literal leaves,
#: interpreted per row) is replaced by the exact numpy batch argmin — the
#: r12 stress probe measured the k=782 literal plan at ~390s for 200k
#: points where the batch path is seconds, and the r13 A/B found the
#: interpretation penalty bites far earlier: k=32 over 2,000 rows ran the
#: whole semdedup 4.3× slower on the literal path (8.4s vs 1.9s solo
#: min-of-3 — the k·d struct-array expression overflows whole-stage
#: codegen and falls back to interpreted eval). 16 keeps every suite/
#: oracle query (k ≤ 16) on the expression path unchanged; results are
#: path-invariant either way (pytest-pinned).
_LITERAL_ARGMIN_MAX_K = 16

#: above this k, the FLAT clustering path stops being viable: the centroid
#: table (k·d ints) ships in every task closure and the driver collects
#: k×(d+1) aggregate cells per Lloyd's round — both bounded-by-contract only
#: while k is bounded. Past this, semdedup auto-escalates to the two-level
#: coarse/fine composition (zero driver centroid state at the fine level);
#: an EXPLICIT two_level=False past the cap raises rather than silently
#: clamping, because a clamped k makes per-cluster size grow ∝ n again —
#: the quadratic door the scale-with-corpus rule exists to close.
_FLAT_ARGMIN_MAX_K = 4096


def check_quantization_envelope(d: int, scale: int, max_abs: float) -> None:
    """Raise ``PlanError`` unless the exact-int64 distance arithmetic is
    overflow-safe for ``d``-dimensional vectors with ``|x_i| ≤ max_abs``
    quantized at ``10^scale``.

    The numpy paths compute ``dist = |x|² + |c|² − 2·x·c`` where every term
    is a sum of ``d`` products of quantized components ``|xq| ≤ Q =
    ceil(10^scale · max_abs)``; centroids are integer means of points so they
    obey the same bound. The worst intermediate is ``|x|² + |c|² + 2·|x·c|
    ≤ 4·d·Q²``, which must stay below 2⁶³. Headroom shrinks LINEARLY with d:
    at scale=6 the unit-norm bound (max_abs=1) leaves 1.4e5× headroom at
    d=64 but only 1.2e4× at d=768 and ~2.9e3× at d=4096 — still safe, but a
    caller feeding unnormalized features (max|x| ~ 50+) at production dims
    crosses the line, which this check turns from silent wraparound into a
    named error (r13 verdict #2; probe table in BASELINE.md)."""
    from ..errors import PlanError

    q = int(10**scale * max_abs) + 1
    worst = 4 * d * q * q
    if worst >= 2**63:
        raise PlanError(
            f"quantization envelope overflow: 4·d·Q² = {worst:.3e} ≥ 2^63 for "
            f"d={d}, scale={scale}, max|x|={max_abs} — reduce scale (safe "
            f"scale here: {_safe_scale(d, max_abs)}) or normalize inputs"
        )


def _safe_scale(d: int, max_abs: float) -> int:
    """Largest ``scale`` that passes :func:`check_quantization_envelope`."""
    import math

    # 4·d·(10^s·max_abs)² < 2^63  ⇒  s < (63·log10(2) − log10(4d))/2 − log10(max_abs)
    # floor, not int(): int() truncates toward zero, which rounds UP for the
    # negative scales very-large max_abs produces, returning a scale that
    # fails check_quantization_envelope (r15 advice)
    return math.floor(
        (63 * math.log10(2) - math.log10(4 * d)) / 2 - math.log10(max_abs)
    )


def _exact_dot_int(X, C):
    """``X @ C.T`` with EXACT integer results, taking the BLAS float64 path
    when it is provably lossless: if ``d · max|X| · max|C| < 2^53`` then
    every pairwise product is an integer below 2^53 (exactly representable
    in double) and every partial sum is bounded by the same limit, so IEEE
    addition is exact at every step REGARDLESS of accumulation order — the
    float64 matmul returns bit-identical integers to the int64 one. This
    matters because numpy's int64 matmul has no BLAS kernel: the r14 d=768
    micro-bench measured 1.5 Gop/s int64 vs 22.5 Gop/s float64 (15×), and
    the exactness condition holds for the entire supported envelope at
    unit-norm scale=6 up to d ≈ 9000. Past the 2^53 bound, falls back to
    the (slow, always-exact) int64 path."""
    import numpy as np

    qx = int(np.abs(X).max(initial=0))
    qc = int(np.abs(C).max(initial=0))
    if X.shape[1] * qx * qc < 2**53:
        return (X.astype(np.float64) @ C.astype(np.float64).T).astype(np.int64)
    return X @ C.T


def _guard_int64_distances(X, c_absmax: int) -> None:
    """Runtime twin of :func:`check_quantization_envelope`, applied to the
    ACTUAL quantized batch inside the numpy distance kernels: the worst
    intermediate ``|x|² + |c|² + 2·|x·c|`` is bounded by ``2·d·(Q_x² + Q_c·Q_x)
    + d·Q_c²`` ≤ ``4·d·max(Q_x,Q_c)²``; one O(n·d) abs-max per batch is noise
    next to the matmul it protects, and turns silent int64 wraparound at
    production dims (d=768+, unnormalized features) into a named error."""
    import numpy as np

    q = max(int(np.abs(X).max(initial=0)), c_absmax)
    d = X.shape[1]
    if 4 * d * q * q >= 2**63:
        from ..errors import PlanError

        raise PlanError(
            f"int64 distance overflow: observed max|xq|={q} at d={d} — "
            f"4·d·Q² ≥ 2^63; lower `scale` (see check_quantization_envelope)"
        )


def assign_quantized(
    pts: DataFrame, cents: list[list[int]], force_numpy: bool = False
) -> DataFrame:
    """Assign each ``(vec_id, xq)`` row to its nearest centroid; returns the
    input columns plus ``cid`` (int) and ``dist`` (long, exact squared
    distance), tie-broken on the LOWER cid.

    k ≤ ``_LITERAL_ARGMIN_MAX_K``: the map-only literal-argmin expression
    (:func:`_argmin_struct` — no shuffle, whole-stage codegen).

    Larger k: an Arrow-batched numpy argmin — ``dist = |x|² + |c|² − 2·x·c``
    via one int64 matmul per batch (EXACT: component products are bounded by
    the quantization contract far below 2⁶³, and numpy integer matmul does
    not round). ``np.argmin`` returns the first minimum, which IS the
    lower-cid tie-break. The centroid table (k·d ints) ships in the task
    closure — the same bounded-driver-state contract as the literal path;
    the pass stays map-only with no shuffle either way.

    ``force_numpy=True`` takes the batch path at ANY k. The two paths are
    output-identical (pytest-pinned path invariance), so callers with no
    SQL-replay constraint — semdedup's two-level coarse pass — can skip the
    interpreted k·d-literal expression, which the r13 probe measured at
    ~3s/pass for k=28 over 200k rows where the batch path is sub-second.
    """
    if not force_numpy and len(cents) <= _LITERAL_ARGMIN_MAX_K:
        m = _argmin_struct(cents)
        return (
            pts.withColumn("__m", m)
            .withColumn("cid", F.col("__m.cid"))
            .withColumn("dist", F.col("__m.d"))
            .drop("__m")
        )

    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.int64)
    cn = (C * C).sum(axis=1)
    c_absmax = int(np.abs(C).max()) if C.size else 0
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pts.schema.fields
    ) + ", cid int, dist long"

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
            _guard_int64_distances(X, c_absmax)
            xn = (X * X).sum(axis=1)
            d2 = xn[:, None] + cn[None, :] - 2 * _exact_dot_int(X, C)
            cid = d2.argmin(axis=1)
            out = pdf.copy()
            out["cid"] = cid.astype("int32")
            out["dist"] = d2[np.arange(len(cid)), cid]
            yield out

    return pts.mapInPandas(_assign, out_schema)


def quantize_points(
    df: DataFrame, id_col: str, emb_col: str, scale: int, spread: bool = False
) -> DataFrame:
    """(id, xq) frame with ``xq_i = round(x_i · 10^scale)`` as BIGINT,
    localCheckpoint-ed (eager=False) so the iterative consumers below cannot
    accrete lineage across rounds (CLAUDE.md iterative-algorithm rule —
    cache() would also leak a CacheManager entry across repeated
    invocations, the fi1_item_affinity lesson).

    ``spread=True`` widens a narrower-than-cores input across the session's
    cores BEFORE checkpointing (scale no-op — see
    :func:`..operators.partitioning.spread_for_compute`). Callers headed for
    the literal-argmin path set it: higher-order-function lambdas are
    INTERPRETED per row (no codegen), so a single-row-group parquet scan
    (one partition) serializes every Lloyd's round on one core — the r13
    A/B measured km1 5.1s → 2.6s from this plus the parsed-string argmin.
    The numpy batch path is left unspread: its per-batch kernel is already
    vectorized and the extra exchange + per-partition Arrow round trips
    measured ~0.9s SLOWER on semdedup2 at sf0.1."""
    from .partitioning import spread_for_compute

    base = df.select(F.col(id_col), F.col(emb_col))
    if spread:
        base = spread_for_compute(base, id_col)
    return base.select(
        F.col(id_col).alias("vec_id"), quantized(F.col(emb_col), scale).alias("xq")
    ).localCheckpoint(eager=False)


def quantized(emb: Column, scale: int) -> Column:
    """``emb`` (array<float/double>) with each component rounded to
    ``round(x · 10^scale)`` as BIGINT: the ``xq`` the quantized Lloyd's
    reads and :func:`assign_quantized` assigns on."""
    q = 10**scale
    return F.transform(emb, lambda x: F.round(x.cast("double") * q).cast("long"))


def lloyd_centroids(
    pts: DataFrame, k: int, iterations: int, force_numpy: bool = False
) -> list[list[int]]:
    """``iterations`` rounds of quantized Lloyd's over a ``(vec_id, xq)``
    frame, initialized from the ``k`` vectors with the smallest ids
    (deterministic, SQL-nameable init). Returns the final centroid list —
    k·d bounded driver-side ints, the sanctioned iterative-scalar pattern.
    Empty clusters keep their previous centroid. Each round: map-only
    argmin against literal centroids, ONE map-side-combinable groupBy of
    k×(d+1) cells."""
    init_rows = pts.orderBy("vec_id").limit(k).collect()
    cents: list[list[int]] = [list(r["xq"]) for r in init_rows]
    d = len(cents[0])

    for _ in range(iterations):
        assigned = assign_quantized(pts, cents, force_numpy=force_numpy)
        aggs = (
            assigned.groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("xq")[i]).alias(f"s{i}") for i in range(d)],
            )
            .collect()  # ≤ k rows of d+1 cells — bounded by contract
        )
        new_cents = list(cents)  # empty clusters carry the old centroid
        for r in aggs:
            new_cents[r["cid"]] = [
                _trunc_div(r[f"s{i}"], r["n"]) for i in range(d)
            ]
        cents = new_cents
    return cents


def sub_cluster_cells(
    coarse: DataFrame,
    k2: int | None = None,
    iterations: int = 2,
    cell_col: str = "cell",
    target_size: int | None = None,
) -> DataFrame:
    """Per-cell quantized Lloyd's — the FINE level of two-level clustering
    (IVF coarse/fine composition, same pattern as llm/pq.py's residual PQ):
    ``coarse`` carries ``(vec_id, xq, <cell_col>)`` from a coarse
    :func:`assign_quantized` pass; each cell's points are sub-clustered
    independently and the result is ``(vec_id, <cell_col>, sub)``.

    Exactly one of ``k2`` (fixed sub-cluster count per cell) or
    ``target_size`` must be given. ``target_size`` derives the count PER
    CELL as ``ceil(|cell| / target_size)`` — the scale-with-corpus rule
    applied at cell granularity. This matters because coarse Lloyd's cells
    are SKEWED (the r13 200k probe measured max cell 2.8× the mean): a
    fixed k2 makes per-cell pair work |cell|²/k2 — quadratic in the skew —
    and Σ|c|² came out 2.5× the flat path's. Per-cell derivation keeps
    every sub-cluster near ``target_size`` no matter how lopsided the
    coarse level is, so downstream pair joins stay linear.

    Scale shape: one shuffle on the cell key, then every cell is ONE
    ``applyInPandas`` group — the coarse level bounds the per-task point
    count at ~n/k1, and driver state is zero (centroids live and die inside
    the task). This is what lifts the flat path's k ≤ 4096 broadcast-
    centroid cap: effective clusters k1 · max(k2_c), far past any corpus
    where k = n/256 matters.

    Determinism (same contract as the flat integer Lloyd's above, so the
    trajectory is partitioning- and engine-invariant): points sort by
    vec_id; init is the k evenly-spaced-by-rank vectors of the sorted cell
    (spread beats a min-id block — same probe, 40% lower max cluster);
    distances are exact int64 (``|x|² + |c|² − 2·x·c`` — products bounded
    far below 2⁶³ by the quantization contract, and numpy integer matmul
    is exact); ``np.argmin`` first-minimum IS the lower-sub-cid tie-break;
    updates are the same sign-split truncating integer mean; empty
    sub-clusters keep their previous centroid."""
    import numpy as np

    from ..errors import PlanError

    if (k2 is None) == (target_size is None):
        raise PlanError("sub_cluster_cells: pass exactly one of k2/target_size")
    # derive the passthrough column types from the input schema — semdedup
    # accepts arbitrary id types, and a hardcoded `vec_id long` would
    # silently coerce (or fail) non-long ids that the flat path preserves
    # (r14 advice)
    id_type = coarse.schema["vec_id"].dataType.simpleString()
    cell_type = coarse.schema[cell_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, {cell_col} {cell_type}, sub int"

    def _sub(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
        _guard_int64_distances(X, 0)  # centroids are means of X, same bound
        n_c = len(pdf)
        k_local = k2 if k2 is not None else -(-n_c // target_size)
        k_eff = max(1, min(k_local, n_c))
        C = X[np.linspace(0, n_c - 1, k_eff).astype(np.int64)].copy()
        xn = (X * X).sum(axis=1)
        sub = np.zeros(n_c, dtype=np.int64)
        for it in range(iterations + 1):  # final pass assigns under final C
            cn = (C * C).sum(axis=1)
            d2 = xn[:, None] + cn[None, :] - 2 * _exact_dot_int(X, C)
            sub = d2.argmin(axis=1)
            if it == iterations:
                break
            for c in range(k_eff):  # empty clusters keep previous centroid
                m = sub == c
                m_n = int(m.sum())
                if m_n:
                    s = X[m].sum(axis=0)
                    C[c] = np.where(s < 0, -((-s) // m_n), s // m_n)
        out = pdf[["vec_id", cell_col]].copy()
        out["sub"] = sub.astype("int32")
        return out

    return coarse.groupBy(cell_col).applyInPandas(_sub, out_schema)


def kmeans_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    scale: int = 6,
) -> DataFrame:
    """Run ``iterations`` rounds of quantized Lloyd's over ``df[emb_col]``
    (array<float/double>), initialized from the ``k`` vectors with the
    smallest ids (deterministic, SQL-nameable init). Returns one row per
    cluster: ``(cid, n_points, inertia, centroid_l1, centroid_sq)`` where
    inertia is the exact integer sum of squared quantized distances under
    the FINAL centroids (DECIMAL(38,0) — BIGINT would overflow at 1e9 rows)
    and centroid_l1/centroid_sq fingerprint the final centroid components.
    Empty clusters keep their previous centroid."""
    # spread iff every assignment pass will take the interpreted literal
    # expression (k bounded by the suite contract) — see quantize_points
    pts = quantize_points(
        df, id_col, emb_col, scale, spread=k <= _LITERAL_ARGMIN_MAX_K
    )
    cents = lloyd_centroids(pts, k, iterations)

    final = assign_quantized(pts, cents)
    stats = final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"),
        # exact DECIMAL(38,0) accumulation (no 64-bit overflow at 1e9 rows),
        # emitted as BIGINT — test-scale inertia is far below 2^63
        F.sum(F.col("dist").cast("decimal(38,0)")).cast("long").alias("inertia"),
    )
    # centroid fingerprints as LITERAL array lookups on cid — k bounded
    # driver-side ints, so no createDataFrame (whose parallelize scan spawned
    # |cores| python workers for k rows — r13 profile: ~7s of task runtime on
    # a 32-task ExistingRDD stage) and no broadcast join
    l1 = F.array(*[F.lit(sum(c)).cast("long") for c in cents])
    sq = F.array(*[F.lit(sum(v * v for v in c)).cast("long") for c in cents])
    return stats.select(
        "cid",
        "n_points",
        "inertia",
        F.element_at(l1, F.col("cid") + 1).alias("centroid_l1"),
        F.element_at(sq, F.col("cid") + 1).alias("centroid_sq"),
    )
