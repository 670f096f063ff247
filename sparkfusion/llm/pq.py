"""Product-quantization (PQ) approximate nearest-neighbor search.

Completes the ANN ladder next to brute-force (:mod:`.similarity`), sign/RP
LSH, IVF (:mod:`.ivf`) and int8 scalar quantization: the D-dim embedding is
split into ``m`` subspaces, each subvector replaced by the id of its nearest
codeword from a per-subspace codebook of ``n_codes`` entries. A vector
compresses to ``m`` small codes (here m·1 bytes vs D·4 — 64× for D=64,m=4,
256 codes), and query-to-vector distance is approximated **asymmetrically**
(ADC, Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011): the query precomputes an ``m × n_codes`` table of exact
subspace distances to every codeword, and a vector's approximate distance is
the sum of ``m`` table lookups — no float math per corpus row at query time.

Scale shape (100 TB posture):
- Codebooks are ``m·n_codes`` rows — always broadcast; encoding is one scan
  (broadcast join + per-(id, subspace) argmin with a map-side-combinable
  min(struct) aggregate, shuffling only (id, j, d, code) slivers).
- The encoded corpus (id, m codes) is what production stores/scans — the
  distance-table join at query time is a broadcast equi-join on
  (subspace, code) followed by one groupBy(id) DECIMAL sum: one shuffle of
  the candidate sliver, never the raw vectors.
- Like :func:`..llm.ivf.ivf_seeded_topk`, the suite path derives codewords
  from the first ``n_codes`` vectors' subvectors (deterministic, fully
  SQL-expressible, so DuckDB names the same codebook); production would
  train per-subspace KMeans exactly as ``ivf_build`` does.

Determinism: every subspace distance is rounded to 9 dp (absorbs sub-ulp
summation-order variance vs DuckDB's ``list_distance``), argmin ties break on
code id, and the final ADC sum runs in DECIMAL(18,9) so addition order
cannot flip low bits — the approximate distance is bit-identical across
engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import euclid_r9, probe_cells, seeded_cells
from .similarity import score_candidates, top_k_per_query
from ..errors import PlanError

__all__ = [
    "pq_subvectors",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_adc_topk",
    "ivfpq_adc_table",
    "ivfpq_store_adc_topk",
]


def pq_subvectors(
    df: DataFrame, id_col: str, emb_col: str, m: int, dim: int
) -> DataFrame:
    """Explode each vector into ``m`` subvectors: ``(id, j, sub)`` with
    ``j ∈ [0, m)`` and ``sub`` the j-th contiguous ``dim/m`` slice."""
    if dim % m != 0:
        raise PlanError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    subs = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.slice(F.col(emb_col), j * d + 1, d).alias("sub"))
            for j in range(m)
        ]
    )
    return df.select(F.col(id_col), F.explode(subs).alias("s")).select(
        id_col, F.col("s.j").alias("j"), F.col("s.sub").alias("sub")
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Encode every vector to ``(id, j, code)`` rows — nearest codeword per
    subspace (rounded-euclid argmin, code-id tiebreak). ``codebook`` must be
    ``(code, j, csub)`` rows (``m × n_codes`` total — broadcast)."""
    subs = pq_subvectors(df, id_col, emb_col, m, dim)
    scored = subs.join(F.broadcast(codebook), "j").withColumn(
        "d", euclid_r9(F.col("sub"), F.col("csub"))
    )
    return (
        scored.groupBy(id_col, "j")
        .agg(F.min(F.struct("d", "code")).alias("best"))
        .select(id_col, "j", F.col("best.code").alias("code"))
    )


def seeded_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    n_codes: int = 8,
) -> DataFrame:
    """Deterministic data-derived codebook: codeword ``c`` of subspace ``j``
    is the j-th subvector of the vector with ``id = c`` (degenerate KMeans
    init both engines can name — see module docstring)."""
    cents = df.filter(F.col(id_col) < n_codes)
    return pq_subvectors(cents, id_col, emb_col, m, dim).select(
        F.col(id_col).cast("int").alias("code"), "j", F.col("sub").alias("csub")
    )


def pq_adc_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    n_codes: int = 8,
    k: int = 10,
) -> DataFrame:
    """Top-k nearest (smallest approximate L2) to each query vector via
    PQ + ADC with the seeded codebook. Returns ``(q_id, id, adist)`` —
    ``adist`` is the DECIMAL-exact sum of per-subspace codeword distances
    cast to double."""
    codebook = seeded_codebook(df, id_col, emb_col, m, dim, n_codes)
    codes = pq_encode(df, codebook, id_col, emb_col, m, dim)
    q = query_df.select(F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb"))
    q_subs = pq_subvectors(q, "q_id", "q_emb", m, dim)
    dtab = (
        q_subs.join(F.broadcast(codebook), "j")
        .withColumn("qd", euclid_r9(F.col("sub"), F.col("csub")).cast("decimal(18,9)"))
        .select("q_id", "j", "code", "qd")
    )
    adist = F.sum("qd").cast("double")
    scored = score_candidates(codes, dtab, adist, "adist", id_col, ["j", "code"], aggregate=True)
    return top_k_per_query(scored, k, F.col("adist").asc(), F.col(id_col).asc())


def ivfpq_adc_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    n_codes: int = 8,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ with residual encoding — the index structure production ANN
    systems (FAISS ``IndexIVFPQ``, Jégou et al. 2011 §V) actually deploy at
    billion-vector scale, composed from this module's PQ and :mod:`.ivf`'s
    coarse quantizer:

    1. assign every vector to its nearest coarse centroid (``n_cells``);
    2. PQ-encode the RESIDUAL ``v − centroid(cell)`` (residuals concentrate
       near 0, so the same codebook budget quantizes far more precisely than
       PQ on raw vectors);
    3. a query probes the ``nprobe`` nearest cells and builds a PER-CELL ADC
       table from ITS residual in that cell; candidate distance = sum of m
       table lookups, only for vectors in probed cells.

    Determinism (same discipline as :func:`pq_adc_topk` / ``ivf_seeded_topk``:
    both engines can name every training row): coarse centroids are the
    embeddings of ids ``[0, n_cells)``; residual codeword ``c`` of subspace
    ``j`` is the j-th subvector of the RESIDUAL of id ``n_cells + c``.
    Residual subtraction is elementwise IEEE double (bit-identical across
    engines); every subspace distance is rounded to 9 dp; argmins tie-break
    on cell/code id; the ADC sum runs in DECIMAL(18,9).

    100 TB shape: centroids (n_cells) and codebook (m·n_codes) broadcast;
    assignment/encoding shuffle only (id, j, d, code) slivers with map-side
    combine; the stored corpus is (id, cell, m codes) — at scale written
    partitioned by ``cell`` so the probe is a partition-pruned scan; the
    query-time join is a broadcast equi-join on (cell, j, code) + one
    groupBy(id) DECIMAL sum. No cross join ever touches raw vectors beyond
    the broadcast-centroid assignment pass.
    """
    if dim % m != 0:
        raise PlanError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    assigned, cents = seeded_cells(df, id_col, emb_col, n_cells)
    cents = cents.select("cell", F.col("centroid").cast("array<double>").alias("centroid"))
    resid = assigned.join(F.broadcast(cents), "cell").select(
        id_col,
        "cell",
        F.zip_with(
            F.col(emb_col).cast("array<double>"), "centroid", lambda a, b: a - b
        ).alias("r"),
    )
    cb = (
        resid.filter(
            (F.col(id_col) >= n_cells) & (F.col(id_col) < n_cells + n_codes)
        )
        .select(
            (F.col(id_col) - n_cells).cast("int").alias("code"),
            F.explode(_sub_structs("r", m, dsub)).alias("s"),
        )
        .select("code", F.col("s.j").alias("j"), F.col("s.sub").alias("csub"))
    )
    subs = resid.select(
        id_col, "cell", F.explode(_sub_structs("r", m, dsub)).alias("s")
    ).select(id_col, "cell", F.col("s.j").alias("j"), F.col("s.sub").alias("sub"))
    codes = (
        subs.join(F.broadcast(cb), "j")
        .withColumn("d", euclid_r9(F.col("sub"), F.col("csub")))
        .groupBy(id_col, "cell", "j")
        .agg(F.min(F.struct("d", "code")).alias("best"))
        .select(id_col, "cell", "j", F.col("best.code").alias("code"))
    )
    q = query_df.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
    )
    probe = probe_cells(cents, q, nprobe).select(
        "cell", "q_id", F.zip_with("q_emb", "centroid", lambda a, b: a - b).alias("qr")
    )
    dtab = (
        probe.select(
            "cell", "q_id", F.explode(_sub_structs("qr", m, dsub)).alias("s")
        )
        .select("cell", "q_id", F.col("s.j").alias("j"), F.col("s.sub").alias("qsub"))
        .join(F.broadcast(cb), "j")
        .withColumn(
            "qd", euclid_r9(F.col("qsub"), F.col("csub")).cast("decimal(18,9)")
        )
        .select("cell", "q_id", "j", "code", "qd")
    )
    adist = F.sum("qd").cast("double")
    scored = score_candidates(
        codes, dtab, adist, "adist", id_col, ["cell", "j", "code"], aggregate=True
    )
    return top_k_per_query(scored, k, F.col("adist").asc(), F.col(id_col).asc())


def _sub_structs(col: str, m: int, dsub: int):
    """Array of (j, sub) structs slicing ``col`` into m contiguous dsub-dim
    subvectors — the in-row form of :func:`pq_subvectors` for frames that
    must carry extra key columns through the explode."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(col), j * dsub + 1, dsub).alias("sub"),
            )
            for j in range(m)
        ]
    )


def derive_ivfpq_params(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int = 8,
    m: int = 4,
    dim: int = 64,
    n_codes: int = 8,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Derive the literal IVF-PQ index parameters from the deterministic
    training rows (ids ``[0, n_cells + n_codes)``) with BOUNDED driver math —
    the km1 pattern: one collect of n_cells+n_codes rows, pure-python
    replication of the engine's argmin (round-9 L2, cell-id tiebreak), and
    the result ships into the plan as literals so the encoder is a pure map
    (usable under Structured Streaming, where a groupBy-argmin would be a
    stateful aggregate).

    Returns ``(centroids, codebook)``: ``centroids[cell]`` = 64 floats;
    ``codebook[j][code]`` = the 16-float residual codeword."""
    import math

    rows = (
        emb.filter(F.col(id_col) < n_cells + n_codes)
        .select(F.col(id_col).cast("long").alias("i"), F.col(emb_col).cast("array<double>").alias("v"))
        .collect()
    )
    vecs = {r["i"]: list(r["v"]) for r in rows}
    if len(vecs) < n_cells + n_codes:
        raise PlanError(
            f"need ids [0, {n_cells + n_codes}) to derive the IVF-PQ params; "
            f"got {sorted(vecs)}"
        )
    cents = [vecs[c] for c in range(n_cells)]

    def _r9_dist(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return round(math.sqrt(acc), 9)

    d = dim // m
    codebook: list[list[list[float]]] = [[] for _ in range(m)]
    for c in range(n_codes):
        v = vecs[n_cells + c]
        cell = min((( _r9_dist(v, cents[i]), i) for i in range(n_cells)))[1]
        r = [x - y for x, y in zip(v, cents[cell])]
        for j in range(m):
            codebook[j].append(r[j * d : (j + 1) * d])
    return cents, codebook


def ivfpq_encode_literal(
    df: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Map-only IVF-PQ encoder against LITERAL index parameters (from
    :func:`derive_ivfpq_params`): per row, argmin-assign to a coarse cell,
    subtract that centroid, argmin-encode each residual subspace — all as
    whole-stage-codegen expressions (array_min over a struct array is the
    in-row argmin with the same (distance, id) tiebreak as the distributed
    form). Because there is NO aggregate and NO join, this plan is legal
    under Structured Streaming in append mode — the streaming-ingest path of
    a vector index: new vectors arrive, encode statelessly, append to the
    cell-partitioned store. Returns ``(id, cell, code0..code{m-1})``."""
    m = len(codebook)
    d = len(codebook[0][0])
    v = F.col(emb_col).cast("array<double>")

    def lit_arr(xs: list[float]):
        return F.array(*[F.lit(float(x)) for x in xs])

    cell_cands = F.array(
        *[
            F.struct(
                euclid_r9(v, lit_arr(c)).alias("d"), F.lit(i).alias("cell")
            )
            for i, c in enumerate(centroids)
        ]
    )
    cents_lit = F.array(*[lit_arr(c) for c in centroids])
    base = df.select(
        F.col(id_col),
        v.alias("v"),
        F.array_min(cell_cands).getField("cell").alias("cell"),
    ).select(
        id_col,
        "cell",
        F.zip_with(
            "v", F.element_at(cents_lit, F.col("cell") + 1), lambda a, b: a - b
        ).alias("r"),
    )
    code_cols = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        euclid_r9(
                            F.slice(F.col("r"), j * d + 1, d), lit_arr(cw)
                        ).alias("d"),
                        F.lit(c).alias("code"),
                    )
                    for c, cw in enumerate(codebook[j])
                ]
            )
        )
        .getField("code")
        .alias(f"code{j}")
        for j in range(m)
    ]
    return base.select(id_col, "cell", *code_cols)


def ivfpq_encode_batch(
    df: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Production twin of :func:`ivfpq_encode_literal` — same literal index
    parameters, same ``(round-9 distance, lowest-id)`` argmin contract, same
    ``(id, cell, code0..code{m-1})`` output — but the per-row work runs as
    numpy float64 batches inside ``mapInPandas`` instead of an interpreted
    ``n_cells·dim``-literal Catalyst expression. The r14 d=768 probe measured
    the literal path at 595 rows/s (interpreted-expression-bound, the r13
    element-op model); this path is the `_exact_dot_int`-class lever for the
    PQ family. Still a pure map (no aggregate, no join), so it remains legal
    under Structured Streaming in append mode — the actual 100 TB ingest
    shape.

    Parity argument (the within_group_pairs_np discipline):

    - squared-diff accumulation loops over dimensions SEQUENTIALLY
      (``acc += diff²`` from dim 0 upward), so every partial sum replays
      ``euclid_r9``'s ``F.aggregate`` fold order bit-for-bit; ``np.sqrt`` is
      the same correctly-rounded IEEE-754 op as ``java.lang.Math.sqrt``;
      residual subtraction is the same elementwise double subtract.
    - the 9-dp HALF_UP round is compared via integer keys
      ``floor(d·1e9 + 0.5)`` (ordering-equivalent to rounding both
      operands); this agrees with the JVM's BigDecimal HALF_UP except when
      ``d·1e9``'s ≤1-ulp representation error crosses an exact ``.5``
      boundary — the same measure-zero caveat as the xxhash64/md5 twin
      paths, with exact output equality vs the literal encoder pinned in
      tests/test_pq.py on the canonical frames.
    - ``np.argmin`` returns the FIRST minimum → lowest cell/code id, matching
      ``F.array_min`` over ``struct(d, id)``.

    Row blocks are bounded by a 2^24-double working set (the
    within_group_pairs_np budget rule) so ``b·n_cells`` accumulators never
    outgrow executor memory regardless of index size. Non-finite embedding
    components raise a named error up front — a NaN would otherwise flow
    through argmin silently (CLAUDE.md pandas→Arrow NaN rule).
    """
    import numpy as np
    import pandas as pd

    cents_np = np.asarray(centroids, dtype=np.float64)
    if cents_np.ndim != 2:
        raise PlanError("ivfpq_encode_batch: centroids must be a (cells, dim) list")
    n_cells, dim = cents_np.shape
    m = len(codebook)
    cb_np = np.asarray(codebook, dtype=np.float64)
    if cb_np.ndim != 3 or cb_np.shape[0] != m:
        raise PlanError("ivfpq_encode_batch: codebook must be (m, n_codes, dsub)")
    n_codes, dsub = cb_np.shape[1], cb_np.shape[2]
    if m * dsub != dim:
        raise PlanError(
            f"ivfpq_encode_batch: m·dsub = {m}·{dsub} != centroid dim {dim}"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, cell int, " + ", ".join(
        f"code{j} int" for j in range(m)
    )
    row_block = _encode_row_block(n_cells, n_codes, dim)

    def _r9_key(d2: "np.ndarray") -> "np.ndarray":
        return np.floor(np.sqrt(d2) * 1e9 + 0.5)

    def _seq_sqdist(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
        # (b, d) vs (k, d) -> (b, k); per-element accumulation order is
        # dim 0..d-1 left-to-right, replaying the F.aggregate fold exactly
        acc = np.zeros((x.shape[0], y.shape[0]))
        for t in range(x.shape[1]):
            diff = x[:, t, None] - y[None, :, t]
            acc += diff * diff
        return acc

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[emb_col]]
            )
            if vecs.shape[1] != dim:
                raise PlanError(
                    f"ivfpq_encode_batch: embedding dim {vecs.shape[1]} != "
                    f"centroid dim {dim}"
                )
            if not np.isfinite(vecs).all():
                raise PlanError(
                    "ivfpq_encode_batch: non-finite embedding component"
                )
            ids = pdf[id_col].to_numpy()
            for lo in range(0, len(pdf), row_block):
                v = vecs[lo : lo + row_block]
                cell = np.argmin(_r9_key(_seq_sqdist(v, cents_np)), axis=1)
                resid = v - cents_np[cell]
                out = {id_col: ids[lo : lo + row_block], "cell": cell.astype("int32")}
                for j in range(m):
                    sub = resid[:, j * dsub : (j + 1) * dsub]
                    d2 = _seq_sqdist(sub, cb_np[j])
                    out[f"code{j}"] = np.argmin(_r9_key(d2), axis=1).astype(
                        "int32"
                    )
                yield pd.DataFrame(out)

    return df.select(id_col, emb_col).mapInPandas(enc, schema=schema)


def _encode_row_block(n_cells: int, n_codes: int, dim: int) -> int:
    """Row-block height for the batched encode kernels: the largest height
    whose widest per-block accumulator (``block × max(n_cells, n_codes,
    dim)`` doubles) stays within the 2^24-double working-set budget (the
    within_group_pairs_np rule). Floor of 1, not a fixed positive floor: a
    fixed floor times a huge index (n_cells=2^20 → 64·2^20 = 2^26 doubles)
    would overshoot the promised budget 4× (r15 advice)."""
    return max(1, (1 << 24) // max(n_cells, n_codes, dim))


def ivfpq_adc_table(
    query_vec: list[float],
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    nprobe: int = 2,
) -> dict[int, "object"]:
    """Per-probed-cell ADC lookup tables for ONE query, as INT64 keys —
    bounded driver math (``nprobe · m · n_codes`` entries, a few KB).

    ``table[cell][j, code] = floor(round9dist · 1e9 + 0.5)`` where
    ``round9dist`` is the round-9 L2 distance between the query's residual
    subvector ``(q − centroid[cell])[j·dsub:(j+1)·dsub]`` and codeword
    ``codebook[j][code]`` — exactly the ``qd`` value :func:`ivfpq_adc_topk`
    computes in-plan and casts to DECIMAL(18,9), represented as the integer
    numerator at scale 9. Summing ``m`` int64 keys per candidate is EXACT
    integer arithmetic equal to the DECIMAL sum scaled by 10^9; dividing the
    int total by 1e9 in float64 (exact inputs below 2^53, one correctly-
    rounded IEEE division) reproduces the DECIMAL→double cast bit-for-bit.
    The squared-diff accumulation runs dim 0..dsub-1 sequentially, replaying
    ``euclid_r9``'s fold order (the :func:`ivfpq_encode_batch` parity
    discipline, same measure-zero HALF_UP caveat)."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebook, dtype=np.float64)
    m, n_codes, dsub = cb.shape
    qv = np.asarray(query_vec, dtype=np.float64)
    if not np.isfinite(qv).all():
        raise PlanError("ivfpq_adc_table: non-finite query component")
    out: dict[int, object] = {}
    for cell in probe_cells_for_query(list(qv), centroids, nprobe):
        qr = qv - cents[cell]
        tab = np.empty((m, n_codes), dtype=np.int64)
        for j in range(m):
            sub = qr[j * dsub : (j + 1) * dsub]
            acc = np.zeros(n_codes)
            for t in range(dsub):  # sequential fold == F.aggregate order
                diff = sub[t] - cb[j, :, t]
                acc += diff * diff
            tab[j] = np.floor(np.sqrt(acc) * 1e9 + 0.5).astype(np.int64)
        out[cell] = tab
    return out


def ivfpq_store_adc_topk(
    stored: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    q_id: int,
    id_col: str = "vec_id",
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """Query the CELL-PARTITIONED code store with a batched numpy ADC kernel
    — the production query path that closes the IVF-PQ family (r14 verdict
    #1): ``sim_ivfpq_store_probe`` proved the store prunes partitions;
    :func:`ivfpq_encode_batch` made ingest numpy-speed; this makes the
    query itself numpy-speed instead of re-deriving assignment + codes
    in-plan like :func:`ivfpq_adc_topk` (measured 110.5 s/query at
    d=768/100k, interpreted-bound — BASELINE.md r14 probe).

    ``stored`` is the encoded corpus ``(id, cell, code0..code{m-1})`` as
    written by :func:`ivfpq_encode_literal` / :func:`ivfpq_encode_batch`;
    read it from a ``partitionBy("cell")`` parquet store so the probe-cell
    filter applied here becomes a PartitionFilters prune (only
    ``nprobe/n_cells`` of the data is listed or scanned). Per candidate row
    the kernel does m int64 table lookups and one add — no float math, no
    join; the only rows that leave a scan task are its top k (the partial
    WindowGroupLimit of the shared :func:`.similarity.top_k_per_query`).
    Output ``(q_id, id, adist)`` is bit-identical to :func:`ivfpq_adc_topk`
    (pytest-pinned): the int64 ADC sum over :func:`ivfpq_adc_table` keys
    equals the in-plan DECIMAL(18,9) sum at scale 9, and the final
    ``total/1e9`` float64 division reproduces the DECIMAL→double cast.

    Mirrors the reference's query-over-registered-store pattern
    (``examples/dataframe/query.rs:118-123``) at index scale."""
    import numpy as np
    import pandas as pd

    tabs = ivfpq_adc_table(query_vec, centroids, codebook, nprobe)
    m = len(codebook)
    code_cols = [f"code{j}" for j in range(m)]
    id_type = stored.schema[id_col].dataType.simpleString()
    schema = f"q_id {id_type}, `{id_col}` {id_type}, adist double"
    probed = sorted(tabs)
    j_idx = None

    def score(batches):
        nonlocal j_idx
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if j_idx is None:
                j_idx = np.arange(m)
            codes = pdf[code_cols].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            total = np.zeros(len(pdf), dtype=np.int64)
            for cell in probed:
                mask = cells == cell
                if not mask.any():
                    continue
                # (rows, m) gather from the (m, n_codes) int64 table, exact
                # integer sum across subspaces
                total[mask] = tabs[cell][j_idx[None, :], codes[mask]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "q_id": np.full(len(pdf), q_id),
                    id_col: pdf[id_col].to_numpy(),
                    "adist": total.astype(np.float64) / 1e9,
                }
            )

    pruned = stored.filter(
        F.col("cell").isin([int(c) for c in probed]) & (F.col(id_col) != q_id)
    )
    scored = pruned.select(id_col, "cell", *code_cols).mapInPandas(
        score, schema=schema
    )
    return top_k_per_query(scored, k, F.col("adist").asc(), F.col(id_col).asc())


def probe_cells_for_query(
    query_vec: list[float], centroids: list[list[float]], nprobe: int = 2
) -> list[int]:
    """The ``nprobe`` cells nearest a query vector by round-9 cosine against
    the literal centroids (cell-id tiebreak) — bounded driver math matching
    the engine-side probe selection, so a reader can turn the probe set into
    a PARTITION FILTER on the cell-partitioned code store."""
    import math

    def _r9_cos(a: list[float], b: list[float]) -> float:
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return round(dot / (math.sqrt(na) * math.sqrt(nb)), 9)

    ranked = sorted(
        ((-_r9_cos(c, query_vec), i) for i, c in enumerate(centroids))
    )
    return [i for _, i in ranked[:nprobe]]
