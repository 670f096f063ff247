"""Deduplication operators for LLM corpora (exact, n-gram Jaccard,
MinHash+LSH, SimHash).

Scale design (the whole point — these must hold at 100 TB):

- **exact**: one shuffle on a 128-bit fingerprint; partial agg map-side.
- **minhash_lsh**: signatures via ONE groupBy over exploded distinct shingles
  (k min-aggregates computed together, map-side combined); candidates via a
  bucket equi-join — never an all-pairs product. Identical-doc floods make
  hot buckets → AQE skew-join handles it (enabled in session defaults).
- **simhash**: candidates via byte-banding (pairs must share one of four
  8-bit bands) — again an equi-join, not a cross join.
- **ngram_jaccard**: exact verification, run only on candidate pairs (its
  all-pairs form exists for tests/oracle at toy scale).

Everything is hash-based on md5 so the DuckDB oracle can replicate the math
exactly; swap in xxhash64 for production speed (same plan shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.iterate import _release, iterate
from ..operators.partitioning import repartition_for_compute

from .text import fingerprint, words
from ..errors import ConvergenceError, PlanError

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows — the long form every hash family consumes.

    Repartitioned by id BEFORE exploding: the shuffle moves compact documents
    (not exploded shingles), spreads the hash computation across all cores
    even when the input is a single parquet file, and HashPartitioning(id)
    already satisfies the downstream per-id groupBys — no second exchange of
    the exploded rows.

    The word array is materialized in its own projection first: expressions
    inside higher-order-function lambdas get NO common-subexpression
    elimination, so inlining ``words(text)`` into the shingle transform would
    re-run the regex split for every array element (~180x per document —
    measured 9s -> 0.6s at sf0.1 for this split alone).
    """
    wordified = (
        repartition_for_compute(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), words(F.lower(F.col(text_col))).alias("__w"))
    )
    w = F.col("__w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(n)]),
    )
    sh = F.array_distinct(F.when(F.size(w) >= n, grams).otherwise(F.array()))
    return wordified.select(F.col(id_col), F.explode(sh).alias("shingle"))


def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    A shingle shared by m documents contributes m² rows to any inverted-index
    self-join — one boilerplate phrase in 10⁶ docs is 10¹² join rows. Capping
    df is the standard MinHash-practice fix: hot shingles carry ~zero
    similarity signal (they are corpus stopwords) but all of the quadratic
    cost. The hot set is small only when ``max_df`` is a sane fraction of the
    corpus (production default: ~10-20% of document count); a tiny cap on a
    huge corpus makes it unbounded, so no broadcast hint is forced here —
    AQE picks broadcast when the aggregated hot set is in fact small.

    Recall trade (document before use): similarity is then computed over the
    capped shingle universe — a pair whose overlap consists ONLY of hot
    shingles is missed, and Jaccard values change where hot shingles made up
    part of a doc's shingle set. With ``max_df`` ≥ corpus size the result is
    exactly the uncapped one.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by canonical-text fingerprint.

    Returns (fp, keeper_id, n_dups): one row per distinct content, keeper =
    min id. One shuffle on the fingerprint; at 100 TB this is the cheapest
    possible dedup pass (and the first one a pipeline should run).
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row per distinct canonical content (min-id wins).

    Implemented as a self-join against the keeper set rather than
    ``dropDuplicates`` so the keeper choice is deterministic (min id), which
    ``dropDuplicates`` does not guarantee.
    """
    keepers = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="inner")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pair similarity)
# ---------------------------------------------------------------------------


def _jaccard_over_shingles(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Jaccard verification over a pre-exploded (id, shingle) frame.

    With ``candidates``, the shingle frame is first semi-joined down to
    candidate documents (typically a tiny fraction of the corpus), so the
    inverted-index intersection join touches only candidate docs' shingles —
    this is what keeps verification cheap after LSH pruning at scale.

    The candidates frame is consumed THREE times below (two semi-joins +
    the final inner join), so it is localCheckpoint-ed first — without it
    the whole upstream candidate pipeline (for MinHash: signatures +
    banding + self-join + distinct) re-executes per consumer (r13 A/B:
    minhash_dedup_pairs 2.34s → 1.30s at sf0.1). eager=False — the first
    downstream action materializes it; it holds only the near-dup pair
    list (bounded by dup density, the same posture as the CC `half`
    checkpoint below).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        candidates = candidates.localCheckpoint(eager=False)
        a = a.join(candidates.select("id_a").distinct(), "id_a", "left_semi")
        b = b.join(candidates.select("id_b").distinct(), "id_b", "left_semi")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["id_a", "id_b"], "inner")
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs.

    Without ``candidates``: pairs are generated from shared shingles (docs
    with no shingle in common never meet — inverted-index join, not a cross
    join). A shingle shared by m docs still contributes m² join rows, so for
    direct (uncandidated) use at scale pass ``max_df`` to drop hot shingles
    (see :func:`cap_shingle_df` for the recall trade). With ``candidates``
    (id_a, id_b): verification runs only on those.
    Returns (id_a, id_b, inter, size_a, size_b, jaccard) with id_a < id_b.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = cap_shingle_df(sh, max_df)
    return _jaccard_over_shingles(sh.cache(), id_col, threshold, candidates)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


#: modulus for the affine min-hash family: smallest prime above 2^32
MINHASH_P = 4_294_967_311


def base_hash32(col: Column, hash_fn: str = "md5") -> Column:
    """32-bit base hash of a string column, selectable implementation.

    ``md5``: first 8 hex chars → long — exactly replicable in the DuckDB
    oracle (``conv(substr(md5(x),1,8),16,10)``), the correctness path.
    ``xxhash64``: JVM-intrinsic xxHash64 masked to 32 bits — ~3× cheaper
    (no hex round-trip, no cryptographic rounds), the production path.
    Both yield uniform values in [0, 2^32); the minhash/simhash math above
    them is identical, so the two paths are statistically equivalent — they
    find the same exact-duplicate pairs (identical shingle sets → identical
    signatures under either hash) and the same near-dup pairs in expectation
    (asserted in tests/test_llm.py).
    """
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 32) - 1))
    raise PlanError(f"base_hash32: unknown hash_fn {hash_fn!r} (md5|xxhash64)")


def band_bucket(cols: list[Column], hash_fn: str = "md5") -> Column:
    """Bucket id for an LSH band slice (hash of the concatenated mins)."""
    joined = F.concat_ws("|", *cols)
    if hash_fn == "xxhash64":
        return F.xxhash64(joined).cast("string")
    return F.md5(joined)


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants of the k affine hash functions
    ``m_s(h) = (a_s * h + b_s) mod P`` over the 32-bit base hash. ``a`` is
    odd and < 2^20, so ``a*h + b`` stays far below 2^63 (no ANSI overflow)."""
    return [
        (((2654435761 * (s + 1)) % (1 << 20)) | 1, (40503 * (s + 7) ** 2) % MINHASH_P)
        for s in range(k)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 16, n: int = 3,
    shingles_df: DataFrame | None = None, hash_fn: str = "md5",
) -> DataFrame:
    """k-permutation MinHash signature per document.

    One base hash per shingle (md5 for oracle replicability, xxhash64 for
    production — see :func:`base_hash32`) → k affine universal hashes
    ``(a_s*h + b_s) mod P`` minimized per document. Integer mins over a
    single hash beat k independent string-md5 mins ~3× while staying exactly
    replicable in the oracle's SQL. All k mins are computed in ONE groupBy
    (map-side partial agg) — a single shuffle of the exploded shingles.
    Returns (id, m0..m{k-1}).
    """
    sh = shingles_df if shingles_df is not None else exploded_shingles(df, id_col, text_col, n)
    based = sh.select(F.col(id_col), base_hash32(F.col("shingle"), hash_fn).alias("__h"))
    aggs = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{s}")
        for s, (a, b) in enumerate(minhash_params(k))
    ]
    return based.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    shingles_df: DataFrame | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """LSH candidate pairs: band the k-wide signature into ``bands`` groups of
    ``k/bands`` rows, bucket per band by hashing the band slice, and
    equi-join docs sharing any (band, bucket). Returns distinct (id_a, id_b),
    id_a < id_b.

    With k=16, b=4 (r=4): P(candidate) = 1-(1-j^4)^4 — ~50% at j≈0.55, >99%
    at j≈0.9 — tuned for near-dup detection. The join is on (band, bucket):
    shuffle volume = docs × bands, never quadratic.
    """
    r = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, n, shingles_df=shingles_df,
                             hash_fn=hash_fn)
    band_cols = [
        band_bucket([F.col(f"m{b * r + i}") for i in range(r)], hash_fn).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(bands)]),
                F.array(*band_cols),
            )
        ).alias("band_idx", "bucket"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "bucket")
    return (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    max_df: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: MinHash-LSH candidates → exact Jaccard
    verification → pairs above threshold. The production 100 TB shape:
    LSH prunes the pair space, exact verification touches only candidate
    docs' shingles. The exploded-shingle frame is computed once and cached —
    signature generation and verification share it. ``hash_fn="xxhash64"``
    is the production base hash (~3× cheaper); md5 is the oracle path.
    ``max_df`` drops corpus-stopword shingles before signatures AND
    verification (recall trade in :func:`cap_shingle_df`) — recommended at
    scale so identical boilerplate can't flood LSH buckets."""
    sh = exploded_shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = cap_shingle_df(sh, max_df)
    sh = sh.cache()
    cands = minhash_lsh_pairs(df, id_col, text_col, k, bands, n, shingles_df=sh,
                              hash_fn=hash_fn)
    return _jaccard_over_shingles(sh, id_col, threshold, candidates=cands)


# ---------------------------------------------------------------------------
# near-dup clustering (connected components) & decontamination
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component =
    the minimum node id reachable through the pair graph — the step that
    turns near-dup PAIRS into droppable GROUPS (keep one doc per component).

    Each round: (1) min-label propagation — every node takes the min of its
    own and its neighbors' labels (one equi-join + one map-side-combinable
    groupBy over the EDGE list, which only holds near-dup pairs and is orders
    of magnitude smaller than the corpus); (2) pointer jumping — every node
    relabels through its label's own label (path halving), so convergence is
    O(log diameter) rounds, not O(diameter). The rounds run through
    :func:`sparkfusion.operators.iterate.iterate`, which checkpoints every
    round's labels once and releases the earlier rounds and the edge list;
    the returned frame is the final round's checkpoint.

    Raises ``RuntimeError`` after ``max_iter`` unconverged rounds rather than
    silently returning partial components.

    Convergence is detected by comparing Σ(component) between rounds: labels
    move monotonically DOWNWARD under min-propagation, so an unchanged sum is
    exactly "no label changed" — one map-side-combinable agg over the already
    materialized frame instead of a full old-vs-new label join per round
    (which shuffled the whole label set again). The sum runs in DECIMAL(38)
    so billions of 64-bit ids cannot overflow.
    """
    # symmetrize in one pass over the (potentially expensive — MinHash/LSH)
    # pair pipeline: a union of two projections of it runs it twice
    # (measured 2x on dedup_minhash_clusters at sf0.1)
    edges = (
        pairs.selectExpr(
            "inline(array(named_struct('s', id_a, 'd', id_b),"
            " named_struct('s', id_b, 'd', id_a)))"
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).head()["s"]

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy(edges["d"].alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: relabel through the component's current label (every
        # component value is itself a node, so the left join always matches)
        roots = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("__root")
        )
        return stepped.join(roots, "component", "left").select(
            "node", F.coalesce("__root", F.col("component")).alias("component")
        )

    sums = [_label_sum(labels)]

    def converged(labels: DataFrame) -> bool:
        # the round's one job: it materializes the lazy checkpoint AND tests
        # convergence — the label sum strictly decreases until fixpoint
        sums.append(_label_sum(labels))
        return sums[-1] == sums[-2]

    labels = iterate(labels, step, max_iter, until=converged, invariants=(edges,))
    if len(sums) > 1 and sums[-1] == sums[-2]:
        return labels
    _release(labels)
    raise ConvergenceError(
        f"connected_components: no convergence in {max_iter} rounds "
        "(component diameter exceeds 2^rounds — raise max_iter or pre-split)"
    )


def cluster_labels(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Label every row of ``df`` with its near-dup cluster: (id, component,
    is_keeper) where component = min reachable id over ``pairs`` and
    singletons keep themselves. The shared labeling step of every
    ``*_clusters`` operator (lexical MinHash, semantic embedding, …)."""
    cc = connected_components(pairs, max_iter).withColumnRenamed("node", id_col)
    return (
        df.select(id_col)
        .join(cc, id_col, "left")
        .select(
            F.col(id_col), F.coalesce("component", F.col(id_col)).alias("component")
        )
        .withColumn("is_keeper", F.col(id_col) == F.col("component"))
    )


def contamination_hits(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Test-set decontamination: corpus documents sharing at least
    ``min_overlap`` distinct word ``n``-gram shingles with ANY benchmark
    document. Returns (id, n_hits) — the flag-and-drop list every training
    pipeline needs before an eval benchmark can be trusted.

    Scale shape: the benchmark shingle set is distinct-deduplicated and tiny
    next to the corpus (benchmarks are thousands of docs, corpora billions),
    so AQE broadcasts it into the corpus shingle stream — a map-side semi
    join + one groupBy on the corpus id; the corpus is never shuffled twice.
    """
    sh_c = exploded_shingles(corpus, id_col, text_col, n)
    sh_b = exploded_shingles(bench, id_col, text_col, n).select("shingle").distinct()
    return (
        sh_c.join(sh_b, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# span-level (sub-document) dedup
# ---------------------------------------------------------------------------


def span_chunks(df: DataFrame, id_col: str, text_col: str, w: int = 10) -> DataFrame:
    """(id, pos, chunk) rows: the document's word stream cut into
    non-overlapping ``w``-word spans (the last span may be shorter).

    This is the unit of SUB-document dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): boilerplate repeats at span
    granularity long before whole documents collide. Word arrays are
    materialized in their own projection (no CSE inside lambdas — see
    :func:`exploded_shingles`), and documents are repartitioned by id before
    exploding so the shuffle moves compact docs, not exploded spans.
    """
    wordified = (
        repartition_for_compute(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), words(F.lower(F.col(text_col))).alias("__w"))
    )
    wcol = F.col("__w")
    n_spans = F.ceil(F.size(wcol) / F.lit(w)).cast("int")
    spans = F.when(F.size(wcol) > 0, F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(wcol, i * w + 1, w)),
    )).otherwise(F.array().cast("array<string>"))
    return wordified.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "chunk")
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, w: int = 10
) -> DataFrame:
    """Sub-document exact dedup: drop every span whose identical content
    already occurred earlier in the corpus (first occurrence by (id, pos)
    wins), then reassemble each document from its surviving spans.

    Returns (id, cleaned_text, n_spans, n_kept) for EVERY input document —
    a fully-boilerplate doc comes back with ``cleaned_text = ''``.

    Scale shape: spans are keyed by a 128-bit md5 fingerprint, so the
    first-occurrence groupBy and the keep-join both shuffle 16-byte keys,
    never the span text; ``min(struct(id, pos))`` is map-side combinable.
    The reassembly groupBy is on the id the frame was already partitioned
    by. md5 keeps the DuckDB oracle replicable; production would swap
    xxhash64 twice-seeded for the same plan shape.
    """
    ch = span_chunks(df, id_col, text_col, w).withColumn(
        "__fp", F.md5(F.col("chunk"))
    )
    first = ch.groupBy("__fp").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("__first")
    )
    kept = (
        ch.join(first, "__fp")
        .filter(
            (F.col(id_col) == F.col("__first.i")) & (F.col("pos") == F.col("__first.p"))
        )
        .select(F.col(id_col), "pos", "chunk")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = span_chunks(df, id_col, text_col, w).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# incremental (batch-vs-corpus) dedup
# ---------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Dedup a NEW ingest batch against an EXISTING corpus — the
    continuous-ingestion shape: a training pipeline never re-dedups the
    whole corpus per day; it checks the day's batch against what it already
    kept. Returns (id, status) for every batch doc: ``exact_dup`` (canonical
    fingerprint already in the corpus), ``near_dup`` (MinHash-LSH candidate
    vs a corpus doc verified at Jaccard ≥ ``threshold``), else ``new``.

    Scale shape: the exact pass is a left-semi join on 128-bit fingerprints
    (corpus side distinct-deduped). The near pass bands BOTH sides'
    signatures but equi-joins batch-bands against corpus-bands ONLY — cost
    ∝ batch × bands + matched buckets, never corpus × corpus (in steady
    state the corpus signature/fingerprint index would be a bucketed table
    written once and reused per batch). Verification joins candidate pairs
    back to both sides' shingles — it touches only candidate docs.
    """
    bfp = batch.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
    cfp = corpus.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    exact_ids = bfp.join(cfp, "__fp", "left_semi").select(id_col)

    bsh = exploded_shingles(batch, id_col, text_col, n).cache()
    csh = exploded_shingles(corpus, id_col, text_col, n).cache()

    def banded(sh_df: DataFrame, side: str) -> DataFrame:
        sig = minhash_signatures(
            None, id_col, text_col, k, n, shingles_df=sh_df, hash_fn=hash_fn
        )
        r = k // bands
        band_cols = [
            band_bucket([F.col(f"m{b * r + i}") for i in range(r)], hash_fn).alias(
                f"band{b}"
            )
            for b in range(bands)
        ]
        return sig.select(
            F.col(id_col).alias(side),
            F.explode(
                F.map_from_arrays(
                    F.array(*[F.lit(b) for b in range(bands)]),
                    F.array(*band_cols),
                )
            ).alias("band_idx", "bucket"),
        )

    cands = (
        banded(bsh, "id_b")
        .join(banded(csh, "id_c"), ["band_idx", "bucket"])
        .select("id_b", "id_c")
        .distinct()
    )
    sz_b = bsh.groupBy(F.col(id_col).alias("id_b")).agg(F.count(F.lit(1)).alias("size_b"))
    sz_c = csh.groupBy(F.col(id_col).alias("id_c")).agg(F.count(F.lit(1)).alias("size_c"))
    inter = (
        cands.join(bsh.select(F.col(id_col).alias("id_b"), "shingle"), "id_b")
        .join(csh.select(F.col(id_col).alias("id_c"), "shingle"), ["id_c", "shingle"])
        .groupBy("id_b", "id_c")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    near_ids = (
        inter.join(sz_b, "id_b")
        .join(sz_c, "id_c")
        .filter(
            F.col("inter")
            / (F.col("size_b") + F.col("size_c") - F.col("inter"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        batch.select(id_col)
        .join(exact_ids.withColumn("__ex", F.lit(True)), id_col, "left")
        .join(near_ids.withColumn("__nr", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__ex"), F.lit("exact_dup"))
            .when(F.col("__nr"), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str, hash_fn: str = "md5") -> DataFrame:
    """32-bit term-frequency-weighted SimHash per document.

    Token hash: :func:`base_hash32` (md5 keeps the oracle replicable;
    ``hash_fn="xxhash64"`` is the production swap). Bit b of the output is set
    iff the tf-weighted vote of token-hash bits is positive — the textbook
    Charikar construction; unweighted voting saturates on shared-vocabulary
    corpora. Plan: token tf groupBy → explode × 32 bit positions → two more
    groupBys — all map-side combinable, final shuffle ∝ docs × 32.
    """
    toks = (
        repartition_for_compute(df.select(F.col(id_col), F.col(text_col)), id_col)
        # ^ parallelize hashing; co-partitions groupBys (explicit count: AQE-coalesce-proof)
        .select(F.col(id_col), F.explode(words(F.lower(F.col(text_col)))).alias("tok"))
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    h = base_hash32(F.col("tok"), hash_fn)
    bits = tf.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        h.alias("h"),
        "tf",
    ).select(
        F.col(id_col),
        "b",
        # dynamic shift amounts need expr form — the python shiftright wrapper
        # only accepts int literals
        F.when(F.expr("shiftright(h, b) & 1") == 1, F.col("tf"))
        .otherwise(-F.col("tf"))
        .alias("contrib"),
    )
    bit_votes = bits.groupBy(id_col, "b").agg(F.sum("contrib").alias("vote"))
    return bit_votes.groupBy(id_col).agg(
        F.sum(
            # 1L: long shift — int 1<<31 would overflow to negative
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, b)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash: byte-band candidate join + Hamming verify.

    A pair within Hamming distance ≤ 6 of a 32-bit hash usually agrees on at
    least one of the four 8-bit bands (pigeonhole guarantees it for
    distance ≤ 3; bands are a recall/cost dial). The candidate join is an
    equi-join on (byte_idx, byte_value) — no cross join at any scale.
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    # cache: the signature frame (one small row per doc) feeds BOTH sides of
    # the byte-band self-join — without it the whole token-explosion pipeline
    # runs twice
    sig = simhash(df, id_col, text_col, hash_fn=hash_fn).cache()
    bytes_df = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("byte_idx"),
    ).withColumn("byte_val", F.expr("shiftright(simhash, byte_idx * 8) & 255"))
    a = bytes_df.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "byte_idx", "byte_val"
    )
    b = bytes_df.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "byte_idx", "byte_val"
    )
    return (
        a.join(b, ["byte_idx", "byte_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
