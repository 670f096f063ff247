"""Text analysis for LLM data pipelines: language-ID, quality scoring, token
counting, document fingerprinting.

Everything here is a pure column expression (`pyspark.sql.functions`) —
whole-stage codegen, no Python workers, linear scaling with executors. At
100 TB these run as a single map-only pass over the corpus (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.iterate import _release, iterate
from ..operators.partitioning import repartition_for_compute
from ..operators.ranks import partition_offsets
from ..errors import PlanError

# Minimal per-language stopword sets for the n-gram/stopword-overlap heuristic.
# Deliberately tiny and deterministic (both engines can evaluate the same
# lists); a production system would load larger lexicons the same way.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "por", "con"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "de", "et", "est", "un", "une", "pour", "que", "dans"),
}

#: BPE-ish tokenizer regex: word pieces, digit runs, single punctuation marks.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def words(col: Column | str) -> Column:
    """Whitespace word split (empty tokens removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")


def word_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count(col: Column | str) -> Column:
    """BPE-ish token count: lowercase, then count word-piece/digit/punct
    matches of :data:`TOKEN_RE` — a cheap deterministic proxy for a real BPE
    tokenizer's token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of distinct stopwords of ``lang`` present in the text."""
    return F.size(
        F.array_intersect(
            words(F.lower(F.col(col) if isinstance(col, str) else col)),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language ID: argmax of per-language distinct-stopword
    hits; ``und`` (undetermined) when no language scores a hit.

    Ties break by language-code order (deterministic). This is the classic
    cheap corpus-filter heuristic (a production stack would swap in fastText
    via a pandas UDF with the same column contract).
    """
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # iterate in reverse so earlier languages win ties via later overwrite
    for lang in sorted(STOPWORDS, reverse=True):
        out = F.when(hits[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("und")).otherwise(out)


def quality_score(col: Column | str) -> Column:
    """Composite document quality score in [0,1]:

    0.25·length_ok + 0.25·(1-punct_ratio) + 0.25·alpha_ratio + 0.25·mean_word_len_ok

    - length_ok: 1 if 20..5000 chars
    - punct_ratio: non-alphanumeric-non-space chars / chars
    - alpha_ratio: alphabetic chars / chars
    - mean_word_len_ok: 1 if mean word length in [3, 10]

    All ratios are exact integer-count divisions → cross-engine deterministic.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    n_alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", "")).cast("double")
    n_words = word_count(c).cast("double")
    mean_wl = F.when(n_words > 0, (n - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    length_ok = F.when((n >= 20) & (n <= 5000), 1.0).otherwise(0.0)
    mwl_ok = F.when((mean_wl >= 3) & (mean_wl <= 10), 1.0).otherwise(0.0)
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    return (
        0.25 * length_ok
        + 0.25 * (1.0 - n_punct / safe_n)
        + 0.25 * (n_alpha / safe_n)
        + 0.25 * mwl_ok
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the canonicalized text
    (lowercased, whitespace collapsed, trimmed). The exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


# PII pre-filter patterns — deliberately simple constructs (character classes,
# bounded repetition) that mean the same thing in Spark's Java regex and the
# oracle's RE2 dialect. A production stack swaps in proper recognizers with
# the same column contract.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_URL_RE = "https?://[^\\s]+"
PII_DIGIT_RUN_RE = "[0-9]{7,}"


def pii_counts(col: Column | str) -> list[Column]:
    """Per-document PII-ish pattern counts (emails, URLs, long digit runs —
    phone/account-number shaped). Pure column expressions: a map-only
    whole-stage-codegen pass, the cheap flag-for-review step before redaction.
    """
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(c, F.lit(PII_URL_RE)).alias("n_urls"),
        F.regexp_count(c, F.lit(PII_DIGIT_RUN_RE)).alias("n_digit_runs"),
    ]


def redact_pii(col: Column | str) -> Column:
    """PII redaction — the rewrite step after :func:`pii_counts` flags.
    URL → ``<URL>`` first (absorbing any digit runs inside URLs), then
    email → ``<EMAIL>``, then long digit runs → ``<NUM>``. Pure nested
    ``regexp_replace`` column expressions: map-only, whole-stage codegen,
    identical semantics in the oracle's RE2 dialect (leftmost
    non-overlapping replace-all)."""
    c = F.col(col) if isinstance(col, str) else col
    red = F.regexp_replace(c, PII_URL_RE, "<URL>")
    red = F.regexp_replace(red, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(red, PII_DIGIT_RUN_RE, "<NUM>")


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals per document:

    - ``n_words`` / ``n_distinct_words`` / ``dup_word_frac``: share of word
      occurrences that are repeats — pure column expressions.
    - ``top_bigram_n`` / ``top_bigram_frac``: share of word-bigram slots taken
      by the single most frequent bigram — boilerplate and template text
      score high. Needs bigram multiplicities, so: one repartition of compact
      docs by id, explode, then two map-side-combinable groupBys already
      co-partitioned by the id — a single shuffle end to end.

    All ratios are single integer→double divisions (cross-engine exact).
    """
    base = repartition_for_compute(df, id_col).select(
        F.col(id_col), words(F.lower(F.col(text_col))).alias("__w")
    )
    counts = base.select(
        id_col,
        F.size("__w").alias("n_words"),
        F.size(F.array_distinct("__w")).alias("n_distinct_words"),
    )
    w = F.col("__w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.get(w, i), F.get(w, i + 1)),
    )
    bi = base.select(
        F.col(id_col),
        F.explode(F.when(F.size(w) >= 2, grams).otherwise(F.array())).alias("bigram"),
    )
    top = (
        bi.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.max("__c").alias("top_bigram_n"),
            F.sum("__c").alias("__n_bigrams"),
        )
    )
    return (
        counts.join(top, id_col, "left")
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            F.when(
                F.col("n_words") > 0,
                F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_word_frac"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
            F.when(
                F.coalesce("__n_bigrams", F.lit(0)) > 0,
                F.col("top_bigram_n") / F.col("__n_bigrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def pack_sequences(
    df, id_col: str, text_col: str, budget: int = 512, num_partitions: int | None = None
):
    """Concat-and-chunk sequence packing: lay every document's tokens end to
    end in ``id_col`` order and cut the stream every ``budget`` tokens — the
    packing step that turns a document corpus into fixed-length training
    sequences. Returns (id, n_tokens, start_off, seq_id, n_seqs): the global
    token offset where the doc starts, the training sequence it starts in,
    and how many sequences it spans (0 for token-less docs).

    Scale shape (no global sort, no single reducer): the compact
    (id, n_tokens) projection goes through
    :func:`~sparkfusion.operators.ranks.partition_offsets` — range-partitioned
    by id so partition p holds a contiguous id span, with the token totals of
    every earlier partition as ``__off_tok`` — and a cumulative sum WITHIN
    each partition (parallel windows) adds the doc's local offset.
    """
    from pyspark.sql import DataFrame, Window

    assert isinstance(df, DataFrame)
    tagged = partition_offsets(
        df.select(
            F.col(id_col), token_count(F.col(text_col)).cast("long").alias("n_tokens")
        ),
        {"tok": F.sum("n_tokens")},
        [F.col(id_col)],
        num_partitions,
    )
    w_cum = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        tagged.withColumn(
            "start_off",
            F.col("__off_tok") + F.coalesce(F.sum("n_tokens").over(w_cum), F.lit(0)),
        )
        .withColumn("seq_id", F.expr(f"start_off div {budget}"))
        .withColumn(
            "n_seqs",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(start_off + n_tokens - 1) div {budget}") - F.col("seq_id") + 1,
            ).otherwise(F.lit(0)),
        )
        .select(id_col, "n_tokens", "start_off", "seq_id", "n_seqs")
    )


def bm25_scores(
    df,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 relevance of every matching document against a bag of query terms
    — the keyword-retrieval primitive (inverted-index search) a corpus
    pipeline runs for decontamination lookups and eval-set mining.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (RSJ +1 form, ≥ 0).

    Scale shape (100 TB posture): one corpus scan computes the word array
    once — document length comes from the same array that feeds the explode,
    and the query-term filter lands BEFORE the tf groupBy, so only candidate
    (doc, term) rows ever shuffle (|query| tiny ⇒ the tf frame is a sliver of
    the corpus). N/avgdl reduce to a 1-row aggregate and per-term df to
    ≤|query| rows; both join back by broadcast. No global sort; callers rank
    with ``orderBy(...).limit(k)`` (TakeOrderedAndProject) when they want
    top-k hits.

    Determinism: tf/df/dl/N are exact integers; avgdl is one double division
    of exact sums; the per-doc score sums ≤ |query| doubles and is rounded to
    6 dp — both engines agree (suite oracle replicates the formula verbatim).
    """
    if not query_terms:
        raise PlanError("bm25_scores: query_terms must be non-empty")
    docs = (
        repartition_for_compute(df, id_col)
        .select(F.col(id_col), words(F.lower(F.col(text_col))).alias("ws"))
        .withColumn("dl", F.size("ws"))
    )
    terms = docs.select(id_col, "dl", F.explode("ws").alias("term")).filter(
        F.col("term").isin([t.lower() for t in query_terms])
    )
    tf = terms.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).withColumn(
        "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn("part", idf * tf_d * F.lit(k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(
            F.round(F.sum("part"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_len: int = 3,
):
    """Per-document top-``k`` keywords by TF-IDF (keyword extraction — the
    tagging/routing primitive a corpus pipeline runs after cleaning).

    tf = term count in the document; idf = ln(N / df) with df = number of
    documents containing the term; score = tf·idf, ranked per document with
    (score DESC, term ASC) so equal scores break deterministically.

    Scale shape (100 TB posture): documents are repartitioned by id BEFORE
    the token explode (growth spreads across the cluster); tf is one groupBy
    on (id, term); df reduces the tf frame again by term (map-side partial
    aggs both times); N is a tiny scalar joined by broadcast; the tf⋈df
    equi-join shuffles on the term key where AQE's skew-join splitting
    handles stopword-like hot terms. Top-k is a per-document window
    (row_number over the id partition) — never a global sort.
    """
    from pyspark.sql import Window

    terms = (
        repartition_for_compute(df, id_col)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= min_len)
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doc_freq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def bpe_pair_counts(df, id_col: str = "doc_id", text_col: str = "text", k: int = 50):
    """Corpus-wide adjacent character-pair frequencies — the candidate-merge
    count that drives one BPE tokenizer-training step (the most frequent
    pair becomes the next merge rule). Distributed shape: documents
    repartition by id BEFORE the word explode, each word emits its
    ``len-1`` overlapping 2-grams via a codegen ``transform(sequence(...))``
    (no Python), the pair groupBy is map-side combinable, and the top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject. Exact integer counts with
    a (count DESC, pair) deterministic tiebreak.

    A full BPE trainer iterates: apply the winning merge, recount. Each
    iteration is this same one-shuffle job over the (cached) word corpus —
    at 100 TB you run it over the word-frequency table (word, count) instead
    of raw text, which this function's word explode reduces to on its first
    aggregation.
    """
    word_freq = repartition_for_compute(df, id_col).select(
        F.explode(words(F.lower(F.col(text_col)))).alias("word"),
        F.lit(1).cast("long").alias("wn"),
    )
    return _ranked_pairs(word_freq).limit(k)


def _ranked_pairs(word_freq: DataFrame) -> DataFrame:
    """``(pair, n)``: the adjacent character pairs of ``(word, wn)``
    weighted by ``wn``, in (n DESC, pair) order."""
    return (
        # single-char words emit no pairs — and Spark's sequence(1, 0) counts
        # DOWN rather than being empty, so the guard is load-bearing
        word_freq.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
            ).alias("pair"),
            "wn",
        )
        .groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
    )


def bpe_train_merges(df, id_col: str, text_col: str, iters: int = 2):
    """Iterative BPE merge TRAINING (the loop :func:`bpe_pair_counts` is one
    step of): repeatedly pick the most frequent adjacent pair (count DESC,
    pair ASC tiebreak), rewrite the corpus with that merge, recount. This
    char-level formulation keeps every merged token a single placeholder
    character (``A``, ``B``, …, disjoint from the lowercase corpus
    alphabet), so "token pair" stays "character pair" and the rewrite is a
    plain ``replace`` with identical leftmost-non-overlapping semantics in
    Spark and the oracle.

    Scale shape — the 100 TB BPE recipe: the raw corpus collapses ONCE into
    the (word, count) frequency table; every iteration then runs over that
    aggregate (pair counts weighted by word frequency), never the raw text.
    Each round is one map-side-combinable groupBy + a 1-row
    TakeOrderedAndProject collect (bounded driver scalar, the sanctioned
    iterative-convergence pattern), and the rewritten frequency table is
    checkpointed once per round (:mod:`sparkfusion.operators.iterate`) so
    lineage cannot accrete across rounds. Returns (merge_rank, pair, n).
    """
    from ..operators.localrel import inline_rows

    spark = df.sparkSession
    merges = _bpe_merges_list(df, id_col, text_col, iters)
    # bounded driver-side list → JVM VALUES relation (no Python-RDD scan;
    # see operators/localrel.py)
    return inline_rows(spark, merges, "merge_rank int, pair string, n bigint")


def _bpe_merges_list(
    df, id_col: str, text_col: str, iters: int
) -> list[tuple[int, str, int]]:
    """The :func:`bpe_train_merges` loop, returning the bounded driver-side
    merge list ``[(rank, pair, n), …]`` for callers that APPLY the merges
    (``bpe_encode_counts``) rather than report them."""
    word_freq = (
        repartition_for_compute(df, id_col)
        .select(F.explode(words(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, int]] = []

    def pick(freq: DataFrame) -> bool:
        # the round's one job: it appends the top pair to `merges` and fills
        # freq's lazy checkpoint; True once training is done
        rows = _ranked_pairs(freq).limit(1).collect()
        if rows:  # none once the corpus is all 1-char words (or empty)
            merges.append((len(merges) + 1, rows[0]["pair"], int(rows[0]["n"])))
        return not rows or len(merges) == iters

    def merge_top(freq: DataFrame) -> DataFrame:
        rank, pair, _n = merges[-1]
        token = F.lit(chr(ord("A") + rank - 1))
        word = F.replace(F.col("word"), F.lit(pair), token)
        return freq.withColumn("word", word).groupBy("word").agg(F.sum("wn").alias("wn"))

    if iters > 0 and not pick(word_freq):
        word_freq = iterate(word_freq, merge_top, iters - 1, until=pick)
    _release(word_freq)
    return merges


def bpe_encode_counts(df, id_col: str = "doc_id", text_col: str = "text", iters: int = 2):
    """Train ``iters`` BPE merges (:func:`bpe_train_merges`) and then ENCODE
    every document with them — the apply half of the tokenizer lifecycle
    (train → encode → count): each learned pair collapses to its placeholder
    char in training order, so a document's BPE token count is simply the
    character length of its rewritten words.

    The encode pass is MAP-ONLY: the merge table is a bounded driver-side
    list embedded as nested ``replace`` literals (exactly how a production
    encoder broadcasts its merge ranks), folded over each doc's word array
    with a sequential ``aggregate`` — no explode, no shuffle beyond the final
    groupBy-free projection. Returns per doc: ``(doc_id, n_words, n_chars,
    n_tokens)`` where n_chars is the pre-merge symbol count and n_tokens the
    post-merge count — their gap is the compression the tokenizer bought.
    """
    merges = _bpe_merges_list(df, id_col, text_col, iters)
    w = words(F.lower(F.col(text_col)))

    def encoded_len(word_col):
        out = word_col
        for i, (_rank, pair, _n) in enumerate(merges):
            out = F.replace(out, F.lit(pair), F.lit(chr(ord("A") + i)))
        return F.length(out)

    int0 = F.lit(0).cast("long")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(w, int0, lambda acc, x: acc + F.length(x)).alias("n_chars"),
        F.aggregate(w, int0, lambda acc, x: acc + encoded_len(x)).alias("n_tokens"),
    )


def url_canonicalize(col: Column | str) -> Column:
    """Canonical URL key for web-corpus dedup/aggregation: lowercase scheme
    and host, strip a ``www.`` prefix and default ``:80``/``:443`` ports,
    drop the fragment and ``utm_*`` tracking parameters, and tidy leftover
    ``?``/``&`` separators. Pure regex column expression (map-only, codegen);
    the patterns use only character classes and bounded alternations so the
    Java-regex and RE2 dialects agree — the key every crawl pipeline groups
    by before exact dedup.
    """
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(c, r"^[A-Za-z]+://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_extract(c, r"^[A-Za-z]+://[^/?#]+([/?#].*)?$", 1)
    rest = F.regexp_replace(rest, r"#.*$", "")          # fragment
    rest = F.regexp_replace(rest, r"utm_[a-z]+=[^&#]*&?", "")  # tracking params
    rest = F.regexp_replace(rest, r"[?&]+$", "")        # dangling separators
    return F.concat(scheme, F.lit("://"), host, rest)


#: fixed alphabet for char-entropy: the 26 letters + space, as one string
ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def char_entropy_bits(col: Column | str) -> tuple[Column, Column]:
    """Character-level Shannon entropy (bits) of the lowercase text over
    :data:`ENTROPY_ALPHABET` — the classic gibberish/compressibility screen
    (natural English sits ~4.0–4.2 bits/char over letters+space; repeated
    boilerplate and key-mashing land far lower/higher).

    MAP-ONLY, no explode: each character's count is the exact integer
    ``length(text) − length(replace(text, c, ''))`` — 27 whole-stage-codegen
    terms — and the entropy sum runs over those 27 terms in FIXED textual
    order, so both engines evaluate the identical double expression tree
    (the only cross-engine wiggle is the last ulp of libm log2, absorbed by
    the caller's round). Returns ``(n_alpha, entropy_bits)`` columns.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    counts = [
        F.length(c) - F.length(F.replace(c, F.lit(ch))) for ch in ENTROPY_ALPHABET
    ]
    n = counts[0]
    for cnt in counts[1:]:
        n = n + cnt
    n_d = n.cast("double")
    ent = F.lit(0.0)
    for cnt in counts:
        p = cnt.cast("double") / n_d
        # 0·log(0) = 0: guard the empty-count terms
        ent = ent + F.when(cnt > 0, -p * F.log2(p)).otherwise(F.lit(0.0))
    return n, ent


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    corpus-linguistics statistic behind multi-word-expression discovery and
    tokenizer-vocabulary curation (collocations like "new york" deserve one
    token; PMI separates them from frequency-only co-occurrence):
    ``pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) )`` with ``p(x,y)`` over adjacent
    bigrams and ``p(x)`` over unigrams.

    Exactness contract: all counts are exact BIGINTs; the probability ratio
    is ONE double expression with pinned operand order
    ``(c_xy·N_uni·N_uni) / (c_x·c_y·N_bi)`` (kept in doubles — the integer
    product overflows BIGINT at corpus scale), one ``ln``, rounded to 6 dp;
    ordering ties break on the bigram text, so the top-k SET is
    cross-engine deterministic.

    Scale shape: bigrams come from a map-only ``slice``+``arrays_zip``+
    ``explode`` (no positional self-join — adjacency is resolved inside the
    row), one groupBy(w1, w2) with map-side combine, two vocab equi-joins
    (AQE-skew-safe; stopword keys are the classic hot keys), scalar totals
    broadcast. No collect, no cross join beyond 1-row broadcasts.
    """
    w = df.select(F.split(F.col(text_col), " ").alias("w"))
    sliced = w.select(
        F.expr("slice(w, 1, size(w)-1)").alias("a1"),
        F.expr("slice(w, 2, size(w)-1)").alias("a2"),
    )
    pairs = (
        sliced.select(F.explode(F.arrays_zip("a1", "a2")).alias("p"))
        .select(F.col("p.a1").alias("w1"), F.col("p.a2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bg_all = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    n_bi = bg_all.agg(F.sum("c_xy").alias("n_bi"))
    uni = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    scored = (
        bg_all.filter(F.col("c_xy") >= min_count)
        .join(uni.select(F.col("word").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("c_x").cast("double") * F.col("c_y") * F.col("n_bi"))
        ),
        6,
    )
    return (
        scored.select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )
