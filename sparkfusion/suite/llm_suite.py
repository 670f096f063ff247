"""LLM-data-pipeline suite: text analysis, dedup families, similarity search,
multimodal plumbing — each oracle-replicated in DuckDB SQL (same md5-based
hash math, same double-precision cosine folds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup, multimodal, similarity, text
from ..session import table
from . import register
from ..operators.partitioning import repartition_for_compute

# shared oracle CTE fragments ------------------------------------------------

# canonical word list of lowercased text (matches llm.text.words ∘ lower)
_W = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '')"

# distinct 3-gram shingles (matches llm.dedup.exploded_shingles n=3)
_SHINGLES_CTE = f"""
docs_w AS (SELECT doc_id, {_W} AS w FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM docs_w
)
"""

def _jaccard_cte(rel: str = "sh", extra: str = "") -> str:
    """Jaccard CTE chain over a shingle relation ``rel`` (default the raw
    ``sh``; ``extra`` appends intermediate CTEs, e.g. a df-capped ``shc``)."""
    return f"""
{_SHINGLES_CTE}{extra},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM {rel} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM {rel} a JOIN {rel} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
         inter / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
"""


_JACCARD_CTE = _jaccard_cte()


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS[lang]) + "]"


@register(
    "text_lang_id",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang,
        len(list_intersect({_W}, {_stop_list('en')})) AS h_en,
        len(list_intersect({_W}, {_stop_list('es')})) AS h_es,
        len(list_intersect({_W}, {_stop_list('de')})) AS h_de,
        len(list_intersect({_W}, {_stop_list('fr')})) AS h_fr
      FROM documents
    )
    SELECT doc_id, lang,
      CASE WHEN greatest(h_en, h_es, h_de, h_fr) <= 0 THEN 'und'
           WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
           WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
           WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
           ELSE 'fr' END AS lang_pred
    FROM hits
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID over ``documents`` (map-only pass,
    pure JVM expressions — no shuffle, no Python)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", text.lang_id("text").alias("lang_pred"))


_QUALITY_SQL = """
    SELECT doc_id,
      0.25 * (CASE WHEN length(text) >= 20 AND length(text) <= 5000 THEN 1.0 ELSE 0.0 END)
      + 0.25 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END))
      + 0.25 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END))
      + 0.25 * (CASE WHEN nw > 0
                      AND (length(text) - (nw - 1.0)) / nw >= 3
                      AND (length(text) - (nw - 1.0)) / nw <= 10
                     THEN 1.0 ELSE 0.0 END) AS quality
    FROM (SELECT doc_id, text,
                 len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != ''))::DOUBLE AS nw
          FROM documents)
    """


@register("text_quality_score", oracle=_QUALITY_SQL)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / punctuation / alpha ratio / mean
    word length) — the corpus-filter heuristic stack."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_W}) AS n_words,
           len(regexp_extract_all(lower(text), '{text.TOKEN_RE}')) AS n_tokens,
           n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace word count + BPE-ish regex token count per document."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.word_count("text").alias("n_words"),
        text.token_count("text").alias("n_tokens"),
        "n_chars",
    )


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized md5 document fingerprint (exact-dedup key)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: one shuffle on the content fingerprint, min-id
    keeper. The first (and cheapest) pass of any 100 TB dedup pipeline."""
    docs = table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTE}
    SELECT id_a, id_b, inter, size_a, size_b, jaccard
    FROM jac WHERE jaccard >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted-index join
    (docs sharing no shingle never meet — no cross join)."""
    docs = table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


def _minhash_oracle(k: int = 16, bands: int = 4, capped: bool = False) -> str:
    """MinHash+LSH oracle; with ``capped`` the whole pipeline (signatures,
    sizes, verification) runs over the df-capped shingle set ``shc`` —
    max_df = corpus_count // 5, the 20%-of-corpus production default."""
    rel = "sh"
    extra = ""
    if capped:
        rel = "shc"
        extra = """,
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING COUNT(*) <= (SELECT COUNT(*) // 5 FROM documents)),
shc AS (SELECT s.doc_id, s.shingle FROM sh s JOIN ok USING (shingle))"""
    r = k // bands
    params = dedup.minhash_params(k)
    mins = ",\n    ".join(
        f"MIN((__h * {a} + {b}) % {dedup.MINHASH_P}) AS m{s}"
        for s, (a, b) in enumerate(params)
    )
    band_exprs = ",\n      ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"m{b * r + i}" for i in range(r))
        + f")) AS band{b}"
        for b in range(bands)
    )
    banded_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS bucket FROM bands"
        for b in range(bands)
    )
    return f"""
    WITH {_jaccard_cte(rel, extra)},
    based AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS __h FROM {rel}
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, {band_exprs}
      FROM sig
    ),
    banded AS (
{banded_union}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT j.id_a, j.id_b, j.inter, j.size_a, j.size_b, j.jaccard
    FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
    """


@register("dedup_minhash_pairs", oracle=_minhash_oracle())
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash(k=16)+LSH(4 bands) near-dup pipeline: signature in one
    groupBy, candidates from a bucket equi-join, exact Jaccard verification
    on candidates only — the production 100 TB shape."""
    docs = table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5
    )


@register("dedup_minhash_capped", oracle=_minhash_oracle(capped=True))
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the production ``max_df`` hot-shingle cap (20% of
    corpus = count // 5): shingles shared by more than a fifth of all
    documents are corpus boilerplate — ~zero similarity signal, all of the
    m² inverted-index cost. On this synthetic corpus no shingle is that hot,
    so the answer equals ``dedup_minhash_pairs`` (the cap's recall trade is
    pinned on an adversarial fixture in tests/test_llm.py); at real-corpus
    scale the cap is what keeps LSH buckets bounded. The corpus count is one
    cheap metadata-only pass (parquet row-count), not a collect."""
    docs = table(spark, sf_dir, "documents")
    max_df = docs.count() // 5
    return dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5, max_df=max_df
    )


_SIMHASH_ORACLE = r"""
WITH docs_w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM docs_w
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
hashed AS (
  SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tf
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END AS contrib
  FROM hashed, (SELECT unnest(generate_series(0, 31)) AS b)
),
votes AS (SELECT doc_id, b, SUM(contrib) AS vote FROM bits GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
),
bytes AS (
  SELECT doc_id, simhash, byte_idx, (simhash >> (byte_idx * 8)) & 255 AS byte_val
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS byte_idx)
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM bytes a JOIN bytes b
    ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cands
WHERE bit_count(xor(sh_a, sh_b)) <= 2
"""


@register("dedup_simhash_pairs", oracle=_SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-weighted SimHash near-dup pairs: 32-bit signatures, byte-band
    candidate equi-join, Hamming ≤ 2 verification."""
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=2)


def _cc_ctes(pairs_sql: str) -> str:
    """Shared connected-components CTE chain (single source of truth for all
    ``*_clusters`` oracles): recursive transitive closure over the pair
    graph; ``comp.__node → component`` = min reachable id — exactly what the
    Spark side's min-label propagation converges to."""
    return f"""pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    walk(n, m) AS (
      SELECT s, d FROM edges
      UNION
      SELECT walk.n, e.d FROM walk JOIN edges e ON walk.m = e.s
    ),
    comp AS (
      SELECT n AS __node, LEAST(n, MIN(m)) AS component FROM walk GROUP BY n
    )"""


def _cc_oracle(pairs_sql: str, src_table: str, id_col: str) -> str:
    """Full cluster-labeling oracle over ``src_table``: every row labeled
    with its component (singletons keep themselves) and a keeper flag."""
    return f"""
    WITH RECURSIVE {_cc_ctes(pairs_sql)}
    SELECT t.{id_col},
           COALESCE(c.component, t.{id_col}) AS component,
           COALESCE(c.component, t.{id_col}) = t.{id_col} AS is_keeper
    FROM {src_table} t LEFT JOIN comp c ON c.__node = t.{id_col}
    """


@register("dedup_minhash_clusters", oracle=_cc_oracle(_minhash_oracle(), "documents", "doc_id"))
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not just pairs): MinHash+LSH pairs → distributed
    connected components (min-label propagation over the pair graph; see
    :func:`sparkfusion.llm.dedup.connected_components`) → every document
    labeled with its cluster's min doc_id and a keep/drop flag. This is the
    operator a training pipeline actually deduplicates with — pairs alone
    don't say which docs to drop when duplicates chain (a~b, b~c)."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5
    ).select("id_a", "id_b")
    return dedup.cluster_labels(docs, "doc_id", pairs)


@register(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    csh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
    SELECT doc_id, COUNT(*) AS n_hits
    FROM csh JOIN bsh USING (shingle)
    GROUP BY doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag corpus docs sharing any word-3-gram
    with the benchmark set (here: every 50th doc plays the benchmark). The
    benchmark shingle set is distinct + tiny → AQE broadcasts it; the corpus
    shuffles once (see :func:`sparkfusion.llm.dedup.contamination_hits`)."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.contamination_hits(corpus, bench, "doc_id", "text", n=3)


@register(
    "text_repetition",
    oracle=f"""
    WITH docs_w AS (SELECT doc_id, {_W} AS w FROM documents),
    counts AS (
      SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_distinct_words
      FROM docs_w
    ),
    bi AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(w) - 1, 0)), i -> w[i] || ' ' || w[i+1]
      )) AS bigram
      FROM docs_w
    ),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    top AS (
      SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams FROM bc GROUP BY doc_id
    )
    SELECT c.doc_id, c.n_words, c.n_distinct_words,
           CASE WHEN c.n_words > 0
                THEN 1.0 - c.n_distinct_words / c.n_words::DOUBLE ELSE 0.0
           END AS dup_word_frac,
           COALESCE(t.top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN COALESCE(t.n_bigrams, 0) > 0
                THEN t.top_bigram_n / t.n_bigrams::DOUBLE ELSE 0.0
           END AS top_bigram_frac
    FROM counts c LEFT JOIN top t USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-word fraction, top-bigram
    share) — the corpus-quality filters that catch boilerplate/template
    text; see :func:`sparkfusion.llm.text.repetition_stats`."""
    docs = table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "doc_id", "text")


#: PII fixture shared verbatim with the oracle's VALUES list (documents.text
#: is synthetic word-salad with zero PII-shaped substrings, which would make
#: an all-zeros oracle row trivially green without exercising the patterns)
_PII_FIXTURE: list[tuple[int, str]] = [
    (1, "contact me at alice@example.com or bob.smith@mail.co today"),
    (2, "see https://example.com/a?b=1 and also http://test.org for details"),
    (3, "call 5551234567 now; ref 12345 is too short to be flagged"),
    (4, "plain text with no identifiers at all"),
    (5, "mixed: carol@site.io at https://x.y.z/path account 99887766554"),
]


@register(
    "text_pii_scan",
    oracle=f"""
    SELECT id,
           len(regexp_extract_all(text, '{text.PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{text.PII_URL_RE}')) AS n_urls,
           len(regexp_extract_all(text, '{text.PII_DIGIT_RUN_RE}')) AS n_digit_runs
    FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in _PII_FIXTURE)}) AS t(id, text)
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-ish pattern counts (emails / URLs / long digit runs) over a
    fixture corpus shared literally with the oracle — proves the regex
    semantics agree across engines; on a real corpus this is the same
    map-only pass over the text column."""
    df = spark.createDataFrame(_PII_FIXTURE, "id int, text string")
    return df.select("id", *text.pii_counts("text"))


@register(
    "text_pii_redact",
    oracle=f"""
    SELECT id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{text.PII_URL_RE}', '<URL>', 'g'),
             '{text.PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{text.PII_DIGIT_RUN_RE}', '<NUM>', 'g') AS redacted
    FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in _PII_FIXTURE)}) AS t(id, text)
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION (the rewrite, not just the scan): URL → <URL>, then
    email → <EMAIL>, then long digit runs → <NUM>, over the fixture corpus
    shared literally with the oracle — the output column is the redacted
    TEXT itself, so a pass proves byte-identical replacement semantics
    across engines, including the ordering interaction (digit runs inside
    URLs must be absorbed by the URL pass, never double-redacted). Same
    map-only column expression on a real corpus. See
    :func:`sparkfusion.llm.text.redact_pii`."""
    df = spark.createDataFrame(_PII_FIXTURE, "id int, text string")
    return df.select("id", text.redact_pii("text").alias("redacted"))


@register(
    "text_corpus_stats",
    oracle=f"""
    WITH wc AS (
      SELECT lang, n_chars, len({_W}) AS nw FROM documents
    ),
    r AS (
      SELECT lang, n_chars, nw,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
             count(*)     OVER (PARTITION BY lang) AS cnt
      FROM wc
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS total_words,
           MAX(CASE WHEN rk = (cnt - 1) // 2 + 1 THEN n_chars END) AS median_lo,
           MAX(CASE WHEN rk = cnt // 2 + 1 THEN n_chars END) AS median_hi,
           MAX(CASE WHEN rk = ((cnt - 1) * 9) // 10 + 1 THEN n_chars END) AS p90_lo,
           MAX(CASE WHEN rk = ((cnt - 1) * 9 + 9) // 10 + 1 THEN n_chars END) AS p90_hi
    FROM r GROUP BY lang
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report: doc counts, total words, EXACT median/p90
    document length as the two STRADDLING rank values (all-integer contract:
    lo = value at 0-indexed rank floor((n-1)·q), hi = at ceil((n-1)·q) —
    interpolation is just their midpoint, but emitting the straddles avoids
    the float fold entirely; the r5 driver hash flip was a 1-ulp
    interpolated-percentile difference at the 6th decimal). One shuffle on
    lang: the rank window sorts within each language partition, same cost
    shape as the exact percentile it replaces."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    wc = docs.select(
        "lang",
        F.col("n_chars"),
        text.word_count("text").alias("nw"),
    )
    lang_w = Window.partitionBy("lang")
    r = wc.select(
        "lang",
        "n_chars",
        "nw",
        F.row_number().over(lang_w.orderBy("n_chars")).alias("rk"),
        F.count(F.lit(1)).over(lang_w).alias("cnt"),
    )

    def at_rank(rank_expr: str, name: str):
        return F.max(
            F.when(F.col("rk") == F.expr(rank_expr), F.col("n_chars"))
        ).alias(name)

    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").alias("total_words"),
        at_rank("(cnt - 1) div 2 + 1", "median_lo"),
        at_rank("cnt div 2 + 1", "median_hi"),
        at_rank("((cnt - 1) * 9) div 10 + 1", "p90_lo"),
        at_rank("((cnt - 1) * 9 + 9) div 10 + 1", "p90_hi"),
    )


@register(
    "o9_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) <
          CASE lang WHEN 'en' THEN '1a' WHEN 'es' THEN '0d' ELSE '06' END
    """,
)
def o9_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language hash-threshold rates
    (en ~10%, es ~5%, rest ~2.3%) — the language-rebalancing primitive for
    corpus mixing. Membership is a pure function of (doc_id, lang): identical
    across runs, engines, and partition layouts, unlike ``sampleBy``. Map-only
    pass, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    threshold = (
        F.when(F.col("lang") == "en", F.lit("1a"))
        .when(F.col("lang") == "es", F.lit("0d"))
        .otherwise(F.lit("06"))
    )
    return docs.select("doc_id", "lang").filter(
        F.md5(F.col("doc_id").cast("string")) < threshold
    )


def _pipeline_clean_oracle() -> str:
    """Composed corpus-clean oracle: quality gate ∩ exact-dedup keepers ∩
    near-dup cluster keepers (signals computed corpus-wide, then applied —
    same composition as the Spark side)."""
    return f"""
    WITH RECURSIVE {_cc_ctes(_minhash_oracle())},
    nearkeep AS (
      SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.__node = d.doc_id
      WHERE COALESCE(c.component, d.doc_id) = d.doc_id
    ),
    fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    exkeep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
    qual AS (SELECT doc_id FROM ({_QUALITY_SQL}) WHERE quality >= 0.5)
    SELECT d.doc_id FROM documents d
    JOIN nearkeep USING (doc_id)
    JOIN exkeep USING (doc_id)
    JOIN qual USING (doc_id)
    """


@register("pipeline_corpus_clean", oracle=_pipeline_clean_oracle())
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composition every training-data
    pipeline runs: quality gate (composite score ≥ 0.5) ∩ exact-dedup
    keepers (min-id per fingerprint) ∩ near-dup cluster keepers (MinHash →
    connected components). Signals are computed corpus-wide in independent
    subtrees sharing the documents scan, then intersected via three
    keeper-set joins — each keeper set is a fraction of the corpus, so at
    scale AQE turns the intersections into broadcast joins against the
    full id list."""
    # four independent subtrees read (doc_id, text) — cache it once
    # (CLAUDE.md posture: cache only frames feeding multiple subtrees).
    # Deliberately NOT repartitioned before the cache: r11 A/B measured
    # repartition(cores, doc_id) at 4.5s → 5.7s here (and 5.97s → 8.72s for
    # pipeline2) — the dedup/text operators repartition internally before
    # their heavy hashing, so the single-split scan stage only carries the
    # cheap projection and the extra shuffle is pure cost. (r14 A/B'd both
    # an eager localCheckpoint and a cache-materializing count() here —
    # neither beat the plain lazy cache outside session noise.)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    qual = (
        docs.select("doc_id", text.quality_score("text").alias("q"))
        .filter(F.col("q") >= 0.5)
        .select("doc_id")
    )
    exkeep = dedup.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5
    ).select("id_a", "id_b")
    nearkeep = (
        dedup.cluster_labels(docs, "doc_id", pairs)
        .filter(F.col("is_keeper"))
        .select("doc_id")
    )
    return (
        docs.select("doc_id").join(qual, "doc_id").join(exkeep, "doc_id").join(nearkeep, "doc_id")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) AS cos
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, sign-bucket banded candidates (the
    100 TB path: equi-join on bucket, never all-pairs). The exact all-pairs
    form (``bits=0``) is retained as a pytest-only recall reference — see
    tests/test_llm.py — and is deliberately NOT registered in the suite.
    Double-precision sequential fold matches DuckDB bit-for-bit. ``bits=4``
    is PINNED here because the oracle SQL is static; the library default
    (``bits=None``) derives bits from the corpus so bucket population stays
    constant — pinned bits went quadratic in the r12 sf1 sweep (15× wall at
    10× data; auto-bits 7.5× faster there, A/B in BASELINE.md)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.45, bits=4)


def _sign_bucket_sql(bits: int, col: str = "embedding", offset: int = 0) -> str:
    """DuckDB twin of :func:`sparkfusion.llm.similarity.sign_bucket` for
    ``bits`` dimensions starting at ``offset`` (1-based array indexing,
    weight 2^i) — multi-band callers pass offset = band·bits for disjoint
    slices, exactly like the Spark side."""
    return "\n           + ".join(
        f"(CASE WHEN {col}[{offset + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


def _cosine_auto_oracle(sf_dir: str) -> str:
    """Oracle for the AUTO-BITS cosine-pair entry: derives bits exactly like
    the library default (ceil(log2(n / target_bucket_size)), clamped to
    [1, 24]) from the embeddings footer row count and generates the
    sign-bucket SQL for THAT width — sf0.01 (n=500) → 1 bit, sf0.1
    (n=2000) → 3 bits (r10 verdict #4: the driver checks the deriving
    path, not a pinned twin)."""
    import math

    from . import table_rows

    n = table_rows(sf_dir, "embeddings")
    bits = max(1, min(24, math.ceil(math.log2(max(2.0, n / 256)))))
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             {_sign_bucket_sql(bits)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) AS cos
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) >= 0.45
    """


@register("dedup_cosine_auto_bits", oracle_fn=_cosine_auto_oracle)
def dedup_cosine_auto_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the LIBRARY DEFAULT
    ``bits=None`` auto-derivation (bucket width scales with the corpus so
    Σ bucket² stays linear — the r12 pinned-bits quadratic fix). The oracle
    is generated at oracle_sql() time with the same derivation from the
    same parquet footer count, so the driver-verified path IS the deriving
    default, with different derived widths at each sf. Candidate recall at
    the derived width is what the library ships; the multi-band recovery
    knob is exercised separately (tests/test_llm.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, bits=None,
        target_bucket_size=256,
    )


@register(
    "dedup_cosine_banded",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             {_sign_bucket_sql(3, offset=0)} AS bucket0,
             {_sign_bucket_sql(3, offset=3)} AS bucket1
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket0 = b.bucket0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket1 = b.bucket1 AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(
             ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(
            ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) >= 0.45
    """,
)
def dedup_cosine_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the MULTI-BAND recall path
    (``bands=2``, disjoint 3-bit sign slices): finer buckets cut candidate
    cost but lose near-neighbors that straddle one sign boundary; band i
    re-buckets on dims [i·bits, (i+1)·bits) and a pair is a candidate if it
    agrees on ANY band — the standard LSH recall-recovery, previously only
    pytest-covered (r14: every library knob the 100 TB path depends on gets
    a driver-verified entry). Candidates are deduplicated BEFORE the exact
    verify so a pair colliding on several bands pays the cosine fold once;
    the oracle's UNION mirrors the distinct. Scale shape: ``bands``
    equi-joins, each linear in rows with corpus-constant bucket population
    when bits derives from n (pinned 3 bits here for the static oracle, the
    same pin-vs-derive contract as ``dedup_embedding_cosine``)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, bits=3, bands=2
    )


@register(
    "dedup_embedding_lsh",
    oracle="""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) AS cos
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) >= 0.4
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with sign-bucket LSH candidate pruning — the 100 TB
    path (pairs only form within a bucket: equi-join, ~1/2^bits of the pair
    space scanned; recall < 1 vs the exact form by design). ``bits=4`` pinned
    for the static oracle; the library auto-scales bits and can buy recall
    back with multi-band unions (see dedup_embedding_cosine's docstring)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.4, bits=4)


_EMB_PAIRS_SQL = """
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 9) >= 0.4
    """


@register(
    "dedup_embedding_clusters",
    oracle=_cc_oracle(_EMB_PAIRS_SQL, "embeddings", "vec_id"),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup CLUSTERS over embeddings: sign-bucket LSH cosine
    pairs (≥0.4) → distributed connected components → per-vector cluster
    label + keep/drop flag. Same CC machinery as the MinHash cluster path —
    the semantic-dedup counterpart a training pipeline pairs with the
    lexical one."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.4, bits=4
    ).select("id_a", "id_b")
    return dedup.cluster_labels(emb, "vec_id", pairs)


@register(
    "p21_json_extract",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k')::INTEGER AS k
    FROM events
    """,
)
def p21_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a text column (inverse of P14 cols→JSON;
    the ``events.props`` payload is the fixture's JSON reference,
    FIXTURES.md §B)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) AS cos
    FROM embeddings e, q
    WHERE e.vec_id != q.q_id
    ORDER BY cos DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (query = vec 0): broadcast query batch +
    per-query ranking, k rows per map task — corpus never shuffles."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=10)


@register(
    "sim_cosine_topk_np",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) AS cos
    FROM embeddings e, q
    WHERE e.vec_id != q.q_id
    ORDER BY cos DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow→numpy BLAS) brute-force top-k — same answer as
    ``sim_cosine_topk``, compute-bound matmul per partition instead of
    per-pair expression folds; the large-corpus scan shape."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return similarity.brute_force_topk_np(emb, q, "vec_id", "embedding", k=10)


@register(
    "sim_multi_query_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, cos FROM (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) DESC,
                        e.vec_id) AS rn
      FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    ) WHERE rn <= 10
    """,
)
def sim_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact top-k (5 queries, one corpus pass): the same
    ``brute_force_topk`` as ``sim_cosine_topk`` with a 5-row query frame —
    the batch broadcasts and every query gets its own top-k, never a global
    sort; the serving-path shape for retrieval workloads."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=10)


@register(
    "sim_ann_topk",
    oracle="""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, bucket FROM bucketed WHERE vec_id = 0)
    SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) AS cos
    FROM bucketed e JOIN q ON e.bucket = q.bucket
    WHERE e.vec_id != q.q_id
    ORDER BY cos DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket ANN top-k: only the query's LSH bucket is ranked
    (~1/16 of the corpus at 4 bits) — the scale path, recall < 1 by design."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return similarity.ann_topk(emb, q, "vec_id", "embedding", k=10, bits=4)


def _rp_oracle(n_planes: int = 4, seed: int = 42, dim: int = 64) -> str:
    planes = similarity.random_hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {p}::DOUBLE[]) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {bucket_terms} AS bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, bucket FROM bucketed WHERE vec_id = 0)
    SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 9) AS cos
    FROM bucketed e JOIN q ON e.bucket = q.bucket
    WHERE e.vec_id != q.q_id
    ORDER BY cos DESC, e.vec_id
    LIMIT 10
    """


@register("sim_rp_ann_topk", oracle=_rp_oracle())
def sim_rp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-k: seeded planes shared verbatim with
    the oracle (6-decimal literals); bucket = sign bits of plane dot
    products. The balanced-bucket production LSH."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return similarity.rp_ann_topk(emb, q, "vec_id", "embedding", k=10, n_planes=4)


@register(
    "sim_ivf_topk",
    oracle="""
    WITH cents AS (
      SELECT CAST(vec_id AS INTEGER) AS cell, embedding
      FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cell FROM cents c
              ORDER BY round(list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 9) ASC,
                       c.cell ASC
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.cell FROM cents c, q
      ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 9) DESC,
               c.cell ASC
      LIMIT 2
    )
    SELECT q.q_id, a.vec_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 9) AS cos
    FROM assigned a JOIN probe p ON a.cell = p.cell CROSS JOIN q
    WHERE a.vec_id <> q.q_id
    ORDER BY cos DESC, a.vec_id
    LIMIT 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-k, deterministic data-derived quantizer (centroids =
    embeddings of vec_id 0..7, nprobe=2) — fully oracle-checkable because
    both engines name the exact same centroid rows. The Lloyd's-trained
    quantizer (:func:`sparkfusion.llm.ivf.ivf_build`) is the production
    trainer; its recall is asserted in tests/test_ivf.py."""
    from ..llm.ivf import ivf_seeded_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return ivf_seeded_topk(emb, q, "vec_id", "embedding", k=10, n_cells=8, nprobe=2)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "mm_media_meta",
    oracle="""
    SELECT doc_id AS media_id, 'txt' AS format, strlen(text) AS n_bytes, doc_id AS source_id
    FROM documents
    """,
)
def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media table: typed metadata struct over binary payloads
    (fields projected out for the oracle — struct hashing is engine-specific)."""
    media = multimodal.to_media_table(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return media.select(
        "media_id",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source_id").alias("source_id"),
    )


@register(
    "mm_decode_features",
    oracle="""
    SELECT doc_id AS media_id,
           (('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 + 1)::INTEGER AS width,
           (('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 + 1)::INTEGER AS height,
           3 AS channels,
           md5(text) AS phash
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ``mapInPandas`` decode pass (deterministic stub decode —
    md5-derived dims; a real PIL/ffmpeg decoder drops into the same
    partition iterator)."""
    media = multimodal.to_media_table(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return multimodal.decode_media(media, decode_stub=True)


@register(
    "mm_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id AS media_id, md5(text) AS digest,
             ('0x' || substr(md5(text), 9, 2))::BIGINT % 64 + 1 AS n_frames
      FROM documents
    )
    SELECT media_id, idx::INTEGER AS frame_idx,
           md5(digest || ':' || idx::VARCHAR) AS frame_hash
    FROM base, unnest(generate_series(0, (n_frames - 1)::BIGINT, 10)) AS t(idx)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1 media row → N frame rows) through
    ``mapInPandas`` — the video-pipeline plumbing shape."""
    media = multimodal.to_media_table(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return multimodal.frame_sample(media, every_n=10, decode_stub=True)


# ---------------------------------------------------------------------------
# Round 6: sub-document span dedup, incremental batch-vs-corpus dedup,
# int8-quantized similarity
# ---------------------------------------------------------------------------

_SPAN_W = 10

_SPAN_CH_CTE = f"""
docs_w AS (SELECT doc_id, {_W} AS w FROM documents),
ch AS (
  SELECT doc_id, u['pos'] AS pos, u['chunk'] AS chunk FROM (
    SELECT doc_id, unnest(list_transform(
      generate_series(1, cast(ceil(len(w) / {_SPAN_W}.0) AS BIGINT)),
      i -> {{'pos': i - 1,
             'chunk': array_to_string(w[(i-1)*{_SPAN_W}+1 : i*{_SPAN_W}], ' ')}})) AS u
    FROM docs_w)
)
"""


@register(
    "dedup_spans",
    oracle=f"""
    WITH {_SPAN_CH_CTE},
    kept AS (
      SELECT doc_id, pos, chunk FROM (
        SELECT doc_id, pos, chunk,
               ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
        FROM ch) WHERE rn = 1
    ),
    agg AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS cleaned_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM ch GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(a.cleaned_text, '') AS cleaned_text,
           COALESCE(t.n_spans, 0) AS n_spans, COALESCE(a.n_kept, 0) AS n_kept
    FROM documents d
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (span-level) exact dedup, Lee et al. style: cut every
    document into 10-word spans, drop spans whose content already occurred
    earlier in the corpus (global first occurrence by (doc_id, pos) wins),
    reassemble the surviving spans per document. Catches boilerplate that
    repeats inside otherwise-distinct documents — whole-doc fingerprints
    never see it. See :func:`sparkfusion.llm.dedup.span_dedup` for the
    16-byte-key shuffle shape."""
    docs = table(spark, sf_dir, "documents")
    return dedup.span_dedup(docs, "doc_id", "text", w=_SPAN_W)


def _incremental_oracle(k: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """Batch-vs-corpus dedup oracle: same md5/affine MinHash math as
    ``_minhash_oracle`` but candidates only straddle the batch (doc_id%10=0)
    / corpus split, plus an exact-fingerprint pass with precedence."""
    r = k // bands
    params = dedup.minhash_params(k)
    mins = ",\n      ".join(
        f"MIN((__h * {a} + {b}) % {dedup.MINHASH_P}) AS m{s}"
        for s, (a, b) in enumerate(params)
    )
    band_exprs = ",\n      ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"m{b * r + i}" for i in range(r))
        + f")) AS band{b}"
        for b in range(bands)
    )
    banded_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS bucket FROM bands"
        for b in range(bands)
    )
    return f"""
    WITH {_SHINGLES_CTE},
    based AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS __h FROM sh
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, {band_exprs}
      FROM sig
    ),
    banded AS (
{banded_union}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_b, b.doc_id AS id_c
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_b, c.id_c, COUNT(*) AS inter
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_b
      JOIN sh b ON b.doc_id = c.id_c AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    near AS (
      SELECT DISTINCT i.id_b AS doc_id FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_b
      JOIN sizes sb ON sb.doc_id = i.id_c
      WHERE i.inter / (sa.sz + sb.sz - i.inter) >= {threshold}
    ),
    fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    ex AS (
      SELECT DISTINCT b.doc_id FROM fp b JOIN fp c ON b.fp = c.fp
      WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status
    FROM documents d
    LEFT JOIN ex e ON e.doc_id = d.doc_id
    LEFT JOIN near n ON n.doc_id = d.doc_id
    WHERE d.doc_id % 10 = 0
    """


@register("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with doc_id%10==0 play today's batch,
    the rest the already-kept corpus. Each batch doc is labeled exact_dup
    (fingerprint already in corpus), near_dup (MinHash-LSH candidate vs a
    corpus doc, Jaccard-verified ≥ 0.5) or new. The LSH join is batch-bands
    × corpus-bands only — never corpus × corpus; see
    :func:`sparkfusion.llm.dedup.incremental_dedup`."""
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.incremental_dedup(batch, corpus, "doc_id", "text")


@register(
    "sim_sq_topk",
    oracle="""
    WITH qz AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(round(greatest(-1.0, least(1.0, x)) * 127.0) AS INT)) AS code
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, code AS q_code FROM qz WHERE vec_id = 0)
    SELECT q.q_id, e.vec_id,
           CAST(list_sum(list_transform(generate_series(1, len(e.code)),
                i -> CAST(e.code[i] AS BIGINT) * q.q_code[i])) AS BIGINT) AS qscore
    FROM qz e, q
    WHERE e.vec_id != q.q_id
    ORDER BY qscore DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized brute-force top-k (query = vec 0): symmetric
    round(clamp(x,±1)*127) codes, ranking by exact INTEGER dot product —
    bit-reproducible across engines, 4× less scan bandwidth than float32.
    Same broadcast-query + per-query ranking plan as
    ``sim_cosine_topk``; production re-scores the shortlist at full
    precision. See :func:`sparkfusion.llm.similarity.sq_topk`."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return similarity.sq_topk(emb, q, "vec_id", "embedding", k=10)


@register(
    "pack_training_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{text.TOKEN_RE}'))::BIGINT AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_off
      FROM t
    )
    SELECT doc_id, n_tokens, start_off,
           (start_off // 512)::BIGINT AS seq_id,
           (CASE WHEN n_tokens > 0
                 THEN (start_off + n_tokens - 1) // 512 - start_off // 512 + 1
                 ELSE 0 END)::BIGINT AS n_seqs
    FROM c
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (budget 512 tokens): every document
    gets its global token start offset, the training sequence it starts in,
    and the number of sequences it spans — the corpus→training-batch step of
    an LLM data pipeline. No global sort: range partitions + per-partition
    cumulative sums + a broadcast #partitions-row offset frame; see
    :func:`sparkfusion.llm.text.pack_sequences`."""
    docs = table(spark, sf_dir, "documents")
    return text.pack_sequences(docs, "doc_id", "text", budget=512)


@register(
    "tfidf_top_terms",
    oracle="""
    WITH terms AS (
      SELECT doc_id, t.term
      FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      WHERE length(t.term) >= 3
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
    ), idf AS (
      SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
             AS score,
           rank
    FROM (
      SELECT tf.*, idf.df, n.n_docs,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(tf AS DOUBLE)
                        * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                        term
             ) AS rank
      FROM tf JOIN idf USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF (keyword extraction for
    tagging/routing). Deterministic rank tiebreak (score DESC, term ASC);
    score emitted rounded to 6 (tf·ln(N/df) — exact integer inputs, one
    libm ln whose sub-ulp engine variance is far below the rounding). See
    :func:`sparkfusion.llm.text.tfidf_top_terms` for the scale shape
    (repartition-before-explode, AQE skew-join on hot terms)."""
    docs = table(spark, sf_dir, "documents")
    out = text.tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        "doc_id", "term", "tf", "df", F.round(F.col("score"), 6).alias("score"), "rank"
    )


@register(
    "er1_fuzzy_name_join",
    oracle="""
    WITH l AS (SELECT c_custkey AS lid, c_name AS lname FROM customer),
    r AS (
      SELECT c_custkey AS rid,
             substr(c_name, 1, CAST(10 + c_custkey % 9 AS INT) - 1) || 'X'
               || substr(c_name, CAST(10 + c_custkey % 9 AS INT) + 1) AS rname
      FROM customer
    ),
    lg AS (
      SELECT DISTINCT lid, substr(lname, CAST(t.g AS INT), 4) AS gram
      FROM l, UNNEST(generate_series(1, length(lname) - 3)) AS t(g)
    ),
    rg AS (
      SELECT DISTINCT rid, substr(rname, CAST(t.g AS INT), 4) AS gram
      FROM r, UNNEST(generate_series(1, length(rname) - 3)) AS t(g)
    ),
    keep AS (
      SELECT gram FROM (
        SELECT gram, count(*) AS c FROM (
          SELECT gram FROM lg UNION ALL SELECT gram FROM rg
        ) GROUP BY 1
      ) WHERE c <= 50
    ),
    cand AS (
      SELECT DISTINCT lid, rid
      FROM (SELECT lid, gram FROM lg JOIN keep USING (gram)) a
      JOIN (SELECT rid, gram FROM rg JOIN keep USING (gram)) b USING (gram)
    )
    SELECT lid AS l_custkey, rid AS r_custkey,
           CAST(levenshtein(lname, rname) AS BIGINT) AS dist
    FROM cand JOIN l USING (lid) JOIN r USING (rid)
    WHERE levenshtein(lname, rname) <= 1
    """,
)
def er1_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: customers fuzzy-joined (edit distance <= 1) against
    a deterministically corrupted copy of themselves (one char replaced by
    'X' at position 10 + key%9 — a synthetic dirty feed). Candidates come
    from a 4-gram inverted-index equi-join with a max_df=50 hot-gram cap (no
    all-pairs path; the oracle mirrors blocking AND verification, so parity
    is exact even though blocking-based ER is recall-approximate by design).
    See :func:`sparkfusion.llm.fuzzy.fuzzy_join`."""
    from ..llm.fuzzy import fuzzy_join

    cust = table(spark, sf_dir, "customer")
    left = cust.select(F.col("c_custkey").alias("l_custkey"), F.col("c_name").alias("lname"))
    right = cust.select(
        F.col("c_custkey").alias("r_custkey"),
        F.concat(
            F.expr("substr(c_name, 1, CAST(10 + c_custkey % 9 AS INT) - 1)"),
            F.lit("X"),
            F.expr("substr(c_name, CAST(10 + c_custkey % 9 AS INT) + 1)"),
        ).alias("rname"),
    )
    out = fuzzy_join(
        left, right, "l_custkey", "lname", "r_custkey", "rname",
        max_dist=1, q=4, max_df=50,
    )
    return out.select("l_custkey", "r_custkey", F.col("dist").cast("long").alias("dist"))


@register(
    "emb_l2_norm",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 9) AS l2_norm
    FROM embeddings
    """,
)
def emb_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding via higher-order functions (transform +
    aggregate fold — pure JVM lambda expressions, no UDF). Both engines fold
    the list SEQUENTIALLY, so the float32→double square-sum is bit-identical
    (array order is part of the data); round(9) guards the sqrt ulp. The
    normalize-before-index step every ANN pipeline needs."""
    emb = table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 9).alias("l2_norm"),
    )


@register(
    "dedup_cluster_best",
    oracle=f"""
    WITH RECURSIVE {{CC}},
    lab AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.__node = d.doc_id
    ),
    q AS ({{QUAL}})
    SELECT component, doc_id AS best_doc, round(quality, 6) AS best_q,
           cluster_size
    FROM (
      SELECT l.component, l.doc_id, q.quality,
             count(*) OVER (PARTITION BY l.component) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY l.component ORDER BY q.quality DESC, l.doc_id
             ) AS rn
      FROM lab l JOIN q USING (doc_id)
    ) WHERE rn = 1
    """.replace("{CC}", _cc_ctes(_minhash_oracle())).replace("{QUAL}", _QUALITY_SQL),
)
def dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection: within each near-dup
    cluster (MinHash → connected components), keep the HIGHEST-quality
    member ((quality DESC, doc_id) tie-break) instead of blindly keeping
    min-id — the difference between dedup that discards the cleanest copy
    and dedup a production corpus pipeline would ship. One window over the
    cluster labels joined with the quality frame."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5
    ).select("id_a", "id_b")
    labels = dedup.cluster_labels(docs, "doc_id", pairs).select("doc_id", "component")
    qual = docs.select("doc_id", text.quality_score("text").alias("quality"))
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    joined = labels.join(qual, "doc_id")
    return (
        joined.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("best_doc"),
            F.round(F.col("quality"), 6).alias("best_q"),
            "cluster_size",
        )
    )


_BM25_TERMS = ("vector", "stream", "filter")


@register(
    "bm25_search",
    oracle=f"""
    WITH dw AS (SELECT doc_id, {_W} AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM dw),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
    ),
    t AS (SELECT doc_id, unnest(w) AS term FROM dw),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM t
      WHERE term IN ('vector', 'stream', 'filter') GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
    SELECT doc_id,
           round(sum(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * CAST(tf AS DOUBLE) * 2.2
             / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
           ), 6) AS bm25,
           count(*) AS n_terms
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) over the corpus for a fixed
    3-term query — inverted-index search scored per matching document. See
    :func:`sparkfusion.llm.text.bm25_scores` for the one-scan scale shape
    (query-term filter before the tf groupBy, broadcast df/avgdl). Exact
    integer tf/df/dl/N; one double division for avgdl; per-doc sum of ≤3
    libm terms rounded to 6 dp (same cross-engine discipline as tfidf)."""
    docs = table(spark, sf_dir, "documents")
    return text.bm25_scores(docs, list(_BM25_TERMS), "doc_id", "text", k1=1.2, b=0.75)


@register(
    "sim_pq_topk",
    oracle="""
    WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cb AS (
      SELECT CAST(c.vec_id AS INTEGER) AS code, js.j, c.v[js.j*16+1 : js.j*16+16] AS csub
      FROM e c, js WHERE c.vec_id < 8
    ),
    subs AS (
      SELECT e.vec_id, js.j, e.v[js.j*16+1 : js.j*16+16] AS sub FROM e, js
    ),
    codes AS (
      SELECT s.vec_id, s.j,
        (SELECT cb.code FROM cb WHERE cb.j = s.j
          ORDER BY round(list_distance(s.sub, cb.csub), 9) ASC, cb.code ASC LIMIT 1) AS code
      FROM subs s
    ),
    dtab AS (
      SELECT s.j, cb.code,
             CAST(round(list_distance(s.sub, cb.csub), 9) AS DECIMAL(18,9)) AS qd
      FROM subs s JOIN cb ON cb.j = s.j
      WHERE s.vec_id = 0
    )
    SELECT 0 AS q_id, c.vec_id, CAST(sum(qd) AS DOUBLE) AS adist
    FROM codes c JOIN dtab ON dtab.j = c.j AND dtab.code = c.code
    WHERE c.vec_id != 0
    GROUP BY c.vec_id
    ORDER BY adist ASC, c.vec_id ASC
    LIMIT 10
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (query = vec 0): 64-dim vectors → 4
    subspace codes against an 8-codeword deterministic codebook, ranked by
    the ADC distance-table sum (DECIMAL-exact). Completes the ANN ladder
    (brute/sign-LSH/RP-LSH/IVF/int8-SQ/PQ) — PQ is the memory-bound regime's
    answer: 64× smaller corpus representation, query-time float math only
    against the m·n_codes codebook. See :mod:`sparkfusion.llm.pq`."""
    from ..llm.pq import pq_adc_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return pq_adc_topk(emb, q, "vec_id", "embedding", m=4, dim=64, n_codes=8, k=10)


@register(
    "neg_pair_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS bkt
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
             md5(CAST(a.doc_id AS VARCHAR) || '_' || CAST(c.doc_id AS VARCHAR)) AS pair_h
      FROM b a JOIN b c ON c.bkt = (a.bkt + 1) % 32
    )
    SELECT anchor_id, neg_id, rk FROM (
      SELECT anchor_id, neg_id,
             ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY pair_h, neg_id) AS rk
      FROM pairs
    ) WHERE rk <= 4
    """,
)
def neg_pair_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative mining: 4 deterministic pseudo-random
    negatives per anchor via md5 bucket-pairing — an equi-join (never a cross
    join), self-pair-free, reproducible across engines/partitionings.
    ``n_buckets=32`` is PINNED here for the static oracle; the library
    default derives n_buckets from the corpus so per-anchor candidate pools
    stay constant (pinned buckets measured 15.6× slower at sf1 — the r12
    pinned-constant class; A/B in BASELINE.md). See
    :func:`sparkfusion.llm.chunking.negative_pairs`."""
    from ..llm.chunking import negative_pairs

    docs = table(spark, sf_dir, "documents")
    return negative_pairs(docs, "doc_id", k=4, n_buckets=32)


def _neg_pair_auto_oracle(sf_dir: str) -> str:
    """Oracle for the AUTO-BUCKETS negative-pair entry: derives n_buckets
    exactly like the library default (max(2, n // (pool_factor·k))) from the
    documents footer row count — sf0.01 (n=500) → 15 buckets, sf0.1
    (n=5000) → 156 (r10 verdict #4)."""
    from . import table_rows

    n = table_rows(sf_dir, "documents")
    nb = max(2, n // (8 * 4))
    return f"""
    WITH b AS (
      SELECT doc_id, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {nb} AS bkt
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
             md5(CAST(a.doc_id AS VARCHAR) || '_' || CAST(c.doc_id AS VARCHAR)) AS pair_h
      FROM b a JOIN b c ON c.bkt = (a.bkt + 1) % {nb}
    )
    SELECT anchor_id, neg_id, rk FROM (
      SELECT anchor_id, neg_id,
             ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY pair_h, neg_id) AS rk
      FROM pairs
    ) WHERE rk <= 4
    """


@register("neg_pair_auto_buckets", oracle_fn=_neg_pair_auto_oracle)
def neg_pair_auto_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-pair mining through the LIBRARY DEFAULT ``n_buckets=None``
    derivation (buckets scale with the corpus so per-anchor candidate pools
    stay constant — the r12 pinned-buckets n²/32 fix). The oracle is
    generated at oracle_sql() time with the same derivation from the same
    parquet footer count, so the driver-verified path IS the deriving
    default. See :func:`sparkfusion.llm.chunking.negative_pairs`."""
    from ..llm.chunking import negative_pairs

    docs = table(spark, sf_dir, "documents")
    return negative_pairs(docs, "doc_id", k=4, n_buckets=None, pool_factor=8)


@register(
    "emb_label_centroid",
    oracle="""
    SELECT label, CAST(t.i - 1 AS INT) AS pos,
           CAST(sum(CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_q,
           count(*) AS n,
           CAST(sum(CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0 AS centroid
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, t.i
    """,
)
def emb_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (class prototypes) via quantize-then-sum:
    BIGINT sums of round(x·1e6) components are associative, so the reduction
    is bit-identical across engines and partitionings — the deterministic
    form of a mean-vector aggregate (a naive double sum is merge-order-
    dependent). See :func:`sparkfusion.llm.similarity.label_centroids`."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb, "label", "embedding")


@register(
    "bpe1_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT unnest({_W}) AS word FROM documents
    ),
    pairs AS (
      SELECT substr(word, CAST(t.i AS INT), 2) AS pair
      FROM w, UNNEST(generate_series(1, length(word) - 1)) AS t(i)
    )
    SELECT pair, count(*) AS n FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe1_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs across the corpus — one BPE
    tokenizer-training merge-count step, distributed (see
    :func:`sparkfusion.llm.text.bpe_pair_counts`). Exact integer counts,
    (n DESC, pair) total order shared with the oracle."""
    docs = table(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, "doc_id", "text", k=50)


@register(
    "bpe2_train_merges",
    oracle=f"""
    WITH w AS (
      SELECT unnest({_W}) AS word FROM documents
    ),
    p1 AS (
      SELECT substr(word, CAST(t.i AS INT), 2) AS pair, count(*) AS n
      FROM w, UNNEST(generate_series(1, length(word) - 1)) AS t(i)
      GROUP BY pair
    ),
    m1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
    w2 AS (SELECT replace(word, (SELECT pair FROM m1), 'A') AS word FROM w),
    p2 AS (
      SELECT substr(word, CAST(t.i AS INT), 2) AS pair, count(*) AS n
      FROM w2, UNNEST(generate_series(1, length(word) - 1)) AS t(i)
      GROUP BY pair
    ),
    m2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1)
    SELECT CAST(1 AS INT) AS merge_rank, pair, CAST(n AS BIGINT) AS n FROM m1
    UNION ALL
    SELECT CAST(2 AS INT), pair, CAST(n AS BIGINT) FROM m2
    """,
)
def bpe2_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (two merge rounds): top pair →
    corpus rewrite with a placeholder char → recount → next merge. The
    genuinely iterative cousin of ``bpe1_pair_counts``, run over the
    (word, count) frequency table with per-round localCheckpoint — the
    distributed loop a real tokenizer build runs. The oracle replays both
    rounds as chained CTEs (identical replace + tiebreak semantics). See
    :func:`sparkfusion.llm.text.bpe_train_merges`."""
    docs = table(spark, sf_dir, "documents")
    return text.bpe_train_merges(docs, "doc_id", "text", iters=2)


@register(
    "mm_ppm_decode",
    oracle="""
    WITH g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
           (SELECT unnest(generate_series(0, 5)) AS y) b
    )
    SELECT doc_id AS media_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
           CAST(sum((x * 7 + y * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 7 + y * 13 + doc_id + 37) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 7 + y * 13 + doc_id + 74) % 256) AS BIGINT) AS sum_b
    FROM documents, g
    GROUP BY doc_id
    """,
)
def mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary image decode, no codec library: every document id gets a
    binary PPM (P6) payload — actual header + RGB24 body bytes — which
    ``mapInPandas`` + numpy parses back to per-channel integer pixel sums.
    The pixel function is pure, so DuckDB's oracle computes the same sums
    analytically over the (x, y) grid: a full binary-container roundtrip
    proven against an engine that never saw the bytes. JPEG/PNG/ffmpeg
    stay behind the documented codec stub (mm_decode_features). See
    :func:`sparkfusion.llm.multimodal.decode_ppm`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.ppm_media_table(docs, "doc_id")
    return multimodal.decode_ppm(media)


@register(
    "mm_png_decode",
    oracle="""
    WITH g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
           (SELECT unnest(generate_series(0, 5)) AS y) b
    )
    SELECT doc_id AS media_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
           CAST(sum((x * 7 + y * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 7 + y * 13 + doc_id + 37) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 7 + y * 13 + doc_id + 74) % 256) AS BIGINT) AS sum_b
    FROM documents, g
    GROUP BY doc_id
    """,
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, stdlib-only: every document id gets a genuine PNG
    payload (8-bit RGB, zlib-compressed IDAT, scanlines written with a
    ROTATING filter type so all five PNG filters — None/Sub/Up/Average/
    Paeth — must be reconstructed), decoded back to exact per-channel pixel
    sums via ``mapInPandas``. The pixel function is shared with
    ``mm_ppm_decode``, so the same analytic oracle verifies this decoder
    without DuckDB ever seeing a PNG byte. Closes VERDICT r5 #8. See
    :func:`sparkfusion.llm.multimodal.decode_png`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.png_media_table(docs, "doc_id")
    return multimodal.decode_png(media)


@register(
    "mm_jpeg_decode",
    oracle="""
    WITH g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 2)) AS x) a,
           (SELECT unnest(generate_series(0, 1)) AS y) b
    )
    SELECT doc_id AS media_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(sum(((x * 7 + y * 13 + doc_id) % 256) * 64) AS BIGINT) AS sum_lum
    FROM documents, g
    GROUP BY doc_id
    """,
)
def mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, numpy + stdlib only: every document id gets
    a genuine JPEG payload (SOF0 grayscale, canonical Huffman tables
    transmitted in DHT, differential DC, byte stuffing) built from 8×8-FLAT
    blocks over an all-ones quant table — the one regime where the float
    DCT→quantize→IDCT pipeline is bit-exact, so per-image luminance sums
    are an analytic function of (media_id, block_x, block_y) DuckDB computes
    without ever seeing a JPEG byte. The full AC/entropy path (nonzero
    coefficients, ZRL runs, gradients, color) is exercised in
    ``tests/test_jpeg.py``. Closes VERDICT r7 item 4. See
    :mod:`sparkfusion.llm.jpeg` and
    :func:`sparkfusion.llm.multimodal.decode_jpeg`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.jpeg_media_table(docs, "doc_id")
    return multimodal.decode_jpeg(media)


@register(
    "mm_wav_decode",
    oracle="""
    WITH s AS (SELECT unnest(generate_series(0, 255)) AS i)
    SELECT doc_id AS media_id, CAST(256 AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           CAST(sum((i * 37 + doc_id * 101) % 65536 - 32768) AS BIGINT) AS sum_pcm
    FROM documents, s
    GROUP BY doc_id
    """,
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, stdlib + numpy only: every document id gets a
    genuine RIFF/WAVE payload (PCM16 mono, validated chunk walk — fmt
    sanity, sizes, 2-byte alignment) whose samples are a pure function of
    (media_id, i), decoded back to exact integer sample sums via
    ``mapInPandas``. Extends the multimodal surface from images to audio
    with the same analytic-oracle strategy. See
    :func:`sparkfusion.llm.multimodal.decode_wav`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.wav_media_table(docs, "doc_id")
    return multimodal.decode_wav(media)


@register(
    "mm_mjpeg_frames",
    oracle="""
    WITH f AS (SELECT unnest([0, 2]) AS frame_idx),
    g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 2)) AS x) a,
           (SELECT unnest(generate_series(0, 1)) AS y) b
    )
    SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(sum(((x * 7 + y * 13 + doc_id + frame_idx * 17) % 256) * 64)
                AS BIGINT) AS sum_lum
    FROM documents, f, g
    GROUP BY doc_id, frame_idx
    """,
)
def mm_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: every document id gets an MJPEG stream
    (literally concatenated baseline JPEGs — the actual motion-JPEG wire
    format), split on SOI/EOI markers (byte stuffing guarantees no false
    EOI inside entropy data), with only every 2nd frame entropy-decoded —
    keyframe-extraction economics. Per-frame luminance sums stay analytic
    because each frame is the flat-block exact regime shifted by
    ``frame_idx * 17``. Upgrades video from the hash stub
    (``mm_frame_sample``) to a decode-proven path. See
    :func:`sparkfusion.llm.multimodal.sample_mjpeg_frames`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.mjpeg_media_table(docs, "doc_id")
    return multimodal.sample_mjpeg_frames(media, every_n=2)


@register(
    "fim1_splits",
    oracle="""
    WITH b AS (
      SELECT doc_id, text, length(text) AS L,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT AS h2
      FROM documents
    ),
    c AS (
      SELECT doc_id, text, L,
             CAST(h1 % greatest(L // 2, 1) + 1 AS INT) AS c1
      FROM b
    ),
    d AS (
      SELECT doc_id, text, L, c1,
             c1 + CAST(h2 % greatest(L - c1 - 1, 1) AS INT) + 1 AS c2
      FROM c JOIN b USING (doc_id, text, L)
    )
    SELECT doc_id,
           CASE WHEN L >= 30 THEN substring(text, 1, c1) ELSE text END AS prefix,
           CASE WHEN L >= 30 THEN substring(text, c1 + 1, c2 - c1) ELSE '' END AS middle,
           CASE WHEN L >= 30 THEN substring(text, c2 + 1) ELSE '' END AS suffix,
           L >= 30 AS is_fim
    FROM d
    """,
)
def fim1_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training splits: deterministic md5-derived
    (prefix, middle, suffix) cuts per document — the span-corruption
    transform infilling pretraining applies, reproducible across engines
    and runs (see :func:`sparkfusion.llm.chunking.fim_splits`). Map-only."""
    from ..llm.chunking import fim_splits

    docs = table(spark, sf_dir, "documents")
    return fim_splits(docs, "doc_id", "text", min_len=30)


@register(
    "url1_canonicalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.Site' || CAST(doc_id % 20 AS VARCHAR)
               || '.COM:443/Path/' || CAST(doc_id AS VARCHAR)
               || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
               || '&utm_campaign=x#frag' AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
               '^www\\.', ''), ':(80|443)$', '') AS host,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([/?#].*)?$', 1),
               '#.*$', ''), 'utm_[a-z]+=[^&#]*&?', '', 'g'), '[?&]+$', '') AS rest
      FROM u
    )
    SELECT doc_id, scheme || '://' || host || rest AS canon_url
    FROM parts
    """,
)
def url1_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the dedup key every web-crawl pipeline derives
    before grouping: case-folds scheme/host, strips www/default ports,
    fragments and utm_* tracking params. Messy URLs are synthesized
    deterministically per doc (uppercase host, :443, utm params mid-query,
    fragment) so both engines normalize the same inputs. See
    :func:`sparkfusion.llm.text.url_canonicalize`."""
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Site"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".COM:443/Path/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=x#frag"),
    )
    return docs.select(
        "doc_id", text.url_canonicalize(url).alias("canon_url")
    )


@register(
    "arr2_set_ops",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_distinct(list_filter({_W}, x -> length(x) <= 4)) AS short_w,
             list_distinct(list_filter({_W}, x -> contains(x, 'a'))) AS a_w
      FROM documents
    )
    SELECT doc_id,
           len(list_distinct(list_concat(short_w, a_w))) AS n_union,
           len(list_intersect(short_w, a_w)) AS n_intersect,
           len(list_filter(short_w, x -> NOT list_contains(a_w, x))) AS n_except,
           len(list_intersect(short_w, a_w)) > 0 AS has_overlap
    FROM w
    """,
)
def arr2_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations (array_union / array_intersect / array_except /
    arrays_overlap — all distinct-semantics): vocabulary overlap between two
    per-document word sets. Compared by SIZE (element order of set results
    is engine-specific, cardinalities are not) — completes the array surface
    next to arr_functions' transform/fold/filter."""
    from ..llm.text import words

    docs = table(spark, sf_dir, "documents")
    w = words(F.lower(F.col("text")))
    short_w = F.array_distinct(F.filter(w, lambda x: F.length(x) <= 4))
    a_w = F.array_distinct(F.filter(w, lambda x: x.contains("a")))
    base = docs.select("doc_id", short_w.alias("s"), a_w.alias("a"))
    return base.select(
        "doc_id",
        F.size(F.array_union("s", "a")).alias("n_union"),
        F.size(F.array_intersect("s", "a")).alias("n_intersect"),
        F.size(F.array_except("s", "a")).alias("n_except"),
        F.arrays_overlap("s", "a").alias("has_overlap"),
    )


@register(
    "lm1_unigram_freq_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
    vocab AS (SELECT word, count(*) AS c FROM ww GROUP BY word),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab)
    SELECT ww.doc_id, count(*) AS n_words,
           CAST(sum((1000000 * v.c) // t.total) AS BIGINT) AS freq_score
    FROM ww JOIN vocab v USING (word) CROSS JOIN tot t
    GROUP BY ww.doc_id
    """,
)
def lm1_unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality proxy, two corpus passes: (1) build
    the corpus vocabulary with occurrence counts, (2) score each document as
    the sum over its word occurrences of the word's corpus frequency in
    integer parts-per-million — floor((1e6·count) / total), all-integer so
    the contract is exact in any engine (the float-logprob variant of this
    statistic is the classic perplexity filter; the integer frequency form
    keeps the oracle deterministic). Scale shape: one groupBy(word) for the
    vocab (map-side combinable), one equi-join words→vocab (AQE handles
    stopword skew), scalar total broadcast — no collect, no cross joins
    beyond the 1-row broadcast."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    return (
        words.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.expr("(1000000 * c) div total")).alias("freq_score"),
        )
    )


#: per-language target shares (ppm) shared by mix1 and pipeline2
_MIX_TARGETS = (
    ("en", 400000),
    ("es", 200000),
    ("de", 150000),
    ("fr", 150000),
    ("zh", 100000),
)

_MIX_TARGET_SQL = "VALUES " + ", ".join(f"('{l}', {p})" for l, p in _MIX_TARGETS)


@register(
    "mix1_corpus_rebalance",
    oracle=f"""
    WITH target(lang, target_ppm) AS (
      {_MIX_TARGET_SQL}
    ),
    actual AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM actual),
    rates AS (
      SELECT a.lang,
             CAST(least(1000000, (t.target_ppm * tt.n) // a.n_l) AS BIGINT)
               AS rate_ppm
      FROM actual a JOIN target t USING (lang) CROSS JOIN tot tt
    )
    SELECT d.doc_id, d.lang, r.rate_ppm
    FROM documents d JOIN rates r USING (lang)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000 < r.rate_ppm
    """,
)
def mix1_corpus_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus MIXTURE rebalancing — the data-mixing step of every training
    pipeline: given per-language target shares (ppm), compute each
    language's keep-rate from its ACTUAL share (rate = target_share ·
    N / n_lang, capped at 1) and select a deterministic hash-threshold
    sample at that rate. All rates are integer ppm and membership is a pure
    md5 function of doc_id, so the sampled corpus is identical across runs,
    engines and partitionings (contrast ``sampleBy``). Unlike the
    fixed-rate o9 sampler, the rates here are DERIVED from the corpus — a
    second aggregation pass broadcast back over the scan; map-only
    otherwise. See :func:`sparkfusion.llm.chunking.rebalance_by_lang`."""
    from ..llm.chunking import rebalance_by_lang

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return rebalance_by_lang(docs, _MIX_TARGETS).select("doc_id", "lang", "rate_ppm")


@register(
    "nov1_shingle_novelty",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST((1000000 * sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def nov1_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY score — the diversity complement of dedup: the
    fraction (integer ppm) of a document's distinct 3-word shingles that
    appear in NO other document. Low novelty = boilerplate/template text
    even when no single near-dup pair exists; mixture builders use it to
    down-weight repetitive sources. Same shingle relation as the MinHash
    family (llm/dedup.py exploded_shingles: repartition by doc BEFORE
    exploding), one groupBy(shingle) for document frequency, one equi-join
    back, one groupBy(doc) — every step bounded-key, no cross join."""
    from ..llm.dedup import exploded_shingles

    docs = table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, "doc_id", "text", n=3)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


def _pipeline2_oracle() -> str:
    """Training-shard pipeline oracle: corpus clean (quality ∩ exact-dedup ∩
    near-dup keepers, same CTEs as pipeline_corpus_clean) → mixture
    rebalance (same rates as mix1, recomputed over the CLEANED corpus) →
    512-token sequence packing (same cumulative layout as
    pack_training_sequences)."""
    return f"""
    WITH RECURSIVE {_cc_ctes(_minhash_oracle())},
    nearkeep AS (
      SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.__node = d.doc_id
      WHERE COALESCE(c.component, d.doc_id) = d.doc_id
    ),
    fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    exkeep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
    qual AS (SELECT doc_id FROM ({_QUALITY_SQL}) WHERE quality >= 0.5),
    kept AS (
      SELECT d.doc_id, d.lang, d.text FROM documents d
      JOIN nearkeep USING (doc_id)
      JOIN exkeep USING (doc_id)
      JOIN qual USING (doc_id)
    ),
    target(lang, target_ppm) AS ({_MIX_TARGET_SQL}),
    actual AS (SELECT lang, count(*) AS n_l FROM kept GROUP BY lang),
    tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM actual),
    rates AS (
      SELECT a.lang,
             CAST(least(1000000, (t.target_ppm * tt.n) // a.n_l) AS BIGINT)
               AS rate_ppm
      FROM actual a JOIN target t USING (lang) CROSS JOIN tot tt
    ),
    samp AS (
      SELECT k.doc_id, k.text FROM kept k JOIN rates r USING (lang)
      WHERE ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 1000000 < r.rate_ppm
    ),
    t AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{text.TOKEN_RE}'))::BIGINT
               AS n_tokens
      FROM samp
    ),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_off
      FROM t
    )
    SELECT doc_id, n_tokens, start_off,
           (start_off // 512)::BIGINT AS seq_id,
           (CASE WHEN n_tokens > 0
                 THEN (start_off + n_tokens - 1) // 512 - start_off // 512 + 1
                 ELSE 0 END)::BIGINT AS n_seqs
    FROM c
    """


@register("pipeline2_training_shards", oracle=_pipeline2_oracle())
def pipeline2_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline, raw corpus → packed shards: clean
    (quality gate ∩ exact-dedup ∩ MinHash-cluster keepers — the
    pipeline_corpus_clean composition), REBALANCE the survivors to the
    target language mixture (rates recomputed over the cleaned corpus, not
    the raw one), then pack the sampled documents into 512-token training
    sequences with global offsets. Every stage is the already-verified
    operator (cluster CC with localCheckpoint, broadcast rates, no-global-
    sort packing) — this entry pins their COMPOSITION against one DuckDB
    query, end to end. The output is exactly what a shard-writer would
    partition by seq_id and serialize."""
    from ..llm.chunking import rebalance_by_lang

    keep = pipeline_corpus_clean(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    kept = docs.join(keep, "doc_id").select("doc_id", "lang", "text")
    # downstream stages evaluate their input MULTIPLE times (rebalance:
    # actual-share counts + the probe; packing: per-partition totals + the
    # offset join) — without materialization each pass re-runs the entire
    # MinHash-CC clean pipeline above. One localCheckpoint of the cleaned
    # corpus bounds that: released on GC, the "cache only frames feeding
    # multiple subtrees" posture.
    kept = kept.localCheckpoint(eager=True)
    sampled = rebalance_by_lang(kept, _MIX_TARGETS).select("doc_id", "text")
    return text.pack_sequences(sampled, "doc_id", "text", budget=512)


@register(
    "qf1_quality_threshold_sweep",
    oracle="""
    WITH scored AS (
      SELECT length(text) AS n_chars,
             (1000 * length(list_distinct(string_split(text, ' '))))
               // greatest(length(string_split(text, ' ')), 1) AS score
      FROM documents
    ),
    b AS (
      SELECT least(score // 100, 9) AS bucket,
             count(*) AS n_docs, sum(n_chars) AS bucket_chars
      FROM scored GROUP BY 1
    )
    SELECT bucket * 100 AS threshold,
           CAST(sum(n_docs) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_kept,
           CAST(sum(bucket_chars) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chars_kept
    FROM b
    ORDER BY threshold
    """,
)
def qf1_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter threshold calibration: for every alpha-ratio score
    decile, how many documents (and characters) survive a `score >= t`
    filter — the sweep a pipeline runs BEFORE committing to a filter
    threshold, so the 100 TB pass happens once, not once per candidate
    threshold. The score is the type-token ratio (distinct words / words,
    the standard repetition filter). One map-only scoring pass (pure column
    expressions, integer arithmetic only: `1000*uniq div words`), one
    10-group aggregation, then a cumulative window over the <=10-row bucket
    frame (post-agg cardinality is grid-bounded, so the unpartitioned
    window is scale-safe)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("text")
    scored = docs.select(
        F.length("text").alias("n_chars"),
        F.expr(
            "(1000 * size(array_distinct(split(text, ' '))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("score"),
    )
    b = (
        scored.select(
            F.least(F.expr("score div 100"), F.lit(9)).alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("bucket_chars"))
    )
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return b.select(
        (F.col("bucket") * 100).alias("threshold"),
        F.sum("n_docs").over(w).alias("docs_kept"),
        F.sum("bucket_chars").over(w).alias("chars_kept"),
    ).orderBy("threshold")


@register(
    "lm2_bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    tt AS (SELECT doc_id, w FROM t WHERE len(w) >= 2),
    b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS bg
      FROM tt
    ),
    v AS (SELECT bg, count(*) AS c FROM b GROUP BY bg),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM v)
    SELECT b.doc_id, count(*) AS n_bigrams,
           CAST(sum((1000000 * v.c) // t.total) AS BIGINT) AS lm_score,
           CAST(sum(CASE WHEN v.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons
    FROM b JOIN v USING (bg) CROSS JOIN tot t
    GROUP BY b.doc_id
    """,
)
def lm2_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality proxy — the 2-gram sibling of
    ``lm1_unigram_freq_score`` and the integer-exact stand-in for the
    classic KenLM-perplexity training-data filter: per document, the sum of
    corpus-frequency (integer ppm, floored) over its adjacent word pairs,
    plus the count of bigrams unique to this document (``n_singletons`` —
    high values flag gibberish/boilerplate the unigram model can't see).
    Bigrams are built JVM-side with ``transform(sequence(...))`` over the
    split-word array (guarded ``size >= 2`` — Spark's ``sequence(1, 0)``
    DESCENDS), exploded AFTER a repartition on doc_id so one hot document
    can't pin a partition. Two corpus passes: groupBy(bg) vocabulary
    (map-side combinable), words->vocab equi-join with the 1-row total
    broadcast — no collect, no cross joins beyond the scalar."""
    docs = table(spark, sf_dir, "documents")
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = (
        repartition_for_compute(
            docs.select("doc_id", w.alias("w")).filter(F.size("w") >= 2), "doc_id"
        )
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bg"),
    )
    vocab = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    return (
        bg.join(vocab, "bg")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("(1000000 * c) div total")).alias("lm_score"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_singletons"),
        )
    )


@register(
    "mm_audio_dft_peak",
    oracle="""
    SELECT doc_id AS media_id, CAST(256 AS INT) AS n_samples,
           CAST(doc_id % 60 + 4 AS INT) AS peak_bin
    FROM documents
    """,
)
def mm_audio_dft_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction: every document id gets a pure-tone
    RIFF/WAVE payload whose frequency sits at DFT bin ``doc_id % 60 + 4``
    (an exact integer number of periods per 256-sample window, so zero
    spectral leakage), and the pipeline recovers that bin by decoding the
    PCM and taking the rfft-magnitude argmax inside ``mapInPandas`` —
    pitch-detection economics over an opaque binary column, the audio twin
    of the image decoders' analytic-oracle strategy. See
    :func:`sparkfusion.llm.multimodal.audio_dominant_freq`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.sine_wav_media_table(docs, "doc_id")
    return multimodal.audio_dominant_freq(media)


@register(
    "mm_image_resize",
    oracle="""
    WITH g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 3)) AS x) a,
           (SELECT unnest(generate_series(0, 2)) AS y) b
    )
    SELECT doc_id AS media_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
           CAST(sum((2*x * 7 + 2*y * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(sum((2*x * 7 + 2*y * 13 + doc_id + 37) % 256) AS BIGINT) AS sum_g,
           CAST(sum((2*x * 7 + 2*y * 13 + doc_id + 74) % 256) AS BIGINT) AS sum_b
    FROM documents, g
    GROUP BY doc_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: decode each 8×6 PPM, nearest-neighbor-downsample
    2× to 4×3, RE-ENCODE through the PPM writer, and re-decode the result —
    the full decode→transform→encode cycle of a thumbnailing / vision
    pre-processing stage over the opaque binary column. Nearest-neighbor
    keeps every output byte an input byte, so the resized sums are the
    analytic pixel function sampled at even coordinates — DuckDB verifies
    the whole cycle without seeing an image. Fills the resize slot of the
    decode / feature-extract / resize / frame-sample multimodal quartet.
    See :func:`sparkfusion.llm.multimodal.resize_ppm`."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.ppm_media_table(docs, "doc_id")
    return multimodal.resize_ppm(media, factor=2)


@register(
    "emb_gram_matrix",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(t.i - 1 AS INT) AS pos,
             CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS qx
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT a.pos AS i, b.pos AS j,
           CAST(sum(a.qx * b.qx) AS DOUBLE) AS dot_q
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY a.pos, b.pos
    """,
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix XᵀX of the corpus embeddings (quantized at
    1e-3) — the one-pass PCA / whitening / covariance building block: per
    Arrow batch a vectorized int64 matmul emits a PARTIAL d×d Gram, and the
    shuffle carries only #batches · d(d+1)/2 partial-sum rows regardless of
    corpus cardinality. Integer partials are associative → bit-identical
    across engines and partitionings; DuckDB verifies via the naive
    per-component self-join it can afford at test scale. See
    :func:`sparkfusion.llm.similarity.gram_matrix` for the 2⁵³-exactness
    budget of the scale choice."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.gram_matrix(emb, "embedding", scale=1000)


def _kmeans_ctes(k: int = 8, iterations: int = 3, scale_pow: int = 6) -> str:
    """Unrolled quantized-Lloyd's CTE chain ending in ``af`` (final
    assignment: vec_id, xq, cid, dist) and ``c{iterations}`` (final
    centroids) — shared by the km1 oracle and the SemDeDup oracle
    (suite/curation_suite.py)."""
    q = 10**scale_pow
    sql = f"""
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(round(x * {q}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             xq AS c
      FROM (SELECT vec_id, xq FROM pts ORDER BY vec_id LIMIT {k})
    )"""

    def assign(name: str, cents: str) -> str:
        return f""", {name} AS (
      SELECT vec_id, xq, cid, dist FROM (
        SELECT vec_id, xq, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM (
          SELECT p.vec_id, p.xq, c.cid,
                 CAST(list_sum(list_transform(generate_series(1, len(p.xq)),
                   j -> (p.xq[j] - c.c[j]) * (p.xq[j] - c.c[j]))) AS BIGINT)
                   AS dist
          FROM pts p CROSS JOIN {cents} c
        )
      ) WHERE rk = 1
    )"""

    for i in range(iterations):
        sql += assign(f"a{i}", f"c{i}")
        sql += f""", u{i} AS (
      SELECT a.cid, t.pos, sum(a.xq[t.pos]) AS s, count(*) AS n
      FROM a{i} a, unnest(generate_series(1, len(a.xq))) AS t(pos)
      GROUP BY a.cid, t.pos
    ), c{i + 1} AS (
      SELECT cid, list(CAST(CASE WHEN s < 0 THEN -((-s) // n)
                                 ELSE s // n END AS BIGINT) ORDER BY pos) AS c
      FROM u{i} GROUP BY cid
      UNION ALL
      SELECT cid, c FROM c{i} WHERE cid NOT IN (SELECT cid FROM u{i})
    )"""
    sql += assign("af", f"c{iterations}")
    return sql


def _kmeans_oracle(k: int = 8, iterations: int = 3, scale_pow: int = 6) -> str:
    return _kmeans_ctes(k, iterations, scale_pow) + f"""
    SELECT s.cid, s.n_points, s.inertia, f.centroid_l1, f.centroid_sq
    FROM (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(dist) AS BIGINT) AS inertia
      FROM af GROUP BY cid
    ) s JOIN (
      SELECT cid, CAST(list_sum(c) AS BIGINT) AS centroid_l1,
             CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)
               AS centroid_sq
      FROM c{iterations}
    ) f USING (cid)
    """


@register("km1_kmeans_quantized", oracle=_kmeans_oracle(8, 3, 6))
def km1_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 3 iterations) over the corpus
    embeddings in QUANTIZED INTEGER space — real iterative clustering whose
    full trajectory the oracle verifies bit-for-bit (ivf.py's MLlib wrapper
    had to settle for a rows-only check because float centroids aren't
    engine-reproducible; integer quantization removes the nondeterminism
    rather than papering over it). Per round: map-only argmin assignment
    against k·d literal centroids (no join, no shuffle), then ONE
    map-side-combinable groupBy producing k×(d+1) aggregate cells (component
    sums via xq[i], never an explode), collected to the driver as bounded
    k·d state — the BPE-trainer pattern. Returns per-cluster size, exact
    integer inertia under the final centroids (DECIMAL(38,0): BIGINT would
    overflow at 1e9 rows), and centroid fingerprints. See
    :func:`sparkfusion.operators.kmeans.kmeans_quantized`."""
    from ..operators.kmeans import kmeans_quantized

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=8, iterations=3, scale=6)


_RAKE_STOPS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")


@register(
    "rake1_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.i AS pos, w[t.i] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE lang = 'en'
      ), unnest(generate_series(1, len(w))) AS t(i)
      WHERE w[t.i] <> ''
    ),
    nonstop AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM toks
      WHERE w NOT IN {_RAKE_STOPS!r}
    ),
    ph AS (
      SELECT doc_id, grp, count(*) AS plen FROM nonstop GROUP BY 1, 2
    ),
    wstat AS (
      SELECT w, count(*) AS freq, sum(plen) AS degree
      FROM nonstop JOIN ph USING (doc_id, grp)
      GROUP BY w
    ),
    scored AS (
      SELECT n.doc_id, n.grp,
             string_agg(n.w, ' ' ORDER BY n.pos) AS phrase,
             sum((s.degree * 1000000) // s.freq) AS score_fp
      FROM nonstop n JOIN wstat s ON s.w = n.w
      GROUP BY n.doc_id, n.grp
    )
    SELECT phrase, CAST(score_fp AS BIGINT) AS score_fp,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM scored GROUP BY phrase, score_fp
    ORDER BY score_fp DESC, phrase LIMIT 10
    """,
)
def rake1_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the English corpus —
    MULTI-WORD key phrases, the gap tfidf_top_terms (single terms) leaves:
    candidate phrases are maximal stopword-free word runs (gaps-and-islands
    on token positions, same trick as gap1_islands), each word scores
    degree/frequency where degree sums the lengths of every phrase
    containing the word, and a phrase scores the sum of its words' scores.
    Scores are quantized to integer (degree·1e6) div freq so the
    cross-engine sum is associative and exact (budget: degree < 9e12 before
    the multiply needs DECIMAL). Scale shape: one posexplode of the token
    stream (repartitioned by doc), one window per doc for the island ids,
    one groupBy for word stats joined back by word (AQE handles vocabulary
    skew), phrase re-assembly groups only within a doc-island — phrase
    length bounds every collect_list. Top-10 phrases, (score, phrase)
    tie-broken."""
    from pyspark.sql import Window

    docs = (
        repartition_for_compute(
            table(spark, sf_dir, "documents").filter(F.col("lang") == "en"),
            "doc_id",
        )
    )
    toks = docs.select(
        "doc_id", F.posexplode(text.words(F.col("text"))).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    nonstop = (
        toks.filter(~F.col("w").isin(*_RAKE_STOPS))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    ph = nonstop.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("plen"))
    wstat = (
        nonstop.join(ph, ["doc_id", "grp"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree"))
    )
    scored = (
        nonstop.join(wstat, "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum(F.expr("(degree * 1000000) div freq")).alias("score_fp"),
        )
    )
    return (
        scored.groupBy("phrase", "score_fp")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("score_fp"), "phrase")
        .limit(10)
    )


@register(
    "text_char_entropy",
    oracle=f"""
    WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
    c AS (
      SELECT doc_id,
             {', '.join(
                 f"length(t) - length(replace(t, '{ch}', '')) AS c{i}"
                 for i, ch in enumerate("abcdefghijklmnopqrstuvwxyz"))},
             length(t) - length(replace(t, ' ', '')) AS c26
      FROM base
    ),
    n AS (
      SELECT doc_id, {' + '.join(f"c{i}" for i in range(27))} AS n_alpha,
             * FROM c
    )
    SELECT doc_id, CAST(n_alpha AS BIGINT) AS n_alpha,
           round({' + '.join(
               f"(CASE WHEN c{i} > 0 THEN -(CAST(c{i} AS DOUBLE) / n_alpha)"
               f" * log2(CAST(c{i} AS DOUBLE) / n_alpha) ELSE 0.0 END)"
               for i in range(27))}, 6) AS entropy_bits
    FROM n WHERE n_alpha > 0
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the
    gibberish/boilerplate screen next to text_repetition and
    text_quality_score. Map-only with NO explode: 27 exact integer
    length-difference counts per row and a FIXED-ORDER 27-term double sum,
    so the engines evaluate the same expression tree and round(…, 6)
    absorbs the last libm-log2 ulp (same tolerance class as the tfidf/BM25
    ln scores). See :func:`sparkfusion.llm.text.char_entropy_bits`.

    The 27 counts cost 54 full string scans per row in ONE map stage — on
    the single-row-group test parquet that stage is one partition, so the
    whole query serialized on one core. ``spread_for_compute`` widens it to
    the session's cores first (plan no-op on an already-wide production
    scan); the exchange carries only (doc_id, text) once, vs 54 scans of
    every text. The ``n_alpha > 0`` gate is applied as the EQUIVALENT
    single-scan predicate ``lower(text) rlike '[a-z ]'`` BEFORE the
    exchange — filtering on the computed column would be pushed below it
    by Catalyst, re-expanding all 27 count terms serially in the
    one-partition scan stage (the same re-expansion that sank the r13
    element_at attempt). n_alpha counts exactly the chars of
    ENTROPY_ALPHABET in lower(text), so ``n_alpha > 0`` ⟺ the text
    contains one of them ⟺ the rlike. r13 A/B: 3.24s → 0.45s."""
    from ..operators.partitioning import spread_for_compute

    docs = spread_for_compute(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.lower(F.col("text")).rlike("[a-z ]")),
        "doc_id",
    )
    n, ent = text.char_entropy_bits("text")
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_alpha"),
        F.round(ent, 6).alias("entropy_bits"),
    )


@register(
    "dedup_source_matrix",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle()}),
    lab AS (SELECT doc_id, source FROM documents),
    m AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b,
             count(*) AS n_pairs
      FROM pairs p
      JOIN lab sa ON sa.doc_id = p.id_a
      JOIN lab sb ON sb.doc_id = p.id_b
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM m)
    SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST((1000000 * n_pairs) // t.total AS BIGINT) AS share_ppm
    FROM m CROSS JOIN tot t
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: MinHash near-dup pairs rolled up
    by unordered (source_a, source_b) — the governance readout that says
    which ingest feeds duplicate each other (off-diagonal mass) vs merely
    themselves (diagonal). Pure composition: the pair relation is exactly
    dedup_minhash_pairs' banded pipeline; the rollup adds two broadcast
    label joins and a 25-cell aggregate, so the matrix costs nothing beyond
    the dedup the pipeline already runs."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", k=16, bands=4, n=3, threshold=0.5
    ).select("id_a", "id_b")
    lab = docs.select("doc_id", "source")
    m = (
        pairs.join(
            F.broadcast(lab.select(F.col("doc_id").alias("id_a"),
                                   F.col("source").alias("sa"))), "id_a")
        .join(
            F.broadcast(lab.select(F.col("doc_id").alias("id_b"),
                                   F.col("source").alias("sb"))), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        # the ≤|sources|²-cell matrix feeds BOTH the grand total and the
        # final projection — materialize it so the banded MinHash pipeline
        # underneath runs once, not twice (r10 A/B, same shape as er2)
        .localCheckpoint(eager=False)
    )
    tot = m.agg(F.sum("n_pairs").alias("total"))
    return m.crossJoin(F.broadcast(tot)).select(
        "source_a", "source_b", "n_pairs",
        F.expr("(1000000 * n_pairs) div total").alias("share_ppm"),
    )


@register(
    "mm_header_probe",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
                ELSE 'jpeg' END AS codec,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 8 * (1 + (doc_id // 3) % 3)
                     ELSE 4 + doc_id % 5 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 8 * (1 + (doc_id // 3) % 2)
                     ELSE 3 + doc_id % 4 END AS INT) AS height
    FROM documents
    """,
)
def mm_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADER-ONLY metadata probe over a MIXED-format binary media column
    (PPM / PNG / JPEG by magic bytes, per-id varied dimensions): the cheap
    routing/filtering scan a 100 TB media pipeline runs before paying for
    any full decode — O(header bytes) per blob vs O(pixels), and it is the
    pass that decides WHICH blobs the mm_*_decode operators ever see. The
    oracle knows the builders' dimension rules analytically, so the parse
    of all three container headers (PPM ASCII triple, PNG IHDR, JPEG
    marker walk to SOF) is verified without DuckDB touching a single blob.
    See :func:`sparkfusion.llm.multimodal.probe_headers`."""
    # no outer repartition: mixed_media_table spreads the bare ids itself
    # (rows-capped — see multimodal._ids_spread), so an exchange here would
    # be immediately re-shuffled away (r14)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.mixed_media_table(docs, "doc_id")
    return multimodal.probe_headers(media)


@register(
    "pipeline3_media_triage",
    oracle="""
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    g AS (
      SELECT doc_id, w, h, t.x, u.y
      FROM p,
           UNNEST(generate_series(0, w - 1)) AS t(x),
           UNNEST(generate_series(0, h - 1)) AS u(y)
    )
    SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((x * 7 + y * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(sum((x * 7 + y * 13 + doc_id + 37) % 256) AS BIGINT) AS sum_g,
           CAST(sum((x * 7 + y * 13 + doc_id + 74) % 256) AS BIGINT) AS sum_b
    FROM g GROUP BY doc_id, w, h
    """,
)
def pipeline3_media_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-then-decode media TRIAGE as one DAG — the economics the header
    probe exists for: sniff every blob's codec/dimensions at O(header)
    cost, then pay the O(pixels) decode ONLY for the selected subset (here
    the PPM third of a mixed PPM/PNG/JPEG column; a real pipeline selects
    by codec support, size band, or dimensions). The blob column is
    localCheckpoint-ed so payload synthesis runs once across the probe and
    the decode branch. Oracle: the analytic pixel sums over each selected
    blob's VARIABLE (4+id%5 × 3+id%4) grid — DuckDB verifies the routed
    decode without seeing a byte."""
    # no outer repartition — see mm_header_probe (r14)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.mixed_media_table(docs, "doc_id").localCheckpoint(
        eager=False
    )
    probed = multimodal.probe_headers(media)
    selected = (
        probed.filter(F.col("codec") == "ppm")
        .select("media_id")
        .join(media, "media_id")
    )
    return multimodal.decode_ppm(selected)


_ER2_THRESHOLD = 0.4


@register(
    "er2_tfidf_cosine_linkage",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_W} AS ws FROM documents
    ),
    lsh AS (
      SELECT doc_id AS lid,
             ws[CAST(t.i AS INT)] || \' \' || ws[CAST(t.i AS INT) + 1]
               || \' \' || ws[CAST(t.i AS INT) + 2] AS word
      FROM d, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    r0 AS (
      SELECT doc_id AS rid, list_filter(ws, (x, i) -> i % 7 != 0) AS ws
      FROM d
    ),
    rsh AS (
      SELECT rid,
             ws[CAST(t.i AS INT)] || \' \' || ws[CAST(t.i AS INT) + 1]
               || \' \' || ws[CAST(t.i AS INT) + 2] AS word
      FROM r0, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    cap AS (SELECT 2 * count(*) // 5 AS max_df FROM documents),
    dfc AS (
      SELECT word, count(*) AS df FROM (
        SELECT DISTINCT word, lid AS id FROM lsh
        UNION ALL
        SELECT DISTINCT word, rid FROM rsh
      ) GROUP BY word
    ),
    keep AS (
      SELECT word, CAST(floor(1000000 / sqrt(df)) AS BIGINT) AS iw
      FROM dfc CROSS JOIN cap WHERE df <= max_df
    ),
    lv AS (
      SELECT lid, word, CAST(count(*) * iw AS BIGINT) AS w
      FROM lsh JOIN keep USING (word) GROUP BY lid, word, iw
    ),
    rv AS (
      SELECT rid, word, CAST(count(*) * iw AS BIGINT) AS w
      FROM rsh JOIN keep USING (word) GROUP BY rid, word, iw
    ),
    lnm AS (SELECT lid, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nl FROM lv GROUP BY lid),
    rnm AS (SELECT rid, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nr FROM rv GROUP BY rid),
    dots AS (
      SELECT lid, rid, sum(a.w * b.w) AS dot
      FROM lv a JOIN rv b USING (word) GROUP BY lid, rid
    )
    SELECT lid, rid, round(CAST(dot AS DOUBLE) / nl / nr, 9) AS cos
    FROM dots JOIN lnm USING (lid) JOIN rnm USING (rid)
    WHERE round(CAST(dot AS DOUBLE) / nl / nr, 9) >= {_ER2_THRESHOLD}
    """,
)
def er2_tfidf_cosine_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted SHINGLE-vector cosine RECORD LINKAGE: documents
    joined against a synthetic dirty feed (every 7th word dropped, then
    re-shingled) on sparse integer tf·(1e6 div df) 3-gram vectors — the
    similarity that scales past er1\'s single-edit budget to long,
    partially-missing strings, and the weighted complement of the
    unweighted-Jaccard dedup family (same shingle relation, rarity-aware
    score). Candidates come from the inverted-index shingle join with a
    20%-of-corpus fraction df cap (absolute caps go degenerate when the SF
    grows — the er1/neg_pair lesson), dot products are exact BIGINT, the
    cosine is one round-9 double expression, and the floor(1e6/√df) IDF
    surrogate keeps libm out of the oracle (√ is IEEE-exact). See
    :func:`sparkfusion.llm.fuzzy.weighted_word_cosine_join`."""
    from ..llm.fuzzy import weighted_word_cosine_join

    docs = table(spark, sf_dir, "documents")
    max_df = 2 * docs.count() // 5  # fraction cap: bounded scalar, one action

    def sh(ws_col):
        return F.expr(
            f"CASE WHEN size({ws_col}) >= 3 THEN"
            f" transform(sequence(1, size({ws_col}) - 2),"
            f" i -> concat({ws_col}[i - 1], \' \', {ws_col}[i], \' \',"
            f" {ws_col}[i + 1]))"
            f" ELSE array() END"
        )

    base = repartition_for_compute(docs, "doc_id").select(
        "doc_id", text.words(F.lower(F.col("text"))).alias("ws")
    )
    lw = base.select(
        F.col("doc_id").alias("lid"), F.explode(sh("ws")).alias("word")
    )
    rw = (
        base.select(
            F.col("doc_id").alias("rid"),
            F.filter("ws", lambda x, i: (i + 1) % 7 != 0).alias("ws"),
        )
        .select("rid", F.explode(sh("ws")).alias("word"))
    )
    return weighted_word_cosine_join(
        lw, rw, "lid", "word", "rid", "word",
        max_df=max_df, threshold=_ER2_THRESHOLD,
    )


@register(
    "pmi1_collocations",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    pr AS (
      SELECT p[1] AS w1, p[2] AS w2
      FROM (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM w)
      WHERE p[1] <> '' AND p[2] <> ''
    ),
    bg_all AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM pr GROUP BY w1, w2),
    nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bg_all),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni)
    SELECT b.w1, b.w2, b.c_xy,
           round(ln((CAST(b.c_xy AS DOUBLE) * nu.n_uni * nu.n_uni)
                    / (CAST(u1.c AS DOUBLE) * u2.c * nb.n_bi)), 6) AS pmi
    FROM bg_all b
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    CROSS JOIN nu CROSS JOIN nb
    WHERE b.c_xy >= 5
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 50
    """,
)
def pmi1_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocation mining over the documents corpus — see
    :func:`sparkfusion.llm.text.pmi_collocations` for the statistic, the
    exactness contract (BIGINT counts, one pinned-order double ratio, ln,
    round-6, bigram-text tiebreak) and the 100 TB shape (map-only in-row
    bigram explode, two AQE-safe vocab equi-joins, broadcast totals).
    Complements tfidf/bm25 (term salience) and rake1 (per-doc keywords)
    with the CORPUS-level multi-word-expression readout."""
    docs = table(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, "text", min_count=5, k=50)


# Shared by sim_ivfpq_topk (in-plan composite) and sim_ivfpq_batch_probe
# (pruned-store numpy kernel): the two paths compute the SAME top-10 by
# construction — storage layout, partition pruning and the int64 table
# kernel change what is read and how it is summed, never what is true.
_IVFPQ_ADC_TOPK_SQL = """
    WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cvec FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cell FROM cents c
              ORDER BY round(list_distance(e.v, c.cvec), 9) ASC, c.cell ASC
              LIMIT 1) AS cell
      FROM e
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(list_zip(a.v, c.cvec), p -> p[1] - p[2]) AS r
      FROM assigned a JOIN cents c ON c.cell = a.cell
    ),
    cb AS (
      SELECT CAST(r.vec_id - 8 AS INTEGER) AS code, js.j,
             r.r[js.j*16+1 : js.j*16+16] AS csub
      FROM resid r CROSS JOIN js WHERE r.vec_id >= 8 AND r.vec_id < 16
    ),
    subs AS (
      SELECT r.vec_id, r.cell, js.j, r.r[js.j*16+1 : js.j*16+16] AS sub
      FROM resid r CROSS JOIN js
    ),
    codes AS (
      SELECT s.vec_id, s.cell, s.j,
        (SELECT cb.code FROM cb WHERE cb.j = s.j
          ORDER BY round(list_distance(s.sub, cb.csub), 9) ASC, cb.code ASC
          LIMIT 1) AS code
      FROM subs s
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT c.cell, q.q_id,
             list_transform(list_zip(q.qv, c.cvec), p -> p[1] - p[2]) AS qr
      FROM cents c CROSS JOIN q
      ORDER BY round(list_cosine_similarity(c.cvec, q.qv), 9) DESC, c.cell ASC
      LIMIT 2
    ),
    dtab AS (
      SELECT p.cell, p.q_id, js.j, cb.code,
             CAST(round(list_distance(p.qr[js.j*16+1 : js.j*16+16], cb.csub), 9)
                  AS DECIMAL(18,9)) AS qd
      FROM probe p CROSS JOIN js JOIN cb ON cb.j = js.j
    )
    SELECT d.q_id, c.vec_id, CAST(sum(d.qd) AS DOUBLE) AS adist
    FROM codes c JOIN dtab d ON d.cell = c.cell AND d.j = c.j AND d.code = c.code
    WHERE c.vec_id <> d.q_id
    GROUP BY d.q_id, c.vec_id
    ORDER BY adist ASC, c.vec_id ASC
    LIMIT 10
    """


@register("sim_ivfpq_topk", oracle=_IVFPQ_ADC_TOPK_SQL)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual ANN top-k (query = vec 0, nprobe 2 of 8 cells, 4×16-dim
    residual subspaces, 8 codewords) — the FAISS-IndexIVFPQ composition that
    tops the ANN ladder: coarse cells bound the scan, residual PQ codes bound
    the memory, ADC bounds the query math. Deterministic end-to-end because
    both engines name the same centroid rows (ids 0–7) and the same residual
    codebook rows (ids 8–15); every distance rounds to 9 dp, ADC sums in
    DECIMAL. See :func:`sparkfusion.llm.pq.ivfpq_adc_topk` for the 100 TB
    posture (broadcast centroids/codebook, cell-partitioned codes, sliver
    shuffles only)."""
    from ..llm.pq import ivfpq_adc_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return ivfpq_adc_topk(
        emb, q, "vec_id", "embedding",
        n_cells=8, nprobe=2, m=4, dim=64, n_codes=8, k=10,
    )


@register(
    "ret1_rrf_fusion",
    oracle=f"""
    WITH dw AS (SELECT doc_id, {_W} AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM dw),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
    ),
    t AS (SELECT doc_id, unnest(w) AS term FROM dw),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM t
      WHERE term IN ('vector', 'stream', 'filter') GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    bm AS (
      SELECT doc_id,
             round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * CAST(tf AS DOUBLE) * 2.2
               / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ), 6) AS bm25
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    ),
    btop AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
    brank AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a
      FROM btop
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cs AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 9) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
    ),
    ctop AS (SELECT vec_id, cos FROM cs ORDER BY cos DESC, vec_id LIMIT 100),
    crank AS (
      SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_b
      FROM ctop
    )
    SELECT coalesce(br.doc_id, cr.vec_id) AS id, br.rank_a, cr.rank_b,
           round(coalesce(CAST(1 AS DOUBLE) / (60 + br.rank_a), 0)
                 + coalesce(CAST(1 AS DOUBLE) / (60 + cr.rank_b), 0), 9) AS rrf
    FROM brank br FULL OUTER JOIN crank cr ON br.doc_id = cr.vec_id
    ORDER BY rrf DESC, id
    LIMIT 20
    """,
)
def ret1_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking (the bm25_search query) fused
    with embedding-cosine ranking (the sim_cosine_topk scan, docs keyed by
    vec_id) via reciprocal-rank fusion — the production RAG pattern where
    lexical and semantic retrievers vote by rank, not by incomparable
    scores. Both sides are cut to their top-100 candidates by distributed
    heaps (TakeOrderedAndProject for BM25, the per-query ranker for the
    cosine scan) — the corpus is never globally sorted; ranks come from a row_number over the tiny candidate frame;
    the fusion is a full outer join of two ≤100-row frames. See
    :func:`sparkfusion.llm.similarity.rrf_fuse` for the determinism
    contract (integer ranks, pinned-order double sum, round-9, id ties)."""
    from pyspark.sql import Window

    from ..llm.similarity import brute_force_topk, rrf_fuse

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    bm = text.bm25_scores(docs, list(_BM25_TERMS), "doc_id", "text", k1=1.2, b=0.75)
    btop = bm.orderBy(F.col("bm25").desc(), "doc_id").limit(100)
    brank = btop.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("rank_a"),
    )
    q = emb.filter(F.col("vec_id") == 0)
    ctop = brute_force_topk(emb, q, "vec_id", "embedding", k=100)
    crank = ctop.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), "vec_id"))
        .cast("long")
        .alias("rank_b"),
    )
    return rrf_fuse(brank, crank, id_col="id", k0=60, k=20)


@register(
    "mm_scene_cut",
    oracle="""
    WITH f AS (SELECT unnest(generate_series(0, 3)) AS frame_idx),
    g AS (
      SELECT a.x, b.y
      FROM (SELECT unnest(generate_series(0, 2)) AS x) a,
           (SELECT unnest(generate_series(0, 1)) AS y) b
    ),
    s AS (
      SELECT doc_id AS media_id, frame_idx,
             CAST(sum(((x * 7 + y * 13 + doc_id + frame_idx * 17) % 256) * 64)
                  AS BIGINT) AS sum_lum
      FROM documents, f, g
      GROUP BY doc_id, frame_idx
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, sum_lum,
           sum_lum - lag(sum_lum) OVER w AS lum_delta,
           CASE WHEN abs(sum_lum - lag(sum_lum) OVER w) > 30000
                THEN TRUE ELSE FALSE END AS is_cut
    FROM s
    WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
    """,
)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection over the REAL MJPEG decode path: every
    frame entropy-decoded (mm_mjpeg_frames samples every 2nd; a cut detector
    needs consecutive frames), then per-stream frame-to-frame luminance
    delta with a fixed threshold — the shot-boundary heuristic video
    curation pipelines run before sampling training frames. Frame 0 of each
    stream has no predecessor (NULL delta, is_cut=false by the CASE's NULL
    comparison semantics — identical in both engines). The decode is
    mapInPandas batch work; the lag window partitions per media stream, so
    it distributes — no global order. Luminance sums stay analytic (the
    flat-block exact regime), keeping the full pipeline oracle-checkable."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.mjpeg_media_table(docs, "doc_id")
    frames = multimodal.sample_mjpeg_frames(media, every_n=1)
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    delta = F.col("sum_lum") - F.lag("sum_lum").over(w)
    return frames.select(
        "media_id",
        "frame_idx",
        "sum_lum",
        delta.alias("lum_delta"),
        F.when(F.abs(delta) > 30000, F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_cut"),
    )


@register(
    "sim_ivfpq_store_probe",
    oracle="""
    WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cell, v AS cvec FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cell FROM cents c
              ORDER BY round(list_distance(e.v, c.cvec), 9) ASC, c.cell ASC
              LIMIT 1) AS cell
      FROM e
    ),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(list_zip(a.v, c.cvec), p -> p[1] - p[2]) AS r
      FROM assigned a JOIN cents c ON c.cell = a.cell
    ),
    cb AS (
      SELECT CAST(r.vec_id - 8 AS INTEGER) AS code, js.j,
             r.r[js.j*16+1 : js.j*16+16] AS csub
      FROM resid r CROSS JOIN js WHERE r.vec_id >= 8 AND r.vec_id < 16
    ),
    subs AS (
      SELECT r.vec_id, r.cell, js.j, r.r[js.j*16+1 : js.j*16+16] AS sub
      FROM resid r CROSS JOIN js
    ),
    codes AS (
      SELECT s.vec_id, s.cell, s.j,
        (SELECT cb.code FROM cb WHERE cb.j = s.j
          ORDER BY round(list_distance(s.sub, cb.csub), 9) ASC, cb.code ASC
          LIMIT 1) AS code
      FROM subs s
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0),
    probe AS (
      SELECT c.cell FROM cents c CROSS JOIN q
      ORDER BY round(list_cosine_similarity(c.cvec, q.qv), 9) DESC, c.cell ASC
      LIMIT 2
    )
    SELECT vec_id, cell,
           max(CASE WHEN j = 0 THEN code END) AS code0,
           max(CASE WHEN j = 1 THEN code END) AS code1,
           max(CASE WHEN j = 2 THEN code END) AS code2,
           max(CASE WHEN j = 3 THEN code END) AS code3
    FROM codes WHERE cell IN (SELECT cell FROM probe)
    GROUP BY vec_id, cell
    """,
)
def sim_ivfpq_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ STORAGE contract made real: the encoded corpus is written
    as parquet PARTITIONED BY cell (what "at 100 TB the probe is a
    partition-pruned scan" means operationally), then the query's two probe
    cells — picked by the same bounded driver math that derived the index
    params — become a partition FILTER on the read, so Spark lists and
    scans only 2 of 8 cell directories (PartitionFilters, pinned in
    tests/test_plans.py). Oracle = the batch encode restricted to the
    probed cells: storage layout and probe pruning change WHAT IS READ,
    never what is true. Completes the IVF-PQ trilogy: query-time composite
    (sim_ivfpq_topk), streaming ingest (stream_ivfpq_ingest), pruned store
    (this).

    r13: encodes with the numpy batch kernel (bit-parity with the literal
    encoder pinned in tests/test_pq.py — sim_ivfpq_topk remains the
    literal/oracle twin), and the query vector is taken from the derived
    params (vec_id 0 IS centroid 0 — the cells are trained on ids
    [0, n_cells)), cutting a whole first() action.

    ACCEPTED RISK (r13 advisor): the batch kernel's float64
    ``floor(d·1e9 + 0.5)`` distance key has a measure-zero divergence from
    the JVM BigDecimal HALF_UP round-9 the literal encoder computes — a
    distance landing EXACTLY on a half-boundary could pick a different
    (equidistant) code than DuckDB's round-9. Same risk class the md5/
    xxhash twins already accept and document; the corpus embeddings are
    8-decimal-quantized so no half-boundary distance has been observed
    (tests/test_pq.py asserts full-corpus encode parity every run)."""
    import os

    from ..llm.pq import (
        derive_ivfpq_params,
        ivfpq_encode_batch,
        probe_cells_for_query,
    )
    from .sources_suite import IO_DIR

    emb = table(spark, sf_dir, "embeddings")
    cents, cb = derive_ivfpq_params(emb)
    codes = ivfpq_encode_batch(emb, cents, cb)
    path = os.path.join(IO_DIR, "ivfpq_codes")
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)
    qv = list(cents[0])
    probed = probe_cells_for_query(qv, cents, nprobe=2)
    stored = spark.read.parquet(path)
    return stored.filter(F.col("cell").isin(probed)).select(
        "vec_id", F.col("cell").cast("int").alias("cell"),
        "code0", "code1", "code2", "code3",
    )


@register("sim_ivfpq_batch_probe", oracle=_IVFPQ_ADC_TOPK_SQL)
def sim_ivfpq_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF-PQ query path end-to-end (r14 verdict #1): encode
    the corpus with the numpy batch encoder, write it partitioned by cell,
    then answer the query by reading ONLY the probed partitions and scoring
    candidates with the int64 ADC table kernel
    (:func:`sparkfusion.llm.pq.ivfpq_store_adc_topk`) — m integer lookups +
    one add per candidate, no float math, no join, no shuffle. Same oracle
    as ``sim_ivfpq_topk``: the store layout, partition pruning and batch
    kernel change what is read and how it is summed, never the top-10 (the
    int64 keys ARE the DECIMAL(18,9) numerators the in-plan path sums;
    bit-parity with ``ivfpq_adc_topk`` is pinned in tests/test_pq.py). The
    r15 d=768 probe measures this path vs the 110.5 s/query in-plan number
    (BASELINE.md)."""
    import os

    from ..llm.pq import (
        derive_ivfpq_params,
        ivfpq_encode_batch,
        ivfpq_store_adc_topk,
    )
    from .sources_suite import IO_DIR

    emb = table(spark, sf_dir, "embeddings")
    cents, cb = derive_ivfpq_params(emb)
    codes = ivfpq_encode_batch(emb, cents, cb)
    path = os.path.join(IO_DIR, "ivfpq_codes_batch")
    codes.write.mode("overwrite").partitionBy("cell").parquet(path)
    # vec_id 0 IS centroid 0 (cells train on ids [0, n_cells)) — reuse the
    # derived params instead of a second collect action (r13)
    qv = list(cents[0])
    stored = spark.read.parquet(path).select(
        "vec_id", F.col("cell").cast("int").alias("cell"),
        "code0", "code1", "code2", "code3",
    )
    return ivfpq_store_adc_topk(
        stored, qv, cents, cb, q_id=0, id_col="vec_id", nprobe=2, k=10
    )
