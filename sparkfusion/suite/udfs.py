"""UDF suite (SURVEY.md §2.10): scalar UDF, SQL-registered UDF,
struct-returning UDF, and the full 1BRC pipeline in both UDF and pure-builtin
forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    register_split_text,
    split_row_builtin,
    split_row_pandas_udf,
    split_text_builtin,
)
from ..session import star_sql, table
from . import register


@register(
    "x1_udf_split_text",
    oracle="SELECT p_partkey, split_part(p_type, ' ', 1) AS first_word FROM part",
)
def x1_udf_split_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar UDF Utf8→Utf8 (X1).

    Reference: ``create_udf("split_text", ...)`` invoked through the expr API
    at ``examples/udf/udf.rs:17-59``. Arrow-batched pandas UDF — the Spark
    analog of the reference's whole-array processing.
    """
    from ..functions.udfs import make_split_text_pandas_udf

    split_text = make_split_text_pandas_udf(" ")
    return table(spark, sf_dir, "part").select(
        "p_partkey", split_text("p_type").alias("first_word")
    )


@register(
    "x2_udf_sql_registered",
    oracle="SELECT p_partkey, split_part(p_type, ' ', 1) AS first_word FROM part",
)
def x2_udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF registered into the SQL catalog (X2; reference
    ``ctx.register_udf`` → ``select split_text(name) from t``,
    ``examples/udf/udf.rs:96-106``)."""
    register_split_text(spark, "split_text", " ")
    return star_sql(spark, sf_dir, "SELECT p_partkey, split_text(p_type) AS first_word FROM {part}")


@register(
    "f7_split_builtin",
    oracle="SELECT p_partkey, split_part(p_type, ' ', 1) AS first_word FROM part",
)
def f7_split_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics with zero Python: ``F.split(c)[0]`` in whole-stage
    codegen (SURVEY.md §2.8 F7) — the production default."""
    return table(spark, sf_dir, "part").select(
        "p_partkey", split_text_builtin("p_type", " ").alias("first_word")
    )


_1BRC_ORACLE = """
WITH packed AS (
  SELECT event_type || ';' || CAST(value AS VARCHAR) AS raw FROM events
), parsed AS (
  SELECT split_part(raw, ';', 1) AS city,
         CAST(split_part(raw, ';', 2) AS DOUBLE) AS temperature
  FROM packed
)
SELECT city,
       MIN(temperature) AS min_t,
       MAX(temperature) AS max_t,
       MEDIAN(temperature) AS median_t
FROM parsed
GROUP BY city
ORDER BY city
LIMIT 100
"""


def _packed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → single 'city;temp' text column, the 1BRC input shape
    (reference fixture: headerless semicolon CSV,
    ``examples/algo/one_billion_row_challenge.rs:13-112``)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.col("event_type"), F.lit(";"), F.col("value").cast("string")).alias("raw")
    )


@register("x3_udf_struct_1brc", oracle=_1BRC_ORACLE)
def x3_udf_struct_1brc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 1BRC pipeline with a struct-returning pandas UDF (X3):
    parse 'city;temp' → struct{city,temperature} → get_field → GROUP BY city
    min/max/median → ORDER BY → LIMIT.

    Reference: ``split_row`` UDF + query at
    ``examples/algo/one_billion_row_challenge.rs:125-214``.
    """
    parsed = _packed_events(spark, sf_dir).select(
        split_row_pandas_udf("raw").alias("s")
    )
    return (
        parsed.select(
            F.col("s").getField("city").alias("city"),
            F.col("s").getField("temperature").alias("temperature"),
        )
        .groupBy("city")
        .agg(
            F.min("temperature").alias("min_t"),
            F.max("temperature").alias("max_t"),
            F.median("temperature").alias("median_t"),
        )
        .orderBy("city")
        .limit(100)
    )


@register("algo_1brc_csv_pipeline", oracle=_1BRC_ORACLE)
def algo_1brc_csv_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COMPLETE 1BRC shape end-to-end: headerless
    single-column CSV on disk → ``register_csv`` with DataFusion column
    naming → struct parse → get_field → GROUP BY min/max/median → ORDER BY →
    LIMIT (``examples/algo/one_billion_row_challenge.rs:115-219``)."""
    import os

    from ..sources import read_csv_no_header

    path = "/tmp/sparkfusion_io/brc_csv"
    _packed_events(spark, sf_dir).write.mode("overwrite").text(path)
    raw = read_csv_no_header(spark, path, schema="column_1 string")
    parsed = raw.select(split_row_builtin("column_1").alias("s"))
    return (
        parsed.select("s.city", "s.temperature")
        .groupBy("city")
        .agg(
            F.min("temperature").alias("min_t"),
            F.max("temperature").alias("max_t"),
            F.median("temperature").alias("median_t"),
        )
        .orderBy("city")
        .limit(100)
    )


@register("x3_builtin_struct_1brc", oracle=_1BRC_ORACLE)
def x3_builtin_struct_1brc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 1BRC pipeline with the pure-builtin struct parse — no Python
    worker round-trip; the perf-sane default (SURVEY.md §7 order-of-work 5).
    """
    parsed = _packed_events(spark, sf_dir).select(split_row_builtin("raw").alias("s"))
    return (
        parsed.select("s.city", "s.temperature")
        .groupBy("city")
        .agg(
            F.min("temperature").alias("min_t"),
            F.max("temperature").alias("max_t"),
            F.median("temperature").alias("median_t"),
        )
        .orderBy("city")
        .limit(100)
    )


@register(
    "x5_udf_iter_scoring",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != ''))
             * 0.5 AS score
    FROM documents
    """,
)
def x5_udf_iter_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF — the batch-inference shape: the
    "model" (a deterministic stub) loads once per TASK, then scores every
    Arrow batch of that partition; a plain pandas UDF reloads per batch,
    which at 100 TB with a real checkpoint dominates the job. Score =
    whitespace token count × 0.5, so DuckDB replicates it exactly.
    Load-once-per-partition is accumulator-pinned in tests/test_udfs.py.
    See :func:`sparkfusion.functions.udfs.make_iter_scoring_udf`."""
    from ..functions.udfs import make_iter_scoring_udf

    docs = table(spark, sf_dir, "documents")
    score = make_iter_scoring_udf()
    return docs.select("doc_id", score(F.col("text")).alias("score"))


@register(
    "x6_grouped_map_normalize",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS m
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, m,
             round(quantile_cont(abs(value - m), 0.5), 6) AS d
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, m
    )
    SELECT e.event_type, e.event_id, e.value,
           CASE WHEN d > 0 THEN round((e.value - m) / d, 9) ELSE 0.0 END AS z
    FROM events e JOIN mad USING (event_type)
    """,
)
def x6_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas operator (``groupBy().applyInPandas``): per-
    event_type robust (median/MAD) z-scores computed inside pandas — the
    custom-per-group-algorithm escape hatch, proven end to end against the
    pure-SQL expression of the same statistic. See
    :func:`sparkfusion.functions.grouped.grouped_robust_normalize` (and its
    note that expressions are preferred when semantics allow)."""
    from ..functions.grouped import grouped_robust_normalize
    from ..session import events_with_ts

    return grouped_robust_normalize(events_with_ts(spark, sf_dir))


@register(
    "x7_cogroup_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'
    )
    SELECT p.user_id, count(*) AS n_purchases,
           CAST(sum(CASE WHEN EXISTS (
                 SELECT 1 FROM v
                 WHERE v.user_id = p.user_id
                   AND v.t >= p.t - 3600000000 AND v.t < p.t)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
    FROM p GROUP BY p.user_id
    """,
)
def x7_cogroup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas operator (``cogroup().applyInPandas``): per-user
    purchases and views arrive co-partitioned as two pandas frames; counts
    purchases with a view in the preceding hour — custom two-sided alignment
    logic, oracle-checked against the windowed-EXISTS SQL form. See
    :func:`sparkfusion.functions.grouped.cogroup_view_attribution`."""
    from ..functions.grouped import cogroup_view_attribution
    from ..session import events_with_ts

    ev = events_with_ts(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts_us")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts_us")
    return cogroup_view_attribution(purchases, views)


@register(
    "x5_udtf_lateral_words",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    )
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(pos * length(word)) AS BIGINT) AS checksum
    FROM w WHERE word <> '' GROUP BY doc_id
    """,
)
def x5_udtf_lateral_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF composed with AGGREGATION over the LATERAL output —
    extends the bare expansion check (`udtf_split_rows`, which only hashes
    tokens) by verifying the UDTF's emitted POSITIONS through a
    position-weighted length checksum: expansion order and content both
    pinned. Same registered ``split_to_rows`` table function
    (functions/aggregates.py); 0-based raw split positions, empty tokens
    skipped without renumbering — so DuckDB mirrors it with
    generate_subscripts - 1. The builtin split + posexplode stays the hot
    path; this proves the extension point end-to-end."""
    from ..functions.aggregates import register_udtf

    register_udtf(spark)
    return star_sql(
        spark,
        sf_dir,
        """
        SELECT d.doc_id, count(*) AS n_words,
               sum(s.pos * length(s.token)) AS checksum
        FROM {documents} d, LATERAL split_to_rows(d.text, ' ') s
        GROUP BY d.doc_id
        """,
    )


@register(
    "x8_arrow_user_gaps",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
    ),
    d AS (
      SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
      FROM e
    )
    SELECT user_id, count(*) AS n_events,
           CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us,
           CAST(coalesce(sum(gap), 0) AS BIGINT) AS sum_gap_us
    FROM d GROUP BY user_id
    """,
)
def x8_arrow_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped map (``applyInArrow``, Spark 4): per-user
    inter-event gap stats computed on ``pyarrow.Table`` groups with Arrow
    compute kernels — zero pandas conversion. All-integer contract
    (epoch-µs), oracle = the lag-window expression of the same statistic.
    See :func:`sparkfusion.functions.grouped.arrow_user_gaps`."""
    from ..functions.grouped import arrow_user_gaps
    from ..session import events_with_ts

    ev = events_with_ts(spark, sf_dir).select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return arrow_user_gaps(ev)


@register(
    "x9_udtf_analyze_schema",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS ws
      FROM documents
    )
    SELECT doc_id, ws[1] AS w1, ws[2] AS w2, ws[3] AS w3 FROM w
    """,
)
def x9_udtf_analyze_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): the output schema
    (columns w1..w3) is computed AT PLAN TIME from the constant k argument —
    the dynamic-schema table-function mechanism (x5's UDTF has a fixed
    declared schema). The oracle recovers the same first-k words by list
    slicing; Python's whitespace split == the suite's canonical word split.
    See :func:`sparkfusion.functions.aggregates.register_analyze_udtf`."""
    from ..functions.aggregates import register_analyze_udtf

    register_analyze_udtf(spark)
    return star_sql(
        spark,
        sf_dir,
        "SELECT d.doc_id, s.w1, s.w2, s.w3 "
        "FROM {documents} d, LATERAL first_words(lower(d.text), 3) s",
    )


@register(
    "x11_mapinarrow_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def x11_mapinarrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped ``mapInArrow`` (the rawest Python batch API — RecordBatch
    in, RecordBatch out, no pandas materialization at all): per-document
    char and token counts via pyarrow compute kernels. Completes the Python
    execution ladder: row UDF (x2, contract-gated) → pandas scalar/iterator
    (x1/x5) → grouped/cogrouped pandas (x6/x7) → grouped Arrow (x8) →
    ungrouped Arrow (this). All-integer contract (utf8_length,
    count_substring+1 — documents are single-spaced, pinned by the oracle's
    replace-arithmetic twin). When even kernel dispatch matters at 100 TB,
    this path skips the pandas block-manager entirely — the cheapest
    possible Python touchpoint, though the real answer is usually the pure
    column expression (see text.token_count)."""
    import pyarrow as pa

    from ..session import table as _table

    schema = "doc_id long, n_chars long, n_tokens long"

    def stats(batches):
        import pyarrow.compute as pc

        for b in batches:
            text = b.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(
                        pc.add(pc.count_substring(text, " "), 1), pa.int64()
                    ),
                ],
                names=["doc_id", "n_chars", "n_tokens"],
            )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(stats, schema)
