"""UDAF / UDTF suite queries (§2.10 extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import register_udtf, weighted_mean
from ..session import star_sql, table
from . import register


@register(
    "udaf_weighted_mean",
    oracle="""
    SELECT event_type,
           round(SUM(value * ((user_id % 10) + 1)) / SUM((user_id % 10) + 1), 6) AS wmean
    FROM events
    GROUP BY event_type
    """,
)
def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (weighted mean of event value, weight derived
    from user_id). Rounded to 6 decimals: pandas' pairwise summation and the
    oracle's sequential sum agree well past that precision."""
    ev = table(spark, sf_dir, "events").withColumn(
        "w", (F.col("user_id") % 10 + 1).cast("double")
    )
    return ev.groupBy("event_type").agg(
        F.round(weighted_mean("value", "w"), 6).alias("wmean")
    )


@register(
    "udtf_split_rows",
    oracle="""
    SELECT doc_id, u.token
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(source, 'c'), x -> x != '')) AS token
      FROM documents
    ) u
    """,
)
def udtf_split_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: one input row → N output rows (table
    function — absent from the reference's surface, SURVEY.md §2.10)."""
    register_udtf(spark)
    return star_sql(
        spark,
        sf_dir,
        """
        SELECT d.doc_id, s.token
        FROM {documents} d, LATERAL split_to_rows(d.source, 'c') s
        """,
    )
