"""Session state a query changes for its own run is put back afterwards.

``session.scoped_conf`` is the one owner of temporary conf changes and
``streaming.windows._transform_with_state`` the one writer of
``sc.environment``; these tests pin that both leave the session as they
found it, on their own and through the suite queries that use them. SQL
queries bind their tables by value (``session.star_sql``), so they leave
the caller's catalog as they found it too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfusion.session import scoped_conf
from sparkfusion.streaming.windows import (
    STATE_STORE_PROVIDER,
    read_events_stream,
    recent_events_tws,
    session_timeout_tws,
    stateful_user_counts_tws,
    user_type_counts_tws,
)

#: a key no Spark version registers, so "unset" is unambiguous
_KEY = "spark.sparkfusion.test.scopedConf"

#: every conf the library scopes, with a non-default value for each
SCOPED_KEYS = {
    STATE_STORE_PROVIDER: (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.cteRecursionRowLimit": "1234567",
}


def test_scoped_conf_restores_a_set_value(spark):
    spark.conf.set(_KEY, "before")
    try:
        with scoped_conf(spark, _KEY, "inside"):
            assert spark.conf.get(_KEY) == "inside"
        assert spark.conf.get(_KEY) == "before"
    finally:
        spark.conf.unset(_KEY)


def test_scoped_conf_leaves_an_unset_key_unset(spark):
    assert spark.conf.get(_KEY, None) is None
    with scoped_conf(spark, _KEY, "inside"):
        assert spark.conf.get(_KEY) == "inside"
    assert spark.conf.get(_KEY, None) is None


def test_scoped_conf_restores_when_the_body_raises(spark):
    spark.conf.set(_KEY, "before")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, _KEY, "inside"):
                raise RuntimeError("boom")
        assert spark.conf.get(_KEY) == "before"
    finally:
        spark.conf.unset(_KEY)


@pytest.fixture
def restore_scoped_keys(spark):
    """Put the shared test session's values of ``SCOPED_KEYS`` back after
    the test, whatever the test set or unset."""
    saved = {k: spark.conf.get(k, None) for k in SCOPED_KEYS}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("start", ["unset", "custom"])
@pytest.mark.parametrize(
    "name",
    ["stream_stateful_counts_tws", "stream_tumbling_window", "rc1_recursive_subtree"],
)
def test_suite_query_leaves_confs_as_found(spark, sf_dir, restore_scoped_keys, name, start):
    from sparkfusion.suite import queries

    for k, v in SCOPED_KEYS.items():
        if start == "unset":
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    before = {k: spark.conf.get(k, None) for k in SCOPED_KEYS}
    assert queries()[name](spark, sf_dir).count() > 0
    assert {k: spark.conf.get(k, None) for k in SCOPED_KEYS} == before


def test_tws_operators_leave_sc_environment_as_found(spark, sf_dir):
    """Building each typed-state operator merges the protobuf runtime into
    ``sc.environment`` only while the stateful function is created."""
    stream = read_events_stream(spark, sf_dir)
    with_us = stream.withColumn("ts_us", F.unix_micros(F.col("ts")))
    builders = {
        "stateful_user_counts_tws": lambda: stateful_user_counts_tws(stream),
        "recent_events_tws": lambda: recent_events_tws(
            with_us.select("user_id", "ts_us", "event_id")
        ),
        "user_type_counts_tws": lambda: user_type_counts_tws(
            stream.select("user_id", "event_type")
        ),
        "session_timeout_tws": lambda: session_timeout_tws(
            with_us.withWatermark("ts", "1 hour").select("user_id", "ts", "ts_us")
        ),
    }
    env = spark.sparkContext.environment
    for name, build in builders.items():
        before = dict(env)
        assert build().isStreaming, name
        assert dict(env) == before, name


#: every suite query that runs SQL over star tables or an ad-hoc frame, or
#: reads through a reader that registers a view
SQL_QUERIES = [
    "cte_count",
    "a6_scalar_subquery_least",
    "a7_round_robin",
    "j2_inner_join_sql",
    "w1_window_agg_sql",
    "a11_grouping_sets",
    "a13_correlated_subquery",
    "a26_string_agg",
    "l1_lateral_topn",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q12_priority_shipping",
    "q13_order_distribution",
    "q16_supplier_cnt",
    "q19_disjunctive_revenue",
    "q20_part_promotion",
    "rc1_recursive_subtree",
    "udtf_split_rows",
    "x2_udf_sql_registered",
    "x5_udtf_lateral_words",
    "x9_udtf_analyze_schema",
    "s1_s3_csv_roundtrip",
    "s4_s5_s11_parquet_roundtrip",
    "s7_memory_batch",
    "s24_s3_native_roundtrip",
    "s27_s3_stream_sink_roundtrip",
]


def test_sql_queries_leave_the_catalog_as_found(spark, sf_dir):
    """A caller's own view named like a star table keeps its rows, and no
    query leaves a view behind."""
    from sparkfusion.suite import queries

    spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey long").createOrReplaceTempView("orders")
    try:
        before = sorted(spark.catalog.listTables(), key=lambda t: t.name)
        for name in SQL_QUERIES:
            queries()[name](spark, sf_dir).count()
        assert spark.table("orders").count() == 3
        assert sorted(spark.catalog.listTables(), key=lambda t: t.name) == before
    finally:
        spark.catalog.dropTempView("orders")
