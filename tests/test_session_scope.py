"""Session state a query changes for its own run is put back afterwards.

``session.scoped_conf`` is the one owner of temporary conf changes and
``streaming.windows._transform_with_state`` the one writer of
``sc.environment``; these tests pin that both leave the session as they
found it, on their own and through the suite queries that use them.
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
