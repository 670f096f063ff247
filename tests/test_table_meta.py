"""The table metadata record (``session.table_meta``): each star table's
schema is inferred by Spark once per (stat signature, inference confs) and
every read goes through it.

Pinned here:
- an in-place rewrite (flat file or directory part file) is seen by the
  next ``table()`` — the stat signature keys the record;
- the ``events.ts`` vintage flip (timestamp[us] -> TIMESTAMP(NANOS)) keeps
  ``events_with_ts`` values identical;
- the inference confs key the record: the arrived dtype follows them;
- a warm ``table()`` launches no Spark job;
- the record's schema is exactly what a fresh ``spark.read.parquet`` infers;
- footers are opened once per file vintage;
- ``table()`` returns one frame per (session, record): a rewrite gives a new
  frame, another session gets its own, an unrecorded path is read anew on
  every call, and two reads of one table still self-join.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from sparkfusion.session import (
    STAR_TABLES,
    events_with_ts,
    scoped_conf,
    star_meta,
    table,
    table_files,
    table_meta,
)

TINY = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.001")


@pytest.fixture
def sf_copy(tmp_path):
    dst = tmp_path / "sf"
    shutil.copytree(TINY, dst)
    return str(dst)


def _events_to_nanos(sf: str) -> None:
    """Rewrite ``events.ts`` in place as parquet TIMESTAMP(NANOS), the
    testdata vintage the star tables have shipped in before."""
    path = os.path.join(sf, "events.parquet")
    t = pq.read_table(path)
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))), path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")


def _jobs_in(spark, run) -> list[int]:
    """Spark job ids launched by ``run()``, counted under a job group. A
    sentinel job after it flushes the listener bus, so a late job start
    event cannot be missed."""
    sc = spark.sparkContext
    group, sentinel = f"tm-{uuid.uuid4().hex}", f"tm-sentinel-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "table metadata probe")
        run()
        sc.setJobGroup(sentinel, "listener-bus flush")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(sentinel), "sentinel job never reported"
    return list(tracker.getJobIdsForGroup(group))


def test_in_place_rewrite_is_seen(spark, sf_copy):
    path = os.path.join(sf_copy, "nation.parquet")
    assert "n_extra" not in table(spark, sf_copy, "nation").columns
    t = pq.read_table(path)
    pq.write_table(t.append_column("n_extra", pa.array(range(t.num_rows), pa.int64())), path)
    after = table(spark, sf_copy, "nation")
    assert after.columns[-1] == "n_extra"
    assert sorted(r.n_extra for r in after.select("n_extra").collect()) == list(range(t.num_rows))

    # directory layout: rewriting a part file under its own name leaves the
    # directory's stat unchanged, and must still be seen
    d = os.path.join(sf_copy, "region.parquet")
    t = pq.read_table(d)
    os.remove(d)
    os.mkdir(d)
    pq.write_table(t, os.path.join(d, "part-0.parquet"))
    assert table(spark, sf_copy, "region").columns == t.column_names
    pq.write_table(t.drop_columns([t.column_names[-1]]), os.path.join(d, "part-0.parquet"))
    assert table(spark, sf_copy, "region").columns == t.column_names[:-1]
    assert table(spark, sf_copy, "region").count() == t.num_rows


def test_events_ts_vintage_flip_keeps_values(spark, sf_copy):
    def rows():
        ev = events_with_ts(spark, sf_copy).orderBy("event_id")
        return [(r.ts, r.ts_ns) for r in ev.select("ts", "ts_ns").collect()]

    before = rows()
    assert dict(table(spark, sf_copy, "events").dtypes)["ts"] != "bigint"
    _events_to_nanos(sf_copy)
    assert dict(table(spark, sf_copy, "events").dtypes)["ts"] == "bigint"
    assert rows() == before


def test_inference_confs_key_the_record(spark, sf_copy):
    path = os.path.join(sf_copy, "events.parquet")
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    with scoped_conf(spark, ntz, "true"):
        assert table_meta(spark, path).schema["ts"].dataType == TimestampNTZType()
    with scoped_conf(spark, ntz, "false"):
        assert table_meta(spark, path).schema["ts"].dataType == TimestampType()

    _events_to_nanos(sf_copy)
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    with scoped_conf(spark, nanos, "true"):
        assert table_meta(spark, path).schema["ts"].dataType == LongType()
    # without the conf Spark cannot type TIMESTAMP(NANOS): the record must
    # re-infer and raise, never hand back the epoch-ns schema it holds
    with scoped_conf(spark, nanos, "false"):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            table_meta(spark, path)
    with scoped_conf(spark, nanos, "true"):
        assert table_meta(spark, path).schema["ts"].dataType == LongType()


def test_warm_table_launches_no_job(spark, sf_copy):
    cold = _jobs_in(spark, lambda: table(spark, sf_copy, "lineitem"))
    assert cold, "a cold read must infer (the job counter sees it)"
    assert _jobs_in(spark, lambda: table(spark, sf_copy, "lineitem")) == []


@pytest.mark.parametrize("name", STAR_TABLES)
def test_record_schema_is_sparks_own(spark, sf_copy, name):
    meta = star_meta(spark, sf_copy, name)  # sets the suite's read confs
    assert meta.schema == spark.read.parquet(os.path.join(sf_copy, f"{name}.parquet")).schema
    assert meta.files.rows == pq.read_metadata(meta.path).num_rows


def test_footers_read_once_per_vintage(sf_copy, monkeypatch):
    opened = []
    real = pq.read_metadata
    monkeypatch.setattr(
        pq, "read_metadata", lambda p, *a, **k: opened.append(p) or real(p, *a, **k)
    )
    path = os.path.join(sf_copy, "orders.parquet")
    rows = table_files(path).rows
    assert table_files(path).rows == rows and len(opened) == 1
    t = pq.read_table(path)
    pq.write_table(t.slice(0, 10), path)
    assert table_files(path).rows == 10 and len(opened) == 2


def test_same_session_and_record_give_the_same_frame(spark, sf_copy):
    nat = table(spark, sf_copy, "nation")
    assert table(spark, sf_copy, "nation") is nat
    assert table(spark, sf_copy, "region") is not nat
    assert _jobs_in(spark, lambda: table(spark, sf_copy, "nation")) == []


def test_rewrite_gives_a_new_frame_with_the_new_rows(spark, sf_copy):
    path = os.path.join(sf_copy, "orders.parquet")
    before = table(spark, sf_copy, "orders")
    t = pq.read_table(path)
    assert before.count() == t.num_rows
    pq.write_table(t.slice(0, 10), path)
    after = table(spark, sf_copy, "orders")
    assert after is not before
    assert after.count() == 10
    assert table(spark, sf_copy, "orders") is after


def test_each_session_gets_its_own_frame(spark, sf_copy):
    other = spark.newSession()
    mine = table(spark, sf_copy, "nation")
    theirs = table(other, sf_copy, "nation")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert table(other, sf_copy, "nation") is theirs
    assert theirs.count() == mine.count() == 25


def test_unrecorded_path_is_never_reused(spark, sf_copy):
    # a file URI cannot be stat'ed here, so it has no record, yet Spark reads it
    uri = "file://" + os.path.abspath(sf_copy)
    first = table(spark, uri, "orders")
    assert table(spark, uri, "orders") is not first
    n = first.count()
    path = os.path.join(sf_copy, "orders.parquet")
    pq.write_table(pq.read_table(path).slice(0, 7), path)
    assert n > 7 and table(spark, uri, "orders").count() == 7


def test_two_reads_of_one_table_self_join(spark, sf_copy):
    a = table(spark, sf_copy, "nation").alias("a")
    b = table(spark, sf_copy, "nation").alias("b")
    pairs = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).select(
        F.col("a.n_nationkey").alias("x"), F.col("b.n_nationkey").alias("y")
    )
    keys = [r.n_regionkey for r in a.select("n_regionkey").collect()]
    assert pairs.count() == sum(keys.count(k) for k in keys)
    assert pairs.filter("x = y").count() == 25
