"""Streaming tests: real streaming queries through memory sinks, watermark
behavior, session equivalence between streaming and batch constructions."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkfusion.session import events_with_ts, scoped_conf, table
from sparkfusion.streaming import (
    read_events_stream,
    run_stream_to_table,
    session_window_agg,
    sessionize_batch,
    stateful_user_counts,
    stream_stream_interval_join,
    tumbling_window_agg,
)
from sparkfusion.streaming.windows import ROCKSDB, STATE_STORE_PROVIDER


def test_tumbling_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(tumbling_window_agg(stream), "complete")
    streamed_total = out.agg(F.sum("n_events").alias("n")).collect()[0].n
    batch_total = table(spark, sf_dir, "events").count()
    assert streamed_total == batch_total


def test_session_stream_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    streamed = run_stream_to_table(session_window_agg(stream), "complete")
    batch = sessionize_batch(
        events_with_ts(spark, sf_dir).select("user_id", "ts"), gap_minutes=30
    ).select("user_id", "session_start", "session_end", "n_events")
    assert streamed.count() == batch.count()
    # identical row sets
    assert (
        streamed.exceptAll(
            batch.select("user_id", "session_start", "session_end", "n_events")
        ).count()
        == 0
    )


def test_stateful_running_counts(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stateful_user_counts(stream), "update")
    per_user = {r.user_id: r.n_events for r in out.collect()}
    batch = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_user == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stream_stream_interval_join(stream), "append")
    streamed = {(r.purchase_id, r.view_id) for r in out.collect()}
    ev = events_with_ts(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.unix_micros("ts").alias("p_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.unix_micros("ts").alias("v_us"),
    )
    batch = {
        (r.purchase_id, r.view_id)
        for r in p.join(
            v,
            (F.col("pu") == F.col("vu"))
            & (F.col("v_us") >= F.col("p_us") - 3_600_000_000)
            & (F.col("v_us") <= F.col("p_us")),
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_watermark_is_set(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_window_agg(stream, watermark="10 minutes")
    assert agg.isStreaming
    # watermark shows up in the analyzed plan
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()


def test_transform_with_state_counts(spark, sf_dir):
    """Spark 4 transformWithStateInPandas form of the running counts —
    the state protocol needs google.protobuf, which sparkfusion.protoruntime
    discovers from vendored public-SDK copies when not pip-installed (skip
    only when no runtime is discoverable at all). A finite single-batch
    replay must equal the batch GROUP BY exactly."""
    import pytest as _pytest

    from sparkfusion.protoruntime import ensure_protobuf_runtime

    if not ensure_protobuf_runtime()[0]:
        _pytest.skip("no google.protobuf runtime discoverable")
    from sparkfusion.suite.streaming_suite import stream_stateful_counts_tws

    out = {
        (r["user_id"], r["n_events"])
        for r in stream_stateful_counts_tws(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["n_events"])
        for r in events_with_ts(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert out == batch and len(out) > 0


def test_stateful_counts_accumulate_across_micro_batches(spark, sf_dir, tmp_path):
    """TRUE incremental statefulness: two parquet files + maxFilesPerTrigger=1
    force two micro-batches; users present in both batches must emit an
    updated (larger) running total in the second — single-file replay can't
    distinguish stateful accumulation from a plain groupBy, this does."""
    import os

    from pyspark.sql import functions as F

    from sparkfusion.session import events_with_ts
    from sparkfusion.streaming import run_stream_to_table, stateful_user_counts

    ev = events_with_ts(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "batches")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "b0")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = run_stream_to_table(stateful_user_counts(stream), "update")
    rows = out.select("user_id", "n_events").collect()
    per_user_emissions = {}
    for r in rows:
        per_user_emissions.setdefault(r["user_id"], []).append(r["n_events"])
    # final running total per user == the batch ground truth
    truth = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    finals = {u: max(e) for u, e in per_user_emissions.items()}
    assert finals == truth
    # at least one user appears in both batches -> 2 emissions, strictly increasing
    multi = [sorted(e) for e in per_user_emissions.values() if len(e) == 2]
    assert multi and all(a < b for a, b in multi)


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Watermark semantics that only multi-batch replay can show: after
    batch 0 advances the watermark, batch 1's hours-late events fall below
    it and must be DROPPED from the windowed aggregate. Batch boundaries
    are forced explicitly: write b0 -> drain -> write b1 -> drain."""
    import os
    import uuid
    from datetime import datetime

    from sparkfusion.streaming import tumbling_window_agg

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        )

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    fresh = mk([(1, datetime(2024, 6, 1, 3, 30), 1, "view", 1.0),
                (2, datetime(2024, 6, 1, 3, 40), 2, "view", 1.0)])
    # first file present BEFORE the query starts -> batch 0
    fresh.coalesce(1).write.mode("append").parquet(src)
    schema = fresh.schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = tumbling_window_agg(stream, watermark="1 hour")
    name = f"late_{uuid.uuid4().hex[:8]}"
    # UPDATE mode: the only mode where the watermark late-row filter applies
    # (complete mode documents watermark as a no-op — it must keep all state)
    q = (
        agg.writeStream.outputMode("update").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()  # batch 0: watermark -> 02:40
        late = mk([(3, datetime(2024, 6, 1, 0, 0), 3, "view", 1.0)])
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # batch 1: 00:00 is below the watermark
    finally:
        q.stop()
    starts = {r["window_start"] for r in spark.table(name).collect()}
    # update mode emitted the 03:00 window in batch 0; batch 1's midnight row
    # is below the 02:40 watermark -> filtered, its window never emitted
    assert int(datetime(2024, 6, 1, 3, 0).timestamp()) in starts
    assert int(datetime(2024, 6, 1, 0, 0).timestamp()) not in starts


def test_recent_events_tws_equals_batch_topk(spark, sf_dir):
    """ListState TWS: finite replay must equal the batch row_number()<=3
    per user with the same (ts, event_id) tie-break."""
    from pyspark.sql import Window

    from sparkfusion.suite.streaming_suite import stream_recent_events_tws

    out = {
        (r["user_id"], r["rank"], r["event_id"])
        for r in stream_recent_events_tws(spark, sf_dir).collect()
    }
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = {
        (r["user_id"], r["rn"], r["event_id"])
        for r in events_with_ts(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert out == batch and len(out) > 0


def test_user_type_counts_tws_equals_batch_groupby(spark, sf_dir):
    """MapState TWS: finite replay must equal GROUP BY user_id, event_type."""
    from sparkfusion.suite.streaming_suite import stream_user_type_counts_tws

    out = {
        (r["user_id"], r["event_type"], r["n_events"])
        for r in stream_user_type_counts_tws(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["event_type"], r["n_events"])
        for r in events_with_ts(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert out == batch and len(out) > 0


def test_recent_events_tws_state_survives_micro_batches(spark, sf_dir, tmp_path):
    """TRUE incremental ListState: batch 0 delivers everything EXCEPT each
    user's oldest event; batch 1 delivers only the oldest events. A stateful
    operator re-emits the carried top-3 unchanged (the oldest event can
    never displace it for users with >= 4 events); a stateless one would
    emit the oldest event as rank 1. The distinct emitted (user, rank,
    event_id) set over BOTH batches therefore equals the batch ground truth
    iff state was carried — no reliance on memory-sink row order."""
    import os

    from pyspark.sql import Window

    from sparkfusion.streaming import recent_events_tws, run_stream_to_table

    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        ev = events_with_ts(spark, sf_dir).select(
            "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
        )
        w_asc = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        tagged = ev.withColumn("rn_old", F.row_number().over(w_asc)).withColumn(
            "n_user", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        # only users with enough history for the invariant to hold
        tagged = tagged.filter(F.col("n_user") >= 4).select(
            "user_id", "ts_us", "event_id", "rn_old"
        )
        src = str(tmp_path / "batches")
        tagged.filter(F.col("rn_old") > 1).drop("rn_old").coalesce(1).write.parquet(
            os.path.join(src, "b0")
        )
        tagged.filter(F.col("rn_old") == 1).drop("rn_old").coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        schema = "user_id long, ts_us long, event_id long"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        out = run_stream_to_table(recent_events_tws(stream, k=3), "update")
        got = {
            (r["user_id"], r["rank"], r["event_id"])
            for r in out.collect()
        }
        w_desc = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        truth = {
            (r["user_id"], r["rn"], r["event_id"])
            for r in tagged.withColumn("rn", F.row_number().over(w_desc))
            .filter(F.col("rn") <= 3)
            .collect()
        }
        assert got == truth and len(got) > 0


def test_session_timeout_tws_timers_fire_across_batches(spark, tmp_path):
    """Event-time timers, the four defining cases on hand-built data split
    across two micro-batches: (a) a user who STOPS sending events gets their
    session closed by the TIMER (nothing input-driven could emit it),
    (b) a rollover event closes the prior session inline, (c) the rolled-to
    session later closes by timer, (d) a session still inside the gap at
    the final watermark stays open and unreported."""
    import os

    from sparkfusion.streaming.windows import (
        run_stream_to_table,
        session_timeout_tws,
    )

    MIN = 60_000_000  # µs
    DAY = 1440 * MIN  # base offset: rows AT epoch 0 equal the initial
    # watermark and are dropped as late before reaching the operator
    b0 = [(1, DAY + 0 * MIN), (1, DAY + 10 * MIN), (2, DAY + 0 * MIN)]
    b1 = [(2, DAY + 100 * MIN), (3, DAY + 300 * MIN)]
    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        src = str(tmp_path / "batches")
        for name, rows in [("b0", b0), ("b1", b1)]:
            spark.createDataFrame(rows, "user_id long, ts_us long").selectExpr(
                "user_id", "timestamp_micros(ts_us) AS ts"
            ).coalesce(1).write.parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        ev = stream.withWatermark("ts", "1 hour").selectExpr(
            "user_id", "ts", "unix_micros(ts) AS ts_us"
        )
        out = run_stream_to_table(session_timeout_tws(ev, gap_minutes=30), "append")
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in out.collect()
        }
    # final watermark = 300min - 60min = 240min
    want = {
        (1, DAY, DAY + 40 * MIN, 2),  # stopped user -> closed by TIMER
        (2, DAY, DAY + 30 * MIN, 1),  # closed inline by the rollover event
        # rolled-to session -> closed by TIMER:
        (2, DAY + 100 * MIN, DAY + 130 * MIN, 1),
        # user 3 (end 330min > wm 240min) stays open: NOT emitted
    }
    assert got == want


def test_stream_left_outer_null_extension_and_open_tail(spark):
    """Hand-built single-batch case: a matched view emits its pair, an
    unmatched view whose window the final watermark closed emits NULL, and
    an unmatched view still inside its window stays absent. Watermark =
    min(max_view, max_purchase) - 1h (the query's global watermark is the
    min across both sides' nodes)."""
    from sparkfusion.streaming.windows import (
        run_stream_to_table,
        stream_stream_left_outer_join,
    )

    MIN = 60_000_000
    DAY = 1440 * MIN
    rows = [
        # (event_id, user, type, t)
        (1, 1, "view", DAY + 0),            # matched by purchase 2
        (2, 1, "purchase", DAY + 10 * MIN),
        (3, 2, "view", DAY + 0),            # unmatched, window closed -> NULL
        (4, 3, "view", DAY + 200 * MIN),    # unmatched, window open -> absent
        (5, 9, "purchase", DAY + 230 * MIN),  # drives the purchase-side max
        (6, 9, "view", DAY + 230 * MIN),    # drives the view-side max
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long"
    ).selectExpr("event_id", "user_id", "event_type", "timestamp_micros(ts_us) AS ts")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ev")
        df.coalesce(1).write.parquet(path)
        stream = spark.readStream.schema(df.schema).parquet(path)
        out = run_stream_to_table(
            stream_stream_left_outer_join(stream), "append"
        )
        got = {
            (r["view_id"], r["v_user"], r["purchase_id"]) for r in out.collect()
        }
    # wm = 230min - 60min = 170min: view 3's window closes at 30min -> NULL;
    # view 4's closes at 230min > wm -> absent; views/purchases of user 9 at
    # the max match each other (p_ts = v_ts is inside [v_ts, v_ts+30min])
    assert got == {(1, 1, 2), (3, 2, None), (6, 9, 5)}


def test_stream_query_leaves_no_temp_view(spark, sf_dir):
    """Each call used to leave its memory-sink view behind, pinning its rows
    on the driver: the session's view count grew by one per call."""
    from sparkfusion.suite import queries

    def temp_views() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    q = queries()["stream_tumbling_window"]
    before = temp_views()
    first = sorted(q(spark, sf_dir).collect())
    second = sorted(q(spark, sf_dir).collect())
    assert temp_views() == before
    assert first and first == second
