"""Windowed / stateful streaming operators over the ``events`` table.

``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (reads as
epoch-nanos long under ``nanosAsLong``) and plain ``timestamp[us]``;
``read_events_stream`` normalizes either to a µs TIMESTAMP before
watermarking, through :func:`sparkfusion.session.ts_column` (SURVEY.md §7
risk 2).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from ..session import scoped_conf, star_meta, ts_column

#: the session conf that picks the state store, and the provider the
#: transformWithState operators need (the ONLY one that API supports)
STATE_STORE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with ``ts`` as a µs
    TIMESTAMP (driver for local tests; swap for Kafka in production — the
    downstream plans are identical)."""
    stream = read_table_stream(spark, sf_dir, "events")
    return stream.withColumn("ts", ts_column(dict(stream.dtypes)["ts"]))


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over any star-schema parquet table, schema pinned
    from the table's metadata record (:func:`~sparkfusion.session.star_meta`)
    so the stream cannot drift from the table contract."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.readStream.schema(star_meta(spark, sf_dir, name).schema)
    if os.path.isdir(path):
        # directory-of-part-files layout (e.g. scaled .localdata): stream the
        # directory itself; a pathGlobFilter on sf_dir would silently match
        # zero part-files here
        return reader.parquet(path)
    # single-file layout (driver testdata): the file-stream source wants a
    # directory basePath, so stream sf_dir filtered to this one file
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def run_stream_to_table(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a (finite) streaming DataFrame to completion through a memory
    sink; returns the materialized result as a batch DataFrame. The sink's
    temp view is dropped before returning, so repeated calls leave the
    session's catalog as they found it.

    State-partition bound: a streaming query captures
    ``spark.sql.shuffle.partitions`` at ``.start()`` as its FIXED state
    partition count — one state store instance (a whole RocksDB for the tws
    family) per partition per stateful operator. The driver's plain session
    leaves it at 200, so a tiny finite replay paid 200 RocksDB inits of
    pure fixed cost while only |cores| could ever run at once. Bounded to
    the session's core count for the stream's lifetime through
    :func:`~sparkfusion.session.scoped_conf` (whose docstring carries the
    concurrency caveat); a production deployment sizes this to key
    cardinality instead (it cannot be changed after the first
    checkpoint)."""
    spark = result.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    parts = str(spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", parts):
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the frame binds the sink's rows when it is analyzed, so the view can
    # go: left in place, each call would pin one more result on the driver
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def tumbling_window_agg(events: DataFrame, width: str = "1 hour",
                        watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window count+sum per event_type.

    Output: (window_start epoch-seconds, event_type, n_events, sum_value).
    The decimal cast keeps sum_value exact (same contract as the batch suite).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour",
                       watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding-window count per event_type — each event lands in
    width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of silence.

    Output: (user_id, session_start, session_end epoch-seconds, n_events).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start"),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization — the lag/gap/cumsum islands construction
    (pyspark_guide 'Sessionization'); same semantics as
    :func:`session_window_agg` for closed sessions, usable on historical data.

    Output: (user_id, session_id, session_start, session_end epoch-µs,
    n_events). ``session_end`` is the last event time + gap, matching Spark's
    session_window end for closed sessions. All arithmetic is integer
    microseconds — no float rounding at session boundaries.
    """
    w_user = Window.partitionBy("user_id").orderBy("ts_us")
    gap_us = gap_minutes * 60 * 1_000_000
    with_gap = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    ).withColumn("prev_ts", F.lag("ts_us").over(w_user))
    with_flag = with_gap.withColumn(
        "new_session",
        (F.col("prev_ts").isNull() | (F.col("ts_us") - F.col("prev_ts") > gap_us)).cast("int"),
    )
    with_id = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("session_start"),
        (F.max("ts_us") + gap_us).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def stream_stream_interval_join(
    events: DataFrame, interval: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's view
    events from the preceding ``interval`` — the attribution-join shape (two
    UNBOUNDED streams, so state MUST be bounded: the watermarks plus the
    time-range predicate let Spark evict view state older than the interval
    and purchase state past the watermark; without the range condition the
    join state grows forever).

    ``watermark`` defaults to ``interval`` — a watermark tighter than the
    join interval would silently drop matches from the far end of the
    window, so diverging them is an explicit opt-in for late-data trade-offs.

    Output: (purchase_id, view_id) pairs, append mode.
    """
    wm = watermark if watermark is not None else interval
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", wm)
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", wm)
    )
    return p.join(
        v,
        F.expr(
            f"p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL {interval} AND p_ts"
        ),
    ).select("purchase_id", "view_id")


_STATE_SCHEMA = "n_events long, sum_value double"
_OUT_SCHEMA = "user_id long, n_events long, sum_value double"


def _update_user_state(
    key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user totals — the custom stateful operator shape
    (``applyInPandasWithState``). Emits the updated running totals once per
    micro-batch in which the user appears."""
    if state.exists:
        n, s = state.get
    else:
        n, s = 0, 0.0
    for pdf in batches:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running (count, sum) per user via
    ``applyInPandasWithState`` (state store-backed; RocksDB in production).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_score_alerts(
    events: DataFrame, profile: DataFrame, key: str, threshold: float = 2.5
) -> DataFrame:
    """Score a stream against a batch-built per-``key`` profile (columns
    ``key, mean, sd``) and emit anomaly alerts (|z| > threshold).

    The production model-scoring shape: the profile is a small batch frame
    (built offline from history, e.g. via
    :func:`sparkfusion.operators.timeseries.zscore_outliers`'s DECIMAL
    moments) broadcast into the stream; scoring is a stateless map-side
    join + filter, so the query runs in append mode with NO state store and
    NO watermark — per-event latency is one broadcast-hash-join probe.
    Refreshing the model = restarting with a new profile frame (or a
    foreachBatch re-read for hot swap).
    """
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        events.join(F.broadcast(profile), key)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > F.lit(threshold))
        .select("event_id", key, "value", "z")
    )


def window_argmax(events: DataFrame, width: str = "1 hour",
                  watermark: str = "1 hour") -> DataFrame:
    """Per (tumbling window × event_type) argmax: the single top-value event,
    deterministically tie-broken by event_id — as a pure AGGREGATE
    (``max(struct(value, event_id))``, lexicographic struct max), because
    streaming plans cannot use rank/row_number window functions. The
    leaderboard-per-window shape with ordinary windowed-agg state cost.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.max(F.struct("value", "event_id")).alias("top"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            F.col("top.value").alias("top_value"),
            F.col("top.event_id").alias("top_event_id"),
        )
    )


def _transform_with_state(
    events: DataFrame, processor, out_schema, output_mode: str, time_mode: str
) -> DataFrame:
    """``events.groupBy("user_id").transformWithStateInPandas(processor)`` —
    Spark 4's arbitrary-stateful API (the successor to
    ``applyInPandasWithState`` used by :func:`stateful_user_counts`) — plus
    the protobuf plumbing all four typed-state operators need.

    The API's state protocol (``pyspark.sql.streaming.proto
    .StateMessage_pb2``) requires a working ``google.protobuf``; no pip
    install is possible here, so :mod:`sparkfusion.protoruntime` discovers
    a vendored pure-python runtime (public SDK bundles ship one) and wires
    it into BOTH the driver process and the Python workers Spark spawns for
    the query — the TWS driver worker (``transform_with_state_driver_
    worker``) imports the proto at module load, so the discovered path plus
    protobuf's own version-check escape hatch must travel through the UDF's
    captured ``sc.environment`` (Spark's worker factory MERGES that
    PYTHONPATH into the spawned process env). The mutation is scoped:
    previous entries are restored as soon as the stateful function exists,
    because pyspark snapshots ``sc.environment`` at function-creation time.
    Where discovery fails outright this raises
    :class:`~sparkfusion.errors.EnvironmentGateError` up front; the
    applyInPandasWithState form (`stream_stateful_counts`) runs without
    protobuf everywhere.

    transformWithState also requires the RocksDB state store: the CALLER
    scopes ``STATE_STORE_PROVIDER`` to ``ROCKSDB`` around STARTING the
    query. Setting it here would mutate the shared session as a side effect
    of building a DataFrame (and break sibling queries restarting from
    HDFS-backed checkpoints).
    """
    # looked up at call time, so a patched discovery takes effect
    from .. import protoruntime

    ok, extra_path = protoruntime.ensure_protobuf_runtime()
    if not ok:
        from ..errors import EnvironmentGateError

        raise EnvironmentGateError(
            "transformWithStateInPandas needs google.protobuf (pyspark's "
            "typed-state wire protocol) and no runtime was discoverable — "
            "set SPARKFUSION_PROTOBUF_PATH or install protobuf on the "
            "cluster; see stream_stateful_counts for the "
            "applyInPandasWithState equivalent that runs without it"
        )
    sc_env = events.sparkSession.sparkContext.environment
    overrides = protoruntime.worker_env_overrides(extra_path)
    saved = {k: sc_env.get(k) for k in overrides}
    for k, v in overrides.items():
        prev = saved[k]
        sc_env[k] = v if not prev or k != "PYTHONPATH" else prev + os.pathsep + v
    try:
        return events.groupBy("user_id").transformWithStateInPandas(
            processor,
            outputStructType=out_schema,
            outputMode=output_mode,
            timeMode=time_mode,
        )
    finally:
        for k, old in saved.items():
            if old is None:
                sc_env.pop(k, None)
            else:
                sc_env[k] = old


def stateful_user_counts_tws(events: DataFrame) -> DataFrame:
    """Running per-user event counts via ``transformWithStateInPandas``
    **ValueState** (see :func:`_transform_with_state` for the protobuf and
    state-store requirements). Emits each user's running total once per
    micro-batch the user appears in (update mode) — a finite single-batch
    replay therefore equals the batch GROUP BY.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("n_events", LongType(), True),
        ]
    )

    class RunningCounts(StatefulProcessor):
        def init(self, handle) -> None:
            self._n = handle.getValueState(
                "n", StructType([StructField("n", LongType(), True)])
            )

        def handleInputRows(self, key, rows, timerValues):
            batch_n = sum(len(pdf) for pdf in rows)
            prev = self._n.get()
            total = (prev[0] if prev else 0) + batch_n
            self._n.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    return _transform_with_state(events, RunningCounts(), out_schema, "Update", "None")


def recent_events_tws(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user k-most-recent event ids via ``transformWithStateInPandas``
    **ListState** — the typed-state shape of a "recent activity" feature
    store: each micro-batch merges the batch's events into the persisted
    per-user list, truncates to the k latest by (ts, event_id), and emits
    the refreshed ranking. State is O(k) per user forever — the property
    a 100 TB/day clickstream needs; an unbounded event list would grow
    without limit. Deterministic tie-break on event_id makes a finite
    replay equal the batch ``row_number() <= k`` query exactly.

    Input must carry ``user_id``, ``ts_us`` (epoch-µs BIGINT — convert
    before calling so the state schema is engine-neutral), ``event_id``.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("rank", IntegerType(), True),
            StructField("event_id", LongType(), True),
        ]
    )

    class RecentK(StatefulProcessor):
        def init(self, handle) -> None:
            self._recent = handle.getListState(
                "recent",
                StructType(
                    [
                        StructField("ts_us", LongType(), True),
                        StructField("event_id", LongType(), True),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            merged = [tuple(t) for t in self._recent.get()]
            for pdf in rows:
                merged.extend(
                    zip(pdf["ts_us"].astype("int64"), pdf["event_id"].astype("int64"))
                )
            merged.sort(key=lambda t: (-int(t[0]), -int(t[1])))
            top = [(int(a), int(b)) for a, b in merged[:k]]
            self._recent.put(top)
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(top),
                    "rank": range(1, len(top) + 1),
                    "event_id": [e for _, e in top],
                }
            )

        def close(self) -> None:
            pass

    return _transform_with_state(events, RecentK(), out_schema, "Update", "None")


def user_type_counts_tws(events: DataFrame) -> DataFrame:
    """Per-user running counts **per event type** via
    ``transformWithStateInPandas`` **MapState** — the grouping key owns a
    keyed sub-map (event_type → count) updated with point lookups instead
    of rewriting one monolithic value: the feature-store shape for
    per-entity categorical accumulators (state size O(#distinct types per
    user), each micro-batch touches only the types it saw). A finite
    single-batch replay emits exactly the batch
    ``GROUP BY user_id, event_type`` counts.

    Input must carry ``user_id`` and ``event_type``.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("n_events", LongType(), True),
        ]
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle) -> None:
            self._counts = handle.getMapState(
                "counts",
                StructType([StructField("event_type", StringType(), True)]),
                StructType([StructField("n", LongType(), True)]),
            )

        def handleInputRows(self, key, rows, timerValues):
            batch: dict[str, int] = {}
            for pdf in rows:
                for t, n in pdf["event_type"].value_counts().items():
                    batch[str(t)] = batch.get(str(t), 0) + int(n)
            out = []
            for t, n in batch.items():
                prev = self._counts.getValue((t,))
                total = (prev[0] if prev else 0) + n
                self._counts.updateValue((t,), (total,))
                out.append((int(key[0]), t, total))
            out.sort(key=lambda r: r[1])
            yield pd.DataFrame(out, columns=["user_id", "event_type", "n_events"])

        def close(self) -> None:
            pass

    return _transform_with_state(events, TypeCounts(), out_schema, "Update", "None")


def session_timeout_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session-timeout detection via transformWithStateInPandas **event-time
    TIMERS** — the fourth and last piece of the typed-state API surface
    (ValueState/ListState/MapState are covered by the sibling operators).

    Each user's open session lives in a ValueState (start_us, last_us, n);
    every batch re-arms ONE timer at ``last + gap`` (the previous timer is
    deleted — O(1) timers per key). Rows inside a batch are walked in ts
    order, so multi-session batches close intermediate sessions inline;
    when the watermark passes a timer, ``handleExpiredTimer`` emits the
    stranded session and clears the state — the mechanism that closes
    sessions for users who simply STOP sending events, which no
    input-driven operator can do. Emitted rows: (user_id, session_start,
    session_end = last + gap, n_events), µs epochs.

    Determinism contract (what the suite oracle relies on): with a finite
    replay, the emitted set is exactly the batch-sessionization sessions
    whose ``session_end <= final watermark`` — sessions still inside the
    gap at end-of-stream stay open and unreported. A stale timer that
    outlives a rollover re-arm is ignored by an expiry-vs-state guard
    rather than assumed deleted. Requires the caller to have applied
    ``withWatermark`` on ``ts`` and set the RocksDB state store provider.

    Expects columns (user_id, ts [timestamp], ts_us [epoch-µs BIGINT twin of
    ts — the engine-neutral value the state schema stores]); ``ts`` must
    carry the stream's watermark. A missing ``ts_us`` raises in the
    processor rather than skipping (r14: the tolerant branch turned a
    mis-wired ingest into a silent 0-row stream).
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    gap_us = gap_minutes * 60_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("session_start", LongType(), True),
            StructField("session_end", LongType(), True),
            StructField("n_events", LongType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType(), True),
            StructField("last_us", LongType(), True),
            StructField("n", LongType(), True),
        ]
    )

    class SessionTimeout(StatefulProcessor):
        def init(self, handle) -> None:
            self._h = handle
            self._s = handle.getValueState("sess", state_schema)

        def _emit(self, uid, start, last, n):
            return pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [start],
                    "session_end": [last + gap_us],
                    "n_events": [n],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            uid = key[0]
            ts_all = []
            for pdf in rows:
                if "ts_us" not in pdf.columns:
                    # fail LOUDLY: a tolerant skip here ran a 1M-row ingest
                    # probe to a silent 0-row stream (r14) — the exact
                    # silent-drop failure mode the NaN/ANSI rules exist for
                    raise KeyError(
                        "session_timeout_tws: input must carry ts_us "
                        f"(epoch-us BIGINT); got columns {list(pdf.columns)}"
                    )
                ts_all.extend(int(v) for v in pdf["ts_us"])
            if not ts_all:
                return
            ts_all.sort()
            cur = self._s.get()
            start, last, n = (cur[0], cur[1], cur[2]) if cur else (None, None, 0)
            old_timer = (last + gap_us) // 1000 if cur else None
            for t in ts_all:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    yield self._emit(uid, start, last, n)
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            self._s.update((start, last, n))
            new_timer = (last + gap_us) // 1000
            if old_timer is not None and old_timer != new_timer:
                self._h.deleteTimer(old_timer)
            self._h.registerTimer(new_timer)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._s.get()
            if cur is None:
                return
            start, last, n = cur[0], cur[1], cur[2]
            # stale-timer guard: only close the session THIS timer armed
            if (last + gap_us) // 1000 > expiredTimerInfo.getExpiryTimeInMs():
                return
            yield self._emit(key[0], start, last, n)
            self._s.clear()

        def close(self) -> None:
            pass

    return _transform_with_state(
        events, SessionTimeout(), out_schema, "Append", "EventTime"
    )


def stream_stream_left_outer_join(
    events: DataFrame, interval: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view event, paired with
    the same user's purchases in the following ``interval`` — and views that
    convert to NOTHING inside the window still emit, with a NULL purchase,
    once the watermark proves no match can arrive (the state-eviction
    emission only outer stream-stream joins have; the inner form is
    :func:`stream_stream_interval_join`). The conversion-coverage shape:
    "which impressions never converted" must include the non-matches.

    Determinism contract for a finite replay (what the suite oracle
    mirrors): matched pairs emit when both sides have arrived — all of them,
    watermark-independent; a NULL-extended row emits only when the view's
    join window [v_ts, v_ts + interval] is closed by the FINAL watermark
    (max event time minus ``watermark``), because eviction is what triggers
    it — un-closed unmatched views are simply absent. Both sides carry the
    same watermark; state for each side is bounded by the time-range
    predicate + watermark exactly as in the inner form.

    Output: (view_id, v_user, purchase_id nullable), append mode.
    """
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return v.join(
        p,
        F.expr(
            f"v_user = p_user AND p_ts BETWEEN v_ts AND v_ts + INTERVAL {interval}"
        ),
        "leftOuter",
    ).select("view_id", "v_user", "purchase_id")
