"""Streaming suite: each query drives a real Structured Streaming job (file
source → watermarked windowed/stateful aggregation → memory sink) to
completion and returns the materialized result. Oracles are the equivalent
batch aggregations in DuckDB — a finite replay in complete/update mode must
reproduce the batch answer exactly.

Window starts are returned as epoch-seconds BIGINT so the comparison is
timestamp-representation-free. events.ts is ns in parquet; Spark truncates to
µs — hour/minute bucket boundaries are unaffected (sub-µs remainders cannot
cross a bucket edge).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf
from ..streaming import (
    read_events_stream,
    run_stream_to_table,
    session_window_agg,
    sessionize_batch,
    sliding_window_agg,
    stateful_user_counts,
    stream_stream_interval_join,
    tumbling_window_agg,
)
from ..streaming.windows import ROCKSDB, STATE_STORE_PROVIDER
from . import register


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour window: count + exact decimal sum per
    event_type, driven through a real streaming query (memory sink,
    complete mode)."""
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_table(tumbling_window_agg(stream), "complete")


@register(
    "stream_sliding_window",
    oracle="""
    WITH buckets AS (
      SELECT event_type,
             epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT - offs AS window_start
      FROM events, (SELECT unnest([0, 3600]) AS offs)
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM buckets
    GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h window counts — every event contributes to two windows
    (the oracle unrolls the two bucket starts per event)."""
    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_table(sliding_window_agg(stream), "complete")


_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start, MAX(ts_us) + 1800000000 AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


@register("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user through a real streaming query;
    the oracle is the classic lag/gap/cumsum islands construction.

    Note: epoch-second session bounds — Spark's session_window end is last
    event + gap, truncated here to whole seconds on both sides.
    """
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(session_window_agg(stream), "complete")
    return out


@register(
    "stream_static_join",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_events
    FROM events JOIN supplier ON (user_id % 100) + 1 = s_suppkey
    GROUP BY s_nationkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (supplier, broadcast) before aggregating — the standard
    streaming-enrichment shape; the static side is re-read per micro-batch,
    so dim updates flow in without restarting the query."""
    from pyspark.sql import functions as F

    from ..session import table
    from ..streaming import read_events_stream, run_stream_to_table

    stream = read_events_stream(spark, sf_dir).withColumn(
        "sk", (F.col("user_id") % 100 + 1)
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    enriched = stream.join(F.broadcast(sup), stream.sk == sup.s_suppkey)
    agg = enriched.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_events"))
    return run_stream_to_table(agg, "complete")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with *bounded* state:
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the watermark
    passes its event time + delay — the unbounded-state guard every
    100 TB/day dedup stream needs. (Plain ``dropDuplicates`` on a key subset
    that omits the event-time column never evicts state; the watermark there
    only drops late rows.) The delay is the dedup horizon: re-occurrences
    farther apart than the delay are emitted again. Here the delay (35 d)
    exceeds the test data's 30-day span, so output equals global DISTINCT;
    production would size it to the real re-occurrence window."""
    from ..streaming import read_events_stream, run_stream_to_table

    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "35 days")
    deduped = stream.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = run_stream_to_table(deduped.select("user_id", "event_type"), "append")
    return out


@register(
    "stream_stateful_counts",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    per-user totals. Update mode emits each user's running total once per
    micro-batch it appears in; the test source is a single parquet file →
    exactly one batch → the emission equals the final per-user totals, so
    the integer count column is oracle-checkable. ``sum_value`` (a pandas
    float sum, summation-order-sensitive) is computed in the operator but
    projected out here — cross-engine float-sum equality is not part of the
    contract (see the DECIMAL rule in the suite docstring)."""
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stateful_user_counts(stream), "update")
    return out.select("user_id", "n_events")


@register(
    "stream_stateful_counts_tws",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals via ``transformWithStateInPandas`` — Spark
    4's typed-state successor to the applyInPandasWithState form above
    (same semantics, so the same batch GROUP BY oracle): explicit
    ValueState handle, RocksDB-backed state store (the ONLY provider the
    API supports — set for the duration of this query's run and restored,
    so sibling streaming queries keep their default provider). The state
    protocol needs google.protobuf; :mod:`sparkfusion.protoruntime`
    discovers a vendored runtime and ships it to the spawned workers via
    the captured UDF env (see ``windows._transform_with_state``). A
    finite single-batch replay in update mode emits exactly one final total
    per user."""
    from ..streaming.windows import stateful_user_counts_tws

    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        stream = read_events_stream(spark, sf_dir)
        out = run_stream_to_table(stateful_user_counts_tws(stream), "update")
    return out.select("user_id", "n_events")


@register(
    "stream_recent_events_tws",
    oracle="""
    SELECT user_id, CAST(rn AS INT) AS rank, event_id FROM (
      SELECT user_id, event_id,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def stream_recent_events_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 3-most-recent events via transformWithStateInPandas
    **ListState** — the "recent activity" feature-store shape with O(k)
    state per user (the persisted list is truncated every batch, so a
    100 TB/day clickstream can run it forever). Deterministic (ts,
    event_id) tie-break makes the finite replay equal the batch
    ``row_number() <= 3`` exactly. Completes the typed-state family
    coverage together with ValueState (`stream_stateful_counts_tws`) and
    MapState (`stream_user_type_counts_tws`)."""
    from pyspark.sql import functions as F

    from ..streaming.windows import recent_events_tws

    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        stream = read_events_stream(spark, sf_dir).select(
            "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_id"
        )
        out = run_stream_to_table(recent_events_tws(stream, k=3), "update")
    return out


@register(
    "stream_user_type_counts_tws",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_user_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-event-type running counts via transformWithStateInPandas
    **MapState** — each grouping key owns a keyed sub-map (event_type →
    count) updated with point lookups, the per-entity categorical
    accumulator shape (state O(#types per user); a micro-batch touches only
    the types it saw). Finite single-batch replay equals the batch
    ``GROUP BY user_id, event_type``."""
    from ..streaming.windows import user_type_counts_tws

    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        stream = read_events_stream(spark, sf_dir).select("user_id", "event_type")
        out = run_stream_to_table(user_type_counts_tws(stream), "update")
    return out


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution shape): purchases joined to
    the same user's views from the preceding hour, both sides unbounded
    watermarked streams — the time-range predicate is what lets Spark evict
    join state, the hardest stateful-streaming shape. A finite replay must
    equal the batch interval join the oracle runs."""
    events = read_events_stream(spark, sf_dir)
    return run_stream_to_table(stream_stream_interval_join(events), "append")


@register("batch_session_window_api", oracle=_SESSION_ORACLE)
def batch_session_window_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` in BATCH mode — the same gap-based
    session semantics as the streaming form and the lag/gap/cumsum
    construction, through Spark's built-in session aggregation operator
    (a different physical path: SessionWindowStateStore-free batch
    MergingSessionsExec). All three must agree on session boundaries."""
    from pyspark.sql import functions as F

    from ..session import events_with_ts

    ev = events_with_ts(spark, sf_dir).select("user_id", "ts")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start"),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


@register("batch_sessionize", oracle=_SESSION_ORACLE)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization over historical events (lag/gap/cumsum) —
    identical session boundaries to the streaming session_window for closed
    sessions."""
    from ..session import events_with_ts

    ev = events_with_ts(spark, sf_dir).select("user_id", "ts")
    out = sessionize_batch(ev, gap_minutes=30)
    return out.select("user_id", "session_start", "session_end", "n_events")


@register(
    "stream_anomaly_alerts",
    oracle="""
    WITH stats AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(12,6)) * CAST(value AS DECIMAL(12,6)))
                  AS DOUBLE) AS s2
      FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type, value,
           round((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 2.5
    """,
)
def stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection, model-scoring shape: a per-type profile
    (DECIMAL-exact moments, batch-built from history) broadcast into the
    event stream; alerts where |z| > 2.5. Stateless join + filter → append
    mode, no state store, no watermark — the lowest-latency streaming plan
    there is. Matches the batch `ts5_zscore_outliers` answer on a finite
    replay. See :func:`sparkfusion.streaming.windows.stream_score_alerts`."""
    from pyspark.sql import functions as F

    from ..session import events_with_ts
    from ..streaming import stream_score_alerts

    hist = events_with_ts(spark, sf_dir)
    dec = F.col("value").cast("decimal(12,6)")
    profile = (
        hist.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(dec).alias("__s1"),
            F.sum(dec * dec).alias("__s2"),
        )
        .select(
            "event_type",
            (F.col("__s1").cast("double") / F.col("__n")).alias("mean"),
            F.sqrt(
                F.col("__s2").cast("double") / F.col("__n")
                - (F.col("__s1").cast("double") / F.col("__n"))
                * (F.col("__s1").cast("double") / F.col("__n"))
            ).alias("sd"),
        )
    )
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_table(stream_score_alerts(stream, profile, "event_type"), "append")
    return out.select(
        "event_id", "event_type", "value",
        F.round(F.col("z"), 6).alias("z"),
    )


@register(
    "stream_window_argmax",
    oracle="""
    SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS window_start,
           event_type, value AS top_value, event_id AS top_event_id
    FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY time_bucket(INTERVAL 1 HOUR, ts), event_type
      ORDER BY value DESC, event_id DESC
    ) = 1
    """,
)
def stream_window_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: the top-value event per hour per type via a
    lexicographic struct-max AGGREGATE (streams can't run rank windows);
    (value, event_id) max == the oracle's value DESC, event_id DESC pick.
    See :func:`sparkfusion.streaming.windows.window_argmax`."""
    from ..streaming import window_argmax

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_table(window_argmax(stream), "complete")


@register(
    "stream_session_timeout_tws",
    oracle="""
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts_us,
             SUM(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    sess AS (
      SELECT user_id, sid, MIN(ts_us) AS session_start,
             MAX(ts_us) + 1800000000 AS session_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sid
    ),
    mx AS (SELECT user_id, max(sid) AS max_sid FROM sess GROUP BY user_id),
    wm AS (
      SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
    )
    SELECT s.user_id, s.session_start, s.session_end, s.n_events
    FROM sess s JOIN mx USING (user_id), wm
    WHERE s.sid < mx.max_sid OR s.session_end <= wm.wm_us
    """,
)
def stream_session_timeout_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-timeout detection via transformWithStateInPandas EVENT-TIME
    TIMERS — completing the arbitrary-stateful API surface (ValueState /
    ListState / MapState are the three sibling queries; timers are the
    piece nothing input-driven can replace, because they close sessions
    for users who simply STOP sending events). One re-armed timer per key
    at last_event + gap; when the watermark passes it, handleExpiredTimer
    emits the stranded session and clears the state. The finite replay is
    exactly reproducible: the emitted set = batch-sessionization sessions
    that either have a successor session (closed inline by the rollover
    event) or whose end fell at or before the final watermark
    (max event time, ms domain, minus the 1-hour delay) — sessions still
    inside the gap at end-of-stream stay open and unreported, which the
    oracle's max-sid branch mirrors. Verified empirically bit-exact at
    sf0.001 and sf0.01 under both <= and < boundary readings (no session
    lands on the ms boundary)."""
    from pyspark.sql import functions as F

    from ..streaming.windows import run_stream_to_table, session_timeout_tws

    with scoped_conf(spark, STATE_STORE_PROVIDER, ROCKSDB):
        ev = (
            read_events_stream(spark, sf_dir)
            .withWatermark("ts", "1 hour")
            .select(
                "user_id", "ts", F.unix_micros(F.col("ts")).alias("ts_us")
            )
        )
        out = run_stream_to_table(session_timeout_tws(ev, gap_minutes=30), "append")
    return out


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH v AS (
      SELECT event_id AS view_id, user_id AS v_user, epoch_us(ts) AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS p_user, epoch_us(ts) AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT v.view_id, v.v_user, p.purchase_id
      FROM v JOIN p ON p.p_user = v.v_user
                   AND p.p_ts BETWEEN v.v_ts AND v.v_ts + 1800000000
    ),
    wm AS (
      SELECT (least((SELECT max(v_ts) FROM v), (SELECT max(p_ts) FROM p))
              // 1000 - 3600000) * 1000 AS wm_us
    )
    SELECT view_id, v_user, purchase_id FROM m
    UNION ALL
    SELECT v.view_id, v.v_user, CAST(NULL AS BIGINT) AS purchase_id
    FROM v, wm
    WHERE v.view_id NOT IN (SELECT view_id FROM m)
      AND v.v_ts + 1800000000 <= wm.wm_us
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (views ⟕ purchases within
    30 min per user) — the conversion-coverage readout: matched pairs emit
    as both sides arrive; a view that converts to NOTHING emits with a NULL
    purchase only once the watermark proves no match can still arrive
    (state-eviction emission, the capability only OUTER stream-stream joins
    have; the inner form is stream_stream_join). The oracle mirrors the
    exact eviction contract, empirically pinned: the effective final
    watermark is min(max view ts, max purchase ts) in the MS domain minus
    the 1-hour delay — the query's global watermark is the MIN across both
    sides' watermark nodes, which an overall-events max would overstate
    (verified: the overall-max formula mispredicts exactly the rows whose
    window closes between the two maxima). Unmatched views whose window is
    still open at end-of-stream are absent, as in production."""
    from ..streaming.windows import (
        run_stream_to_table,
        stream_stream_left_outer_join,
    )

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_table(
        stream_stream_left_outer_join(stream), "append"
    )


@register(
    "stream_cdc_keep_latest",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           epoch_us(ts) AS last_ts_us
    FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING CDC materialization: the events table is split
    into three files, streamed one file per micro-batch
    (``maxFilesPerTrigger=1``), and ``foreachBatch`` maintains a
    keep-latest-per-user parquet snapshot through the versioned
    copy-on-write commit protocol
    (:class:`sparkfusion.streaming.cdc.KeepLatestSink`). Latest-wins on the
    total (ts_us, event_id) order is commutative and idempotent, so the
    final snapshot equals the batch compaction REGARDLESS of file listing
    order, batch boundaries, or crash-replays — which is exactly what the
    batch row_number oracle checks. The m2/cdc2 family's missing third leg:
    m2 compacts a static log, cdc2 diffs two snapshots, this maintains the
    snapshot continuously."""
    import shutil

    from pyspark.sql import functions as F

    from ..session import events_with_ts
    from ..streaming.cdc import KeepLatestSink, read_snapshot

    base = f"/tmp/sparkfusion_io/cdc_stream_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir, snap_dir, ckpt = f"{base}/in", f"{base}/snap", f"{base}/ckpt"

    ev = events_with_ts(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sink = KeepLatestSink(spark, snap_dir, ["user_id"], ["ts_us", "event_id"])
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = read_snapshot(spark, snap_dir)
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("ts_us").alias("last_ts_us"),
    )


@register(
    "stream_ivfpq_ingest",
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
    )
    SELECT vec_id, cell,
           max(CASE WHEN j = 0 THEN code END) AS code0,
           max(CASE WHEN j = 1 THEN code END) AS code1,
           max(CASE WHEN j = 2 THEN code END) AS code2,
           max(CASE WHEN j = 3 THEN code END) AS code3
    FROM codes GROUP BY vec_id, cell
    """,
)
def stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING vector-index ingest: the embeddings table replayed as a file
    stream and IVF-PQ-encoded on the fly — how a production vector store
    absorbs new embeddings continuously instead of re-batching the corpus.
    The trick that makes it a legal append-mode stream: the index parameters
    (8 coarse centroids, 4×8 residual codewords) are derived ONCE from the
    deterministic training rows with bounded driver math and shipped into
    the plan as literals (:func:`sparkfusion.llm.pq.derive_ivfpq_params`),
    so per-vector assign+encode is a PURE MAP (in-row argmin via array_min
    over struct arrays — no stateful aggregate, no stream-side join). The
    oracle is the batch IVF-PQ encode of the same corpus — a finite replay
    must produce byte-identical codes. At 100 TB/day the sink would be the
    cell-partitioned code store (s27's S3 stream sink); here the memory sink
    keeps the query self-contained."""
    from ..llm.pq import derive_ivfpq_params, ivfpq_encode_literal
    from ..session import table
    from ..streaming import read_table_stream, run_stream_to_table

    emb_batch = table(spark, sf_dir, "embeddings")
    cents, codebook = derive_ivfpq_params(
        emb_batch, "vec_id", "embedding", n_cells=8, m=4, dim=64, n_codes=8
    )
    stream = read_table_stream(spark, sf_dir, "embeddings")
    encoded = ivfpq_encode_literal(stream, cents, codebook, "vec_id", "embedding")
    return run_stream_to_table(encoded, "append")
