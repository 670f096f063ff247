"""Event-analytics & pipeline-prep suite: ordered funnel, cohort retention,
SCD-2 intervals, CDC merge, exact percentiles, histogram, RAG chunking,
deterministic dataset split, and the adapted TPC-H Q11 shape.

Same determinism discipline as the sibling suites: integer epoch-µs for
timestamps, `yyyy-MM-dd` strings for dates, DECIMAL for money sums,
round(…, 6) for interpolated quantiles, md5 for hash bucketing — each
replicated exactly in the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.chunking import assign_split, chunk_sliding
from ..operators.analytics import cohort_retention, funnel, scd2_intervals
from ..operators.merge import merge_upsert
from ..session import events_with_ts, scoped_conf, star_sql, table
from . import register
from ..operators.partitioning import repartition_for_compute
from .sources_suite import IO_DIR


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_with_ts(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("ts"),
    )


# ---------------------------------------------------------------------------
# Funnel / retention / SCD-2
# ---------------------------------------------------------------------------


@register(
    "fn1_funnel",
    oracle="""
    WITH s0 AS (
      SELECT user_id, min(epoch_us(ts)) AS rt FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s1 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS rt
      FROM events e JOIN s0 ON s0.user_id = e.user_id AND epoch_us(e.ts) > s0.rt
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), s2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS rt
      FROM events e JOIN s1 ON s1.user_id = e.user_id AND epoch_us(e.ts) > s1.rt
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 0 AS stage, 'view' AS step, (SELECT count(*) FROM s0) AS users
      UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
      UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    ) WHERE users > 0
    """,
)
def fn1_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (strictly-after semantics, MIN
    qualifying time per stage). See :func:`sparkfusion.operators.analytics.
    funnel` for the per-stage join chain; all shuffles hash on user_id and
    the reached-set shrinks monotonically, so AQE broadcasts later stages."""
    ev = _events_us(spark, sf_dir)
    return funnel(ev, ["view", "click", "purchase"], ts_col="ts_us")


@register(
    "fn2_cohort_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cd FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      WHERE event_type = 'purchase'
    )
    SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', cd, day) AS BIGINT) AS day_offset,
           count(*) AS users
    FROM activity JOIN cohorts USING (user_id)
    WHERE day >= cd
    GROUP BY 1, 2
    """,
)
def fn2_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-signup day, counted
    on each later purchase day as (cohort_day, day_offset) cells. Cohort map
    is one row per user (broadcastable); activity is distinct (user, day)."""
    ev = events_with_ts(spark, sf_dir)
    out = cohort_retention(ev, cohort_event="signup", activity_event="purchase")
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "users",
    )


@register(
    "scd2_user_state",
    oracle="""
    SELECT user_id, event_id, event_type,
           valid_from, valid_to, valid_to IS NULL AS is_current
    FROM (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS valid_from,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS valid_to
      FROM events WHERE event_type IN ('signup', 'error')
    )
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 shaping: each signup/error event becomes a validity
    interval [valid_from, valid_to) per user, NULL valid_to = current row.
    One window shuffle on user_id; per-partition sort only (no global sort).
    See :func:`sparkfusion.operators.analytics.scd2_intervals`."""
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("signup", "error")
    )
    out = scd2_intervals(ev, ["user_id"], "ts_us", order_tiebreak=["event_id"])
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").alias("valid_to"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# CDC merge
# ---------------------------------------------------------------------------

_SNAP_SQL = """
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
"""
_CHG_SQL = """
  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 2 = 0
"""


@register(
    "m1_merge_upsert",
    oracle=f"""
    WITH snap AS ({_SNAP_SQL}), chg AS ({_CHG_SQL})
    SELECT COALESCE(c.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus ELSE s.o_orderstatus END
             AS o_orderstatus,
           CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE s.o_totalprice END
             AS o_totalprice
    FROM snap s FULL JOIN chg c ON s.o_orderkey = c.o_orderkey
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as one full-outer join: a change batch (upserts
    for even orderkeys, deletes for multiples of 14) applied onto a snapshot
    (orderkeys not divisible by 3). Exercises all three MERGE branches —
    keep, upsert (update + insert), delete. See
    :func:`sparkfusion.operators.merge.merge_upsert`."""
    orders = table(spark, sf_dir, "orders")
    snapshot = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    return merge_upsert(snapshot, changes, keys=["o_orderkey"])


@register(
    "cdc_upsert_roundtrip",
    oracle="""
    WITH b0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    ), b1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
             CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT COALESCE(c.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus ELSE s.o_orderstatus END
             AS o_orderstatus,
           CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE s.o_totalprice END
             AS o_totalprice
    FROM b0 s FULL JOIN b1 c ON s.o_orderkey = c.o_orderkey
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def cdc_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two CDC batches applied through the versioned copy-on-write parquet
    sink (:class:`sparkfusion.streaming.cdc.ParquetUpsertSink`), then the
    committed snapshot read back — a REAL write→marker-flip→read roundtrip,
    not just the merge expression. Batch 0 bootstraps (even orderkeys);
    batch 1 upserts multiples of 3 (+100.0) and deletes multiples of 12."""
    import shutil

    from ..streaming.cdc import ParquetUpsertSink, read_snapshot

    path = os.path.join(IO_DIR, "cdc_snapshot")
    shutil.rmtree(path, ignore_errors=True)  # batch ids restart each run
    orders = table(spark, sf_dir, "orders")
    b0 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit("U").alias("op")
    )
    b1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 12 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    sink = ParquetUpsertSink(spark, path, keys=["o_orderkey"])
    sink(b0, 0)
    sink(b1, 1)
    return read_snapshot(spark, path)


# ---------------------------------------------------------------------------
# Percentiles / histogram
# ---------------------------------------------------------------------------


@register(
    "a14_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.95), 6) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a14_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation; round 6 guards the
    last-ulp). Single shuffle on the 3-value group key; at 100 TB swap to
    `approx_percentile` (t-digest, map-side mergeable) — registered
    separately as a10-style approx ops are rows-only."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, array(0.25, 0.50, 0.75, 0.95))").alias("ps")
    )
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.col("ps")[i], 6).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p95"])
        ],
    )


@register(
    "a15_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)
def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (bucket = floor(x/50000)): the profiling
    primitive for choosing partition bounds / skew detection. Pure map-side
    bucketing + one groupBy over a tiny key space; min/max are exact value
    picks (no float-sum ordering hazard)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Chunking / dataset split
# ---------------------------------------------------------------------------


@register(
    "chunk_sliding_docs",
    oracle="""
    SELECT doc_id, CAST(t.s AS BIGINT) AS chunk_start,
           substring(text, CAST(t.s AS INT) + 1, 200) AS chunk_text,
           CAST(length(substring(text, CAST(t.s AS INT) + 1, 200)) AS BIGINT)
             AS chunk_len
    FROM documents, UNNEST(generate_series(0, greatest(length(text) - 1, 0), 150))
      AS t(s)
    """,
)
def chunk_sliding_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: 200-char windows, stride 150
    (50-char overlap). Row-exploding map — repartitioned by doc_id BEFORE
    the explode so growth spreads across the cluster (CLAUDE.md posture).
    See :func:`sparkfusion.llm.chunking.chunk_sliding`."""
    docs = repartition_for_compute(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    out = chunk_sliding(docs, size=200, stride=150)
    return out.select(
        "doc_id",
        F.col("chunk_start").cast("long").alias("chunk_start"),
        "chunk_text",
        F.length("chunk_text").cast("long").alias("chunk_len"),
    )


@register(
    "split_train_val_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
             AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      FROM documents
    )
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: md5(doc_id) bucket
    in [0,100). Membership is a pure key function — identical across runs,
    engines, partitionings (unlike randomSplit). Map-only, shuffle-free.
    See :func:`sparkfusion.llm.chunking.assign_split`."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", assign_split(F.col("doc_id")))


# ---------------------------------------------------------------------------
# TPC-H Q11 (adapted: no partsupp table in the star — value share by part)
# ---------------------------------------------------------------------------

_Q11_VAL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))"
)


@register(
    "q11_important_parts",
    oracle=f"""
    WITH val AS (
      SELECT l_partkey, SUM({_Q11_VAL}) AS v
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE v > (SELECT SUM(v) * CAST(0.001 AS DECIMAL(6,4)) FROM val)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock), adapted to the star's tables:
    per-part value (extendedprice×quantity, DECIMAL-exact) for one nation's
    suppliers, kept where the part's share exceeds 0.1% of that nation's
    total — the group-agg + scalar-subquery-threshold pattern.

    Reference Q11 runs on partsupp (absent here); semantics preserved:
    dims broadcast, one shuffle on l_partkey, the scalar total reduces from
    the same aggregate (Spark reuses the exchange under AQE).
    """
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val = (
        li.join(F.broadcast(sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_quantity").cast("decimal(12,2)")
            ).alias("v")
        )
        # feeds BOTH the scalar total and the final filter — cache so the
        # lineitem scan + partkey shuffle run once (CLAUDE.md posture); the
        # frame is one small row per part
        .cache()
    )
    total = val.agg(
        (F.sum("v") * F.lit(0.001).cast("decimal(6,4)")).alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("v") > F.col("threshold"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@register(
    "mv1_incremental_refresh",
    oracle="""
    SELECT o_orderstatus, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           count(o_totalprice) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY 1, 2
    """,
)
def mv1_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly revenue rollup
    snapshot (orders with key%5!=0) merged with a new batch's partial
    aggregates (key%5==0) via one full-outer join on the group key — and the
    result provably equals the from-scratch aggregate (the oracle computes
    exactly that). DECIMAL sums make the merge order-insensitive; refresh
    cost is O(batch + groups), not O(history). See
    :mod:`sparkfusion.operators.incremental`."""
    from ..operators.incremental import aggregate_state, merge_states

    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
            "month"
        ),
        "o_totalprice",
        "o_orderkey",
    )
    aggs = {
        "revenue": ("sum", F.col("o_totalprice").cast("decimal(18,6)")),
        "n": ("count", F.col("o_totalprice")),
        "lo": ("min", F.col("o_totalprice")),
        "hi": ("max", F.col("o_totalprice")),
    }
    keys = ["o_orderstatus", "month"]
    snapshot = aggregate_state(orders.filter(F.col("o_orderkey") % 5 != 0), keys, aggs)
    delta = aggregate_state(orders.filter(F.col("o_orderkey") % 5 == 0), keys, aggs)
    merged = merge_states(snapshot, delta, keys, aggs)
    return merged.select(
        "o_orderstatus", "month", F.col("revenue").cast("double").alias("revenue"),
        "n", "lo", "hi",
    )


@register(
    "mv2_hll_distinct_rollup",
    oracle="""
    SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_subgroups,
           count(DISTINCT user_id) AS exact_distinct,
           true AS est_within_5pct
    FROM events GROUP BY 1
    """,
)
def mv2_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HLL sketches: one sketch
    per (type, day), unioned up to type — the incremental-MV answer for
    distinct counts (per-batch sketches union in O(16 KiB/group) without
    rescanning history; union is associative AND idempotent, so replayed
    batches can't inflate the count). The oracle pins the estimate to within
    5% of DuckDB's exact distinct as a boolean (same 3x+-rsd discipline as
    a10_approx_distinct — lg_k=14 rsd is 0.81%, so 5% is ~6 sigma and robust
    to testdata regeneration pushing the sketch out of sparse mode). See :func:`sparkfusion.operators.incremental.hll_rollup`."""
    ev = events_with_ts(spark, sf_dir).select(
        "event_type", "user_id", F.to_date(F.col("ts")).alias("day")
    )
    from ..operators.incremental import hll_rollup

    sk = hll_rollup(ev, sub_keys=["day"], rollup_keys=["event_type"], count_col="user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "n_subgroups",
            "exact_distinct",
            (
                F.abs(F.col("distinct_est") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).alias("est_within_5pct"),
        )
    )


@register(
    "fe1_winsorize",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.05), 6) AS lo,
             round(quantile_cont(l_quantity, 0.95), 6) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag, l_quantity,
           round(least(greatest(l_quantity, lo), hi), 6) AS clipped
    FROM lineitem l JOIN b USING (l_returnflag)
    """,
)
def fe1_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping to per-group [p05, p95]) — the
    feature-engineering normalizer complementing ts5's z-score DETECTION.
    Exact interpolated percentiles for oracle parity (Spark `percentile` ==
    DuckDB `quantile_cont`, pinned by a14); bounds are a tiny per-group
    frame broadcast back onto the scan; at 100 TB swap the bounds pass to
    `approx_percentile` (t-digest, map-side mergeable) — the clip join is
    unchanged."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 6).alias("hi"),
    )
    return li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "l_quantity",
        F.round(
            F.least(F.greatest(F.col("l_quantity"), F.col("lo")), F.col("hi")), 6
        ).alias("clipped"),
    )


@register(
    "fn3_transition_matrix",
    oracle="""
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def fn3_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (first-order Markov counts): for each user's
    (ts, event_id)-ordered stream, count prev→next event-type pairs — the
    behavioral-model / next-event-prediction input. One window shuffle on
    user_id + one tiny groupBy on the 5x5 type space."""
    from pyspark.sql import Window

    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a17_correlation",
    oracle="""
    SELECT l_returnflag,
           round(
             (CAST(sum(x * y) AS DOUBLE) / n
              - (CAST(sum(x) AS DOUBLE) / n) * (CAST(sum(y) AS DOUBLE) / n))
             / (sqrt(CAST(sum(x * x) AS DOUBLE) / n
                     - (CAST(sum(x) AS DOUBLE) / n) * (CAST(sum(x) AS DOUBLE) / n))
                * sqrt(CAST(sum(y * y) AS DOUBLE) / n
                       - (CAST(sum(y) AS DOUBLE) / n) * (CAST(sum(y) AS DOUBLE) / n))),
             9) AS corr_qty_price
    FROM (
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(14,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    GROUP BY l_returnflag, n
    """,
)
def a17_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation per group from DECIMAL moment sums (sum x,
    y, xy, x2, y2 — order-independent across partitions, unlike `corr()`'s
    streaming float update), with the closed form evaluated in double.
    Single scan, one groupBy on the 3-value key."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(14,6)")
    # y at precision 19 forces the oracle's int128 storage (int64 decimal x
    # decimal overflows in DuckDB); Spark's product type (34,12) stays exact
    y = F.col("l_extendedprice").cast("decimal(19,6)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    cov = F.col("sxy").cast("double") / n - mx * my
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    return agg.select(
        "l_returnflag",
        F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 9).alias("corr_qty_price"),
    )


@register(
    "a18_mode",
    oracle="""
    SELECT l_returnflag, l_quantity AS modal_qty, n FROM (
      SELECT l_returnflag, l_quantity, count(*) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag ORDER BY count(*) DESC, l_quantity
             ) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def a18_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent l_quantity per returnflag
    with (count DESC, value ASC) tie-break — unlike `F.mode()`, whose tie
    winner is engine/partitioning-dependent. One groupBy + a window over the
    tiny (flag, qty) aggregate."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("modal_qty"), "n")
    )



def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer<->supplier trade graph shared by g1/g3/g4/g6 —
    node ids encoded as BIGINTs (customer k → 2k, supplier k → 2k+1,
    disjoint and reversible via :func:`_decode_trade_node`).

    The string ids the oracles name ('c'||custkey / 's'||suppkey) are
    applied only in each query's FINAL projection: every iterative
    operator on this graph is relabeling-invariant (rank/dist/degree
    values never depend on the node representation, only on equality),
    and the per-round hash aggregations dominate the g-family's cost —
    r14 profile: ~10-11s of HashAggregate build time per pagerank/relax
    round on two-string keys at sf0.1, the single largest line in the
    family's stage table (guide §2.3 "narrower types": halve the key,
    halve the hash/compare work — here string(6-8B + offsets) → one
    BIGINT).

    Deliberately NOT checkpointed before the symmetrizing union: the two
    branches are identical up to a projection, so Spark reuses the
    join+distinct exchange (ReusedExchange) and the double-read costs one
    trivial post-shuffle projection — an eager localCheckpoint here measured
    ~60% SLOWER (3.4s -> 5.8s warm at sf0.1). Contrast
    :func:`sparkfusion.llm.dedup.connected_components`, where the pair
    pipeline's post-shuffle verify work is heavy and the pre-union
    checkpoint measured 35% FASTER — materialize-before-union is a
    per-pipeline measurement, not a rule."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("a"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("b"),
        )
        .distinct()
    )
    return base.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(base.select(F.col("b").alias("src"), F.col("a").alias("dst")))


def _decode_trade_node(col: str = "node"):
    """BIGINT trade-graph node id back to the oracle's string id
    ('c'||custkey for even = customers, 's'||suppkey for odd = suppliers)."""
    return F.expr(
        f"IF({col} % 2 = 0, concat('c', CAST({col} div 2 AS STRING)),"
        f" concat('s', CAST({col} div 2 AS STRING)))"
    )


def _pagerank_oracle(iters: int = 3) -> str:
    sql = """
    WITH base AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base UNION SELECT b, a FROM base
    ), deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    nn AS (
      SELECT count(*) AS n,
             1000000000000 // count(*) AS init_fp,
             (15 * 1000000000000) // (100 * count(*)) AS teleport_fp
      FROM deg
    ),
    r0 AS (SELECT src AS node, CAST(init_fp AS BIGINT) AS rank_fp FROM deg, nn)"""
    for i in range(iters):
        sql += f""", r{i + 1} AS (
      SELECT d.node, CAST(teleport_fp + (85 * s) // 100 AS BIGINT) AS rank_fp
      FROM (
        SELECT e.dst AS node, sum(r.rank_fp // deg.deg) AS s
        FROM edges e JOIN r{i} r ON r.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY 1
      ) d, nn)"""
    return sql + f" SELECT node, rank_fp FROM r{iters}"


@register("g1_pagerank", oracle=_pagerank_oracle(3))
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank over the symmetrized customer<->supplier
    trade graph (edges = distinct (custkey, suppkey) pairs via
    orders JOIN lineitem), in FIXED-POINT INTEGER arithmetic (BIGINT ranks
    scaled by 1e12): float PageRank is not reproducible across engines or
    partitionings — contribution-sum order varies and even round(double, 12)
    disagrees at half-point ties (observed) — integer div/mul/add is
    bit-identical everywhere. Lineage is localCheckpoint-truncated per round
    (CLAUDE.md iterative-algorithm rule). See
    :func:`sparkfusion.operators.graph.pagerank`."""
    from ..operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    out = pagerank(edges, iterations=3)
    # iterate on BIGINT node ids, emit the oracle's string ids once at the
    # end (see _trade_edges — r14 narrow-key change, guide §2.3)
    return out.select(_decode_trade_node("node").alias("node"), "rank_fp")


def _bfs_oracle(hops: int = 4) -> str:
    sql = """
    WITH base AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base UNION SELECT b, a FROM base
    ), d0 AS (
      SELECT DISTINCT 'c' || c_custkey AS node, 0 AS dist
      FROM customer WHERE c_nationkey = 0
    )"""
    for i in range(hops):
        sql += f""", d{i + 1} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{i} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
    return sql + f" SELECT node, CAST(dist AS INT) AS dist FROM d{hops}"


@register("g3_bfs_distances", oracle=_bfs_oracle(4))
def g3_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (≤ 4 hops) from nation-0 customers
    over the same symmetrized customer<->supplier trade graph as
    ``g1_pagerank``. Frontier-only expansion — each round joins just the
    newly-reached boundary against the cached edge list, never the full
    visited set — with per-round ``localCheckpoint`` lineage truncation;
    the oracle unrolls the equivalent min-distance propagation (unit
    weights make the two identical). See
    :func:`sparkfusion.operators.graph.bfs_distances`."""
    from ..operators.graph import bfs_distances

    edges = _trade_edges(spark, sf_dir)
    seeds = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).cast("long").alias("node"))
    )
    out = bfs_distances(edges, seeds, max_hops=4)
    return out.select(_decode_trade_node("node").alias("node"), "dist")


_OLD_SQL = "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 4 <> 1"
_NEW_SQL = """
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 50.0 ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 2
"""


@register(
    "cdc2_snapshot_diff",
    oracle=f"""
    WITH o AS ({_OLD_SQL}), n AS ({_NEW_SQL})
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           n.o_orderstatus AS o_orderstatus,
           n.o_totalprice AS o_totalprice,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op
    FROM o FULL JOIN n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
       OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
    """,
)
def cdc2_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed derivation between two parquet snapshot versions (the
    inverse of m1's MERGE): old = orders sans key%4==1; new = orders sans
    key%5==2 with +50.0 on multiples of 3. One full-outer key join classifying
    insert/update/delete, unchanged rows dropped — how a pipeline without
    Delta/Iceberg CDF backfills CDC from plain snapshots; diff→merge
    round-trips (pytest-pinned). See
    :func:`sparkfusion.operators.merge.snapshot_diff`."""
    from ..operators.merge import snapshot_diff

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 4 != 1)
    new = orders.filter(F.col("o_orderkey") % 5 != 2).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(50.0))
        .otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])


@register(
    "a19_mad_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS m
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           m AS median_qty,
           round(quantile_cont(abs(l_quantity - m), 0.5), 6) AS mad
    FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag, m
    """,
)
def a19_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion measure
    outlier detection should prefer when the data itself contains the
    outliers that corrupt stddev (complements ts5's z-score). Two passes by
    necessity (MAD is a nested median): pass 1 medians broadcast back, pass
    2 the deviation median. Exact interpolated percentile on both engines
    (a14 discipline); at 100 TB both passes swap to approx_percentile."""
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("m")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "m")
        .agg(
            F.round(F.expr("percentile(abs(l_quantity - m), 0.5)"), 6).alias("mad")
        )
        .select("l_returnflag", F.col("m").alias("median_qty"), "mad")
    )


@register(
    "a20_higher_moments",
    oracle="""
    SELECT l_returnflag,
           round((s3n - 3 * mean * s2n + 2 * mean * mean * mean)
                 / pow(s2n - mean * mean, 1.5), 9) AS skewness,
           round((s4n - 4 * mean * s3n + 6 * mean * mean * s2n
                  - 3 * mean * mean * mean * mean)
                 / pow(s2n - mean * mean, 2.0) - 3.0, 9) AS excess_kurtosis
    FROM (
      SELECT l_returnflag,
             CAST(sum(x) AS DOUBLE) / n AS mean,
             CAST(sum(x * x) AS DOUBLE) / n AS s2n,
             CAST(sum(x * x * x) AS DOUBLE) / n AS s3n,
             CAST(sum(x * x * x * x) AS DOUBLE) / n AS s4n
      FROM (
        SELECT l_returnflag, CAST(l_quantity AS DECIMAL(9,2)) AS x,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
      ) GROUP BY l_returnflag, n
    )
    """,
)
def a20_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from exact DECIMAL
    power sums (x, x², x³, x⁴ — order-independent across partitions, unlike
    the engines' built-in `skewness`/`kurtosis` streaming estimators, which
    also disagree on sample-vs-population form). The distribution-shape
    profile a feature store computes next to a15's histogram. Single scan,
    one groupBy."""
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(9,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n
    s2n = F.col("s2").cast("double") / n
    s3n = F.col("s3").cast("double") / n
    s4n = F.col("s4").cast("double") / n
    var = s2n - mean * mean
    skew = (s3n - F.lit(3.0) * mean * s2n + F.lit(2.0) * mean * mean * mean) / F.pow(var, 1.5)
    kurt = (
        s4n
        - F.lit(4.0) * mean * s3n
        + F.lit(6.0) * mean * mean * s2n
        - F.lit(3.0) * mean * mean * mean * mean
    ) / F.pow(var, 2.0) - F.lit(3.0)
    return agg.select(
        "l_returnflag",
        F.round(skew, 9).alias("skewness"),
        F.round(kurt, 9).alias("excess_kurtosis"),
    )


@register(
    "a21_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
           abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5))
             <= 2.0 AS approx_within_2
    FROM lineitem GROUP BY 1
    """,
)
def a21_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path made concrete: `approx_percentile`
    (map-side-mergeable sketch — the production swap a14/a19/fe1 document)
    asserted within ±2 of the exact interpolated median, as a boolean both
    engines agree on (a10 discipline: sketch VALUES are engine-specific,
    error BOUNDS are not). One scan, no Expand, no full sort — the plan
    difference vs exact percentile IS the point."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("exact_p50"),
        (
            F.abs(
                F.expr("approx_percentile(l_quantity, 0.5, 10000)")
                - F.expr("percentile(l_quantity, 0.5)")
            )
            <= F.lit(2.0)
        ).alias("approx_within_2"),
    )


@register(
    "mv3_streaming_rollup",
    oracle="""
    SELECT o_orderstatus, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           count(o_totalprice) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def mv3_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-MV maintenance roundtrip: two micro-batches of
    orders (even keys, then odd) pushed through the versioned
    copy-on-write rollup sink (foreachBatch shape), then the committed
    snapshot read back — and it must equal the from-scratch monthly
    aggregate over ALL orders (the oracle). Mergeable DECIMAL states make
    batch boundaries invisible; the COW-version protocol makes a replayed
    batch overwrite instead of double-count. See
    :class:`sparkfusion.streaming.cdc.AggregateRollupSink`."""
    import shutil

    from ..streaming.cdc import AggregateRollupSink, read_snapshot
    from .sources_suite import IO_DIR

    path = os.path.join(IO_DIR, "mv3_rollup")
    shutil.rmtree(path, ignore_errors=True)  # versions restart each run
    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
            "month"
        ),
        "o_totalprice",
        "o_orderkey",
    )
    aggs_fn = lambda: {
        "revenue": ("sum", F.col("o_totalprice").cast("decimal(18,6)")),
        "n": ("count", F.col("o_totalprice")),
    }
    sink = AggregateRollupSink(
        spark, path, keys=["o_orderstatus", "month"], aggs_fn=aggs_fn
    )
    sink(orders.filter(F.col("o_orderkey") % 2 == 0), 0)
    sink(orders.filter(F.col("o_orderkey") % 2 == 1), 1)
    snap = read_snapshot(spark, path)
    return snap.select(
        "o_orderstatus", "month", F.col("revenue").cast("double").alias("revenue"), "n"
    )


@register(
    "gap1_islands",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           min(event_id) AS first_id, max(event_id) AS last_id
    FROM (
      SELECT user_id, event_id,
             event_id - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS grp
      FROM events
    )
    GROUP BY user_id, grp
    """,
)
def gap1_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE event ids per user via
    the classic ``value − row_number`` trick (consecutive values share the
    difference) — the streak/contiguity primitive (uptime runs, consecutive
    days active). One window + one groupBy, both on the user_id shuffle."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.withColumn("grp", F.col("event_id") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_id"),
            F.max("event_id").alias("last_id"),
        )
        .drop("grp")
    )


@register(
    "rfm1_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(epoch_us(o_orderdate)) AS last_us,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_us, frequency, monetary,
           NTILE(4) OVER (ORDER BY last_us DESC, o_custkey) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile
    FROM base
    """,
)
def rfm1_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quartiles per
    customer — the classic marketing-mart rollup. DECIMAL money sums;
    deterministic (metric DESC, custkey) NTILE orders. The three NTILEs go
    through :func:`sparkfusion.operators.ranks.global_ntile` (range
    partition + partition-offset position + the closed-form NTILE formula)
    — no customer row passes a single-reducer window at any scale; the
    approx_percentile breakpoint alternative (a21/a16) remains the choice
    when approximate tile boundaries are acceptable."""
    from ..operators.ranks import global_ntile

    orders = table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    out = global_ntile(
        base, ["last_us", "o_custkey"], 4, out="r_quartile", ascending=[False, True]
    )
    out = global_ntile(
        out, ["frequency", "o_custkey"], 4, out="f_quartile", ascending=[False, True]
    )
    out = global_ntile(
        out, ["monetary", "o_custkey"], 4, out="m_quartile", ascending=[False, True]
    )
    return out.select(
        "o_custkey", "last_us", "frequency", "monetary",
        "r_quartile", "f_quartile", "m_quartile",
    )


@register(
    "pop1_wow_growth",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) AS day_us,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT day_us, revenue,
           lag(revenue, 7) OVER (ORDER BY day_us) AS revenue_prev_week,
           round(revenue / lag(revenue, 7) OVER (ORDER BY day_us) - 1, 9)
             AS wow_growth
    FROM daily
    """,
)
def pop1_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: daily revenue vs the value 7 rows earlier
    (week-over-week on a daily series) — the reporting primitive behind
    every trend dashboard. DECIMAL daily sums cast to double, ratio rounded
    9; lag window over the tiny DAY-level aggregate (the global window sorts
    days, not orders)."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("day_us")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
    w = Window.orderBy("day_us")
    prev = F.lag("revenue", 7).over(w)
    return daily.select(
        "day_us",
        "revenue",
        prev.alias("revenue_prev_week"),
        F.round(F.col("revenue") / prev - 1, 9).alias("wow_growth"),
    )


@register(
    "abc1_pareto_parts",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(revenue) AS total FROM pr),
    ranked AS (
      SELECT l_partkey, CAST(revenue AS DOUBLE) AS revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, l_partkey) AS cum,
             total
      FROM pr CROSS JOIN tot
    )
    SELECT l_partkey, revenue,
           round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 9) AS cum_share,
           CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
                WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def abc1_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification: parts ranked by revenue with cumulative
    share cut at 80%/95% — the inventory-analytics classic. The cumulative
    window runs in DECIMAL (exact prefix sums; a double running sum would be
    order-fragile), the single division per row is rounded 9. Like rfm1, the
    global window orders the PART-level aggregate, not the fact table."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("revenue")
    )
    tot = pr.agg(F.sum("revenue").alias("total"))
    w = Window.orderBy(F.col("revenue").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = pr.join(F.broadcast(tot)).withColumn("cum", F.sum("revenue").over(w))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    return ranked.select(
        "l_partkey",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(share, 9).alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
    )


@register(
    "a22_weighted_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_extendedprice,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def a22_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group (price weighted by quantity): the smallest
    value whose DECIMAL-exact cumulative weight reaches half the total —
    the ``2·cum ≥ tot`` comparison stays in integers/decimals, so there is
    no division or float threshold anywhere and the result is the exact
    weighted median on both engines. One window shuffle on the group key
    with a deterministic (price, orderkey, linenumber) order; neither
    engine has a weighted-median builtin, so this is the portable form."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    wc = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(qty).over(wc).alias("cum"),
        F.sum(qty).over(wt).alias("tot"),
    )
    return (
        c.filter(F.lit(2) * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
    )


@register(
    "rc1_recursive_subtree",
    oracle="""
    WITH RECURSIVE anc(node, a) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION ALL
      SELECT node, a // 2 FROM anc WHERE a > 1
    )
    SELECT a AS ancestor, count(*) AS n_subtree,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS subtree_bal
    FROM anc JOIN customer c ON anc.node = c.c_custkey
    GROUP BY a
    """,
)
def rc1_recursive_subtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4 SQL surface): customers form an implicit
    binary referral tree (parent = custkey div 2); the recursion walks every
    node's ancestor chain, then one groupBy rolls up subtree size and
    DECIMAL-exact subtree balance per ancestor — the hierarchy/BOM rollup
    DataFusion users hand-write as iterative queries. Recursion depth is
    log2(N) (~21 at sf1); each step is one self-join the engine executes
    iteratively — the DataFrame-loop siblings (connected components,
    PageRank at operators/graph.py) remain the explicit-control form with
    localCheckpoint lineage management."""
    # the recursion emits N·log2(N) ancestor rows; Spark's default 1M-row
    # recursion guard trips at sf1 (150k customers × ~18 levels ≈ 2.7M).
    # Raise it ONLY for the duration of this query's execution: the result is
    # materialized via localCheckpoint while the limit is up, and the prior
    # value is restored on exit — leaving the guard raised would strip
    # the session's runaway-recursion protection for every later query.
    with scoped_conf(spark, "spark.sql.cteRecursionRowLimit", "100000000"):
        return star_sql(
            spark,
            sf_dir,
            """
            WITH RECURSIVE anc(node, a) AS (
              SELECT c_custkey, c_custkey FROM {customer}
              UNION ALL
              SELECT node, a div 2 FROM anc WHERE a > 1
            )
            SELECT a AS ancestor, count(*) AS n_subtree,
                   CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS subtree_bal
            FROM anc JOIN {customer} c ON anc.node = c.c_custkey
            GROUP BY a
            """,
        ).localCheckpoint(eager=True)


@register(
    "g2_triangle_count",
    oracle="""
    WITH raw AS (
      SELECT least(o_custkey, ((o_orderkey % 1500) * 1261) % 1500 + 1) AS u,
             greatest(o_custkey, ((o_orderkey % 1500) * 1261) % 1500 + 1) AS v
      FROM orders
    ),
    e AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    w AS (
      SELECT o1.s, o1.t AS b, o2.t AS c
      FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t
    ),
    tri AS (SELECT * FROM w JOIN e ON w.b = e.u AND w.c = e.v)
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*) FROM w) AS n_wedges,
           (SELECT count(*) FROM tri) AS n_triangles
    """,
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact triangle counting with DEGREE ORIENTATION (the
    bounded-fanout trick every production triangle counter uses — a hub
    node's wedges grow with its oriented out-degree O(sqrt(m)), not its raw
    degree). The graph is deterministic from orders (custkey ↔ a Knuth-hash
    target in a fixed low range, which CREATES hub nodes — exactly the skew
    the orientation neutralizes). Both engines run the same
    normalize → orient → wedge-join → close pipeline; the report row is
    (n_edges, n_wedges, n_triangles), all exact. See
    :func:`sparkfusion.operators.graph.triangle_count`."""
    from ..operators.graph import triangle_count

    orders = table(spark, sf_dir, "orders")
    edges = orders.select(
        F.col("o_custkey").alias("u"),
        (((F.col("o_orderkey") % 1500) * 1261) % 1500 + 1).alias("v"),
    )
    return triangle_count(edges)


@register(
    "fi1_item_affinity",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT count(DISTINCT okey) AS n_baskets FROM baskets),
    bc AS (SELECT brand, count(*) AS cnt FROM baskets GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS support
      FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, support,
           CAST(support AS DOUBLE) * n.n_baskets / (ca.cnt * cb.cnt) AS lift
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb ON cb.brand = pairs.brand_b
    CROSS JOIN n
    WHERE support >= 20
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 25
    """,
)
def fi1_item_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity (association-rules support + lift) over
    co-ordered part brands. The scale-critical move is deduplicating each
    basket to the BRAND level BEFORE the pair self-join: fanout per order is
    then bounded by (distinct brands per basket choose 2) <= C(7,2), never
    by raw line items, and the join itself is an equi-join on the order key
    (co-partitioned after the dedup shuffle — no cross join anywhere).
    Brand marginals are a 25-row broadcast; the basket total is a broadcast
    1-row scalar. Lift is a single IEEE multiply + divide on exact integers
    (< 2^53), so both engines round identically — no float-sum order
    sensitivity. Deterministic top-25 via (lift DESC, brand_a, brand_b)
    total order."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        # feeds three subtrees (total, marginals, pair join); localCheckpoint
        # instead of cache() so nothing accumulates in the CacheManager across
        # repeated invocations (correctness sweeps, bench REPEATS) — same fix
        # as bloom_semi_join / pipeline2 (ADVICE r6)
        .localCheckpoint(eager=True)
    )
    n = baskets.agg(F.countDistinct("okey").alias("n_baskets"))
    bc = baskets.groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    a = baskets.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = baskets.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    ca = F.broadcast(bc.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("ca")))
    cb = F.broadcast(bc.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cb")))
    return (
        pairs.join(ca, "brand_a")
        .join(cb, "brand_b")
        .crossJoin(F.broadcast(n))
        .where(F.col("support") >= 20)
        .select(
            "brand_a",
            "brand_b",
            "support",
            (
                F.col("support").cast("double")
                * F.col("n_baskets")
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(25)
    )


@register(
    "sk1_kmv_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, h,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk
      FROM h
    ),
    m AS (SELECT l_returnflag, h FROM r WHERE rk <= 64)
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(h) AS BIGINT) AS kth_hash,
           CAST(CASE WHEN count(*) < 64 THEN count(*)
                     ELSE (63 * 4294967296) // max(h) END AS BIGINT)
             AS est_distinct
    FROM m GROUP BY l_returnflag
    """,
)
def sk1_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch: estimated distinct
    part keys per ship mode from only the k=64 smallest md5-derived hashes
    per group — the cardinality-estimation pass a 100 TB pipeline runs
    where exact COUNT(DISTINCT) is too expensive. Chosen over HLL precisely
    because KMV over a deterministic hash is bit-reproducible in ANSI SQL,
    so the ORACLE verifies the sketch exactly (Spark's own
    approx_count_distinct has engine-internal registers and no such
    oracle). Scale shape: distinct-shuffle, then two BOUNDED row_number
    windows (per salt bucket, then per group over ≤ buckets·k rows) — no
    unbounded collect_set, no single-reducer sort of a group's full
    distinct set. See :func:`sparkfusion.operators.sketches.kmv_distinct`."""
    from ..operators.sketches import kmv_distinct

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return kmv_distinct(li, "l_partkey", ["l_returnflag"], k=64)


@register(
    "fn4_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    conv AS (
      SELECT event_type, value,
             coalesce(last_value(
               CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), '(none)') AS touch
      FROM e
    )
    SELECT touch, count(*) AS n_conversions,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
    FROM conv WHERE event_type = 'purchase'
    GROUP BY touch
    """,
)
def fn4_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to the
    user's most recent preceding non-purchase event ('(none)' when the
    purchase opens the history), then conversions and DECIMAL-exact
    attributed value roll up per touch type. One window over
    (user_id, ts_us, event_id) — the same per-entity ordered pass as the
    funnel/retention family, no self-join (the naive formulation joins
    every purchase against all earlier events). Completes the funnel
    toolkit: fn1 measures the path, fn4 assigns the credit."""
    from pyspark.sql import Window

    ev = _events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.coalesce(
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
        F.lit("(none)"),
    )
    conv = ev.withColumn("touch", touch).filter(F.col("event_type") == "purchase")
    return conv.groupBy("touch").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("attributed_value"),
    )


@register(
    "ab1_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT
        count(*) FILTER (WHERE event_type = 'purchase') AS n_a,
        count(*) FILTER (WHERE event_type = 'view') AS n_b,
        CAST(sum(CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS sx_a,
        CAST(sum(CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'view') AS DOUBLE) AS sx_b,
        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS sxx_a,
        CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
             FILTER (WHERE event_type = 'view') AS DOUBLE) AS sxx_b
      FROM events
    )
    SELECT n_a, n_b,
           round(sx_a / n_a - sx_b / n_b, 9) AS mean_diff,
           round((sx_a / n_a - sx_b / n_b)
                 / sqrt(((sxx_a - sx_a * sx_a / n_a) / (n_a - 1)) / n_a
                        + ((sxx_b - sx_b * sx_b / n_b) / (n_b - 1)) / n_b),
                 9) AS t_stat
    FROM s
    """,
)
def ab1_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event cohorts (purchase
    vs view values) — the A/B-experiment readout, computed the only way
    that is deterministic on a cluster: ONE scan accumulates DECIMAL-exact
    moment sums (n, Σx, Σx²) per cohort via conditional aggregation (no
    second pass, no per-cohort shuffle), then the closed-form statistic is
    evaluated in double with an expression tree written identically in both
    engines (double ops are IEEE-deterministic given identical operands and
    order; round(·, 9) guards the last bits). Same moment-sum discipline as
    ``a17_correlation`` — a streaming float variance update would be
    partition-merge-order dependent."""
    ev = table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,4)")
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "view"
    s = ev.agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.sum(F.when(is_a, x)).cast("double").alias("sx_a"),
        F.sum(F.when(is_b, x)).cast("double").alias("sx_b"),
        F.sum(F.when(is_a, x * x)).cast("double").alias("sxx_a"),
        F.sum(F.when(is_b, x * x)).cast("double").alias("sxx_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    sx_a, sx_b = F.col("sx_a"), F.col("sx_b")
    sxx_a, sxx_b = F.col("sxx_a"), F.col("sxx_b")
    mean_diff = sx_a / n_a - sx_b / n_b
    v_over_n_a = ((sxx_a - sx_a * sx_a / n_a) / (n_a - F.lit(1))) / n_a
    v_over_n_b = ((sxx_b - sx_b * sx_b / n_b) / (n_b - F.lit(1))) / n_b
    return s.select(
        "n_a",
        "n_b",
        F.round(mean_diff, 9).alias("mean_diff"),
        F.round(mean_diff / F.sqrt(v_over_n_a + v_over_n_b), 9).alias("t_stat"),
    )


@register(
    "fn5_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS first_view,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS first_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT first_buy - first_view AS delay_us
      FROM firsts
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view
    )
    SELECT count(*) AS n_converted,
           round(quantile_cont(delay_us / 1000000.0, 0.50), 6) AS median_delay_s,
           round(quantile_cont(delay_us / 1000000.0, 0.90), 6) AS p90_delay_s
    FROM conv
    """,
)
def fn5_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, the delay between the FIRST view and the
    FIRST purchase (users whose first purchase precedes any view are
    excluded — they converted through another channel), summarized as
    count + exact interpolated median/p90. One conditional-min
    aggregation per user (no per-type self-join), then a single-row
    percentile over the small converted-user frame — delays stay integer
    epoch-µs through the aggregation and convert to SECONDS (one exact
    IEEE division) before interpolating, because the two engines'
    interpolation formulas differ in the last ulp and round(·, 6) can
    only mask that at ~1e5 magnitude, not at raw-µs 1e11 (Spark
    ``percentile`` == DuckDB ``quantile_cont``). Extends the
    funnel family: fn1 measures the path, fn4 assigns credit, fn5 times
    the conversion."""
    ev = _events_us(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias(
            "first_buy"
        ),
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        ((F.col("first_buy") - F.col("first_view")) / F.lit(1000000.0)).alias(
            "delay_s"
        )
    )
    agg = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delay_s, array(0.50, 0.90))").alias("ps"),
    )
    return agg.select(
        "n_converted",
        F.round(F.col("ps")[0], 6).alias("median_delay_s"),
        F.round(F.col("ps")[1], 6).alias("p90_delay_s"),
    )


@register(
    "st1_chi2_independence",
    oracle="""
    WITH c AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
    ),
    langs AS (SELECT lang, sum(n) AS r_tot FROM c GROUP BY 1),
    srcs AS (SELECT source, sum(n) AS c_tot FROM c GROUP BY 1),
    tot AS (SELECT sum(n) AS n_tot FROM c),
    grid AS (
      SELECT l.lang, s.source, l.r_tot, s.c_tot, t.n_tot,
             coalesce(c.n, 0) AS n_obs
      FROM langs l CROSS JOIN srcs s CROSS JOIN tot t
      LEFT JOIN c ON c.lang = l.lang AND c.source = s.source
    )
    SELECT lang, source, CAST(n_obs AS BIGINT) AS n_obs,
           round(CAST(r_tot * c_tot AS DOUBLE) / n_tot, 9) AS expected,
           round((n_obs - CAST(r_tot * c_tot AS DOUBLE) / n_tot)
                 * (n_obs - CAST(r_tot * c_tot AS DOUBLE) / n_tot)
                 / (CAST(r_tot * c_tot AS DOUBLE) / n_tot), 9) AS chi2_term
    FROM grid
    """,
)
def st1_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (document language x source) — the contingency-table readout every
    experimentation / data-drift stack needs next to ab1's t-test. One
    groupBy collapses the table to the r x c cell counts; the marginals and
    the full grid (INCLUDING zero-observed cells, which naive GROUP BY
    drops but the statistic requires) are built from that tiny aggregated
    frame, so the cross join touches #langs x #sources rows, never the
    table. Expected = r_tot*c_tot/n computed as one exact BIGINT product
    and one IEEE double division — identical in both engines; per-cell
    chi2 contributions localize WHICH (lang, source) pair drives
    dependence. Sum chi2_term for the statistic (df = (r-1)(c-1))."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    langs = c.groupBy("lang").agg(F.sum("n").alias("r_tot"))
    srcs = c.groupBy("source").agg(F.sum("n").alias("c_tot"))
    tot = c.agg(F.sum("n").alias("n_tot"))
    grid = (
        langs.crossJoin(F.broadcast(srcs))
        .crossJoin(F.broadcast(tot))
        .join(c, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_obs"),
            (
                (F.col("r_tot") * F.col("c_tot")).cast("double") / F.col("n_tot")
            ).alias("e"),
        )
    )
    obs_m_e = F.col("n_obs") - F.col("e")
    return grid.select(
        "lang",
        "source",
        "n_obs",
        F.round("e", 9).alias("expected"),
        F.round(obs_m_e * obs_m_e / F.col("e"), 9).alias("chi2_term"),
    )


_CMS_W = 512  # counters per hash row
_CMS_D = 3  # independent hash rows


def _cms_bucket_sql(i: int, key: str) -> str:
    return f"('0x' || substr(md5('{i}:' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {_CMS_W}"


@register(
    "cms1_heavy_hitters",
    oracle=f"""
    WITH sketch AS (
      SELECT i, bucket, count(*) AS cnt FROM (
        {" UNION ALL ".join(
            f"SELECT {i} AS i, {_cms_bucket_sql(i, 'l_partkey')} AS bucket FROM lineitem"
            for i in range(_CMS_D)
        )}
      ) GROUP BY i, bucket
    ),
    exact AS (
      SELECT l_partkey, count(*) AS n_exact FROM lineitem GROUP BY 1
    ),
    top10 AS (
      SELECT l_partkey, n_exact FROM exact
      ORDER BY n_exact DESC, l_partkey LIMIT 10
    ),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT l_partkey, n_exact, {i} AS i,"
          f" {_cms_bucket_sql(i, 'l_partkey')} AS bucket FROM top10"
          for i in range(_CMS_D)
      )}
    )
    SELECT p.l_partkey, CAST(max(p.n_exact) AS BIGINT) AS n_exact,
           CAST(min(s.cnt) AS BIGINT) AS n_est
    FROM probes p JOIN sketch s ON s.i = p.i AND s.bucket = p.bucket
    GROUP BY p.l_partkey
    """,
)
def cms1_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, verified against exact counts
    for the 10 heaviest part keys. Completes the sketch family (sk1 KMV for
    cardinality, mv2 HLL for distinct rollup, bf1 Bloom for membership) with
    the frequency sketch: d=3 md5-derived hash rows x w=512 counters,
    estimate = min over rows of the key's counter — a one-sided
    overestimate (n_est >= n_exact always; error bounded by 2n/w per row).
    Scale shape: the sketch build explodes each row into d (row, bucket)
    pairs and groupBy-counts them — map-side combine collapses every
    partition to <= d*w partial counters, so the shuffle carries O(d*w) rows
    per partition regardless of table size, and the finished sketch
    (<= 1536 rows) broadcasts to the probe join. Deterministic
    md5 bucketing makes the sketch itself bit-reproducible, so the oracle
    verifies the ESTIMATES exactly, not just the exact counts.

    The scan is spread to the session's cores before the 3-hash projection
    (plan no-op on a wide production scan): the sketch md5s otherwise run
    on the test table's 3 scan splits; the spread exchange carries one
    BIGINT per row, and the exact-counts subtree reuses the resulting
    hashpartitioning(l_partkey) for its groupBy with no second exchange."""
    from ..operators.partitioning import spread_for_compute

    li = spread_for_compute(
        table(spark, sf_dir, "lineitem").select("l_partkey"), "l_partkey"
    )

    def bucket(i: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(i), F.col("l_partkey"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("p")
    ).select("p.i", "p.bucket")
    sketch = pairs.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_exact"))
    top10 = exact.orderBy(F.desc("n_exact"), "l_partkey").limit(10)
    probes = top10.select(
        "l_partkey",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("l_partkey", "n_exact", "p.i", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("l_partkey")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("cnt").alias("n_est"),
        )
    )


def _sssp_oracle(rounds: int = 4) -> str:
    sql = """
    WITH base AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), pairs AS (
      SELECT a AS src, b AS dst FROM base UNION SELECT b, a FROM base
    ), edges AS (
      SELECT src, dst,
             1 + (CAST(substr(src, 2) AS BIGINT)
                  + CAST(substr(dst, 2) AS BIGINT)) % 5 AS w
      FROM pairs
    ), d0 AS (
      SELECT DISTINCT 'c' || c_custkey AS node, CAST(0 AS BIGINT) AS dist
      FROM customer WHERE c_nationkey = 0
    )"""
    for i in range(rounds):
        sql += f""", d{i + 1} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
    return sql + f" SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"


@register("g4_weighted_sssp", oracle=_sssp_oracle(4))
def g4_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths (4-round Bellman-Ford) over the
    same symmetrized customer<->supplier trade graph as g1/g3, with
    deterministic integer edge weights 1 + (custkey + suppkey) % 5 derived
    from the endpoint ids (so both engines compute identical weights with
    no RNG). After round i the distance is the exact minimum over paths
    using <= i edges — the unrolled min-propagation oracle computes the
    same quantity. The operator relaxes only the improving frontier per
    round (delta-propagation; see
    :func:`sparkfusion.operators.graph.sssp_distances`), distances stay
    exact BIGINTs, and lineage is localCheckpoint-truncated per round.
    Completes the iterative-graph family: g1 ranks, g2 counts triangles,
    g3 measures hops, g4 measures weighted distance."""
    from ..operators.graph import sssp_distances

    pairs = _trade_edges(spark, sf_dir)
    # node div 2 recovers the raw key for BOTH endpoints (2k div 2 = k,
    # (2k+1) div 2 = k), so the custkey+suppkey weight is direction-free
    edges = pairs.select(
        "src",
        "dst",
        (F.lit(1) + (F.expr("src div 2") + F.expr("dst div 2")) % 5).alias("w"),
    )
    seeds = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).cast("long").alias("node"))
    )
    out = sssp_distances(edges, seeds, rounds=4)
    return out.select(_decode_trade_node("node").alias("node"), "dist")


@register(
    "sk2_kmv_set_ops",
    oracle="""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS g,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ),
    ra AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h WHERE g = 'R'
      ) WHERE rk <= 64
    ),
    rb AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h WHERE g = 'A'
      ) WHERE rk <= 64
    ),
    ku AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rk
        FROM (SELECT DISTINCT h FROM (SELECT h FROM ra UNION ALL SELECT h FROM rb))
      ) WHERE rk <= 64
    ),
    m AS (
      SELECT count(*) AS n_u, max(ku.h) AS kth,
             sum(CASE WHEN a2.h IS NOT NULL AND b2.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_common
      FROM ku LEFT JOIN ra a2 ON a2.h = ku.h LEFT JOIN rb b2 ON b2.h = ku.h
    )
    SELECT CAST(n_u AS BIGINT) AS n_union_kept,
           CAST(kth AS BIGINT) AS kth_union,
           CAST(CASE WHEN n_u < 64 THEN n_u
                     ELSE (63 * 4294967296) // kth END AS BIGINT) AS est_union,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n_u < 64 THEN n_common
                     ELSE (n_common * ((63 * 4294967296) // kth)) // 64
                END AS BIGINT) AS est_intersect
    FROM m
    """,
)
def sk2_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set operations: |returned-parts ∪ available-parts| and
    |∩| estimated from the two groups' 64-value sketches alone — the
    MERGEABILITY that makes sketches the 100 TB tool (per-shard sketches
    combine without revisiting data; exact distinct-intersection would
    re-shuffle both sides). Union = KMV estimate over the k smallest of the
    combined hashes; intersection = Beyer et al.'s inclusion ratio ρ·|A∪B|
    in exact integer arithmetic, so the oracle verifies the ESTIMATOR
    bit-for-bit; pytest separately pins its accuracy against the exact
    intersection. See :func:`sparkfusion.operators.sketches.kmv_set_ops`."""
    from ..operators.sketches import kmv_set_ops

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return kmv_set_ops(li, "l_partkey", "l_returnflag", "R", "A", k=64)


def _markov_oracle(iters: int = 3, scale: int = 10**9) -> str:
    sql = f"""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    rs AS (SELECT prev_type, sum(n) AS rowsum FROM trans GROUP BY 1),
    p0 AS (
      SELECT prev_type AS t,
             CAST({scale} // (SELECT count(*) FROM rs) AS BIGINT) AS p
      FROM rs
    )"""
    for i in range(iters):
        sql += f""", p{i + 1} AS (
      SELECT tr.next_type AS t, CAST(sum((p.p * tr.n) // r.rowsum) AS BIGINT) AS p
      FROM p{i} p
      JOIN trans tr ON tr.prev_type = p.t
      JOIN rs r ON r.prev_type = p.t
      GROUP BY tr.next_type
    )"""
    return sql + f" SELECT t AS event_type, p AS pi_fp FROM p{iters}"


@register("fn6_markov_stationary", oracle=_markov_oracle(3))
def fn6_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain (3-round
    power iteration over fn3's transition matrix) in FIXED-POINT INTEGER
    arithmetic — π·P applied via per-edge ``(π_i · c_ij) div rowsum_i``
    truncating division, the same determinism trick as g1_pagerank (float
    power iteration isn't reproducible across engines or partitionings).
    Scale 1e9 keeps every product under 2⁶³ up to ~9e9 transitions per cell
    (bump to DECIMAL(38,0) beyond). The heavy stage is the one lag() window
    shuffle building the counts; the iterations run on the 5×5 matrix and
    5-row vector — broadcast joins, no driver collect. Completes the
    behavioral-model family: fn3 estimates the chain, fn6 asks where it
    settles. Truncation leaks ≤1 ulp of mass per edge per round —
    irrelevant for the steady-state ranking, and identical in both
    engines."""
    from pyspark.sql import Window

    scale = 10**9
    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        # 5×5 frame feeding every iteration — localCheckpoint, not cache():
        # repeated invocations would leak CacheManager entries (fi1 lesson)
        .localCheckpoint(eager=False)
    )
    rs = trans.groupBy("prev_type").agg(F.sum("n").alias("rowsum"))
    n_types = rs.select(F.count(F.lit(1)).alias("k"))
    pi = (
        rs.crossJoin(F.broadcast(n_types))
        .select(
            F.col("prev_type").alias("t"),
            F.expr(f"CAST({scale} div k AS BIGINT)").alias("p"),
        )
    )
    tr = trans.join(rs, "prev_type")
    for _ in range(3):
        pi = (
            pi.join(F.broadcast(tr), pi["t"] == tr["prev_type"])
            .select(
                F.col("next_type").alias("t2"),
                F.expr("(p * n) div rowsum").alias("contrib"),
            )
            .groupBy(F.col("t2").alias("t"))
            .agg(F.sum("contrib").cast("long").alias("p"))
        )
    return pi.select(F.col("t").alias("event_type"), F.col("p").alias("pi_fp"))


@register(
    "a30_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS p25,
           quantile_disc(l_quantity, 0.50) AS p50,
           quantile_disc(l_quantity, 0.75) AS p75,
           quantile_disc(l_quantity, 0.95) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a30_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE per-group percentiles (SQL:2008 PERCENTILE_DISC WITHIN
    GROUP == DuckDB quantile_disc): returns an actual data value — the
    smallest element whose cumulative distribution reaches p — where a14's
    percentile_cont interpolates between neighbors. No float interpolation
    means no rounding guard is needed: values are compared verbatim. Same
    single group-key shuffle; the 100 TB swap is the same t-digest note as
    a14 (approx_percentile also returns observed values)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias(name)
            for p, name in [
                (0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.95, "p95")
            ]
        ]
    )


@register(
    "dq10_join_skew",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_n,
             CAST(quantile_disc(n, 0.5) AS BIGINT) AS med_n,
             CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_n
      FROM per_key
    )
    SELECT n_keys, n_rows, max_n, med_n, p99_n,
           CAST((1000000 * max_n) // n_rows AS BIGINT) AS top_share_ppm,
           CAST(max_n // med_n AS BIGINT) AS skew_ratio
    FROM st
    """,
)
def dq10_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join SKEW diagnostic for a candidate join key (orders.o_custkey):
    key cardinality, hottest-key share (ppm of all rows), and the
    max/median frequency ratio — the numbers that decide between a plain
    shuffle join, AQE skew splitting, and an explicit salted join (j13).
    Two cheap aggregations: one map-side-combinable groupBy(key), then a
    single-row reduction over the per-key count table (discrete percentiles
    are exact — no float). At 100 TB the second pass runs over |keys| rows,
    not |rows|; swap med/p99 to approx_percentile if even that is hot."""
    orders = table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    st = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
        # Spark returns percentile_disc as DOUBLE even over integral input;
        # the value is an observed BIGINT count, so the cast is lossless
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT)")
        .alias("med_n"),
        F.expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n) AS BIGINT)")
        .alias("p99_n"),
    )
    return st.select(
        "n_keys", "n_rows", "max_n", "med_n", "p99_n",
        F.expr("(1000000 * max_n) div n_rows").alias("top_share_ppm"),
        F.expr("max_n div med_n").alias("skew_ratio"),
    )


@register(
    "st3_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    r AS (
      SELECT event_type,
             rank() OVER (ORDER BY value) AS rmin,
             count(*) OVER (PARTITION BY value) AS cnt
      FROM s
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN event_type = 'view'
                           THEN 2 * rmin + cnt - 1 ELSE 0 END) AS BIGINT)
               AS r1_2x,
             CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n2
      FROM r
    )
    SELECT n1, n2,
           CAST(r1_2x - n1 * (n1 + 1) AS BIGINT) AS u1_2x,
           CAST(2 * n1 * n2 - (r1_2x - n1 * (n1 + 1)) AS BIGINT) AS u2_2x
    FROM agg
    """,
)
def st3_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for two event populations — the
    NONPARAMETRIC A/B readout that complements ab1's Welch t-test when the
    metric is skewed. Exactness: tie groups get the textbook average rank,
    carried as the INTEGER 2·avg_rank = 2·rank_min + ties − 1, so the rank
    sum, U₁ and U₂ (reported ×2) never touch a float — U₁+U₂ = 2·n₁·n₂ by
    identity, which the oracle verifies for free. Shape: one filter scan,
    one DISTRIBUTABLE global rank (``operators.ranks.global_rank`` —
    range-partition + per-partition rank + broadcast offsets, no
    single-reducer window; ties stay local because the range partitioner
    routes equal keys to one partition), one conditional aggregation."""
    from pyspark.sql import Window

    from ..operators.ranks import global_rank

    ev = events_with_ts(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    ).select("event_type", "value")
    r = global_rank(ev, "value", out="rmin").withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("value"))
    )
    agg = r.agg(
        F.sum(
            F.when(
                F.col("event_type") == "view",
                2 * F.col("rmin") + F.col("cnt") - 1,
            ).otherwise(F.lit(0))
        ).alias("r1_2x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n2"
        ),
    )
    return agg.select(
        "n1", "n2",
        (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)).alias("u1_2x"),
        (
            2 * F.col("n1") * F.col("n2")
            - (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1))
        ).alias("u2_2x"),
    )


@register(
    "st4_ks_test",
    oracle="""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    n AS (
      SELECT CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n2
      FROM s
    ),
    pv AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'view') AS c1,
             count(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM s GROUP BY value
    ),
    cum AS (
      SELECT value,
             sum(c1) OVER (ORDER BY value) AS f1,
             sum(c2) OVER (ORDER BY value) AS f2
      FROM pv
    )
    SELECT n.n1, n.n2,
           CAST(max(abs(f1 * n.n2 - f2 * n.n1)) AS BIGINT) AS d_scaled,
           round(CAST(max(abs(f1 * n.n2 - f2 * n.n1)) AS DOUBLE)
                 / CAST(n.n1 * n.n2 AS DOUBLE), 9) AS d_stat
    FROM cum CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def st4_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — distribution-shift
    detection between two event populations (the drift test dq5's PSI
    bins approximate). Exactness trick: D = max|F₁−F₂| is a RATIONAL with
    denominator n₁·n₂, so the max runs over the exact integer
    |cum₁·n₂ − cum₂·n₁| and the single division happens once at the end
    (round-9). Shape: one groupBy(value) collapses the scan to distinct
    values, then the DISTRIBUTABLE ordered cumsum
    (``operators.ranks.ranged_cumsum``: value range-partitioning +
    per-partition cumsum + broadcast offsets — the pack_training_sequences
    pattern, now an operator instead of a single-reducer window), one max
    aggregate."""
    from ..operators.ranks import ranged_cumsum

    ev = events_with_ts(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    ).select("event_type", "value")
    n = ev.agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n2"
        ),
    )
    pv = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "c2"
        ),
    )
    cum = ranged_cumsum(pv, "value", ["c1", "c2"]).select(
        "value",
        F.col("cum_c1").alias("f1"),
        F.col("cum_c2").alias("f2"),
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            ).alias("d_scaled")
        )
        .select(
            "n1", "n2", "d_scaled",
            F.round(
                F.col("d_scaled").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                9,
            ).alias("d_stat"),
        )
    )


@register(
    "a31_bitmap_distinct_rollup",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a31_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count rollup via Spark 4 bitmap aggregates — the
    mv2-HLL pattern with zero error: per (event_type, day) the user-id set
    is materialized as 32Ki-bit bucket bitmaps (``bitmap_construct_agg``),
    the day dimension is then collapsed by ``bitmap_or_agg`` (bitwise OR is
    the exact set union — associative, replay-idempotent, mergeable
    across any rollup dimension), and the final count is a sum of
    ``bitmap_count`` over buckets. At 100 TB this is the incremental
    distinct-users ledger: daily bitmap states are tiny (|ids|/8 bytes
    partitioned into 4 KiB buckets), merging a new day never rescans
    history, and unlike HLL the answer is exact. The oracle is the plain
    COUNT(DISTINCT) both engines agree on."""
    ev = events_with_ts(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "user_id",
    )
    daily = ev.groupBy(
        "event_type", "day", F.expr("bitmap_bucket_number(user_id)").alias("bk")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("b")
    )
    merged = daily.groupBy("event_type", "bk").agg(
        F.expr("bitmap_or_agg(b)").alias("b")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(b)")).alias("n_users")
    )


@register(
    "fs1_point_in_time_features",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(18,6)) AS val
      FROM events
    ),
    feat AS (
      SELECT user_id, event_id, event_type, ts_us,
             count(*) OVER w - 1 AS n_prior,
             CAST(sum(val) OVER w - val AS DOUBLE) AS sum_prior
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id, event_id AS label_event, ts_us AS label_ts_us,
           CAST(n_prior AS BIGINT) AS n_prior, round(sum_prior, 6) AS sum_prior
    FROM feat WHERE event_type = 'purchase'
    """,
)
def fs1_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct feature extraction — the leakage guard every
    feature store exists for: each label event (purchase) carries features
    computed from STRICTLY EARLIER events of the same user ((ts, event_id)
    total order; the label row itself is excluded by subtracting its own
    contribution from an inclusive running window, which is cheaper than a
    second exclusive frame). One per-user window over the fact table, the
    label filter applies after — no self-join, no as-of lookup (j9 covers
    the two-table variant). DECIMAL running sum keeps the float contract."""
    ev = events_with_ts(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("value").cast("decimal(18,6)").alias("val"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    feat = ev.select(
        "user_id", "event_id", "event_type", "ts_us",
        (F.count(F.lit(1)).over(w) - 1).alias("n_prior"),
        (F.sum("val").over(w) - F.col("val")).cast("double").alias("sum_prior"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("label_event"),
        F.col("ts_us").alias("label_ts_us"),
        "n_prior",
        F.round("sum_prior", 6).alias("sum_prior"),
    )


@register(
    "m3_time_travel_read",
    oracle="""
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us
    FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events WHERE event_id % 2 = 0
    ) WHERE rn = 1
    """,
)
def m3_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the copy-on-write snapshot protocol: two
    keep-latest batches commit versions v0 (even event_ids) and v1 (odd),
    then the query reads the table AS OF v0 — while ``_LATEST`` points at
    v1. Immutable version directories make historical reads lock-free and
    torn-state-free; the oracle is the batch compaction of ONLY the first
    batch's rows, so a pass proves the past version is genuinely
    unchanged by later commits (the audit/debug/reproduce-training-run
    read every versioned lake offers; vacuum_versions documents the
    retention budget). Completes the protocol family: write (m1/mv3/
    stream_cdc), diff (cdc2), GC (vacuum), and now read-at-version."""
    import shutil

    from ..streaming.cdc import KeepLatestSink, read_snapshot_at

    path = os.path.join(IO_DIR, "m3_time_travel")
    shutil.rmtree(path, ignore_errors=True)
    ev = events_with_ts(spark, sf_dir).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    sink = KeepLatestSink(spark, path, keys=["user_id"], order_by=["ts_us", "event_id"])
    sink(ev.filter(F.col("event_id") % 2 == 0), 0)
    sink(ev.filter(F.col("event_id") % 2 == 1), 1)
    snap_v0 = read_snapshot_at(spark, path, 0)
    return snap_v0.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts_us").alias("last_ts_us"),
    )


@register(
    "st5_anova",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS q
      FROM lineitem GROUP BY l_returnflag
    ),
    t AS (
      SELECT n, s, q,
             CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                  AS DECIMAL(28,6)) AS term
      FROM g
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(s) AS s_all, sum(q) AS q_all, sum(term) AS t_all
      FROM t
    )
    SELECT k, n_total,
           round(CAST(t_all AS DOUBLE)
                 - round(CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 6), 6)
             AS ss_between,
           round(CAST(q_all AS DOUBLE) - CAST(t_all AS DOUBLE), 6) AS ss_within,
           round(((CAST(t_all AS DOUBLE)
                   - round(CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 6))
                  / (k - 1))
                 / ((CAST(q_all AS DOUBLE) - CAST(t_all AS DOUBLE)) / (n_total - k)), 6)
             AS f_stat
    FROM agg
    """,
)
def st5_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test (does mean l_quantity differ across return-flag
    groups?) — the k-group generalization of ab1's two-sample t-test; the
    multi-variant experiment readout. Exactness: group sums S_g and sums of
    squares Q_g run in DECIMAL (quantities are whole numbers, so the
    double→DECIMAL cast and every sum are exact); the only floats are the
    per-group S_g²/n_g terms, each rounded to 6 dp and re-summed in DECIMAL
    so k-way addition order cannot flip bits. SSB = ΣS_g²/n_g − S²/N,
    SSW = ΣQ − ΣS_g²/n_g (the computational identities — no per-row mean
    subtraction, so ONE scan + one 3-row aggregate instead of two passes).
    F = (SSB/(k−1)) / (SSW/(N−k)); df = (k−1, N−k). Scale shape: map-side
    partial aggregation into 3 groups, then a 3-row reduction — no second
    data pass, no collect."""
    li = table(spark, sf_dir, "lineitem")
    d2 = F.col("l_quantity").cast("decimal(12,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d2).alias("s"),
        F.sum(d2 * d2).alias("q"),
    )
    t = g.select(
        "n",
        "s",
        "q",
        F.round(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"), 6
        )
        .cast("decimal(28,6)")
        .alias("term"),
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s").alias("s_all"),
        F.sum("q").alias("q_all"),
        F.sum("term").alias("t_all"),
    )
    cf = F.round(
        F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_total"),
        6,
    )
    ssb = F.col("t_all").cast("double") - cf
    ssw = F.col("q_all").cast("double") - F.col("t_all").cast("double")
    return agg.select(
        "k",
        "n_total",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k"))), 6
        ).alias("f_stat"),
    )


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    parts = [
        """e0 AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
        SELECT o_custkey AS u, ((o_orderkey % 1500) * 1261) % 1500 + 1 AS v
        FROM orders
      ) WHERE u <> v
    )"""
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r}
      ) GROUP BY node
    )"""
        )
        parts.append(f"k{r} AS (SELECT node FROM d{r} WHERE deg >= {k})")
        parts.append(
            f"""e{r + 1} AS (
      SELECT e.a, e.b FROM e{r} e
      JOIN k{r} x ON e.a = x.node JOIN k{r} y ON e.b = y.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      SELECT a AS node FROM e{rounds} UNION ALL SELECT b AS node FROM e{rounds}
    ) GROUP BY node"""
    )


@register("g5_kcore", oracle=_kcore_oracle(3, 3))
def g5_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peeling (k=3) of the deterministic orders graph shared
    with g2 — the dense-core graph-quality filter (spam rings, community
    skeletons). Fixed rounds make it oracle-checkable (the sssp contract);
    convergence to the true k-core fixed point is pinned in
    tests/test_graph.py. See :func:`sparkfusion.operators.graph.kcore_peel`
    for the per-round shape (one degree agg + two left-semi joins +
    localCheckpoint)."""
    from ..operators.graph import kcore_peel

    orders = table(spark, sf_dir, "orders")
    edges = orders.select(
        F.col("o_custkey").alias("u"),
        (((F.col("o_orderkey") % 1500) * 1261) % 1500 + 1).alias("v"),
    )
    return kcore_peel(edges, k=3, rounds=3)


@register(
    "sky1_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS sz
      FROM part
    ),
    w AS (
      SELECT p_partkey, price_cents, sz,
             max(sz) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_cheaper,
             max(sz) OVER (PARTITION BY price_cents) AS best_same
      FROM p
    )
    SELECT p_partkey, price_cents, sz FROM w
    WHERE (best_cheaper IS NULL OR sz > best_cheaper) AND sz = best_same
    """,
)
def sky1_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize price, maximize size) — the multi-criteria shortlist query
    (cheapest-per-capability sweep; abc1's 80/20 cut ranks by ONE measure,
    the skyline keeps every non-dominated trade-off point). Instead of the
    textbook O(n²) dominance anti-join, two windows give O(n log n): a
    point survives iff its size beats the running max over all STRICTLY
    cheaper points (RANGE frame on integer cents — exclusive of peers) and
    nothing at the SAME price strictly out-sizes it; equal (price, size)
    duplicates are mutually non-dominating and both stay. All-integer
    comparisons (cents, size) — no float enters the predicate. Scale note:
    the ordered window runs on the parts DIMENSION (always tiny next to the
    facts); a fact-scale skyline would range-partition on price and fold
    per-partition maxima — same algebra, two passes."""
    from pyspark.sql import Window

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("sz"),
    )
    w_cheaper = Window.orderBy("price_cents").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("price_cents")
    return (
        p.select(
            "p_partkey",
            "price_cents",
            "sz",
            F.max("sz").over(w_cheaper).alias("best_cheaper"),
            F.max("sz").over(w_same).alias("best_same"),
        )
        .filter(
            (F.col("best_cheaper").isNull() | (F.col("sz") > F.col("best_cheaper")))
            & (F.col("sz") == F.col("best_same"))
        )
        .select("p_partkey", "price_cents", "sz")
    )


@register(
    "fe3_target_encode_loo",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN g.n > 1
                THEN round(CAST(g.s - CAST(e.value AS DECIMAL(18,2)) AS DOUBLE)
                           / (g.n - 1), 6)
                ELSE NULL END AS te_loo
    FROM events e JOIN g USING (event_type)
    """,
)
def fe3_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature (event_type →
    mean event value EXCLUDING the row itself) — the leakage-safe mean
    encoding gradient-boosting pipelines use for high-cardinality
    categoricals: te(x_i) = (S_g − x_i) / (n_g − 1), which never lets a
    row see its own target. One groupBy builds (n, S) per category
    (DECIMAL-exact — values are 2-decimal doubles so the cast is lossless),
    joined back broadcast-style; per row ONE exact decimal subtraction and
    ONE double division, round-6. Singleton groups yield NULL (guarded
    CASE, no ±inf). Scale: category stats are a tiny aggregate joined back
    to the fact scan — map-side after AQE broadcasts it; no window, no
    second pass."""
    ev = events_with_ts(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")
    )
    return (
        ev.join(F.broadcast(g), "event_type")
        .select(
            "event_id",
            "event_type",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - dec).cast("double") / (F.col("n") - 1), 6
                ),
            ).alias("te_loo"),
        )
    )


@register(
    "st6_mutual_information",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_xy
      FROM events GROUP BY 1, 2
    ),
    rx AS (SELECT event_type, sum(n_xy) AS n_x FROM c GROUP BY 1),
    ry AS (SELECT bucket, sum(n_xy) AS n_y FROM c GROUP BY 1),
    t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c)
    SELECT c.event_type, c.bucket, c.n_xy,
           round((CAST(c.n_xy AS DOUBLE) / t.n)
                 * ln((CAST(c.n_xy AS DOUBLE) * t.n)
                      / (CAST(rx.n_x AS DOUBLE) * ry.n_y)), 9) AS mi_term
    FROM c JOIN rx USING (event_type) JOIN ry USING (bucket) CROSS JOIN t
    """,
)
def st6_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a categorical and a bucketed numeric
    column (event_type × value decile-ish buckets) — the dependence measure
    that catches NONLINEAR association st1's chi-square only tests and a17's
    correlation misses entirely; the feature-selection score for curation
    pipelines. Per-cell terms (n_xy/N)·ln(n_xy·N / (n_x·n_y)) localize which
    cells carry the dependence; their sum is the MI (zero-observed cells
    contribute exactly 0 and are naturally absent). Counts are exact
    BIGINTs; each term is one pinned-order double ratio + ln + round-9 (the
    st1/pmi1 discipline — products go through doubles so corpus-scale
    counts cannot overflow int64). Shape: one groupBy collapses the scan;
    marginals and terms live on the tiny cell frame."""
    ev = events_with_ts(spark, sf_dir)
    c = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    rx = c.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    ry = c.groupBy("bucket").agg(F.sum("n_xy").alias("n_y"))
    t = c.agg(F.sum("n_xy").cast("long").alias("n"))
    return (
        c.join(rx, "event_type")
        .join(ry, "bucket")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "bucket",
            "n_xy",
            F.round(
                (F.col("n_xy").cast("double") / F.col("n"))
                * F.log(
                    (F.col("n_xy").cast("double") * F.col("n"))
                    / (F.col("n_x").cast("double") * F.col("n_y"))
                ),
                9,
            ).alias("mi_term"),
        )
    )


def _ppr_oracle(iters: int = 3) -> str:
    srcs = "('c1', 'c2', 'c3')"
    sql = f"""
    WITH base AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT a AS src, b AS dst FROM base UNION SELECT b, a FROM base
    ), deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM deg),
    nn AS (
      SELECT 1000000000000 // 3 AS init_fp,
             (15 * 1000000000000) // (100 * 3) AS teleport_fp
    ),
    r0 AS (
      SELECT node,
             CAST(CASE WHEN node IN {srcs} THEN init_fp ELSE 0 END AS BIGINT)
               AS rank_fp
      FROM nodes, nn)"""
    for i in range(iters):
        sql += f""", r{i + 1} AS (
      SELECT n.node,
             CAST(CASE WHEN n.node IN {srcs} THEN teleport_fp ELSE 0 END
                  + (85 * coalesce(d.s, 0)) // 100 AS BIGINT) AS rank_fp
      FROM nodes n CROSS JOIN nn LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_fp // deg.deg) AS s
        FROM edges e JOIN r{i} r ON r.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY 1
      ) d ON d.node = n.node)"""
    return sql + f" SELECT node, rank_fp FROM r{iters}"


@register("g6_personalized_pagerank", oracle=_ppr_oracle(3))
def g6_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 3-customer seed set over the same
    symmetrized trade graph as g1 — the graph-proximity recommender score
    ("suppliers/customers near THESE customers"), where g1 answers global
    importance. Teleport mass returns only to the seeds; nodes unreached in
    3 hops score exactly 0 and are still returned (a total scoring, not a
    reachability filter). Fixed-point BIGINT arithmetic and per-round
    localCheckpoint exactly as g1. See
    :func:`sparkfusion.operators.graph.personalized_pagerank`."""
    from ..operators.graph import personalized_pagerank

    edges = _trade_edges(spark, sf_dir)
    # seeds c1/c2/c3 under the BIGINT encoding (customer k -> 2k)
    out = personalized_pagerank(edges, [2, 4, 6], iterations=3)
    return out.select(_decode_trade_node("node").alias("node"), "rank_fp")


@register(
    "a32_global_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(RANK() OVER (ORDER BY c_nationkey) AS BIGINT) AS nation_rank
    FROM customer
    """,
)
def a32_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributable total-order rank as a first-class query —
    ``RANK() OVER (ORDER BY c_nationkey)`` over every customer, with heavy
    ties (25 nations ⇒ thousands of customers per rank value), computed by
    :func:`sparkfusion.operators.ranks.global_rank`: range-partition (equal
    keys can never straddle partitions), per-partition rank, broadcast
    partition-offset stitch. No row of customer data passes through a
    single-reducer window; the one unpartitioned window in the plan runs on
    the #partitions-row offsets frame. st3_mann_whitney consumes the same
    operator for its rank statistic."""
    from ..operators.ranks import global_rank

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return global_rank(cust, "c_nationkey", out="nation_rank")
