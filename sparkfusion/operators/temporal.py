"""Temporal join operators Spark lacks natively: as-of join and range join.

Both are built as compositions of existing DataFrame ops (preference order (a)
from the build brief) — no Pandas UDF, no per-group merge_asof, so they run at
any scale with ordinary shuffle/sort machinery.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """As-of (backward) join: for every left row, attach the most recent
    right-side ``value_cols`` with ``right_ts <= left_ts`` within the ``on``
    key group; NULL when no prior right row exists.

    Implementation: the union-and-fill trick — tag both sides, union them,
    sort each key group by (ts, side) with right rows first on ties (a right
    row AT the left timestamp is visible, matching ASOF semantics), then
    ``last(value, ignorenulls)`` over an unbounded-preceding running window
    fills each left row with the latest right value. One shuffle on the key,
    one sort per group — the same cost as a window aggregate, with none of
    Spark's missing-native-asof pain. Equivalent SQL: DuckDB ``ASOF LEFT JOIN``.
    """
    on = list(on)
    value_cols = list(value_cols)
    lhs = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
        *[F.col(c) for c in left.columns if c not in on and c != left_ts],
    )
    rhs_extra = [c for c in left.columns if c not in on and c != left_ts]
    rhs = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in rhs_extra],
    )
    combined = lhs.unionByName(rhs)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = combined.select(
        "*",
        *[
            F.last(F.col(f"__v_{c}"), ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    out_cols = (
        [F.col(c) for c in on]
        + [F.col("__ts").alias(left_ts)]
        + [F.col(c) for c in rhs_extra]
        + [F.col(f"__asof_{c}").alias(c) for c in value_cols]
    )
    return filled.filter(F.col("__is_left") == 1).select(*out_cols)


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Range join (point ∈ [start, end]) without an equi-key — the bucketize
    pattern (pyspark_guide 'As-of / range join').

    Naively this is a cross join + filter (quadratic). Instead each interval
    is exploded to the buckets it overlaps (``sequence(start div w, end div w)``)
    and points join on their single bucket — an ordinary equi-join whose
    fan-out is interval_span/bucket_width, followed by the exact range filter.
    Choose ``bucket_width`` ≈ typical interval length so each interval lands
    in O(1) buckets.

    All columns must be integers (epoch seconds/µs). Returns
    points ⨝ intervals rows satisfying ``start <= point <= end``.
    """
    b_points = points.withColumn("__bucket", (F.col(point_col) / bucket_width).cast("long"))
    b_intervals = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(start_col) / bucket_width).cast("long"),
                (F.col(end_col) / bucket_width).cast("long"),
            )
        ),
    )
    # EXPLICIT equal partition counts on both sides of the bucket join: the
    # candidate-pair evaluation inside each bucket is quadratic in temporal
    # density, so the join stage is CPU-dense while its shuffle is tiny —
    # AQE's byte-based coalescer shrank it to 8 tasks at sf1 and ONE at
    # sf0.1 (r14 profile: 284s of executor time on 8 of 32 cores — the #2
    # query of the sf1 suite). An explicit count is AQE-coalesce-exempt and
    # keeps both sides co-partitioned; it is derived from input width, so
    # at production scale it preserves the scan width rather than pinning a
    # local constant (guide §2.5). Time buckets are uniform by construction
    # (width ≈ interval length), so forgoing AQE's skew split here is safe.
    from .partitioning import copartition_for_compute

    b_points, b_intervals = copartition_for_compute(b_points, b_intervals, "__bucket")
    return (
        b_points.join(b_intervals, "__bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
) -> DataFrame:
    """Interval-overlap join (``l_start <= r_end AND r_start <= l_end``)
    without an equi-key — the attribution/incident-correlation shape.

    Both sides explode to the integer buckets their interval covers and meet
    in an ordinary bucket equi-join (fan-out span/width each, never a cross
    join). A pair overlapping across several shared buckets would duplicate,
    so rows are kept only in the CANONICAL bucket — the one containing
    ``greatest(l_start, r_start)`` (the overlap's first instant) — which
    emits each overlapping pair exactly once with no distinct pass.
    All bound columns are integers (epoch µs/seconds).
    """
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(l_start) / bucket_width).cast("long"),
                (F.col(l_end) / bucket_width).cast("long"),
            )
        ),
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.col(r_start) / bucket_width).cast("long"),
                (F.col(r_end) / bucket_width).cast("long"),
            )
        ),
    )
    overlap_start = F.greatest(F.col(l_start), F.col(r_start))
    return (
        lb.join(rb, "__bucket")
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("__bucket") == (overlap_start / bucket_width).cast("long"))
        )
        .drop("__bucket")
    )
