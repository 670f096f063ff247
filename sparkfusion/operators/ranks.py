"""Distributable total-order primitives: global rank, ordered cumulative
sums and contiguous row ids without a single-reducer window.

``RANK() OVER (ORDER BY v)`` / ``SUM(x) OVER (ORDER BY v)`` with no
PARTITION BY move every row to ONE partition in Spark (WindowExec warns
"No Partition Defined"). The rank statistics family (Mann-Whitney, KS),
cumulative-distribution work, sequence packing and contiguous ids genuinely
need a total order, so they all go through :func:`partition_offsets`, the
one owner of the two-pass partition-offset scheme:

1. ``repartitionByRange`` on the order key — each reducer owns a contiguous
   key range (sampled boundaries, fully parallel), and because the range
   partitioner assigns BY KEY, tie groups can never straddle partitions
   (no order keeps the current layout: ``zip_with_index_df``);
2. per-partition totals (one row per partition) prefix-summed by a window
   over that #partitions-row frame, broadcast back as ``__off_<name>``;
3. the caller's own partitioned window over ``__pid`` plus the offset.

The only unpartitioned window left is over the #partitions-row totals frame.
Reference parity: the reference has no window engine beyond per-key frames
(SURVEY.md §2.6); this module backs the statistics extension queries.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import PlanError
from .partitioning import compute_width

# Internal working column names of these primitives. Every public entry
# point guards ALL of them: an input frame already carrying e.g. __pid or
# __off_rows would join ambiguously against the offsets frame and produce
# silently wrong ranks rather than an error.
_INTERNAL_COLS = ("__pid", "__lrank", "__lpos", "__off_rows", "__one", "__n", "__keydup")


def _guard_collisions(df: DataFrame, fn: str, *extra: str) -> None:
    clash = [c for c in (*_INTERNAL_COLS, *extra) if c in df.columns]
    if clash:
        raise PlanError(f"{fn}: column collision on {', '.join(clash)}")


def partition_offsets(
    df: DataFrame,
    totals: Mapping[str, Column],
    order: Sequence[Column | str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Tag every row of ``df`` with its partition id ``__pid`` and, for each
    ``name -> aggregate`` in ``totals``, the sum of that aggregate over every
    EARLIER partition as ``__off_<name>`` (e.g. ``{"rows": F.count(F.lit(1))}``
    gives the global position of a partition's first row).

    With ``order``, ``df`` is first range-partitioned on it across
    ``num_partitions`` (default: :func:`~.partitioning.compute_width`), so
    partition p holds a contiguous key range; without it the current layout
    is kept.
    Callers add their own ``Window.partitionBy("__pid")`` pass and stitch
    the offset on. Rejects an input already carrying a working column.
    """
    _guard_collisions(df, "partition_offsets", *(f"__off_{n}" for n in totals))
    if order is not None:
        n_parts = num_partitions or compute_width(df)
        df = df.repartitionByRange(n_parts, *order)
    # localCheckpoint: the offsets subtree and the main subtree BOTH read
    # `tagged`; without materialization each re-executes the input's
    # exchange, and AQE may coalesce the two executions to DIFFERENT
    # partition counts — the partition ids then disagree between branches
    # and the __pid join silently drops rows (an sf1 sweep caught it on st3:
    # Spark lost 41% of events). Explicit numPartitions alone also
    # disables AQE coalescing, but one materialization is both safer and
    # cheaper than running the exchange twice.
    tagged = df.withColumn("__pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = tagged.groupBy("__pid").agg(
        *[agg.alias(f"__tot_{n}") for n, agg in totals.items()]
    ).select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__tot_{n}").over(w), F.lit(0)).alias(f"__off_{n}")
            for n in totals
        ],
    )
    return tagged.join(F.broadcast(offs), "__pid")


def global_rank(
    df: DataFrame,
    order_col: str | Sequence[str],
    out: str = "rank",
    ascending: bool | Sequence[bool] = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """``RANK() OVER (ORDER BY order_col...)`` (1-based, min-rank ties) with
    no single-reducer window. Multi-column orders take a sequence of names
    plus a matching (or scalar) ``ascending``.

    Correctness of the stitch: the range partitioner routes equal key TUPLES
    to the SAME partition, so a tie group (equal on every order column) is
    always local — per-partition ``F.rank()`` plus the count of rows in
    earlier partitions IS the global min-rank. Shape: one range shuffle +
    one partitioned window + a broadcast join against the #partitions-row
    offsets frame.
    """
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    asc = (
        [ascending] * len(cols) if isinstance(ascending, bool) else list(ascending)
    )
    if len(asc) != len(cols):
        raise PlanError("global_rank: ascending list must match order_col list")
    _guard_collisions(df, "global_rank", out)
    keys = [F.col(c) if a else F.col(c).desc() for c, a in zip(cols, asc)]
    tagged = partition_offsets(df, {"rows": F.count(F.lit(1))}, keys, num_partitions)
    w = Window.partitionBy("__pid").orderBy(*keys)
    return tagged.withColumn(
        out, (F.rank().over(w) + F.col("__off_rows")).cast("long")
    ).drop("__pid", "__off_rows")


def ranged_cumsum(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive running totals ``SUM(c) OVER (ORDER BY order_col)`` for each
    ``c`` in ``sum_cols``, appended as ``cum_<c>`` — distributable CDF /
    cumulative-ledger primitive.

    Requires ``order_col`` values to be UNIQUE per row (pre-aggregate by the
    key first, as a CDF does): with duplicates, SQL's default RANGE frame
    includes all peers while the within-partition ROWS pass here would not.
    Enforced lazily — a duplicate raises mid-plan via a raise_error guard,
    costing nothing extra (checked on the same window pass).

    Output types follow SQL SUM: integral inputs come back as BIGINT,
    fractional/decimal inputs keep SUM's natural widened type (no lossy
    cast — `cum_<c>` of a DOUBLE column is DOUBLE).
    """
    _guard_collisions(df, "ranged_cumsum", *(f"cum_{c}" for c in sum_cols))
    integral = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(df.dtypes)
    tagged = partition_offsets(
        df, {c: F.sum(c) for c in sum_cols}, [F.col(order_col)], num_partitions
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_dup = Window.partitionBy("__pid", order_col)
    out = tagged.withColumn(
        "__keydup",
        F.when(
            F.count(F.lit(1)).over(w_dup) > 1,
            F.raise_error(
                F.lit(f"ranged_cumsum: duplicate {order_col} values — pre-aggregate first")
            ),
        ).otherwise(F.lit(0)),
    )
    for c in sum_cols:
        stitched = F.sum(c).over(w) + F.col(f"__off_{c}") + F.col("__keydup")
        if dtypes.get(c) in integral:
            stitched = stitched.cast("long")
        out = out.withColumn(f"cum_{c}", stitched)
    return out.drop("__pid", "__keydup", *[f"__off_{c}" for c in sum_cols])


def global_ntile(
    df: DataFrame,
    order_col: str | Sequence[str],
    n_tiles: int,
    out: str = "tile",
    ascending: bool | Sequence[bool] = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """``NTILE(n_tiles) OVER (ORDER BY order_col...)`` without a
    single-reducer window — equi-depth bucketing over a total order (the
    RFM-quartile / decile-report primitive).

    The order columns must form a UNIQUE composite per row (as SQL NTILE
    determinism requires anyway — add a key tiebreaker); then the global
    position is per-partition ``row_number`` plus the partition offset, and
    SQL's NTILE is a closed-form function of (position, n, n_tiles): with
    ``q, r = divmod(n, n_tiles)`` the first ``r`` tiles hold ``q+1`` rows —
    ``tile = (pos-1) div (q+1) + 1`` inside the first ``r*(q+1)`` positions,
    else ``r + 1 + (pos - r*(q+1) - 1) div q``. Shape: one range shuffle,
    one partitioned window, broadcast offsets, broadcast 1-row total.
    """
    if n_tiles < 1:
        raise PlanError(f"global_ntile: n_tiles must be >= 1, got {n_tiles}")
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    asc = (
        [ascending] * len(cols) if isinstance(ascending, bool) else list(ascending)
    )
    if len(asc) != len(cols):
        raise PlanError("global_ntile: ascending list must match order_col list")
    _guard_collisions(df, "global_ntile", out)
    keys = [F.col(c) if a else F.col(c).desc() for c, a in zip(cols, asc)]
    tagged = partition_offsets(df, {"rows": F.count(F.lit(1))}, keys, num_partitions)
    total = tagged.agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("__pid").orderBy(*keys)
    pos = F.col("__lpos") + F.col("__off_rows")
    k = F.lit(n_tiles)
    q = F.expr(f"__n div {n_tiles}")
    r = F.col("__n") % k
    boundary = r * (q + 1)
    tile = F.when(
        pos <= boundary, F.expr(f"(__lpos + __off_rows - 1) div (__n div {n_tiles} + 1) + 1")
    ).otherwise(
        r + 1 + F.expr(f"(__lpos + __off_rows - (__n % {n_tiles}) * (__n div {n_tiles} + 1) - 1) div (__n div {n_tiles})")
    )
    return (
        tagged.withColumn("__lpos", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(out, tile.cast("int"))
        .drop("__pid", "__lpos", "__off_rows", "__n")
    )
