"""Projection / filter / column-mutation operators (SURVEY.md §2.2).

All pure plan transforms. The reference's ``add_column_to_df`` family
materializes batches on the client (``src/utils/dataframe.rs:572-597``); here
positional attach is expressed as a deterministic ordinal zip-join so it stays
distributed (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..errors import PlanError, SchemaError
from .ranks import partition_offsets


def df_sql(df: DataFrame, predicate: str) -> DataFrame:
    """Filter a DataFrame with a SQL expression string.

    Reference: ``df_sql`` / ``df.parse_sql_expr`` at
    ``src/utils/dataframe.rs:67-71`` (e.g. ``"speed > 10 and car in
    ('red','green')"``). Spark parses SQL predicate strings natively, and the
    parsed predicate participates in pushdown like any Column expression.

    >>> df = spark.createDataFrame([("red", 15), ("blue", 5)], "car STRING, speed INT")
    >>> df_sql(df, "speed > 10 and car in ('red','green')").collect()
    [Row(car='red', speed=15)]
    """
    return df.filter(predicate)


def select_all_exclude(df: DataFrame, exclude: Sequence[str]) -> DataFrame:
    """Negative projection — keep every column except ``exclude``.

    Reference: ``select_all_exclude`` at ``src/utils/helpers.rs:505-515`` and
    ``df.drop_columns`` at ``src/utils/dataframe.rs:413``. Unknown names are
    ignored, matching Spark's (and the reference's) drop semantics.

    >>> df = spark.createDataFrame([(1, 2, 3)], "a INT, b INT, c INT")
    >>> select_all_exclude(df, ["b", "zzz"]).columns
    ['a', 'c']
    """
    return df.drop(*exclude)


def with_typed_null(df: DataFrame, name: str, data_type: str) -> DataFrame:
    """Add a literal NULL column with an explicit type.

    Reference: typed-null literals ``ScalarValue::Utf8(None)`` /
    ``Int32(None)`` at ``examples/dataframe/operations.rs:128-131``.

    >>> with_typed_null(spark.range(1), "note", "string").dtypes
    [('id', 'bigint'), ('note', 'string')]
    """
    return df.withColumn(name, F.lit(None).cast(data_type))


def add_pk_to_df(df: DataFrame, name: str = "pk", order_by: Sequence[str] | None = None) -> DataFrame:
    """Add a contiguous 0..n-1 auto-increment key column.

    Reference: ``add_pk_to_df`` at ``src/utils/helpers.rs:161-185`` (Int32
    0..n-1 in batch order). Spark has no stable row ordinal, so the contract
    here is explicit: ``order_by`` names the deterministic ordering the key
    follows (defaults to all columns). ``monotonically_increasing_id`` is NOT
    used — it is non-contiguous across partitions.

    Scale note: a global ``row_number`` over one unpartitioned window is a
    single-reducer sort — correct but serial. For 100 TB assignments use
    :func:`zip_with_index_df` below (partition-offset arithmetic, fully
    parallel).

    >>> df = spark.createDataFrame([("b",), ("a",)], "k STRING")
    >>> [(r["k"], r["pk"]) for r in add_pk_to_df(df, order_by=["k"]).orderBy("pk").collect()]
    [('a', 0), ('b', 1)]
    """
    cols = list(order_by) if order_by else df.columns
    w = Window.orderBy(*[F.col(c) for c in cols])
    return df.withColumn(name, (F.row_number().over(w) - F.lit(1)).cast("int"))


def zip_with_index_df(df: DataFrame, name: str = "pk") -> DataFrame:
    """Contiguous 0..n-1 ids without a global sort — the 100 TB-scale
    variant of :func:`add_pk_to_df`, pure DataFrame (Spark Connect-safe, no
    RDD API) so it stays inside Catalyst.

    Ids follow the current partition layout: a within-partition ordinal
    (``monotonically_increasing_id`` is strictly increasing *within* a
    partition, so a window ordered by it yields the intra-partition
    position) plus the count of rows in earlier partitions from
    :func:`~sparkfusion.operators.ranks.partition_offsets`. No global sort,
    no single reducer: the only total ordering is over the #partitions-row
    counts frame.

    Determinism caveat: ids are stable only for a deterministic source scan;
    sort first or use :func:`add_pk_to_df` for an order-defined key.
    """
    if "__mid" in df.columns:
        raise PlanError("zip_with_index_df: column collision on __mid")
    tagged = partition_offsets(
        df.withColumn("__mid", F.monotonically_increasing_id()),
        {"rows": F.count(F.lit(1))},
    )
    w_pos = Window.partitionBy("__pid").orderBy("__mid")
    return tagged.withColumn(
        name, (F.row_number().over(w_pos) - 1 + F.col("__off_rows")).cast("long")
    ).drop("__pid", "__mid", "__off_rows")


def add_column(df: DataFrame, values_df: DataFrame, order_by: Sequence[str]) -> DataFrame:
    """Positionally attach the (single-column) ``values_df`` to ``df``.

    Reference: ``add_column_to_df`` (``src/utils/dataframe.rs:572-597``) glues
    a client-built Arrow array onto a DataFrame by position, erroring on
    length mismatch (``:585-591``). Spark has no positional attach, so both
    sides get a deterministic ordinal (``row_number`` over ``order_by`` on the
    left, natural order of ``values_df`` via the same window on its columns)
    and are equi-joined on it. Errors on length mismatch, mirroring the
    reference — but *lazily*: instead of two eager ``count()`` driver jobs
    (two full passes before any useful work), the ordinal join is FULL OUTER
    with a presence marker on each side, and the attached value is wrapped in
    a ``raise_error`` guard that fires during the same single pass that
    produces the result. Zero extra jobs; the mismatch check is free.
    """
    if len(values_df.columns) != 1:
        raise SchemaError("add_column: values_df must have exactly one column")
    val_col = values_df.columns[0]
    w_left = Window.orderBy(*[F.col(c) for c in order_by])
    w_right = Window.orderBy(*[F.col(c) for c in values_df.columns])
    left = df.withColumn("__ord", F.row_number().over(w_left)).withColumn(
        "__l", F.lit(1)
    )
    right = values_df.withColumn("__ord", F.row_number().over(w_right)).withColumn(
        "__r", F.lit(1)
    )
    joined = left.join(right, "__ord", "full_outer")
    guarded = F.when(
        F.col("__l").isNull() | F.col("__r").isNull(),
        F.raise_error(F.lit("add_column: length mismatch between df and values_df")),
    ).otherwise(F.col(val_col))
    return joined.withColumn(val_col, guarded.cast(right.schema[val_col].dataType)).drop(
        "__ord", "__l", "__r"
    )
