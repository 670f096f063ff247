"""operators/ranks.py: distributable global rank / ordered cumsum must equal
the single-reducer window forms bit-for-bit, including tie handling, and must
not plan an unpartitioned row-data window."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkfusion.errors import PlanError
from sparkfusion.operators.projection import zip_with_index_df
from sparkfusion.operators.ranks import global_rank, ranged_cumsum


def _vals_df(spark):
    # duplicates (ties), negatives, and a skewed hot key
    rows = [(i, v) for i, v in enumerate([5, 3, 3, 8, -1, 5, 5, 0, 8, 2, 2, 2, 7])]
    return spark.createDataFrame(rows, "id INT, v INT")


def test_global_rank_matches_window(spark):
    df = _vals_df(spark)
    got = {
        (r["id"], r["rank"])
        for r in global_rank(df, "v", num_partitions=4).collect()
    }
    want = {
        (r["id"], r["rank"])
        for r in df.withColumn(
            "rank", F.rank().over(Window.orderBy("v")).cast("long")
        ).collect()
    }
    assert got == want


def test_global_rank_descending(spark):
    df = _vals_df(spark)
    got = {
        (r["id"], r["rank"])
        for r in global_rank(df, "v", ascending=False, num_partitions=3).collect()
    }
    want = {
        (r["id"], r["rank"])
        for r in df.withColumn(
            "rank", F.rank().over(Window.orderBy(F.col("v").desc())).cast("long")
        ).collect()
    }
    assert got == want


def test_global_rank_multi_column(spark):
    df = _vals_df(spark).withColumn("g", F.col("id") % 3)
    got = {
        (r["id"], r["rank"])
        for r in global_rank(
            df, ["v", "g"], ascending=[False, True], num_partitions=4
        ).collect()
    }
    want = {
        (r["id"], r["rank"])
        for r in df.withColumn(
            "rank",
            F.rank().over(Window.orderBy(F.col("v").desc(), "g")).cast("long"),
        ).collect()
    }
    assert got == want


def test_ranged_cumsum_matches_window(spark):
    df = _vals_df(spark).groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("id").alias("s")
    )
    got = {
        (r["v"], r["cum_c"], r["cum_s"])
        for r in ranged_cumsum(df, "v", ["c", "s"], num_partitions=4).collect()
    }
    w = Window.orderBy("v")
    want = {
        (r["v"], r["cum_c"], r["cum_s"])
        for r in df.select(
            "v",
            F.sum("c").over(w).cast("long").alias("cum_c"),
            F.sum("s").over(w).cast("long").alias("cum_s"),
        ).collect()
    }
    assert got == want


def test_ranged_cumsum_rejects_duplicate_keys(spark):
    df = _vals_df(spark)  # v has duplicates
    with pytest.raises(Exception, match="duplicate"):
        ranged_cumsum(df, "v", ["id"], num_partitions=4).collect()


def test_ranged_cumsum_preserves_fractional_type(spark):
    """DOUBLE inputs must come back as DOUBLE (no silent truncation to long);
    integral inputs follow SQL SUM and come back BIGINT."""
    df = _vals_df(spark).groupBy("v").agg(
        (F.sum("id") / 2.0).alias("d"), F.count(F.lit(1)).alias("c")
    )
    out = ranged_cumsum(df, "v", ["d", "c"], num_partitions=4)
    dt = dict(out.dtypes)
    assert dt["cum_d"] == "double" and dt["cum_c"] == "bigint"
    w = Window.orderBy("v")
    got = {(r["v"], r["cum_d"]) for r in out.collect()}
    want = {
        (r["v"], r["cum_d"])
        for r in df.select("v", F.sum("d").over(w).alias("cum_d")).collect()
    }
    assert got == want


def test_global_ntile_matches_window(spark):
    from sparkfusion.operators.ranks import global_ntile

    df = _vals_df(spark)  # 13 rows; (v, id) is a unique composite
    for k in (1, 2, 4, 5, 13, 20):  # incl. n % k != 0 and k > n
        got = {
            (r["id"], r["tile"])
            for r in global_ntile(
                df, ["v", "id"], k, ascending=[False, True], num_partitions=4
            ).collect()
        }
        want = {
            (r["id"], r["tile"])
            for r in df.withColumn(
                "tile",
                F.ntile(k).over(Window.orderBy(F.col("v").desc(), "id")),
            ).collect()
        }
        assert got == want, f"k={k}"


def test_column_collision_raises(spark):
    df = _vals_df(spark).withColumn("rank", F.lit(1))
    with pytest.raises(PlanError):
        global_rank(df, "v")


@pytest.mark.parametrize("col", ["__pid", "__off_rows", "__lrank", "__one", "__n"])
def test_internal_column_collision_raises(spark, col):
    """Any internal working column on the input would join ambiguously
    against the offsets frame — must be rejected, not silently mis-ranked."""
    df = _vals_df(spark).withColumn(col, F.lit(1))
    with pytest.raises(PlanError, match="collision"):
        global_rank(df, "v")
    with pytest.raises(PlanError, match="collision"):
        ranged_cumsum(df, "v", ["id"])
    with pytest.raises(PlanError, match="collision"):
        zip_with_index_df(df)


def test_zip_with_index_df_keeps_caller_columns(spark):
    """zip_with_index_df's own ordinal column is rejected; a caller column
    that is not a working column, such as ``__off``, passes through with
    its values."""
    df = _vals_df(spark)
    with pytest.raises(PlanError, match="collision on __mid"):
        zip_with_index_df(df.withColumn("__mid", F.lit(1)))
    rows = zip_with_index_df(df.withColumn("__off", F.col("v") * 2)).collect()
    assert {(r["id"], r["__off"]) for r in rows} == {(r.id, r.v * 2) for r in df.collect()}
    assert sorted(r.pk for r in rows) == list(range(len(rows)))


def test_no_single_partition_window_in_plan(spark):
    """The whole point: the row-data window must be partitioned by __pid.
    The plan's only unpartitioned window may touch the #partitions-row
    totals frame (its input is an aggregate, never the raw rows)."""
    df = _vals_df(spark)
    plan = global_rank(df, "v", num_partitions=4)._jdf.queryExecution().executedPlan().toString()
    # every Window over the row data carries the __pid partition spec
    windows = [
        l
        for l in plan.splitlines()
        if ("Window" in l and "windowspecdefinition" in l.lower())
        or l.strip().startswith("Window")
    ]
    row_windows = [l for l in windows if "__lrank" in l or "rank" in l]
    assert row_windows, plan  # the filter must actually match the rank window
    assert all("__pid" in l for l in row_windows), plan
