"""Interchange-layer tests (SURVEY.md §2.11) — record round-trips, probes,
byte decode, two-flag sort."""

from __future__ import annotations

import dataclasses

import pytest

from sparkfusion import interchange as ic


@dataclasses.dataclass
class Foo:
    id: int
    name: str | None
    data: bytes | None


def test_records_roundtrip(spark):
    recs = [Foo(1, "a", b"x"), Foo(2, None, None)]
    df = ic.records_to_df(spark, recs, schema="id long, name string, data binary")
    back = ic.df_to_typed(df.orderBy("id"), Foo)
    assert back[0] == Foo(1, "a", bytearray(b"x")) or back[0].name == "a"
    assert back[1].name is None and back[1].data is None


def test_df_to_typed_missing_column_tolerant(spark):
    df = spark.createDataFrame([(7,)], "id long")  # no name/data columns
    out = ic.df_to_typed(df, Foo)
    assert out[0].id == 7 and out[0].name is None and out[0].data is None


def test_df_to_typed_rejects_non_dataclass(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(TypeError):
        ic.df_to_typed(df, dict)


def test_df_to_records_nested(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "x")], "id int, s string").select(
        "id", F.struct("s", "id").alias("nested")
    )
    recs = ic.df_to_records(df)
    assert recs[0]["nested"] == {"s": "x", "id": 1}


def test_json_rows(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, name string")
    rows = sorted(ic.df_to_json_rows(df))
    assert rows == ['{"id":1,"name":"a"}', '{"id":2}']  # null omitted


def test_scalar_at_and_bounds(spark):
    df = spark.createDataFrame([(10,), (20,)], "v int").orderBy("v")
    assert ic.scalar_at(df, 1, "v") == 20
    with pytest.raises(IndexError):
        ic.scalar_at(df, 5, "v")


def test_column_names_and_empty(spark):
    from sparkfusion.sources import get_empty_df

    assert ic.get_column_names(get_empty_df(spark)) == []
    assert ic.is_empty(get_empty_df(spark))
    assert not ic.is_empty(spark.range(1))


def test_concat_df_batches_single_partition(spark):
    df = spark.range(100).repartition(8)
    assert ic.concat_df_batches(df).rdd.getNumPartitions() == 1
    assert ic.concat_df_batches(df).count() == 100


def test_read_parquet_bytes(spark, tmp_path):
    import pandas as pd

    p = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(p)
    df = ic.read_parquet_bytes(spark, p.read_bytes())
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_sort_df_flag_matrix(spark):
    df = spark.createDataFrame([(None,), (3,), (1,)], "v int")
    def vals(asc, nf):
        return [r.v for r in ic.sort_df(df, "v", asc, nf).collect()]
    assert vals(True, True) == [None, 1, 3]
    assert vals(True, False) == [1, 3, None]
    assert vals(False, True) == [None, 3, 1]
    assert vals(False, False) == [3, 1, None]


def test_execute_stream_batches(spark):
    df = spark.range(2500).withColumnRenamed("id", "v")
    batches = list(ic.execute_stream(df, max_records_per_batch=1000))
    assert len(batches) == 3
    assert sum(b.num_rows for b in batches) == 2500
    all_vals = sorted(v for b in batches for v in b.column("v").to_pylist())
    assert all_vals == list(range(2500))


def test_to_arrow_roundtrip(spark, sf_dir):
    """Spark 4 df.toArrow(): direct pyarrow.Table interchange (C-surface
    sibling of toPandas), values identical to the collected rows."""
    import pyarrow as pa

    from sparkfusion.session import table

    nation = table(spark, sf_dir, "nation").orderBy("n_nationkey")
    t = nation.toArrow()
    assert isinstance(t, pa.Table)
    assert t.num_rows == nation.count()
    assert t.column("n_name").to_pylist() == [r["n_name"] for r in nation.collect()]


def test_parameterized_sql(spark, sf_dir):
    """spark.sql named parameters: injection-safe literal binding."""
    from sparkfusion.session import table

    nation = table(spark, sf_dir, "nation")
    out = spark.sql(
        "SELECT count(*) AS n FROM {nation} WHERE n_regionkey = :rk",
        args={"rk": 1},
        nation=nation,
    ).collect()
    want = spark.sql("SELECT count(*) AS n FROM {nation} WHERE n_regionkey = 1", nation=nation).collect()
    assert out == want


def test_map_in_arrow_matches_expression(spark, sf_dir):
    """mapInArrow: RecordBatch-level transform (no pandas materialization) —
    the lowest-overhead Python batch hook; results equal the pure-expression
    form."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql import functions as F
    from sparkfusion.session import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")

    def scale(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pc.multiply(b.column(1), 2.0)],
                names=["l_orderkey", "qty2"],
            )

    got = (
        li.mapInArrow(scale, "l_orderkey long, qty2 double")
        .agg(F.sum("qty2").alias("s"))
        .first()["s"]
    )
    want = li.agg(F.sum(F.col("l_quantity") * 2.0).alias("s")).first()["s"]
    assert got == want
