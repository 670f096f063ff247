"""Golden-output tests for the schema-manipulation operators — the reference's
test contracts (null-omission in JSON, missing-column errors, length-mismatch
errors, pk contiguity) at sf-independent fixture scale."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparkfusion.operators import (
    add_column,
    add_pk_to_df,
    df_cols_to_json,
    df_cols_to_struct,
)


@pytest.fixture(scope="module")
def idnamedata(spark):
    # the reference's ubiquitous inline fixture (FIXTURES.md A2):
    # dataframe!("id" => [1,2,3], "name" => ["foo", None, None], "data" => [42,43,44])
    return spark.createDataFrame(
        [(1, "foo", 42), (2, None, 43), (3, None, 44)], "id int, name string, data int"
    )


def test_cols_to_json_null_omission(idnamedata):
    # reference contract: null fields omitted (src/utils/dataframe.rs:1067-1075)
    out = df_cols_to_json(idnamedata, ["id", "name"], "packed").orderBy("data").collect()
    assert [r.packed for r in out] == [
        '{"id":1,"name":"foo"}',
        '{"id":2}',
        '{"id":3}',
    ]
    assert out[0].asDict().keys() == {"data", "packed"}  # sources dropped


def test_cols_to_json_missing_column_raises(idnamedata):
    # mirrors src/utils/dataframe.rs:1051-1063
    with pytest.raises(ValueError, match="columns not found"):
        df_cols_to_json(idnamedata, ["id", "nope"], "packed")


def test_cols_to_struct_nested_values(idnamedata):
    out = df_cols_to_struct(idnamedata, ["id", "name"], "s").orderBy("data").collect()
    assert out[0].s.asDict() == {"id": 1, "name": "foo"}
    assert out[1].s.asDict() == {"id": 2, "name": None}
    assert out[0].asDict().keys() == {"data", "s"}


def test_cols_to_json_all_null_row(spark):
    # all-null column case (src/utils/dataframe.rs:1068-1069) → empty object
    df = spark.createDataFrame([(1, None)], "id int, name string")
    out = df_cols_to_json(df, ["name"], "packed").collect()
    assert out[0].packed == "{}"
    # and json round-trip parses
    assert json.loads(out[0].packed) == {}


def test_add_pk_contiguous(idnamedata):
    out = add_pk_to_df(idnamedata, "pk", order_by=["id"]).orderBy("id").collect()
    assert [r.pk for r in out] == [0, 1, 2]
    assert dict(out[0].asDict())["pk"] == 0
    assert out[0].__fields__[-1] == "pk"


def test_add_column_positional(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    vals = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    out = add_column(df, vals, order_by=["id"]).orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_add_column_length_mismatch_raises(spark):
    # mirrors the reference's length check (src/utils/dataframe.rs:585-591);
    # the check is lazy (raise_error in-plan, no count() jobs) so it fires at
    # action time, not construction time
    df = spark.createDataFrame([(1,), (2,)], "id int")
    vals = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(Exception, match="length mismatch"):
        add_column(df, vals, order_by=["id"]).collect()


def test_add_column_plan_has_no_count_jobs(spark):
    # the guard must ride the single result pass — construction runs 0 jobs
    df = spark.createDataFrame([(1,), (2,)], "id int")
    vals = spark.createDataFrame([("a",), ("b",)], "v string")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    out = add_column(df, vals, order_by=["id"])  # no action yet
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before
    assert [(r.id, r.v) for r in out.orderBy("id").collect()] == [(1, "a"), (2, "b")]


def test_zip_with_index_variants_contiguous(spark):
    # the Connect-safe DataFrame variant must assign a contiguous 0..n-1 key
    # across partitions
    from sparkfusion.operators import zip_with_index_df

    df = spark.range(0, 1000, 1, 8).select(F.col("id").alias("x"))
    out = zip_with_index_df(df, "pk")
    pks = sorted(r.pk for r in out.collect())
    assert pks == list(range(1000))
    # key follows partition order: within the same layout, x==pk here
    assert all(r.x == r.pk for r in zip_with_index_df(df, "pk").collect())


def test_p13b_zip_with_index_no_global_sort(spark, sf_dir):
    # the suite-blessed scale path for P13 must not contain a global
    # (single-reducer) Sort over the data frame: range partitioning + local
    # sorts + partition-offset arithmetic only. The one permitted global sort
    # is the prefix-sum window over the #partitions-row counts frame (__pid).
    from sparkfusion.suite.schema_ops import p13b_zip_with_index

    out = p13b_zip_with_index(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        stripped = line.lstrip("+-: *(0123456789) ")
        if stripped.startswith("Sort [") and "], true," in stripped:
            assert "__pid" in stripped, f"global data sort in plan: {line}"
    # ids equal ROW_NUMBER() OVER (ORDER BY c_custkey) - 1
    rows = out.orderBy("c_custkey").collect()
    assert [r.pk for r in rows] == list(range(len(rows)))
    assert [r.c_custkey for r in rows] == sorted(r.c_custkey for r in rows)


def test_typed_null_schema(spark):
    from sparkfusion.operators import with_typed_null

    df = spark.createDataFrame([(1,)], "id int")
    out = with_typed_null(df, "ns", "string")
    out = with_typed_null(out, "ni", "int")
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema == {"id": "int", "ns": "string", "ni": "int"}
    row = out.collect()[0]
    assert row.ns is None and row.ni is None
