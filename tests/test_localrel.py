"""inline_rows: VALUES-based LocalRelation replacement for bounded
createDataFrame sites (no Python-RDD scan; operators/localrel.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkfusion.operators.localrel import inline_rows


def test_round_trip_types(spark):
    rows = [
        (1, "plain", 2.5, True, [1.0, -0.125]),
        (2, "quo'te\\back\nnl\tunicodeé\U0001F600", 0.1, False, []),
        (None, None, None, None, None),
    ]
    df = inline_rows(
        spark, rows,
        "i int, s string, d double, b boolean, a array<double>",
    )
    got = [tuple(r) for r in df.collect()]
    assert got == rows
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string", "double", "boolean", "array<double>",
    ]


def test_float_bits_exact(spark):
    import struct
    vals = [0.1, 1e-300, 12345.678901234567, 2.0**-52]
    df = inline_rows(spark, [(v,) for v in vals], "d double")
    got = [r["d"] for r in df.collect()]
    assert [struct.pack("d", g) for g in got] == [struct.pack("d", v) for v in vals]


def test_no_python_stage_in_plan(spark):
    df = inline_rows(spark, [(1, "x")], "i int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan and "BatchEvalPython" not in plan


def test_empty_falls_back(spark):
    df = inline_rows(spark, [], "i int, s string")
    assert df.count() == 0 and df.columns == ["i", "s"]


def test_escaped_string_literals_mode(spark):
    """Under the legacy ``escapedStringLiterals`` parser mode a backslash
    escape stays verbatim; the rendered VALUES must still read back exactly,
    and the caller's mode must survive the call."""
    key = "spark.sql.parser.escapedStringLiterals"
    rows = [("it's",), ("back\\slash",), ("é\nü",)]
    spark.conf.set(key, "true")
    try:
        got = [tuple(r) for r in inline_rows(spark, rows, "s string").collect()]
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.unset(key)
    assert got == rows
