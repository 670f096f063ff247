"""Example gallery: scalar UDFs (mirrors ``examples/udf/udf.rs``) — pandas UDF
via the expression API, SQL registration, and the builtin fast path.

Run: python examples/udf.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkfusion.functions import register_split_text, split_text_builtin
from sparkfusion.functions.udfs import make_split_text_pandas_udf
from sparkfusion.session import get_session


def main() -> None:
    spark = get_session("example-udf", cpus=8)
    df = spark.createDataFrame(
        [("report.parquet",), ("notes.txt",), ("noext",)], "name string"
    )

    print("== pandas UDF via expression API ==")
    split_text = make_split_text_pandas_udf(".")
    df.select("name", split_text("name").alias("base")).show()

    print("== registered for SQL ==")
    register_split_text(spark, "split_text", ".")
    df.createOrReplaceTempView("files")
    spark.sql("SELECT split_text(name) AS base FROM files").show()

    print("== builtin fast path (no Python worker) ==")
    df.select(split_text_builtin("name").alias("base")).show()


if __name__ == "__main__":
    main()
