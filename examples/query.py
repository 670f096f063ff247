"""Example gallery: SQL + DataFrame-API queries (mirrors the reference's
``examples/dataframe/query.rs`` walk-through — registration, CTEs, windows,
scalar subqueries).

Run: python examples/query.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkfusion.context import SessionContext
from sparkfusion.session import get_session, table


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    ctx = SessionContext(get_session("example-query", cpus=8))
    ctx.register_table("orders", table(ctx.spark, sf_dir, "orders"))

    print("== Entry A: SQL over registered tables ==")
    ctx.sql(
        """
        WITH tmp AS (SELECT * FROM orders WHERE o_orderstatus = 'F')
        SELECT count(*) AS cnt FROM tmp
        """
    ).show()

    print("== Entry B: DataFrame builder API ==")
    orders = ctx.table("orders")
    (
        orders.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(F.count("o_orderkey").alias("n"), F.sum("o_totalprice").alias("total"))
        .orderBy("o_orderpriority")
        .show()
    )

    print("== Window aggregates (count/sum/avg over partition) ==")
    w = Window.partitionBy("o_orderpriority")
    orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.count("o_orderkey").over(w).alias("cnt_w"),
        F.avg("o_totalprice").over(w).alias("avg_w"),
    ).show(5)

    print("== Scalar subquery (least value) ==")
    ctx.sql(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice = (SELECT min(o_totalprice) FROM orders)"
    ).show()


if __name__ == "__main__":
    main(*sys.argv[1:2])
