"""TPC-H-style multi-join analytical queries over the star schema — the
classic engine-comparison shapes (Q3 shipping priority, Q5 local supplier
volume), plus an array-function exercise on the embeddings table.

Same determinism discipline as suite.relational: DECIMAL money math, date
filters pushed to scans, dimension broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import star_sql, table
from . import register, star_oracle

_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, two date filters (both pushed to their
    scans), grouped decimal revenue, top-10. ``l_orderkey`` tiebreak makes
    the limited set deterministic."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_SQL = f"""
SELECT n_name,
       CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM {{lineitem}}
JOIN {{orders}} ON l_orderkey = o_orderkey
JOIN {{customer}} ON c_custkey = o_custkey
JOIN {{supplier}} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN {{nation}} ON s_nationkey = n_nationkey
JOIN {{region}} ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", oracle=star_oracle(_Q5_SQL))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through the full star (fact ⋈ two dims ⋈
    nation ⋈ region) with a local-supplier condition. The text names the
    fact table first: without cost-based optimization Catalyst sizes a join
    as the product of its inputs' sizes, so a ``customer ⋈ orders`` written
    first would look bigger than the lone ``lineitem`` scan and make the
    fact table the broadcast build side. Fact first, ``lineitem`` is inside
    the left input of every later join, so it is not their build side, and
    each dimension is broadcast while it is under the broadcast threshold."""
    return star_sql(spark, sf_dir, _Q5_SQL)


@register(
    "arr_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(embedding[1]::DOUBLE, 6) AS first_val,
           round(list_aggregate(list_transform(embedding[1:8], x -> x::DOUBLE * x::DOUBLE), 'sum'), 6) AS head_sq_sum,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def arr_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embeddings list column (§2.8 'Spark
    F.* superset'): size, element access, slice+transform+aggregate fold,
    filter count. Folds run in sequential order → exact cross-engine match.
    The oracle must cast EACH ELEMENT to double BEFORE multiplying —
    ``(x*x)::DOUBLE`` squares in float32 first and sits ~1e-9 off Spark's
    double×double, which round(…,6) exposes at tie boundaries (found by the
    full sf0.1 gate, latent at sf0.01)."""
    emb = table(spark, sf_dir, "embeddings")
    sliced = F.slice(F.col("embedding"), 1, 8)
    sq_sum = F.aggregate(
        F.transform(sliced, lambda x: (x.cast("double") * x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.get("embedding", 0).cast("double"), 6).alias("first_val"),
        F.round(sq_sum, 6).alias("head_sq_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global agg, zero joins — the pushdown
    showcase. All three predicates reach the parquet scan (PushedFilters);
    the aggregation is a map-side partial + 1-row final. At 100 TB this is
    a scan-bound query whose cost is column-pruned IO only."""
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast(
        "decimal(12,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter-ish.
    Fact filters (date window, returnflag) push to scans; nation broadcasts;
    the top-20 rides TakeOrderedAndProject (no global sort materialization)."""
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                   / CAST(SUM({_REV}) AS DOUBLE), 6) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-09-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. Both sums stay DECIMAL-exact and
    only the final ratio drops to double (identical operands → identical
    division both engines; rounded 6 anyway). part broadcasts — the fact
    table never shuffles for a 1-row answer."""
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-09-01 00:00:00").cast("timestamp_ntz"))
    )
    part = table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l1
    JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#9'
      AND l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue with a per-part
    correlated average. Expressed as a join against the grouped per-part
    averages (what a decorrelating optimizer produces anyway). The average's
    input is semi-joined to the filtered (broadcast-small) Brand#9 part set
    BEFORE the groupBy — only ~1/brands of lineitem is aggregated and the
    resulting (partkey, avg) frame is one row per *Brand#9* part, so the
    broadcast back stays KB-scale at any SF (an all-parts average would be
    one row per distinct part: GBs at 100 TB → driver OOM). AVG over
    integer-valued doubles is order-insensitive (exact in binary), so no
    decimal dance is needed for the threshold; revenue stays DECIMAL until
    the final /7.0."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#9")
    li_brand = li.join(
        F.broadcast(part.select(F.col("p_partkey").alias("sp_partkey"))),
        li.l_partkey == F.col("sp_partkey"),
        "left_semi",
    )
    avgs = li_brand.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li_brand.join(F.broadcast(part), li_brand.l_partkey == part.p_partkey)
        .join(F.broadcast(avgs), li_brand.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 260)
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: biggest single orders. The HAVING subquery becomes a
    grouped-aggregate semi-join (one extra shuffle of (orderkey, sum) — at
    100 TB this pre-aggregation is ~1% the width of the fact scan). Quantity
    sums are integer-valued doubles → order-insensitive, exact."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 260)
        .select("l_orderkey")
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), li.l_orderkey == F.col("bk"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )
