"""TPC-H-style coverage extension — the remaining classic query shapes the
star schema can express (the driver's tables have no ``partsupp`` and no
commit/receipt dates, so Q2/Q9/Q12/Q20-family shapes are adapted to use the
``lineitem`` bridge and available columns; each docstring states the
adaptation).

Same determinism discipline as suite.tpch_like: DECIMAL money math (doubles in
the data are 2-decimal-intent, so DECIMAL(12,2) casts round identically in
both engines), COUNT instead of SUM(CASE 1) (DuckDB sums ints to HUGEINT),
years as explicit INTEGER casts, every computed column aliased identically.

Scale posture: dimension joins broadcast (hinted in API forms, AQE-sized in
SQL forms), fact filters push to scans, correlated subqueries are expressed
as the decorrelated window/semi-join plans a 100 TB run needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import star_sql, table
from . import register, star_oracle

_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

_DEC = "decimal(12,2)"


def _rev() -> F.Column:
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_cost
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'STANDARD' AND p_size < 10
      GROUP BY l_partkey, l_suppkey)
    SELECT ps.l_partkey AS p_partkey, s_name, n_name,
           CAST(ps.total_cost AS DOUBLE) AS total_cost
    FROM ps
    JOIN supplier ON s_suppkey = ps.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE ps.total_cost = (SELECT MIN(p2.total_cost) FROM ps p2
                           WHERE p2.l_partkey = ps.l_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — no partsupp table): per qualifying part, the
    supplier(s) with the minimum total supplied cost, derived from lineitem.
    The correlated MIN decorrelates to a window-min over one (part, supp)
    aggregate — one shuffle on partkey, no re-scan (the oracle's correlated
    form is what this plan computes). Cost sums stay DECIMAL so the min/equal
    comparison is exact. Part filter prunes before the fact aggregation;
    supplier/nation broadcast."""
    li = table(spark, sf_dir, "lineitem")
    part_f = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    )
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    ps = (
        li.join(F.broadcast(part_f.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("total_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("min_cost", F.min("total_cost").over(w)).filter(
        F.col("total_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            F.col("total_cost").cast("double").alias("total_cost"),
        )
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: the EXISTS condition is 'shipped after order
    date' — the schema has no commit/receipt dates): priority histogram of
    orders with at least one late-shipped item. The EXISTS is not a left-semi
    join: Spark's broadcast join can build only a semi join's right side,
    which there is the whole ``lineitem`` scan. Instead ``lineitem`` comes
    first in an inner join against the quarter of ``orders``, with the date
    predicate as join residual, so the planner may build either side and
    picks the smaller (``orders``, broadcast while it is under the
    threshold). The matches are reduced to one row per order
    (``o_orderkey`` is orders' key) before the count."""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             {_REV} AS volume
      FROM {{supplier}}
      JOIN {{lineitem}} ON s_suppkey = l_suppkey
      JOIN {{orders}} ON o_orderkey = l_orderkey
      JOIN {{customer}} ON c_custkey = o_custkey
      JOIN {{nation}} n1 ON s_nationkey = n1.n_nationkey
      JOIN {{nation}} n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", oracle=star_oracle(_Q7_SQL))
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation dims broadcast (two aliases of the same 25-row table); the
    disjunctive nation-pair predicate prunes at the joins, so only the two
    nations' rows survive past the dimension joins."""
    return star_sql(spark, sf_dir, _Q7_SQL)


_Q8_SQL = f"""
SELECT o_year,
       CAST(ROUND(
         CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             {_REV} AS volume,
             n2.n_name AS nation
      FROM {{lineitem}}
      JOIN {{orders}} ON o_orderkey = l_orderkey
      JOIN {{customer}} ON c_custkey = o_custkey
      JOIN {{nation}} n1 ON c_nationkey = n1.n_nationkey
      JOIN {{region}} ON n1.n_regionkey = r_regionkey
      JOIN {{supplier}} ON l_suppkey = s_suppkey
      JOIN {{nation}} n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA') all_nations
GROUP BY o_year
"""


@register("q8_market_share", oracle=star_oracle(_Q8_SQL))
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's supplied revenue per
    year. Numerator and denominator both stay DECIMAL-exact until the final
    ratio (identical operands both engines → identical double division,
    rounded to 6 anyway). The fact table flows through broadcast dim joins
    without re-shuffling; the single groupBy is on the ~7 distinct years."""
    return star_sql(spark, sf_dir, _Q8_SQL)


_Q9_SQL = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             {_REV} - CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(p_retailprice AS DECIMAL(12,2)) AS amount
      FROM {{lineitem}}
      JOIN {{part}} ON p_partkey = l_partkey
      JOIN {{supplier}} ON l_suppkey = s_suppkey
      JOIN {{orders}} ON o_orderkey = l_orderkey
      JOIN {{nation}} ON s_nationkey = n_nationkey
      WHERE p_name LIKE 'red%') profit
GROUP BY nation, o_year
"""


@register("q9_product_profit", oracle=star_oracle(_Q9_SQL))
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: cost = quantity x retail price — no
    partsupp.supplycost exists): profit on color-named parts by supplier
    nation and year. All money math DECIMAL (quantities are integer-valued
    doubles, retail prices 2-decimal-intent → exact casts); the p_name LIKE
    prefix filter prunes part before the fact join."""
    return star_sql(spark, sf_dir, _Q9_SQL)


_Q12_SQL = """
SELECT l_returnflag,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_count
FROM {orders} JOIN {lineitem} ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register("q12_priority_shipping", oracle=star_oracle(_Q12_SQL))
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: grouped by l_returnflag — the schema has no
    l_shipmode): high/low-priority order counts per flag for a ship-date
    year. COUNT(CASE ...) not SUM(CASE 1 ...): DuckDB sums integers into
    HUGEINT, which would break the schema compare; counts are BIGINT in both
    engines."""
    return star_sql(spark, sf_dir, _Q12_SQL)


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM {customer} LEFT JOIN {orders}
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
"""


@register("q13_order_distribution", oracle=star_oracle(_Q13_SQL))
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count histogram, zero-order customers
    included via the left join (COUNT of a nullable key counts only matches).
    The join filter lives in the ON clause — moving it to WHERE would turn
    the left join inner and drop the zero bucket. Two shuffles (custkey,
    then c_count) — the second input is one row per customer."""
    return star_sql(spark, sf_dir, _Q13_SQL)


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 19, 23)
GROUP BY p_brand, p_type, p_size
"""


@register("q16_supplier_cnt", oracle=star_oracle(_Q16_SQL))
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: suppliers linked through lineitem — no
    partsupp; single-word p_type makes NOT LIKE 'MEDIUM%' a plain <>):
    distinct supplier counts per part attribute bucket. COUNT(DISTINCT)
    plans as the two-level expand+agg Spark uses for exact distinct — fine
    here because the group count is small; at 100 TB swap in
    approx_count_distinct (a10) when exactness isn't required."""
    return star_sql(spark, sf_dir, _Q16_SQL)


_Q19_SQL = f"""
SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM {{lineitem}} JOIN {{part}} ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_revenue", oracle=star_oracle(_Q19_SQL))
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity branches across
    the join. Catalyst extracts the common sub-predicates (quantity range,
    size range) as scan-level filters on each side and evaluates the full
    disjunction post-join — the classic 'OR across tables' pushdown test."""
    return star_sql(spark, sf_dir, _Q19_SQL)


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM {supplier}
WHERE s_suppkey IN (SELECT l_suppkey
                    FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
                    WHERE p_name LIKE 'red%'
                    GROUP BY l_suppkey, l_partkey
                    HAVING SUM(l_quantity) > 60)
"""


@register("q20_part_promotion", oracle=star_oracle(_Q20_SQL))
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: excess-quantity criterion from lineitem —
    no partsupp.availqty): suppliers who moved more than a threshold of any
    red part. The IN subquery is a grouped pre-aggregate followed by a semi
    join — quantity sums are integer-valued doubles (order-insensitive,
    exact), and they only gate the threshold, never reach the output."""
    return star_sql(spark, sf_dir, _Q20_SQL)


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS s_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier; output adapted to available supplier columns).
    The revenue view aggregates once; the scalar MAX is a 1-row broadcast the
    equality filter consumes — no second scan of lineitem (the textbook Q15
    re-evaluates the view; Catalyst reuses the aggregated subtree). DECIMAL
    revenue so the max/equality comparison is exact — a double sum could
    strand the true top supplier on a low-order bit."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    maxr = rev.agg(F.max("total_revenue").alias("__max_rev"))
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(maxr))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(sup), "s_suppkey")
        .select("s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue"))
    )


@register(
    "q21_late_sole_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
)
def q21_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: late = shipped >90 days after the order
    date — no commit/receipt dates in this schema): line items of finalized
    multi-supplier orders where THIS supplier was the only late one. The
    oracle keeps Q21's classic correlated EXISTS / NOT EXISTS; the Spark
    plan decorrelates both into ONE per-order aggregate with no join back
    to the line items. An order has a second supplier when its min and max
    ``l_suppkey`` differ, and exactly one late supplier when the min and max
    of its late suppliers are equal; that supplier's late rows are then the
    order's late rows with a supplier. All five are algebraic, so
    ``lineitem`` is scanned once, joined to the finalized ``orders`` (the
    planner builds from the smaller side, ``orders``, broadcast while it is
    under the threshold), and reaches one partially aggregated shuffle on
    orderkey."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    late_supp = F.when(late, F.col("l_suppkey"))
    per_order = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("__min_supp"),
            F.max("l_suppkey").alias("__max_supp"),
            F.min(late_supp).alias("__min_late"),
            F.max(late_supp).alias("__max_late"),
            F.count(late_supp).alias("__n_late"),
        )
        .filter(
            (F.col("__min_supp") != F.col("__max_supp"))
            & (F.col("__min_late") == F.col("__max_late"))
        )
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(sup), F.col("__min_late") == F.col("s_suppkey"))
        .groupBy("s_name")
        # coalesce keeps numwait NOT NULL, as the oracle's COUNT(*) is
        .agg(F.coalesce(F.sum("__n_late"), F.lit(0)).alias("numwait"))
    )


@register(
    "q22_global_sales",
    oracle="""
    WITH thr AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s,
                        COUNT(*) AS n
                 FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, thr
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * CAST(n AS DECIMAL(19,0)) > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: grouped by nationkey — no phone column;
    'never ordered' → 'no orders before 1995-07-01' since every customer
    here has orders): wealthy inactive customers. The above-average filter
    avoids any float threshold: ``bal * n > sum`` in DECIMAL is exactly
    ``bal > avg`` with zero division — a parallel double AVG could flip a
    boundary customer between engines. The 1-row threshold frame broadcasts;
    the NOT EXISTS is a broadcast-able anti join on the date-filtered
    orders."""
    cust = table(spark, sf_dir, "customer")
    orders_early = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp_ntz")
    )
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(F.col("c_acctbal").cast(_DEC)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(
            F.col("c_acctbal").cast(_DEC) * F.col("n").cast("decimal(19,0)")
            > F.col("s")
        )
        .join(
            orders_early,
            cust.c_custkey == orders_early.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double").alias("totacctbal"),
        )
    )
