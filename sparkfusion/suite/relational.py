"""Relational core suite — scans, filters, joins, aggregates, windows, sorts,
set-ops, subqueries (SURVEY.md §2.2-2.7, §4 CTE/subquery rows).

Numeric determinism: every money aggregate is computed in DECIMAL (exact, so
Spark's parallel partial-agg order cannot flip low-order float bits vs the
oracle's sequential sum). A final cast to DOUBLE is engine-identical ONLY
while the sum's scaled integer (value · 10^scale) stays below 2^53: Spark
converts via BigDecimal.doubleValue (correctly rounded in one step), DuckDB
via scaled-int128 → double → ÷10^scale (TWO roundings — off by 1 ULP past
2^53; the r12 sf1 sweep caught q1's scale-6 sum_charge doing exactly that
at 6M rows: exact 43579985256.939670 → DuckDB ...939674, correctly rounded
is ...93967). Emitting DECIMAL instead doesn't help the oracle check:
DuckDB's pandas fetch coerces DECIMAL to float64 through the same 2-step
conversion. Rule: ROUND wide-scale money sums to scale 2 (exact decimal
rounding, identical both engines) BEFORE the double cast — a scale-2
scaled int stays < 2^53 up through ~9e13 absolute (sf1000 here); past
that envelope only a string-typed emission would stay comparable.

q1 keeps the same exact values without Java ``BigDecimal`` rows: each money
column becomes the BIGINT its decimal cast would hold scaled by 10^scale
(:func:`_unscaled`), the products are formed in BIGINT (the declared
precisions bound them below ~1.2·10^14), the sums run over DECIMAL(p, 0),
and only the per-group results are scaled back by 10^-scale — the same
values, bit for bit, as summing the decimal casts themselves.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import concat_dfs, df_sql, join_dfs
from ..session import star_sql, table
from . import register, star_oracle


def _dec(col: str, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _unscaled(col: str, prec: int, scale: int) -> str:
    """A SQL BIGINT expression equal to ``CAST(col AS DECIMAL(prec, scale))
    · 10^scale``, exactly, for every DOUBLE ``col``, that builds no
    ``BigDecimal`` per row where the double math is provably the same.

    Spark casts a double to DECIMAL by rounding its shortest decimal string
    HALF_UP. Away from a .5 tie, ``floor(v + 0.5)`` with ``v = col·10^scale``
    rounds to the same integer: the double error of ``v`` is a few ulps, and
    below 10^10 an ulp is under 2·10^-6, far inside the 10^-3 tie margin.
    Rows within 10^-3 of a tie (1.005 is 100.4999… in binary but "1.005" as
    a string), at or past ``10^prec - 1``, NaN, ±inf and NULL take the
    decimal cast itself, so they round, null out or raise exactly as the
    cast does under either ``spark.sql.ansi.enabled``. A SQL string rather
    than a ``Column``: building it costs no JVM call per operator."""
    if prec > 10:
        raise ValueError(f"prec {prec} > 10: the double fast path is exact only below 10^10")
    v = f"({col} * {10**scale}D)"
    return (
        f"CASE WHEN abs({v}) < {10**prec - 1}D AND abs({v} - floor({v}) - 0.5D) >= 1E-3D"
        f" THEN floor({v} + 0.5D)"
        f" ELSE CAST(CAST({col} AS DECIMAL({prec},{scale})) * {10**scale}BD AS BIGINT) END"
    )


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (A2 grouped multi-agg + O3 sort).
# --------------------------------------------------------------------------

Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped multi-aggregate with filter pushdown — the flagship query.

    Reference pattern: GROUP BY + min/max/median 1BRC aggregate
    (``examples/algo/one_billion_row_challenge.rs:199-214``) and
    multi-expression ``df.aggregate`` (``examples/dataframe/query.rs:186-190``).
    The shipdate filter reaches the parquet scan (PushedFilters); partial
    aggregation happens map-side before the single shuffle on the 6-value
    group key.
    """
    li = table(spark, sf_dir, "lineitem")
    # the money columns as scaled BIGINTs of the narrowest decimals that hold
    # the data; the oracle's wider casts yield identical values
    scaled = li.filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz")
    ).selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{_unscaled('l_quantity', 5, 2)} AS qty",
        f"{_unscaled('l_extendedprice', 8, 2)} AS ep",
        f"{_unscaled('l_discount', 3, 2)} AS di",
        f"{_unscaled('l_tax', 3, 2)} AS tx",
    )
    disc_price = "ep * (100 - di)"  # scale 4
    charge = f"{disc_price} * (100 + tx)"  # scale 6

    def money(unscaled: str, prec: int, scale: int) -> str:
        """SUM of a scale-``scale`` BIGINT expression as its exact DECIMAL
        value. A DECIMAL(≤8, 0) sum is long-backed, as a DECIMAL(18, 2) one
        is; the products' DECIMAL(28, 0) sums cannot wrap."""
        return f"SUM(CAST({unscaled} AS DECIMAL({prec},0))) * {Decimal(1).scaleb(-scale)}BD"

    agg = scaled.groupBy("l_returnflag", "l_linestatus").agg(
        # the scale-4/-6 sums are ROUNDED to money scale 2 BEFORE the
        # double cast: a scale-2 scaled int stays < 2^53 through ~9e13
        # absolute, so the conversion is a single correctly-rounded
        # division in both engines — unrounded, DuckDB double-rounds
        # past 2^53 (module docstring; the r12 sf1 sweep caught
        # sum_charge at 6M rows)
        F.expr(money("qty", 5, 2)).alias("sum_qty"),
        F.expr(money("ep", 8, 2)).alias("sum_base_price"),
        F.expr(f"CAST(ROUND({money(disc_price, 18, 4)}, 2) AS DOUBLE)").alias("sum_disc_price"),
        F.expr(f"CAST(ROUND({money(charge, 18, 6)}, 2) AS DOUBLE)").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "CAST(sum_qty AS DOUBLE) AS sum_qty",
        "CAST(sum_base_price AS DOUBLE) AS sum_base_price",
        "sum_disc_price",
        "sum_charge",
        # avgs are per-group intensive: numerator scaled ints stay << 2^53
        # through sf1000, so the double conversion is engine-identical
        "CAST(sum_qty AS DOUBLE) / count_order AS avg_qty",
        "CAST(sum_base_price AS DOUBLE) / count_order AS avg_price",
        "count_order",
    )


# --------------------------------------------------------------------------
# Aggregates
# --------------------------------------------------------------------------


@register(
    "a1_multi_agg_global",
    oracle="""
    SELECT COUNT(o_orderkey) AS cnt_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           COUNT(o_orderstatus) AS cnt_status
    FROM orders
    """,
)
def a1_multi_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no group key) multi-expression aggregate.

    Reference: ``df.aggregate(vec![], vec![count, sum, count])`` at
    ``examples/dataframe/query.rs:186-190``.
    """
    return table(spark, sf_dir, "orders").agg(
        F.count("o_orderkey").alias("cnt_key"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.count("o_orderstatus").alias("cnt_status"),
    )


@register("a3_count_star", oracle="SELECT COUNT(*) AS cnt FROM lineitem")
def a3_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``select count(*)`` (reference ``examples/dataframe/query.rs:172``).
    Catalyst answers this from parquet row-group metadata — no column read."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


_CTE_COUNT_SQL = """
WITH tmp AS (SELECT * FROM {orders} WHERE o_orderstatus = 'F')
SELECT COUNT(*) AS cnt FROM tmp
"""


@register("cte_count", oracle=star_oracle(_CTE_COUNT_SQL))
def cte_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + count(*) (reference ``examples/dataframe/query.rs:171-173``)."""
    return star_sql(spark, sf_dir, _CTE_COUNT_SQL)


@register(
    "a2_1brc_events",
    oracle="""
    SELECT event_type,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           MEDIAN(value) AS median_value
    FROM events
    GROUP BY event_type
    """,
)
def a2_1brc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1BRC-style min/max/median group aggregate.

    Reference: ``examples/algo/one_billion_row_challenge.rs:199-214`` (GROUP BY
    city, min/max/median, ORDER BY). Exact ``median`` per SURVEY.md §7 risk 3
    (not percentile_approx). min/max are exact; median is an order statistic
    (avg of the two middles for even counts) — deterministic in both engines.
    """
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.median("value").alias("median_value"),
        )
    )


_A6_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM {orders}
WHERE o_totalprice = (SELECT MIN(o_totalprice) FROM {orders})
"""


@register("a6_scalar_subquery_least", oracle=star_oracle(_A6_SQL))
def a6_scalar_subquery_least(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-value row via uncorrelated scalar subquery.

    Reference: ``examples/algo/least_values.rs:30-37``. Catalyst plans the
    subquery as a one-row broadcast — no second full scan at execution.
    """
    return star_sql(spark, sf_dir, _A6_SQL)


_A7_SQL = """
SELECT s_suppkey, ((s_suppkey - 1) % (SELECT COUNT(*) FROM {nation})) + 1 AS slot
FROM {supplier}
"""


@register("a7_round_robin", oracle=star_oracle(_A7_SQL))
def a7_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin slot pick: count(*) subquery inside arithmetic.

    Reference: ``examples/algo/round_robin.rs:31-36``
    (``((w-1) % (select count(*) from t)) + 1``).
    """
    return star_sql(spark, sf_dir, _A7_SQL)


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "j1_inner_join_api",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer INNER JOIN nation ON c_nationkey = n_nationkey
    """,
)
def j1_inner_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join via the DataFrame builder API.

    Reference: ``df1.join(df2, JoinType::Inner, &["id"], &["id2"], None)`` at
    ``examples/dataframe/operations.rs:63-65``. ``nation`` (25 rows) is
    broadcast — no shuffle of the fact side at any scale.
    """
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    return cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "inner"
    ).select("c_custkey", "c_name", "n_name")


_J2_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM {lineitem} INNER JOIN {orders} ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@register("j2_inner_join_sql", oracle=star_oracle(_J2_SQL))
def j2_inner_join_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join declared in SQL with a post-join filter + aggregate.

    Reference: SQL inner join + filter at
    ``examples/dataframe/operations.rs:99-106``. The status filter pushes
    below the join into the orders scan.
    """
    return star_sql(spark, sf_dir, _J2_SQL)


@register(
    "j3_multi_join_fold",
    oracle="""
    SELECT a.o_orderkey, a.o_custkey, a.o_totalprice, b.o_orderstatus, c.o_orderpriority, d.o_orderdate
    FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders) a
    JOIN (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders) b
      ON a.o_orderkey = b.o_orderkey AND a.o_custkey = b.o_custkey
    JOIN (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders) c
      ON a.o_orderkey = c.o_orderkey AND a.o_custkey = c.o_custkey
    JOIN (SELECT o_orderkey, o_custkey, o_orderdate FROM orders) d
      ON a.o_orderkey = d.o_orderkey AND a.o_custkey = d.o_custkey
    """,
)
def j3_multi_join_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way composite-key inner-join fold (``join_dfs``).

    Reference: ``join_dfs(vec![df1..df4], &["id","pk"])`` at
    ``src/utils/dataframe.rs:860-882``; 4-way composite-key test at
    ``tests/api/dataframe_tests.rs:776-813``. All four inputs share the
    ``(o_orderkey, o_custkey)`` composite key (unique per row), so Catalyst
    reuses one hash partitioning across the fold instead of re-shuffling per
    pair.
    """
    orders = table(spark, sf_dir, "orders")
    keys = ["o_orderkey", "o_custkey"]
    parts = [
        orders.select(*keys, "o_totalprice"),
        orders.select(*keys, "o_orderstatus"),
        orders.select(*keys, "o_orderpriority"),
        orders.select(*keys, "o_orderdate"),
    ]
    return join_dfs(parts, keys)


@register(
    "j4_join_duplicate_keys",
    oracle="""
    SELECT l.n_nationkey, l.n_name, r.r_name
    FROM nation l
    JOIN (SELECT n_regionkey, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey) r
      ON l.n_regionkey = r.n_regionkey
    """,
)
def j4_join_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join where keys repeat on both sides → M×N row multiplication.

    Reference doc-test: 2×2+1 expansion at ``src/utils/dataframe.rs:843-856``.
    Each region key appears 5× on both sides here, so the join fans out to
    5×5 per region — a correctness check on duplicate-key semantics.
    """
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    right = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
        "n_regionkey", "r_name"
    )
    left = nat.select("n_nationkey", "n_name", "n_regionkey")
    return left.join(right, "n_regionkey").select("n_nationkey", "n_name", "r_name")


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------


_W1_SQL = """
SELECT o_orderkey,
       o_orderpriority,
       COUNT(o_orderkey) OVER (PARTITION BY o_orderpriority) AS cnt_w,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS sum_w
FROM {orders}
"""


@register("w1_window_agg_sql", oracle=star_oracle(_W1_SQL))
def w1_window_agg_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM aggregate-over-window, SQL form.

    Reference: ``COUNT(id) OVER (PARTITION BY name)`` etc. at
    ``examples/dataframe/query.rs:196-207``. No ORDER BY in the window → the
    frame is the whole partition, identical in DataFusion and Spark
    (SURVEY.md §2.5 frame note). Decimal sum keeps the windowed total exact.
    """
    return star_sql(spark, sf_dir, _W1_SQL)


@register(
    "w2_window_agg_api",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           COUNT(c_custkey) OVER (PARTITION BY c_mktsegment) AS cnt_w,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS sum_w,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
             / COUNT(c_custkey) OVER (PARTITION BY c_mktsegment) AS avg_w
    FROM customer
    """,
)
def w2_window_agg_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM/AVG over a partition window via the builder API + with_column.

    Reference: window built with ``Expr::WindowFunction(...)`` then
    ``df.with_column`` at ``examples/dataframe/query.rs:211-251`` and the
    multi-window ``df.window(...)`` projection at ``:253-260``. AVG is
    computed as exact-decimal SUM / COUNT so both engines agree bit-for-bit.
    """
    w = Window.partitionBy("c_mktsegment")
    cust = table(spark, sf_dir, "customer")
    sum_w = F.sum(_dec("c_acctbal")).over(w).cast("double")
    cnt_w = F.count("c_custkey").over(w)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        cnt_w.alias("cnt_w"),
        sum_w.alias("sum_w"),
        (sum_w / cnt_w).alias("avg_w"),
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k
# --------------------------------------------------------------------------


@register(
    "o1_sort_nulls_first",
    oracle="""
    SELECT p_partkey, CASE WHEN p_size > 40 THEN NULL ELSE p_size END AS size_or_null
    FROM part
    ORDER BY size_or_null ASC NULLS FIRST, p_partkey ASC
    LIMIT 100
    """,
)
def o1_sort_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort asc with explicit nulls-first placement + limit.

    Reference: ``col("speed").sort(true, true)`` (asc, nulls_first) at
    ``src/utils/dataframe.rs:229`` / ``src/utils/datasets.rs:135``. Spark's
    nulls placement is emitted explicitly (``asc_nulls_first``) per
    SURVEY.md §7 risk 4; ``p_partkey`` tiebreak makes the limited row set
    deterministic.
    """
    part = table(spark, sf_dir, "part")
    size_or_null = F.when(F.col("p_size") > 40, F.lit(None)).otherwise(F.col("p_size"))
    return (
        part.select("p_partkey", size_or_null.alias("size_or_null"))
        .orderBy(F.col("size_or_null").asc_nulls_first(), F.col("p_partkey").asc())
        .limit(100)
    )


@register(
    "o4_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey
    LIMIT 5 OFFSET 10
    """,
)
def o4_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limit with a skip — ``df.limit(skip, fetch)``.

    Reference: ``df.limit(0, Some(5))`` signature at
    ``src/utils/dataframe.rs:229``; Spark's ``offset`` (3.4+) covers the
    nonzero-skip case.
    """
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(5)
    )


@register(
    "o6_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def o6_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k = sort + limit; Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge — no global sort, scale-safe).

    Reference: sort+limit composition at ``src/utils/dataframe.rs:229`` and
    ``examples/algo/random.rs:29-35``.
    """
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "o7_random_sample",
    oracle="""
    SELECT * FROM customer
    ORDER BY md5(CAST(c_custkey AS VARCHAR))
    LIMIT 1
    """,
)
def o7_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-row pick, reproducible form: order by a hash of the key instead
    of ``rand()``. Statistically uniform over the key space but deterministic,
    so experiment splits replay and the oracle hash-matches — the production
    sampling idiom at 100 TB (``rand()``-ordered sampling is not re-runnable
    and cannot be audited). ``orderBy(F.rand()).limit(1)`` remains the literal
    reference translation (``examples/algo/random.rs:29-40``); same plan shape
    either way (TakeOrderedAndProject, no full sort).
    """
    cust = table(spark, sf_dir, "customer")
    return cust.orderBy(F.md5(F.col("c_custkey").cast("string"))).limit(1)


@register(
    "o8_hash_sample",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE md5(CAST(c_custkey AS VARCHAR)) < '1a'
    """,
)
def o8_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% Bernoulli sample via hash thresholding
    (md5(key) < '1a' ≈ 0x1a/0x100 ≈ 10.2%). The held-out-split primitive for
    training pipelines: membership is a pure function of the key, so the
    split is identical across runs, engines, and data shuffles — unlike
    ``df.sample()``, whose content is partition-layout-dependent. Map-only,
    no shuffle; the predicate is sargable after projection pushdown."""
    cust = table(spark, sf_dir, "customer")
    return cust.select("c_custkey", "c_name", "c_acctbal").filter(
        F.md5(F.col("c_custkey").cast("string")) < "1a"
    )


# --------------------------------------------------------------------------
# Filters / projections / set ops
# --------------------------------------------------------------------------


@register(
    "p6_filter_sql_string",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    WHERE o_totalprice > 100000 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def p6_filter_sql_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter from a SQL expression string (``df_sql``).

    Reference: ``df_sql(df, "speed > 10 and car in ('red','green')")`` at
    ``src/utils/dataframe.rs:67-71``; predicate inventory P7 (``>``, ``IN``,
    ``AND``). The parsed predicate pushes down to the parquet scan.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return df_sql(orders, "o_totalprice > 100000 and o_orderpriority in ('1-URGENT', '2-HIGH')")


@register(
    "p8_computed_column",
    oracle="SELECT n_nationkey, n_nationkey + 1 AS next_key, n_name FROM nation",
)
def p8_computed_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic computed column (reference ``col("id") + lit(1)`` /
    ``select id + 1 as id``, ``examples/dataframe/operations.rs:225-233``)."""
    return table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") + F.lit(1)).alias("next_key"),
        "n_name",
    )


@register(
    "p9_case_when",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size = 1 THEN p_retailprice * p_retailprice ELSE p_retailprice END AS data
    FROM part
    """,
)
def p9_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional update via CASE WHEN.

    Reference: ``CASE WHEN id = 1 THEN data*data ELSE data END`` at
    ``examples/dataframe/operations.rs:254-264``. Single float multiply —
    deterministic without decimal.
    """
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.when(F.col("p_size") == 1, F.col("p_retailprice") * F.col("p_retailprice"))
        .otherwise(F.col("p_retailprice"))
        .alias("data"),
    )


@register(
    "u1_union_all",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    UNION ALL
    SELECT c_custkey, c_name FROM customer
    """,
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all self-concat, duplicates preserved (25+25→50 pattern).

    Reference: ``concat_dfs`` at ``src/utils/dataframe.rs:290-308``;
    duplicate-preservation test ``tests/api/dataframe_tests.rs:202-275``.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return concat_dfs([cust, cust])


@register(
    "o10_group_ksample",
    oracle="""
    SELECT c_mktsegment, c_custkey FROM (
      SELECT c_mktsegment, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def o10_group_ksample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-SIZE sample per group (exactly k rows per
    stratum), complementing rate-based ``o9``: rank by key-hash inside each
    group and keep the first k — reproducible across runs/engines/layouts,
    one shuffle on the group key (a per-group sort, never global)."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "u5_union_by_name_evolved",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    UNION ALL BY NAME
    SELECT s_name, s_suppkey, NULL::DOUBLE AS s_acctbal FROM supplier
    """,
)
def u5_union_by_name_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: frames with reordered and MISSING columns
    combine by NAME (``unionByName(allowMissingColumns=True)``) — the
    multi-vintage-parquet concat every long-lived pipeline needs; positional
    union would silently misalign the reordered columns."""
    sup = table(spark, sf_dir, "supplier")
    full = sup.select("s_suppkey", "s_name", "s_acctbal")
    older = sup.select("s_name", "s_suppkey")  # reordered, no acctbal
    return full.unionByName(older, allowMissingColumns=True)


@register(
    "o11_weighted_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice,
             ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 1)
                / 4294967296.0) / o_totalprice AS wkey
      FROM orders
    ) ORDER BY wkey DESC, o_orderkey LIMIT 20
    """,
)
def o11_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res, weight = o_totalprice): rank by ln(md5-uniform)/weight
    descending, keep the top 20. Reproducible across engines/layouts (pure
    key function), and plan-wise a TakeOrderedAndProject — per-partition
    k-heaps, no global sort. See
    :func:`sparkfusion.llm.chunking.weighted_sample`."""
    from ..llm.chunking import weighted_sample

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return weighted_sample(orders, "o_totalprice", "o_orderkey", k=20)
