"""Relational extensions beyond the reference's exercised surface.

The reference only exercises INNER joins and UNION ALL (SURVEY.md §2.3/§2.7
"not present" notes); DataFusion supports the rest and Spark gives them
natively — exposed here so a reference user has the full relational algebra:
outer/semi/anti joins, INTERSECT/EXCEPT/DISTINCT, ROLLUP, PIVOT, and
approximate aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import bloom_semi_join
from ..operators.localrel import inline_rows
from ..session import star_sql, table
from . import register, star_oracle


def _dec(col: str):
    return F.col(col).cast("decimal(12,2)")


@register(
    "j5_left_outer_join",
    oracle="""
    SELECT n_nationkey, n_name, c_cnt
    FROM nation LEFT JOIN (
      SELECT c_nationkey, COUNT(*) AS c_cnt FROM customer GROUP BY c_nationkey
    ) c ON n_nationkey = c_nationkey
    """,
)
def j5_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — unmatched nations keep NULL counts."""
    nat = table(spark, sf_dir, "nation")
    counts = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    return nat.join(
        counts, nat.n_nationkey == counts.c_nationkey, "left"
    ).select("n_nationkey", "n_name", "c_cnt")


@register(
    "j6_semi_join",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 49)
    """,
)
def j6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS — no row multiplication, RHS never projected."""
    sup = table(spark, sf_dir, "supplier")
    big = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return sup.join(
        big, sup.s_suppkey == big.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "j7_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join = NOT EXISTS — customers who never ordered."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j8_full_outer_join",
    oracle="""
    SELECT a.k AS k_high, b.k AS k_low, a.n AS n_high, b.n AS n_low
    FROM (SELECT o_orderpriority AS k, COUNT(*) AS n FROM orders WHERE o_totalprice > 150000 GROUP BY 1) a
    FULL OUTER JOIN (SELECT o_orderpriority AS k, COUNT(*) AS n FROM orders WHERE o_totalprice < 5000 GROUP BY 1) b
      ON a.k = b.k
    """,
)
def j8_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over two aggregate sides."""
    orders = table(spark, sf_dir, "orders")
    high = (
        orders.filter(F.col("o_totalprice") > 150000)
        .groupBy(F.col("o_orderpriority").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    low = (
        orders.filter(F.col("o_totalprice") < 5000)
        .groupBy(F.col("o_orderpriority").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return high.alias("a").join(
        low.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
    ).select(
        F.col("a.k").alias("k_high"),
        F.col("b.k").alias("k_low"),
        F.col("a.n").alias("n_high"),
        F.col("b.n").alias("n_low"),
    )


@register(
    "u2_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — nations having both customers and suppliers."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "u3_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — nations with customers but no suppliers.
    ``subtract`` is Spark's set-difference (``exceptAll`` would be the bag
    form, which is NOT what SQL EXCEPT means)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s)


@register(
    "u4_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def u4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection."""
    return table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "a8_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "a9_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "O",
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a9_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on linestatus with explicit value list (no extra scan for value
    discovery — always pass values at scale)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
    )


_A13_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM {customer} c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM {customer} c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


@register("a13_correlated_subquery", oracle=star_oracle(_A13_SQL))
def a13_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance) — Catalyst decorrelates it into an aggregate + join; extends the
    reference's uncorrelated-only subquery surface (A6/A7)."""
    return star_sql(spark, sf_dir, _A13_SQL)


@register(
    "a10_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_within_tol, TRUE AS orders_within_tol
    FROM lineitem
    """,
)
def a10_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB cardinality tool.
    HLL estimates are engine-specific, so the raw estimate can't hash-match
    an oracle; instead the query emits the exact count plus a boolean
    asserting the HLL estimate landed within 3×rsd (15%) of it. The oracle
    expects TRUE — a drifting HLL implementation fails the gate, and the
    exact columns are value-checked as usual. (At 100 TB you'd run *only*
    the HLL side — one pass, constant memory; countDistinct shuffles every
    distinct value.)"""
    tol = 0.15
    return table(spark, sf_dir, "lineitem").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey") - F.count_distinct("l_partkey")
            )
            <= tol * F.count_distinct("l_partkey")
        ).alias("parts_within_tol"),
        (
            F.abs(
                F.approx_count_distinct("l_orderkey") - F.count_distinct("l_orderkey")
            )
            <= tol * F.count_distinct("l_orderkey")
        ).alias("orders_within_tol"),
    )


_A11_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM {orders}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register("a11_grouping_sets", oracle=star_oracle(_A11_SQL))
def a11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — two independent groupings in one pass."""
    return star_sql(spark, sf_dir, _A11_SQL)


@register(
    "bf1_bloom_semi_join",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 45)
    GROUP BY l_returnflag
    """,
)
def bf1_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with a broadcast bloom-bitmap prefilter on the probe side —
    the runtime-filter pattern (Spark's internal ``BloomFilterAggregate``
    rebuilt from public exprs, :mod:`sparkfusion.operators.bloom`): build a
    kilobyte bitmap from the filtered dimension keys, prune the fact scan
    map-side (no probe shuffle), then exact semi-join only the survivors.
    Result is EXACTLY the plain semi-join (bloom has no false negatives and
    the exact join removes false positives) — the oracle is the plain
    ``IN`` subquery. At 100 TB the prune happens inside the scan stage, so
    the shuffle feeding the exact join carries ~13% of the fact table here
    (p_size >= 45) instead of all of it."""
    line = table(spark, sf_dir, "lineitem")
    parts = table(spark, sf_dir, "part").where(F.col("p_size") >= 45)
    hits = bloom_semi_join(line, parts, "l_partkey", "p_partkey", num_bits=1 << 16)
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "j12_null_safe_join",
    oracle="""
    WITH l AS (SELECT nullif(o_orderstatus, 'O') AS skey FROM orders),
    d AS (
      SELECT * FROM (VALUES ('F', 'finished'), ('P', 'pending'), (NULL, 'open'))
        AS t(skey, label)
    )
    SELECT d.label, count(*) AS n
    FROM l JOIN d ON l.skey IS NOT DISTINCT FROM d.skey
    GROUP BY d.label
    """,
)
def j12_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): open orders map
    to a NULL dimension key and must still match the dimension's NULL row —
    plain equality silently drops them (NULL = NULL is NULL). The null-safe
    operator stays a hash-joinable equi-key on both engines (Spark plans
    EqualNullSafe inside BroadcastHashJoin, no fallback to NLJ)."""
    orders = table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("skey")
    )
    dim = inline_rows(
        spark,
        [("F", "finished"), ("P", "pending"), (None, "open")],
        "skey string, label string",
    )
    return (
        orders.join(F.broadcast(dim), orders["skey"].eqNullSafe(dim["skey"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "u5_intersect_all",
    oracle="""
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity >= 25
    INTERSECT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_discount >= 0.05
    """,
)
def u5_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiplicity-preserving intersection (each duplicate
    row survives min(count_left, count_right) times), vs u2's set-semantics
    INTERSECT. Plans as a single aggregate-and-compare, no distinct."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select("l_returnflag", "l_linestatus")
    b = li.filter(F.col("l_discount") >= 0.05).select("l_returnflag", "l_linestatus")
    return a.intersectAll(b)


@register(
    "u6_except_all",
    oracle="""
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_discount >= 0.05
    EXCEPT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity >= 25
    """,
)
def u6_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference (left multiplicity minus right
    multiplicity, floored at zero), vs u3's set-semantics EXCEPT. Sides
    ordered so the difference is non-empty (a 0-row result would be a
    vacuous correctness check)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_discount") >= 0.05).select("l_returnflag", "l_linestatus")
    b = li.filter(F.col("l_quantity") >= 25).select("l_returnflag", "l_linestatus")
    return a.exceptAll(b)


_L1_SQL = """
SELECT n_name, c.c_custkey, c.c_acctbal
FROM {nation}, LATERAL (
  SELECT c_custkey, c_acctbal FROM {customer}
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) c
"""


@register("l1_lateral_topn", oracle=star_oracle(_L1_SQL))
def l1_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: per-nation top-2 customers by balance —
    the per-row-subquery SQL surface (Spark 4 DecorrelateInnerQuery rewrites
    it into a ranked join; the window form w3 is the DataFrame spelling of
    the same plan). Deterministic (acctbal DESC, custkey) order."""
    return star_sql(spark, sf_dir, _L1_SQL)


@register(
    "a23_bool_aggs",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_discount >= 0.05) AS n_discounted,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           count(*) FILTER (WHERE l_tax = 0) AS n_tax_free
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a23_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface: count_if (FILTER clause),
    bool_and/every, bool_or/any — the data-quality assertion aggregates
    (exact, associative, map-side combinable)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") >= 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") == 0).alias("n_tax_free"),
    )


@register(
    "p24_from_xml",
    oracle="""
    SELECT o_orderkey,
           CAST(regexp_extract(x, '<key>([0-9]+)</key>', 1) AS BIGINT) AS key,
           regexp_extract(x, '<status>([A-Z])</status>', 1) AS status
    FROM (
      SELECT o_orderkey,
             '<order><key>' || o_orderkey || '</key><status>' || o_orderstatus
               || '</status></order>' AS x
      FROM orders
    )
    """,
)
def p24_from_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML parsing (Spark 4 ``from_xml``): a constructed XML payload per
    order is parsed back through the REAL XML reader into a typed struct;
    the oracle recovers the same fields by regexp (an engine with no XML
    support cross-checks the decode). Completes the semi-structured trio:
    JSON (p14/p21), VARIANT (p22), XML (p24)."""
    orders = table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</key><status>"),
        F.col("o_orderstatus"),
        F.lit("</status></order>"),
    )
    return (
        orders.select("o_orderkey", xml.alias("x"))
        .select(
            "o_orderkey", F.from_xml("x", "key BIGINT, status STRING").alias("v")
        )
        .select("o_orderkey", F.col("v.key").alias("key"), F.col("v.status").alias("status"))
    )


@register(
    "f10_string_functions",
    oracle="""
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           reverse(c_name) AS rev_name,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr_seg,
           repeat(substr(c_name, 1, 2), 2) AS rep2,
           levenshtein(c_mktsegment, 'BUILDING') AS lev_building
    FROM customer
    """,
)
def f10_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function parity sampler (§2.8 extension): lpad / reverse /
    translate / repeat / levenshtein — byte-deterministic on both engines."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.reverse("c_name").alias("rev_name"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("tr_seg"),
        F.repeat(F.substring("c_name", 1, 2), 2).alias("rep2"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev_building"),
    )


@register(
    "f11_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(extract(year FROM o_orderdate) AS INT) AS yr,
           CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0
    FROM orders
    """,
)
def f11_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime-function parity sampler: date_trunc / last_day / extract
    (year, quarter) / datediff — compared as integer epoch-µs and ISO
    strings so calendar conventions (not engine formatting) are what's
    checked."""
    o = table(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp")
    return o.select(
        "o_orderkey",
        F.unix_micros(F.date_trunc("month", ts)).alias("month_start_us"),
        F.date_format(F.last_day(ts.cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.year(ts).alias("yr"),
        F.quarter(ts).alias("qtr"),
        F.datediff(ts.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch0"
        ),
    )


@register(
    "f12_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_quantity) AS BIGINT) AS qty_round,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           abs(l_linenumber - 4) AS line_dist,
           CAST(power(l_linenumber, 2) AS BIGINT) AS line_sq,
           round(sqrt(CAST(l_quantity AS DOUBLE)), 9) AS qty_sqrt
    FROM lineitem
    """,
)
def f12_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function parity sampler: round (HALF_UP both engines) / floor /
    ceil / abs / power / sqrt — integer-exact except the sqrt, which is
    rounded 9 per the ulp discipline."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity").cast("long").alias("qty_round"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_pct_floor"),
        F.ceil(F.col("l_tax") * 100).cast("long").alias("tax_pct_ceil"),
        F.abs(F.col("l_linenumber") - 4).alias("line_dist"),
        F.pow("l_linenumber", F.lit(2)).cast("long").alias("line_sq"),
        F.round(F.sqrt(F.col("l_quantity").cast("double")), 9).alias("qty_sqrt"),
    )


@register(
    "f13_conditional_functions",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           ifnull(nullif(c_nationkey, 0), -1) AS nation_or_neg1,
           greatest(c_acctbal, 0.0) AS bal_floor0,
           least(c_acctbal, 5000.0) AS bal_cap5k,
           CASE WHEN c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END AS standing
    FROM customer
    """,
)
def f13_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-function parity sampler: coalesce / nullif / ifnull /
    greatest / least / CASE — the NULL-handling surface (§2.8 extension)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.ifnull(F.nullif(F.col("c_nationkey"), F.lit(0)), F.lit(-1)).alias(
            "nation_or_neg1"
        ),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor0"),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_cap5k"),
        F.when(F.col("c_acctbal") < 0, "overdrawn").otherwise("ok").alias("standing"),
    )


@register(
    "u7_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, NULL AS c_name FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL BY NAME
    SELECT c_custkey AS o_orderkey, NULL AS o_totalprice, c_name
    FROM customer WHERE c_custkey % 100 = 0
    """,
)
def u7_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (``unionByName(allowMissingColumns=True)``):
    two frames with different column sets combine by NAME, absent columns
    null-filled — the append path when a pipeline's schema grows (positional
    UNION would silently misalign). DuckDB mirrors with UNION ALL BY NAME."""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(F.col("c_custkey").alias("o_orderkey"), "c_name")
    )
    return orders.unionByName(cust, allowMissingColumns=True)


@register(
    "a25_bit_aggs",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_linenumber) AS and_line,
           bit_or(l_linenumber) AS or_line,
           bit_xor(l_linenumber) AS xor_line
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a25_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and / bit_or / bit_xor) — associative and
    commutative by construction, so partitioning can never change them; the
    flag-mask reduction surface."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("and_line"),
        F.bit_or("l_linenumber").alias("or_line"),
        F.bit_xor("l_linenumber").alias("xor_line"),
    )


@register(
    "p26_csv_expr",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) || ',' || o_orderstatus || ','
             || CAST(o_custkey AS VARCHAR) AS csv_row,
           o_custkey AS parsed_custkey
    FROM orders
    """,
)
def p26_csv_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV codec EXPRESSIONS (`to_csv` / `from_csv`): encode a struct to a
    CSV line and parse it back per row — the single-row sibling of the file
    CSV source (S1) and of the JSON expr pair (p14/p21); roundtrip proven by
    emitting a field parsed back out of the encoded line."""
    o = table(spark, sf_dir, "orders")
    enc = o.select(
        "o_orderkey",
        F.to_csv(F.struct("o_orderkey", "o_orderstatus", "o_custkey")).alias("csv_row"),
    )
    schema = "o_orderkey BIGINT, o_orderstatus STRING, o_custkey BIGINT"
    return enc.select(
        "o_orderkey",
        "csv_row",
        F.from_csv("csv_row", schema).getField("o_custkey").alias("parsed_custkey"),
    )


@register(
    "f14_hash_encoding_functions",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           to_base64(encode(c_name)) AS name_b64,
           to_hex(c_custkey) AS key_hex,
           decode(from_base64(to_base64(encode(c_name)))) AS b64_roundtrip
    FROM customer
    """,
)
def f14_hash_encoding_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash + binary-encoding parity sampler: md5 / sha2-256 / base64 / hex
    with a base64 decode roundtrip — the content-addressing and wire-format
    surface (fingerprints, cache keys, payload transport)."""
    c = table(spark, sf_dir, "customer")
    b64 = F.base64(F.col("c_name").cast("binary"))
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        b64.alias("name_b64"),
        F.hex("c_custkey").alias("key_hex"),
        F.unbase64(b64).cast("string").alias("b64_roundtrip"),
    )


@register(
    "a26_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def a26_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP, SQL:2016 —
    Spark 4 surface): nation names per region concatenated in a
    DETERMINISTIC order — without the WITHIN GROUP order the result depends
    on partition arrival order, the classic listagg flakiness."""
    return star_sql(
        spark,
        sf_dir,
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM {nation} GROUP BY n_regionkey
        """,
    )


@register(
    "a27_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_prio,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def a27_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flags on ROLLUP: distinguish a NULL that came FROM the
    data from a NULL meaning 'all values' at a rollup level — without the
    flag, subtotal rows are ambiguous (the classic rollup-consumption bug).
    a8 is the plain rollup; this is how a consumer reads it safely."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "f16_interval_arith",
    oracle="""
    SELECT o_orderkey,
           epoch_us(o_orderdate + INTERVAL 1 MONTH) AS plus_month_us,
           strftime(CAST(o_orderdate AS DATE) + 45, '%Y-%m-%d') AS ship_by,
           (2026 - CAST(extract(year FROM o_orderdate) AS INT)) * 12
             + (8 - CAST(extract(month FROM o_orderdate) AS INT)) AS cal_months_to_ref
    FROM orders
    """,
)
def f16_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/interval arithmetic sampler: +1 MONTH (both engines clamp
    Jan 31 → Feb 29), +45 days, and whole-calendar-month distance to a fixed
    reference — compared as epoch-µs and ISO strings. (``months_between``'s
    fractional-month rules differ across engines, so the portable form is
    integer year/month arithmetic.)"""
    o = table(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp")
    return o.select(
        "o_orderkey",
        F.unix_micros(ts + F.expr("INTERVAL 1 MONTH")).alias("plus_month_us"),
        F.date_format(F.date_add(ts.cast("date"), 45), "yyyy-MM-dd").alias("ship_by"),
        ((F.lit(2026) - F.year(ts)) * 12 + (F.lit(8) - F.month(ts))).alias(
            "cal_months_to_ref"
        ),
    )


@register(
    "a28_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END)
                AS DOUBLE) AS "F",
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END)
                AS DOUBLE) AS "O",
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(o_totalprice AS DECIMAL(12,2)) END)
                AS DOUBLE) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def a28_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status columns out of rows (priority × status revenue
    matrix). The value list is EXPLICIT — without it Spark runs an extra
    collect-distinct job over the pivot column before planning, a hidden
    second scan a 100 TB table cannot afford (and nondeterministic column
    order besides). One shuffle (the groupBy); DECIMAL inside the sums, so
    the conditional aggregation matches the oracle bit-for-bit."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
    )


@register(
    "a29_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS val
    FROM lineitem WHERE l_orderkey % 13 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice',
           CAST(l_extendedprice AS DOUBLE)
    FROM lineitem WHERE l_orderkey % 13 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
    FROM lineitem WHERE l_orderkey % 13 = 0
    """,
)
def a29_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: three lineitem measures into (measure, val) long form —
    the feature-table normalization every ML pipeline runs before
    per-feature statistics. Spark's native `unpivot` is a zero-shuffle
    map-side expansion (each row emits k rows in place); the oracle is the
    equivalent UNION ALL. Measures pre-cast to a common DOUBLE: unpivot
    requires homogeneous value types, and the cast is explicit rather than
    letting the engines coerce differently."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 13 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.col("l_discount").cast("double").alias("l_discount"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )


@register(
    "j13_salted_skew_join",
    oracle="""
    SELECT s_nationkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def j13_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-to-dim join via DETERMINISTIC salting: the small
    dimension (supplier) is exploded into SALT=8 replicas keyed
    (s_suppkey, salt) while each fact row picks its replica from
    ``pmod(xxhash64(pk), 8)`` — so one hot supplier key fans out over 8
    reducers instead of melting one. rand()-based salting (the textbook
    form) would break oracle determinism; hashing the fact PK gives the
    identical uniform spread reproducibly. This is the manual, portable
    twin of AQE's skewJoin (spark.sql.adaptive.skewJoin.enabled, already on
    in this repo) for engines/paths AQE can't reach — the join result is
    provably identical to the unsalted join, which is exactly what the
    oracle checks. Salt factor 8 multiplies only the SMALL side (8×|dim|
    broadcastable rows); the fact side gains one narrow int column, no
    extra shuffle vs the plain join. Delegates to
    :func:`sparkfusion.operators.joins.salted_join` (``salt_from`` mode)."""
    from ..operators.joins import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("rev"),
    )
    sup = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(
        li, sup, "l_suppkey", salt=8, salt_from=["l_orderkey", "l_linenumber"]
    )
    return joined.groupBy("s_nationkey").agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
