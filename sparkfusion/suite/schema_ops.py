"""Schema-manipulation suite — the reference's signature column operators
(SURVEY.md §2.2): projection/exclude/rename, literal + typed-null columns,
struct literals, columns→JSON, columns→struct, struct field access,
positional add-column, auto-increment pk, string→typed parse.

Oracle notes:
- Spark ``to_json`` omits null fields (matching the reference contract,
  ``src/utils/dataframe.rs:1067-1075``) while DuckDB ``to_json`` emits
  ``"k":null`` — JSON oracle queries therefore use non-null columns only;
  null-omission semantics are covered by tests/test_schema_ops.py.
- Struct-typed result columns hash engine-dependently, so struct queries
  round-trip through field access and return scalars; a rows-only query
  returns the raw struct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    add_column,
    add_pk_to_df,
    df_cols_to_json,
    df_cols_to_struct,
    select_all_exclude,
    with_typed_null,
    zip_with_index_df,
)
from ..operators.partitioning import compute_width
from ..session import table
from . import register


@register(
    "p1_p2_projection_alias",
    oracle="SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance FROM customer",
)
def p1_p2_projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection by name + expression alias.

    Reference: ``df.select_columns(&["id","name"])`` at
    ``examples/dataframe/operations.rs:65`` and alias projection at
    ``src/utils/dataframe.rs:841``.
    """
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        F.col("c_acctbal").alias("balance"),
    )


@register(
    "p3_select_all_exclude",
    oracle="SELECT c_custkey, c_name, c_nationkey FROM customer",
)
def p3_select_all_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative projection (``select_all_exclude`` /
    ``df.drop_columns``, ``src/utils/helpers.rs:505-515``)."""
    return select_all_exclude(
        table(spark, sf_dir, "customer"), ["c_acctbal", "c_mktsegment"]
    )


@register(
    "p4_rename_column",
    oracle="SELECT n_nationkey AS nation_id, n_name FROM nation",
)
def p4_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename (``df.with_column_renamed``,
    ``examples/dataframe/actions.rs:163``)."""
    return (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .withColumnRenamed("n_nationkey", "nation_id")
    )


@register(
    "p10_literal_typed_null",
    oracle="""
    SELECT n_nationkey,
           'foo' AS tag,
           CAST(NULL AS VARCHAR) AS null_str,
           CAST(NULL AS INTEGER) AS null_int
    FROM nation
    """,
)
def p10_literal_typed_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal column + typed NULL columns.

    Reference: ``ScalarValue`` literals incl. ``Utf8(None)`` / ``Int32(None)``
    at ``examples/dataframe/operations.rs:128-131``.
    """
    df = table(spark, sf_dir, "nation").select("n_nationkey")
    df = df.withColumn("tag", F.lit("foo"))
    df = with_typed_null(df, "null_str", "string")
    return with_typed_null(df, "null_int", "int")


@register(
    "p11_struct_literal",
    oracle="SELECT n_nationkey, FALSE AS flag, 42 AS answer FROM nation",
)
def p11_struct_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct literal column, verified by extracting its fields back out.

    Reference: ``ScalarValue::Struct`` literal at
    ``examples/dataframe/create.rs:210-213``; extraction mirrors
    ``get_field`` (P16, ``examples/algo/one_billion_row_challenge.rs:207-208``).
    """
    df = table(spark, sf_dir, "nation").select("n_nationkey")
    df = df.withColumn(
        "s", F.struct(F.lit(False).alias("flag"), F.lit(42).alias("answer"))
    )
    return df.select(
        "n_nationkey",
        F.col("s").getField("flag").alias("flag"),
        F.col("s").getField("answer").alias("answer"),
    )


@register(
    "p14_cols_to_json",
    oracle="""
    SELECT o_custkey,
           to_json(struct_pack(o_orderkey := o_orderkey,
                               o_orderstatus := o_orderstatus,
                               o_totalprice := o_totalprice)) AS packed
    FROM orders
    """,
)
def p14_cols_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columns → JSON-text column, sources dropped (``df_cols_to_json``,
    ``src/utils/dataframe.rs:362-415``). Runs in whole-stage codegen — the
    reference collects to the client to do this; here it's one expression."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return df_cols_to_json(
        orders, ["o_orderkey", "o_orderstatus", "o_totalprice"], "packed"
    )


@register(
    "p15_p16_struct_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def p15_p16_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columns → struct column (P15) then field access back to scalars (P16).

    Reference: ``df_cols_to_struct`` at ``src/utils/dataframe.rs:471-518``;
    ``get_field(split_row(c), 'city')`` at
    ``examples/algo/one_billion_row_challenge.rs:207-208``.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    packed = df_cols_to_struct(
        orders, ["o_orderkey", "o_orderstatus", "o_totalprice"], "s"
    )
    return packed.select(
        F.col("s.o_orderkey").alias("o_orderkey"),
        F.col("s").getField("o_orderstatus").alias("o_orderstatus"),
        F.col("s.o_totalprice").alias("o_totalprice"),
    )


@register("p15_struct_raw", oracle=None)
def p15_struct_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw struct-typed result column (rows-only check — struct hashing is
    engine-dependent). Nested rendering parity is asserted in tests."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return df_cols_to_struct(orders, ["o_orderstatus", "o_totalprice"], "s")


@register(
    "p13_add_pk",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS INTEGER) AS pk
    FROM customer
    """,
)
def p13_add_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-increment 0..n-1 key with an explicit deterministic ordering.

    Reference: ``add_pk_to_df`` at ``src/utils/helpers.rs:161-185`` (Int32,
    0..n-1 in batch order — here the documented order is ``c_custkey``).
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return add_pk_to_df(cust, "pk", order_by=["c_custkey"])


@register(
    "p13b_zip_with_index",
    oracle="""
    SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS pk
    FROM customer
    """,
)
def p13b_zip_with_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe contiguous 0..n-1 key — the 100 TB path for P13.

    Same contract as ``p13_add_pk`` (reference ``add_pk_to_df``,
    ``src/utils/helpers.rs:161-185``) but with NO single-reducer global sort:
    ``repartitionByRange`` puts each key range on its own reducer (sampled
    boundaries, parallel), ``sortWithinPartitions`` orders locally, and
    :func:`~sparkfusion.operators.zip_with_index_df` assigns ids via
    partition-offset arithmetic — the only global ordering is over the
    #partitions-row counts frame. Ids equal ``ROW_NUMBER() OVER (ORDER BY
    c_custkey) - 1`` because range partitions are in key order.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    ranged = cust.repartitionByRange(
        compute_width(cust), "c_custkey"
    ).sortWithinPartitions("c_custkey")
    return zip_with_index_df(ranged, "pk")


@register(
    "p12_add_column",
    oracle="""
    WITH lhs AS (
      SELECT r_regionkey, r_name, ROW_NUMBER() OVER (ORDER BY r_regionkey) AS ord
      FROM region
    ), rhs AS (
      SELECT upper(r_name) AS upper_name, ROW_NUMBER() OVER (ORDER BY upper(r_name)) AS ord
      FROM region
    )
    SELECT r_regionkey, r_name, upper_name
    FROM lhs JOIN rhs USING (ord)
    """,
)
def p12_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional column attach via deterministic ordinal zip-join.

    Reference: ``add_column_to_df`` family at ``src/utils/dataframe.rs:572-597``
    and ``src/utils/helpers.rs:220-472`` (client-side array glue, length-checked
    at ``:585-591``). Here both sides get a ``row_number`` ordinal over a stated
    order and are equi-joined — distributed, no driver materialization.
    """
    reg = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    values = table(spark, sf_dir, "region").select(
        F.upper("r_name").alias("upper_name")
    )
    return add_column(reg, values, order_by=["r_regionkey"])


@register(
    "f8_timestamp_parse",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso_text,
           epoch(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'))::BIGINT AS parsed_epoch
    FROM orders
    """,
)
def f8_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp ⇄ text round-trip (F8: the reference parses ISO timestamp
    strings from CSV into Timestamp, ``data/csv/cars.csv`` schema inference).
    Explicit format pattern on both engines; epoch-seconds BIGINT for a
    representation-free comparison."""
    orders = table(spark, sf_dir, "orders")
    iso = F.date_format(F.col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
    return orders.select(
        "o_orderkey",
        iso.alias("iso_text"),
        F.to_timestamp(iso, "yyyy-MM-dd HH:mm:ss").cast("long").alias("parsed_epoch"),
    )


@register(
    "p18_parse_strings",
    oracle="""
    SELECT doc_id,
           TRY_CAST(replace(source, 'src', '') AS INTEGER) AS src_num,
           TRY_CAST(lang AS INTEGER) AS bad_parse
    FROM documents
    """,
)
def p18_parse_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→typed parse; invalid input → NULL.

    Reference: ``parse_strings`` at ``src/utils/scalarvalue.rs:32-60`` (bad
    parse yields null, ``:59``). Spark 4 runs ANSI mode by default where plain
    CAST throws, so ``try_cast`` reproduces the reference's null-on-error
    contract exactly.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.replace(F.col("source"), F.lit("src"), F.lit(""))
        .try_cast("int")
        .alias("src_num"),
        F.col("lang").try_cast("int").alias("bad_parse"),
    )


@register(
    "c5_c6_introspection",
    oracle="""
    SELECT column_name AS col_name,
           (SELECT COUNT(*) FROM region) = 0 AS region_empty,
           (SELECT COUNT(*) FROM region WHERE r_regionkey < 0) = 0
               AS filtered_probe_empty
    FROM (DESCRIBE region)
    """,
)
def c5_c6_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-interchange introspection as a checkable query: column names
    (C5, ``get_column_names``, reference ``src/utils/dataframe.rs:131-142``)
    and the emptiness probe (C6, ``is_empty``, ``:104-111``, which
    short-circuits on the first non-empty partition). The driver-side answers
    are re-entered as a literal one-row-per-column frame so the oracle can
    verify them; the probes run on the full table (non-empty) and an
    impossible filter (empty) to pin both boolean outcomes.
    """
    from ..interchange import get_column_names, is_empty

    region = table(spark, sf_dir, "region")
    names = get_column_names(region)
    region_empty = is_empty(region)
    filtered_empty = is_empty(region.filter(F.col("r_regionkey") < 0))
    return spark.createDataFrame(
        [(n, region_empty, filtered_empty) for n in names],
        "col_name string, region_empty boolean, filtered_probe_empty boolean",
    )


@register(
    "p22_variant_json",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def p22_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): ``parse_json``
    decodes the JSON string ONCE into the binary variant encoding, then
    ``variant_get`` does typed path access — the scale path for repeated
    multi-field extraction, vs ``get_json_object`` (p21) re-parsing the
    string per call. Typed longs aggregate exactly; integer sums are
    associative so the groupBy is engine/partitioning-stable."""
    from ..session import table

    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(v, '$.k', 'long')")
    return (
        ev.select("event_type", F.parse_json("props").alias("v"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "p25_explode_outer",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> length(x) >= 8) AS longw
      FROM documents
    )
    SELECT doc_id, t.w AS long_word
    FROM d, UNNEST(CASE WHEN len(longw) = 0 THEN [NULL] ELSE longw END) AS t(w)
    """,
)
def p25_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` — generator that PRESERVES rows with empty arrays
    (NULL element) where plain explode silently drops the document: the
    difference between "doc has no long words" being queryable and the doc
    vanishing from the output. Oracle emulates with a [NULL] substitution
    before UNNEST."""
    from ..llm.text import words

    docs = table(spark, sf_dir, "documents")
    longw = F.filter(words(F.lower(F.col("text"))), lambda w: F.length(w) >= 8)
    return docs.select("doc_id", longw.alias("longw")).select(
        "doc_id", F.explode_outer("longw").alias("long_word")
    )


@register(
    "p28_map_roundtrip",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def p28_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per-user counts assemble into a
    ``map<event_type, count>`` column (``map_from_entries``) and explode
    back to rows — the complex-type sibling of the struct round-trip
    (p15/p16). Maps never appear in the compared output (map hashing is
    engine-specific, like raw structs); the round-trip proves the type
    plumbing while the oracle checks the recovered rows."""
    from ..session import table

    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    as_map = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    return as_map.select("user_id", F.explode("m").alias("event_type", "n"))


@register(
    "x10_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f
    FROM orders
    """,
)
def x10_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cost pipeline observability via the Observation API: metrics
    (row count, DECIMAL-exact total, a conditional count) ride along with
    the SAME pass that executes the pipeline — `df.observe()` attaches
    CollectMetrics to the plan and a noop-format write drives it, so the
    audit numbers every production job logs cost zero extra scans (vs dq1's
    dedicated profile pass). The observed values round-trip through the
    driver into a 1-row frame the oracle checks against a plain aggregate —
    proving observe() sees every row exactly once. In streaming, the same
    API surfaces per-batch metrics on QueryProgress events."""
    from pyspark.sql import Observation

    obs = Observation("pipeline_metrics")
    orders = table(spark, sf_dir, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_f"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price"], m["n_f"])],
        "n_rows long, sum_price double, n_f long",
    )
