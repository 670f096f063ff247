"""Physical-plan shape tests — the 100 TB design assertions.

Correctness says what a query returns; these tests pin HOW it executes:
filters reach the parquet scan, projections prune columns, small dims
broadcast, top-k never does a global sort, hot paths stay in whole-stage
codegen. A regression here is a scale regression even when results stay
right.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfusion.session import table
from sparkfusion.suite import REGISTRY, queries


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes the physical plan (incl. codegen stages) only at
        # runtime, and only on this DataFrame's own QueryExecution — a write
        # action would spawn a separate one
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_children(node) -> list:
    """The plans under ``node``, including those ``children`` does not
    list: a query stage's plan, a reused exchange's original, an adaptive
    plan's current plan and expression subqueries."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):  # Broadcast-, Shuffle-, ResultQueryStageExec
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    return _seq(node.children()) + _seq(node.subqueries())


def broadcast_scans(df) -> list[frozenset[tuple[str, bool]]]:
    """Run ``df``, then list, for each BroadcastExchange in its final
    adaptive plan, the parquet tables scanned under it as
    ``(table, via_aggregate)`` pairs. ``via_aggregate`` is True when an
    aggregate sits between the broadcast and the scan, so the broadcast
    holds one row per group rather than the table's rows."""
    df.collect()
    found: list[set] = []

    def walk(node, open_broadcasts: list[int], aggregated: list[bool]) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "BroadcastExchangeExec":
            found.append(set())
            open_broadcasts = [*open_broadcasts, len(found) - 1]
            aggregated = [*aggregated, False]
        elif "Aggregate" in cls:
            aggregated = [True] * len(aggregated)
        elif cls == "FileSourceScanExec":
            for path in _seq(node.relation().location().rootPaths()):
                name = path.getName().removesuffix(".parquet")
                for i, agg in zip(open_broadcasts, aggregated):
                    found[i].add((name, agg))
        for child in _plan_children(node):
            walk(child, open_broadcasts, aggregated)

    walk(df._jdf.queryExecution().executedPlan(), [], [])
    return [frozenset(tables) for tables in found]


#: the suite modules whose queries join over the star tables
STAR_MODULES = ("relational", "relational_ext", "tpch_like", "tpch_ext")

#: star queries whose final plan may broadcast a raw ``lineitem`` scan
RAW_LINEITEM_BROADCAST_ALLOWED = {
    "j6_semi_join": "left-semi join whose build side can only be lineitem; "
    "broadcasting supplier or the distinct suppliers lost its A/B",
}


def _star_queries() -> list[str]:
    return [
        name for name in queries()
        if REGISTRY[name].fn.__module__.rsplit(".", 1)[-1] in STAR_MODULES
    ]


@pytest.mark.parametrize("name", _star_queries())
def test_star_joins_stream_lineitem(spark, sf_dir, name):
    """The fact table streams through every star join: no BroadcastExchange
    holds a raw ``lineitem`` scan (a ``lineitem`` aggregate may be
    broadcast). Without cost-based optimization Catalyst sizes a join as
    the product of its inputs' sizes, so the join order a query's text or
    frames give decides the build side; the fact table goes first."""
    scans = broadcast_scans(queries()[name](spark, sf_dir))
    raw_lineitem = any(("lineitem", False) in tables for tables in scans)
    if name in RAW_LINEITEM_BROADCAST_ALLOWED:
        assert raw_lineitem, f"{name} streams lineitem now: drop its allowlist row"
    else:
        assert not raw_lineitem, scans


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    from sparkfusion.suite.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    plan = plan_of(df, execute=True)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the FileScan output list carries only the needed 7 of
    # 11 columns (ReadSchema in toString() is truncated, so parse the scan list)
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"):
        assert col in scan_cols
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in scan_cols
    # '*(N)' prefixes mark whole-stage-codegen stages in the final plan
    assert "*(1)" in plan and "*(2)" in plan


def test_j1_broadcasts_dimension(spark, sf_dir):
    from sparkfusion.suite.relational import j1_inner_join_api

    plan = plan_of(j1_inner_join_api(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_o6_topk_no_global_sort(spark, sf_dir):
    from sparkfusion.suite.relational import o6_topk

    plan = plan_of(o6_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # a global sort would need this


def test_projection_prunes_scan(spark, sf_dir):
    df = table(spark, sf_dir, "lineitem").select("l_orderkey").filter(F.col("l_orderkey") > 100)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" not in read_schema
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in plan


def test_count_star_uses_metadata_only_scan(spark, sf_dir):
    from sparkfusion.suite.relational import a3_count_star

    plan = plan_of(a3_count_star(spark, sf_dir))
    # Spark rewrites count(*) over parquet into a row-group metadata scan
    assert "ReadSchema: struct<>" in plan


def _topk_cut_before_shuffle(plan: str) -> bool:
    """The per-query ranker's bounded shuffle: the exchange on ``q_id``
    reads straight from a partial WindowGroupLimit, so each map task sends
    at most k rows per query."""
    lines = plan.splitlines()
    return any(
        "Exchange hashpartitioning(q_id" in line
        and "WindowGroupLimit" in below
        and below.rstrip().endswith("Partial")
        for line, below in zip(lines, lines[1:])
    )


def test_sim_topk_broadcasts_query(spark, sf_dir):
    from sparkfusion.suite.llm_suite import sim_cosine_topk

    plan = plan_of(sim_cosine_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert _topk_cut_before_shuffle(plan)
    assert "CartesianProduct" not in plan


def test_dedup_exact_partial_aggregation(spark, sf_dir):
    from sparkfusion.suite.llm_suite import dedup_exact

    plan = plan_of(dedup_exact(spark, sf_dir))
    # two HashAggregates around one exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(fp" in plan


def test_minhash_no_cartesian(spark, sf_dir):
    from sparkfusion.suite.llm_suite import dedup_minhash_pairs

    plan = plan_of(dedup_minhash_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_all_filters_pushed(spark, sf_dir):
    from sparkfusion.suite.tpch_like import q6_revenue_forecast

    # scan metadata (PushedFilters list) is elided at 100 chars by default —
    # widen it so the assertion sees the full filter list
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = plan_of(q6_revenue_forecast(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    # every predicate is a scan-level pushed filter: date window, discount
    # band, quantity cap — the whole query is pruned IO + a 1-row agg
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ):
        assert frag in plan, frag
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    assert "l_returnflag" not in scan_cols  # pruned


def test_q10_broadcasts_nation_topk_no_sort(spark, sf_dir):
    from sparkfusion.suite.tpch_like import q10_returned_items

    plan = plan_of(q10_returned_items(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_q18_semi_join_preaggregates(spark, sf_dir):
    from sparkfusion.suite.tpch_like import q18_large_volume_customer

    plan = plan_of(q18_large_volume_customer(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q17_avg_input_is_brand_filtered(spark, sf_dir):
    """The per-part average must aggregate only Brand#9 parts' lineitems —
    an all-parts average broadcasts one row per distinct part (GBs at 100 TB).
    Both consumers of lineitem (the avg branch and the revenue branch) are
    semi-joined to the filtered part set, so the plan carries two LeftSemi
    broadcast joins and the avg's broadcast output is brand-pruned."""
    from sparkfusion.suite.tpch_like import q17_small_qty_revenue

    plan = plan_of(q17_small_qty_revenue(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # all joins broadcast-sized


def test_cosine_pairs_default_no_cartesian(spark, sf_dir):
    """Library default for cosine_pairs must plan as a bucket equi-join —
    never the all-pairs theta-join (that form is exact=True opt-in only)."""
    from sparkfusion.llm.similarity import cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    plan = plan_of(cosine_pairs(emb, "vec_id", "embedding", 0.45))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="exact=True"):
        cosine_pairs(emb, "vec_id", "embedding", 0.45, bits=0)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """A selective dim filter should inject a runtime bloom filter on the
    fact probe side (Spark's runtime-filter optimizer): the big-scan rows are
    pre-filtered by might_contain(bloom_filter_agg(dim keys)) before the
    shuffle join, cutting probe-side shuffle volume at 100 TB. Local data is
    far below the production applicationSideScanSizeThreshold (10 GB), so the
    test lowers it — the production default needs no tuning."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_joins_no_cartesian(spark, sf_dir):
    """er1 (fuzzy), j11 (interval overlap), and a PageRank round over g1's
    trade graph are equi-join compositions — a CartesianProduct appearing in
    any of them means the bucket/blocking discipline regressed. g1's own
    plan only scans its final round's checkpoint, so the round is checked."""
    from sparkfusion.operators.graph import _degree_edges, _rank_round
    from sparkfusion.suite.analytics_suite import _trade_edges
    from sparkfusion.suite.llm_suite import er1_fuzzy_name_join
    from sparkfusion.suite.temporal_suite import j11_interval_overlap

    e_deg = _degree_edges(_trade_edges(spark, sf_dir), "src", "dst")
    nodes = e_deg.select(F.col("src").alias("node")).distinct()
    ranks = nodes.withColumn("rank_fp", F.lit(1).cast("long"))
    g1_round = _rank_round(e_deg, nodes, F.lit(0), 85, ranks)
    for df in (
        er1_fuzzy_name_join(spark, sf_dir),
        j11_interval_overlap(spark, sf_dir),
        g1_round,
    ):
        assert "CartesianProduct" not in plan_of(df)


def test_dq2_constraint_audit_single_scan(spark, sf_dir):
    """All five constraint rules must evaluate in ONE lineitem scan."""
    from sparkfusion.suite.quality_suite import dq2_constraints_lineitem

    plan = plan_of(dq2_constraints_lineitem(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1


def test_ts5_profile_broadcast_join(spark, sf_dir):
    """The z-score moments frame (5 rows) must broadcast back onto the
    events scan, not shuffle it."""
    from sparkfusion.suite.timeseries_suite import ts5_zscore_outliers

    plan = plan_of(ts5_zscore_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_o11_weighted_sample_take_ordered(spark, sf_dir):
    """Weighted sampling must plan as TakeOrderedAndProject (per-partition
    k-heaps), never a global Sort."""
    from sparkfusion.suite.relational import o11_weighted_sample

    plan = plan_of(o11_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """EqualNullSafe must plan as a broadcast HASH join, not a nested loop."""
    from sparkfusion.suite.relational_ext import j12_null_safe_join

    plan = plan_of(j12_null_safe_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recursive_subtree_has_no_cartesian(spark, sf_dir):
    from sparkfusion.suite.analytics_suite import rc1_recursive_subtree

    plan = plan_of(rc1_recursive_subtree(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_join_strategy_hints(spark, sf_dir):
    """Join-strategy hints are respected: shuffle_hash → ShuffledHashJoin,
    merge → SortMergeJoin, broadcast → BroadcastHashJoin — the manual
    override surface when AQE's choice must be pinned."""
    from sparkfusion.session import table

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    p_sh = plan_of(orders.join(cust.hint("shuffle_hash"), orders["o_custkey"] == cust["c_custkey"]))
    assert "ShuffledHashJoin" in p_sh
    p_m = plan_of(orders.join(cust.hint("merge"), orders["o_custkey"] == cust["c_custkey"]))
    assert "SortMergeJoin" in p_m
    p_b = plan_of(orders.join(cust.hint("broadcast"), orders["o_custkey"] == cust["c_custkey"]))
    assert "BroadcastHashJoin" in p_b


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a hive-partitioned fact with a filtered dim must inject a
    dynamic partition-pruning subquery into the fact scan — at 100 TB this
    is what keeps a star join from reading every date partition."""
    from pyspark.sql import functions as F

    from sparkfusion.session import table

    path = str(tmp_path / "orders_part")
    orders = table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame([("F", "finished")], ["status", "label"]).filter(
        F.col("label") == "finished"
    )
    joined = fact.join(dim, fact["o_orderstatus"] == dim["status"])
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan or "partitionfilters: [isnotnull(o_orderstatus" in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed identically on the join key must sort-merge-join
    with NO Exchange on either input (the b1_bucketed_join scale story:
    shuffle paid once at write). The merge hint forces SMJ — at toy SF
    Catalyst would otherwise broadcast the small side, which hides the
    bucket co-location this test pins."""
    from pyspark.sql import functions as F

    from sparkfusion.session import table
    from sparkfusion.sources.writers import write_bucketed_table

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = write_bucketed_table(
        cust, "bkt_plan_cust", 4, ["c_custkey"], ["c_custkey"]
    ).hint("merge")
    o = write_bucketed_table(orders, "bkt_plan_ord", 4, ["c_custkey"], ["c_custkey"])
    joined = c.join(o, "c_custkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2
    # and the result is the plain join's result
    assert joined.count() == cust.join(orders, "c_custkey").count()


def test_write_bucketed_survives_stale_warehouse_dir(spark, sf_dir):
    """Regression: overwrite-saveAsTable fails with LOCATION_ALREADY_EXISTS
    when a fresh session's in-memory catalog has no table entry but the
    warehouse directory survives from a previous session. write_bucketed_table
    must sweep the orphan location first — simulated here by dropping the
    catalog entry while leaving the directory behind."""
    import os

    from sparkfusion.session import table
    from sparkfusion.sources.writers import write_bucketed_table

    cust = table(spark, sf_dir, "customer").select("c_custkey").limit(10)
    write_bucketed_table(cust, "bkt_stale_probe", 2, ["c_custkey"])
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "bkt_stale_probe")
    assert os.path.exists(loc)
    # drop ONLY the catalog entry; Spark removes managed-table data on DROP,
    # so recreate the directory to simulate the fresh-session orphan
    spark.sql("DROP TABLE IF EXISTS bkt_stale_probe")
    os.makedirs(loc, exist_ok=True)
    t = write_bucketed_table(cust, "bkt_stale_probe", 2, ["c_custkey"])
    assert t.count() == 10


def test_observe_metrics_on_flagship_query(spark, sf_dir):
    """df.observe(): accumulator-style metrics ride the existing job (no
    second scan) — the production pattern for row-count / null-rate
    telemetry on a 100 TB pipeline where a separate audit query would
    double the IO. Metrics must match an independent aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sparkfusion.session import table

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
    )
    out = observed.groupBy("l_returnflag").count()
    n_groups = out.count()  # materializes the job carrying the metrics
    assert n_groups >= 1
    expect = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
    ).first()
    assert obs.get["n_rows"] == expect["n"]
    assert obs.get["sum_qty"] == expect["s"]


def test_curation_queries_no_cartesian_all_joins_broadcast(spark, sf_dir):
    """Round-9 curation family: candidate generation must stay equi-join /
    broadcast — a CartesianProduct or a sort-merge join against a frame
    that should broadcast is a scale regression."""
    from sparkfusion.suite.curation_suite import (
        boot1_bootstrap_ci,
        dsir1_importance_select,
        pack2_length_buckets,
        tok1_oov_rate,
    )

    for fn in (dsir1_importance_select, tok1_oov_rate,
               pack2_length_buckets, boot1_bootstrap_ci):
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__


def test_tok1_vocab_joins_broadcast(spark, sf_dir):
    """The top-500 vocab is bounded by construction — its probe join must be
    a BroadcastHashJoin, never a shuffle on the full token stream."""
    from sparkfusion.suite.curation_suite import tok1_oov_rate

    plan = plan_of(tok1_oov_rate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dq10_skew_diag_two_aggregations_only(spark, sf_dir):
    """The skew diagnostic is two agg passes (per-key, then per-key-table
    reduction) — no join, no window over the fact table."""
    from sparkfusion.suite.analytics_suite import dq10_join_skew

    plan = plan_of(dq10_join_skew(spark, sf_dir))
    assert "Join" not in plan
    n_aggs = (
        plan.count("HashAggregate")
        + plan.count("SortAggregate")
        + plan.count("ObjectHashAggregate")
    )
    assert n_aggs >= 2


def test_z2_hilbert_is_map_only(spark, sf_dir):
    """The Hilbert key must plan as a pure scan+project chain — zero
    exchanges, zero joins: Catalyst collapses the 8 chained level
    projections into one codegen stage."""
    from sparkfusion.suite.sources_suite import z2_hilbert_key

    plan = plan_of(z2_hilbert_key(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "FileScan parquet" in plan


def test_ivfpq_broadcasts_index_structures(spark, sf_dir):
    """IVF-PQ: centroids, codebook, and the query distance table must all
    broadcast — no SortMergeJoin and no cartesian product anywhere in the
    index pipeline."""
    from sparkfusion.suite.llm_suite import sim_ivfpq_topk

    plan = plan_of(sim_ivfpq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 3


def test_seeded_cells_never_shuffles_the_corpus(spark, sf_dir):
    """The seeded IVF assignment is one map pass: each vector argmins in-row
    against the broadcast one-row centroid book, so the only exchanges are
    the book's gather and its broadcast, and no hash Exchange carries the
    embeddings."""
    from sparkfusion.llm.ivf import seeded_cells

    assigned, _ = seeded_cells(table(spark, sf_dir, "embeddings"))
    plan = plan_of(assigned, execute=True)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan


def test_stream_ivfpq_encoder_is_stateless_map(spark, sf_dir):
    """The streaming encoder's batch-equivalent plan: literal index params →
    no aggregate, no join, no exchange (what makes it append-mode legal)."""
    from sparkfusion.llm.pq import derive_ivfpq_params, ivfpq_encode_literal

    emb = table(spark, sf_dir, "embeddings")
    cents, cb = derive_ivfpq_params(emb)
    plan = plan_of(ivfpq_encode_literal(emb, cents, cb))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_ivfpq_store_probe_prunes_partitions(spark, sf_dir):
    """The cell-partitioned code store must serve the probe as a
    PARTITION-pruned scan: the probe filter appears in PartitionFilters and
    the scan lists only the probed cell directories."""
    from sparkfusion.suite.llm_suite import sim_ivfpq_store_probe

    import re

    df = sim_ivfpq_store_probe(spark, sf_dir)
    plan = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1) and "IN" in m.group(1).upper(), m


def test_ivfpq_batch_probe_prunes_and_stays_mapside(spark, sf_dir):
    """The production query path (r14 verdict #1) must (a) serve the probe
    as a PARTITION-pruned scan of the cell-partitioned store and (b) score
    without any join/aggregate — the only post-scan operators are the
    Python map and the per-query top-k ranker."""
    import re

    from sparkfusion.suite.llm_suite import sim_ivfpq_batch_probe

    df = sim_ivfpq_batch_probe(spark, sf_dir)
    plan = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1) and "IN" in m.group(1).upper(), m
    assert _topk_cut_before_shuffle(plan)
    assert "Join" not in plan and "Aggregate" not in plan


def test_semdedup_two_level_never_broadcasts_corpus_frames(spark, sf_dir):
    """The two-level assignment flows out of applyInPandas, whose narrow
    output resets Catalyst's size estimate to ~tiny — without explicit
    merge hints the planner BROADCASTS the O(n) assignment and dup frames
    (the r15 500k×d=768 probe died on 'Not enough memory to build and
    broadcast'). Every join in the semdedup plan must be sort-merge."""
    from sparkfusion.llm.similarity import semdedup
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    plan = plan_of(
        semdedup(emb, "vec_id", "embedding", k=8, iterations=1,
                 threshold=0.8, scale=6, two_level=True)
    )
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan
