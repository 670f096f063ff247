"""Pins the derived-from-input contract of the compute-spread helpers
(CLAUDE.md: pinned constants/defaults must scale with the corpus; r13
advisor: neither helper was test-pinned).

Covered:
- no-op when the input is already wide (spread_for_compute returns the
  input object itself — zero plan change);
- the explicit partition count defeats AQE coalescing (>= cores partitions
  materialize from a 1-split input with AQE on);
- the rows-derived fan-out cap (min_rows_per_part) bounds small inputs and
  vanishes at larger row counts — derived, never a constant count;
- widths come from Spark's file index under any scheme: a ``viewfs://``
  input sizes as the local files it mounts, a range leaf adds nothing and a
  self-joined relation counts once;
- neither helper touches df.rdd (AdaptiveSparkPlan finalization executes
  upstream shuffle stages — the r13 advisor finding).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from sparkfusion.operators.partitioning import (
    _input_meta,
    copartition_for_compute,
    repartition_for_compute,
    spread_for_compute,
)
from sparkfusion.session import scoped_conf


@pytest.fixture(scope="module")
def small_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("partitioning") / "small.parquet")
    spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_spread_noop_when_input_wide(spark, small_parquet):
    # shrink the split size so the same file counts as >= cores splits:
    # the helper must return the INPUT OBJECT (plan untouched), not a
    # repartition of it
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        df = spark.read.parquet(small_parquet)
        assert spread_for_compute(df, "doc_id") is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_explicit_count_beats_aqe_coalescing(spark, small_parquet):
    # 200 tiny rows, 1 scan split, AQE on (session default): a bare
    # repartition("doc_id") would be coalesced to 1 post-shuffle partition;
    # the helper's explicit count must materialize >= cores partitions
    cores = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(small_parquet)
    wide = repartition_for_compute(df, "doc_id")
    assert wide.rdd.getNumPartitions() >= cores  # .rdd fine in a test
    spread = spread_for_compute(df, "doc_id")
    assert spread.rdd.getNumPartitions() >= cores


def test_min_rows_per_part_caps_small_inputs(spark, small_parquet):
    df = spark.read.parquet(small_parquet)
    spread = spread_for_compute(df, "doc_id", min_rows_per_part=100)
    # 200 rows / 100 rows-per-part floor -> 2 partitions, not cores
    assert spread.rdd.getNumPartitions() == 2


def test_cap_is_derived_not_constant(spark, tmp_path):
    # 10x the rows -> the same call fans out to the full core width again
    path = str(tmp_path / "wide.parquet")
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 200 * cores).select(
        F.col("id").alias("doc_id")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    wide = spread_for_compute(df, "doc_id", min_rows_per_part=100)
    assert wide.rdd.getNumPartitions() >= cores


def test_copartition_shares_the_wider_width(spark, small_parquet):
    # both sides of a bucket join get ONE explicit width — the wider side's
    # — so they stay co-partitioned; a file-less side counts as narrow
    df = spark.read.parquet(small_parquet)
    narrow = spark.range(10).select((F.col("id") % 7).alias("grp"))
    with scoped_conf(spark, "spark.sql.files.maxPartitionBytes", "64"):
        wide_splits = _input_meta(df)[0]
        left, right = copartition_for_compute(df, narrow, "grp")
    assert wide_splits > spark.sparkContext.defaultParallelism
    assert left.rdd.getNumPartitions() == wide_splits
    assert right.rdd.getNumPartitions() == wide_splits


def test_input_meta_reads_parquet_rows(spark, small_parquet):
    splits, rows = _input_meta(spark.read.parquet(small_parquet))
    assert splits == 1
    assert rows == 200


def test_input_meta_decodes_file_uris(spark, tmp_path):
    # Spark reports input files as percent-escaped URIs; a space or % in
    # the directory name must not hide the footers (read as 1 split, no rows)
    path = str(tmp_path / "a b%c")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    for ref in (path, "file:" + path, "file://" + path):
        assert _input_meta(spark.read.parquet(ref))[1] == 1000, ref


@pytest.fixture
def viewfs_parquet(spark, small_parquet):
    """``small_parquet`` read through a ``viewfs://`` mount of its local
    directory: a path whose scheme is not ``file:``, built without any
    remote service. The mount is unset afterwards."""
    name = f"m{uuid.uuid4().hex[:8]}"
    key = f"fs.viewfs.mounttable.{name}.link./data"
    local_dir, leaf = small_parquet.rsplit("/", 1)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(key, f"file://{local_dir}")
    try:
        yield spark.read.parquet(f"viewfs://{name}/data/{leaf}")
    finally:
        hconf.unset(key)


@pytest.mark.parametrize("shape", ["scan", "joined_to_range", "self_join"])
def test_remote_input_sized_from_file_index(spark, small_parquet, viewfs_parquet, shape):
    # a viewfs:// scan sizes like the local files it mounts: under a 64-byte
    # split size it is wide, so the spread is a no-op; a range leaf adds no
    # bytes, and the relation a self-join reads twice counts once
    df = viewfs_parquet
    if shape == "joined_to_range":
        df = df.join(spark.range(50).withColumnRenamed("id", "doc_id"), "doc_id")
    elif shape == "self_join":
        df = df.alias("a").join(df.alias("b"), "doc_id")
    with scoped_conf(spark, "spark.sql.files.maxPartitionBytes", "64"):
        assert spread_for_compute(df, "doc_id") is df
        splits, rows = _input_meta(df)
        local_splits = _input_meta(spark.read.parquet(small_parquet))[0]
    assert splits == local_splits > spark.sparkContext.defaultParallelism
    assert rows is None  # footers are read only for local files


def test_checkpoint_rooted_frame_treated_as_narrow(spark, small_parquet):
    # no input files resolvable -> (1, None): widened, never .rdd-probed
    df = spark.read.parquet(small_parquet).localCheckpoint()
    try:
        splits, rows = _input_meta(df)
        assert (splits, rows) == (1, None)
        assert spread_for_compute(df, "doc_id") is not df
    finally:
        df.unpersist()


def test_helpers_never_touch_rdd(spark, small_parquet, monkeypatch):
    # .rdd on an AdaptiveSparkPlan finalizes it, executing upstream shuffle
    # stages (r13 advisor) — the helpers must stay metadata-only
    from pyspark.sql import DataFrame

    def _boom(self):  # pragma: no cover - should never run
        raise AssertionError("helper accessed df.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    df = spark.read.parquet(small_parquet)
    spread_for_compute(df, "doc_id")
    repartition_for_compute(df, "doc_id")


def test_kmv_mins_key_col_in_group_cols(spark, small_parquet):
    # r13 advisor: duplicate projection made the key reference ambiguous
    from sparkfusion.operators.sketches import kmv_mins

    df = spark.read.parquet(small_parquet)
    out = kmv_mins(df, "grp", ["grp"], k=4)
    assert out.columns == ["grp", "__h"]
    assert out.count() > 0


def test_mm_ids_spread_rows_capped(spark, small_parquet, tmp_path):
    # the media builders' fan-out derives from rows (MM_ROWS_PER_TASK),
    # never a partition constant (r14 change; CLAUDE.md pinned-constant rule)
    from sparkfusion.llm.multimodal import MM_ROWS_PER_TASK, _ids_spread

    small = _ids_spread(spark.read.parquet(small_parquet), "doc_id")
    assert small.rdd.getNumPartitions() == 1  # 200 rows < one task floor
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "big.parquet")
    spark.range(0, MM_ROWS_PER_TASK * cores * 2).select(
        F.col("id").alias("doc_id")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    big = _ids_spread(spark.read.parquet(path), "doc_id")
    assert big.rdd.getNumPartitions() >= cores
