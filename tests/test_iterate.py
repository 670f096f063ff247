"""Iterative driver loops (operators/iterate.py): a routed operator leaves at
most its result's checkpoint persisted, and ``_release`` frees both kinds of
persisted frame without breaking a materialized successor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfusion.llm.dedup import connected_components
from sparkfusion.llm.ivf import ivf_build
from sparkfusion.llm.text import bpe_encode_counts, bpe_train_merges
from sparkfusion.operators.graph import (
    bfs_distances,
    kcore_peel,
    pagerank,
    personalized_pagerank,
    sssp_distances,
)
from sparkfusion.operators.iterate import _checkpoint_rdd, _release, iterate


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. Tests compare id sets, not counts: the
    JVM GC may free RDDs that earlier tests left behind at any moment."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _edges(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    return spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )


def _seeds(spark):
    return spark.createDataFrame([("a",)], "node string")


def _vectors(spark):
    """16 unit-scale 4-d vectors in four loose clusters."""
    rows = [(i, [float(i % 4 == j) + 0.01 * i for j in range(4)]) for i in range(16)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "that hat is the best hat")],
        "doc_id int, text string",
    )


# (operator call, the most persisted RDDs it may leave behind)
CASES = {
    "pagerank": (lambda s: pagerank(_edges(s), iterations=3), 1),
    "personalized_pagerank": (
        lambda s: personalized_pagerank(_edges(s), ["a"], iterations=3),
        1,
    ),
    "bfs_distances": (lambda s: bfs_distances(_edges(s), _seeds(s), max_hops=3), 1),
    "sssp_distances": (
        lambda s: sssp_distances(_edges(s).withColumn("w", F.lit(2)), _seeds(s), rounds=3),
        1,
    ),
    "kcore_peel": (
        lambda s: kcore_peel(_edges(s).toDF("u", "v"), k=2, rounds=2),
        1,
    ),
    "connected_components": (
        lambda s: connected_components(
            s.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
        ),
        1,
    ),
    "bpe_train_merges": (lambda s: bpe_train_merges(_docs(s), "doc_id", "text", 3), 0),
    # the assignment reads the corpus, so the training checkpoint goes once
    # the centroids are back
    "ivf_build": (lambda s: ivf_build(_vectors(s), k=4)[0], 0),
    "bpe_encode_counts": (lambda s: bpe_encode_counts(_docs(s), iters=3), 0),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_loop_leaves_only_its_result(spark, name):
    call, most = CASES[name]
    before = _persisted(spark)
    rows = call(spark).collect()
    assert rows
    assert len(_persisted(spark) - before) <= most


def test_release_frees_cache_and_checkpoint(spark):
    before = _persisted(spark)
    cached = spark.range(50).cache()
    cached.count()
    mine = _persisted(spark) - before
    assert mine
    _release(cached)
    assert not mine & _persisted(spark)

    r0 = spark.range(50).localCheckpoint()
    r0_id = _checkpoint_rdd(r0).id()
    r0.unpersist()  # a no-op on a checkpoint: the reason _release exists
    assert r0_id in _persisted(spark)
    # a narrow successor reads r0's blocks until it is itself materialized
    r1 = r0.select((F.col("id") * 2).alias("id")).localCheckpoint(eager=False)
    r1.count()
    _release(r0)
    assert r0_id not in _persisted(spark)
    assert sorted(r.id for r in r1.collect()) == list(range(0, 100, 2))
    _release(r1)
    assert _checkpoint_rdd(r1).id() not in _persisted(spark)


def test_iterate_keeps_only_the_final_round(spark):
    def step(df):  # narrow: a round released too early would fail to read
        return df.select((F.col("id") + 1).alias("id"))

    before = _persisted(spark)
    out = iterate(spark.range(10), step, 5)
    assert _persisted(spark) - before == {_checkpoint_rdd(out).id()}
    assert sorted(r.id for r in out.collect()) == list(range(5, 15))
    _release(out)

    seen = []

    def until(df):
        seen.append(df.agg(F.max("id")).head()[0])
        return seen[-1] >= 12

    out = iterate(spark.range(10), step, 50, until=until)
    assert seen == [10, 11, 12]
    assert _persisted(spark) - before == {_checkpoint_rdd(out).id()}
    assert sorted(r.id for r in out.collect()) == list(range(3, 13))
    _release(out)
