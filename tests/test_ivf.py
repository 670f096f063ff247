"""IVF ANN: deterministic build, cell coverage, recall vs exact scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkfusion.llm.ivf import ivf_build, ivf_topk
from sparkfusion.llm.similarity import brute_force_topk
from sparkfusion.session import table


def test_ivf_build_assigns_all(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, k=8)
    assert assigned.count() == emb.count()
    assert centroids.count() == 8
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) >= 2


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=10).collect()}
    assigned, centroids = ivf_build(emb, k=8)
    # full probe (nprobe = k) must reproduce the exact scan
    full = {r.vec_id for r in ivf_topk(assigned, centroids, q, k=10, nprobe=8).collect()}
    assert full == exact
    # partial probe: meaningful recall at a fraction of the scan
    part = {r.vec_id for r in ivf_topk(assigned, centroids, q, k=10, nprobe=3).collect()}
    assert len(part & exact) >= 5
