"""Example gallery: retrieval + contrastive-training data prep over the
``documents`` + ``embeddings`` tables —

1. BM25 keyword retrieval (inverted-index scoring, top-k candidates)
2. bloom-bitmap decontamination (prune fact rows against a benchmark id set
   map-side, then exact semi-join)
3. IVF-PQ residual ANN for the query embedding (the billion-vector index)
4. reciprocal-rank fusion of the BM25 and ANN rankers (hybrid retrieval)
5. deterministic negative-pair mining for contrastive fine-tuning

Run: python examples/retrieval_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkfusion.llm.chunking import negative_pairs
from sparkfusion.llm.pq import ivfpq_adc_topk
from sparkfusion.llm.similarity import rrf_fuse
from sparkfusion.llm.text import bm25_scores
from sparkfusion.operators.bloom import bloom_semi_join
from sparkfusion.session import get_session, table


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_session("example-retrieval", cpus=8)
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    # 1. BM25: rank docs for a keyword query, keep top-20
    hits = (
        bm25_scores(docs, ["vector", "stream", "filter"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )
    print("BM25 top hits:")
    hits.show(5, truncate=False)

    # 2. decontaminate: drop hits whose doc_id appears in a "benchmark" set
    #    (here: every 7th doc) — bloom prunes before the exact semi-join
    bench_ids = docs.select("doc_id").where(F.col("doc_id") % 7 == 0)
    contaminated = bloom_semi_join(hits, bench_ids, "doc_id", "doc_id")
    clean = hits.join(contaminated.select("doc_id"), "doc_id", "left_anti")
    print(f"hits: {hits.count()}, contaminated: {contaminated.count()}, clean: {clean.count()}")

    # 3. ANN expansion: IVF-PQ residual neighbours of vec 0 (coarse cells
    #    bound the scan, residual codes bound memory, ADC bounds query math)
    nbrs = ivfpq_adc_topk(emb, emb.where(F.col("vec_id") == 0), k=20)
    print("IVF-PQ neighbours of vec 0:")
    nbrs.show(5)

    # 4. hybrid: fuse the keyword and vector rankers by reciprocal rank
    from pyspark.sql import Window

    brank = hits.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long").alias("rank_a"),
    )
    crank = nbrs.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(Window.orderBy(F.col("adist").asc(), "vec_id"))
        .cast("long").alias("rank_b"),
    )
    fused = rrf_fuse(brank, crank, id_col="id", k0=60, k=10)
    print("RRF-fused hybrid top-10:")
    fused.show(10)

    # 5. negatives: 4 deterministic pseudo-random negatives per clean hit
    negs = negative_pairs(clean.select("doc_id"), "doc_id", k=4, n_buckets=4)
    print(f"negative pairs mined: {negs.count()}")
    negs.show(5)


if __name__ == "__main__":
    main(*sys.argv[1:2])
