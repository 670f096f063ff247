"""Example gallery: an end-to-end LLM-training-data pipeline over the
``documents`` + ``embeddings`` tables — quality filter → language filter →
exact dedup → near-dup removal (MinHash-LSH) → token accounting.

Run: python examples/llm_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkfusion.llm import dedup, text
from sparkfusion.session import get_session, table


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_session("example-llm", cpus=8)
    docs = table(spark, sf_dir, "documents")
    n0 = docs.count()

    scored = docs.select(
        "doc_id",
        "text",
        text.quality_score("text").alias("quality"),
        text.lang_id("text").alias("lang_pred"),
        text.token_count("text").alias("n_tokens"),
    )
    filtered = scored.filter(F.col("quality") >= 0.5)
    n1 = filtered.count()

    deduped = dedup.exact_dedup(filtered, "doc_id", "text")
    n2 = deduped.count()

    near = dedup.minhash_dedup_pairs(deduped, "doc_id", "text", threshold=0.5)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    final = deduped.join(drop, "doc_id", "left_anti")
    n3 = final.count()

    total_tokens = final.agg(F.sum("n_tokens").alias("t")).collect()[0].t
    print(
        f"docs {n0} -> quality-filtered {n1} -> exact-deduped {n2} "
        f"-> near-dedup {n3}; {total_tokens} tokens retained"
    )


if __name__ == "__main__":
    main(*sys.argv[1:2])
