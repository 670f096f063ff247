"""Tests for the LLM-data-pipeline operators: planted duplicates must be
found, stubs must plumb, buckets must prune."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfusion.llm import dedup, ivf, multimodal, pq, similarity, text


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different content about spark query engines and joins"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "el rapido zorro marron salta sobre el perro perezoso y la casa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_planted_duplicate(corpus):
    groups = dedup.exact_dedup_groups(corpus, "doc_id", "text").collect()
    dup_groups = [g for g in groups if g.n_dups > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0].keeper_id == 0 and dup_groups[0].n_dups == 2
    kept = dedup.exact_dedup(corpus, "doc_id", "text")
    assert kept.count() == 4
    assert 3 not in {r.doc_id for r in kept.collect()}


def test_jaccard_finds_near_dup(corpus):
    pairs = dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5).collect()
    pair_ids = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in pair_ids  # near-dup
    assert (0, 3) in pair_ids  # exact dup -> jaccard 1.0
    exact = next(r for r in pairs if (r.id_a, r.id_b) == (0, 3))
    assert exact.jaccard == 1.0
    assert (0, 2) not in pair_ids


def test_max_df_cap_equivalence_and_pruning(corpus):
    """max_df ≥ corpus size must be a no-op (exact equivalence to the uncapped
    form, both for direct Jaccard and the full MinHash pipeline); a tight cap
    must drop hot shingles — the planted pair that overlaps only on the
    corpus-wide hot phrase disappears, which is the documented recall trade."""
    uncapped = {
        (r.id_a, r.id_b, r.inter, r.size_a, r.size_b, r.jaccard)
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.inter, r.size_a, r.size_b, r.jaccard)
        for r in dedup.jaccard_pairs(
            corpus, "doc_id", "text", threshold=0.5, max_df=10**9
        ).collect()
    }
    assert capped == uncapped
    mh_un = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    }
    mh_cap = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            corpus, "doc_id", "text", threshold=0.5, max_df=10**9
        ).collect()
    }
    assert mh_cap == mh_un
    # docs 0/1/3 share every "quick brown fox..." shingle (df=3); max_df=2
    # removes them all, so only the exact-dup pair (identical remainder — both
    # empty shingle sets drop out entirely) can survive: no pairs at all
    tight = dedup.jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.1, max_df=2
    ).collect()
    assert {(r.id_a, r.id_b) for r in tight} < {(0, 1), (0, 3), (1, 3)}


def test_minhash_pipeline_matches_planted(corpus):
    pairs = dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", k=16, bands=4, threshold=0.5
    ).collect()
    pair_ids = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 3) in pair_ids and (0, 1) in pair_ids
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_xxhash_path_equivalence(corpus):
    """The xxhash64 production hash must behave like the md5 oracle hash:
    exact duplicates get identical signatures (always found), and the planted
    near-dup survives banding under both hash families."""
    # bands=8 (r=2): candidate probability for the j~0.67 planted near-dup is
    # ~0.99 per hash family — bands=4 would leave a ~40% legitimate miss rate
    # (LSH recall, not a hash defect)
    xx = dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", k=16, bands=8, threshold=0.5, hash_fn="xxhash64"
    ).collect()
    xx_ids = {(r.id_a, r.id_b) for r in xx}
    assert (0, 3) in xx_ids  # exact dup: identical shingles -> identical sigs
    assert (0, 1) in xx_ids  # planted near-dup
    sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash(corpus, "doc_id", "text", hash_fn="xxhash64").collect()
    }
    assert sigs[0] == sigs[3]
    assert 0 <= sigs[0] < 2**32


def test_simhash_exact_dup_distance_zero(corpus):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(corpus, "doc_id", "text").collect()}
    assert sigs[0] == sigs[3]
    assert 0 <= sigs[0] < 2**32
    pairs = dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=2).collect()
    assert (0, 3) in {(r.id_a, r.id_b) for r in pairs}


def test_lang_id_und_and_scores(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat of the mat and it is that"), (2, "zzz qqq xxx")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.pred for r in df.select("doc_id", text.lang_id("text").alias("pred")).collect()}
    assert rows[1] == "en" and rows[2] == "und"


def test_quality_score_bounds(spark, sf_dir):
    from sparkfusion.session import table

    docs = table(spark, sf_dir, "documents")
    stats = docs.select(text.quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_similarity_topk_ann_subset(spark, sf_dir):
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = similarity.brute_force_topk(emb, q, k=5).collect()
    assert len(exact) == 5
    cosines = [r.cos for r in exact]
    assert cosines == sorted(cosines, reverse=True)
    ann = similarity.ann_topk(emb, q, k=5, bits=4).collect()
    # ANN examines a bucket subset; its best hit can't beat exact best
    assert ann[0].cos <= exact[0].cos + 1e-12


#: every top-k operator that takes a query frame, as (corpus, queries, k)
FRAME_TOPK = {
    "rp_ann_topk": lambda emb, q, k: similarity.rp_ann_topk(emb, q, k=k),
    "brute_force_topk": lambda emb, q, k: similarity.brute_force_topk(emb, q, k=k),
    "brute_force_topk_np": lambda emb, q, k: similarity.brute_force_topk_np(emb, q, k=k),
    "sq_topk": lambda emb, q, k: similarity.sq_topk(emb, q, k=k),
    "ann_topk": lambda emb, q, k: similarity.ann_topk(emb, q, k=k, bits=4),
    "ivf_topk": lambda emb, q, k: ivf.ivf_topk(*ivf.ivf_build(emb, k=8), q, k=k, nprobe=2),
    "ivf_seeded_topk": lambda emb, q, k: ivf.ivf_seeded_topk(emb, q, k=k, nprobe=2),
    "pq_adc_topk": lambda emb, q, k: pq.pq_adc_topk(emb, q, k=k),
    "ivfpq_adc_topk": lambda emb, q, k: pq.ivfpq_adc_topk(emb, q, k=k),
}


@pytest.mark.parametrize("op", list(FRAME_TOPK))
def test_topk_ranks_each_query_of_a_batch(spark, sf_dir, op):
    """A 3-row query frame gets one top-k per query: each query's rows in
    the batch result equal its single-row result, in rank order. The
    one-query numpy kernel refuses the batch instead of dropping rows."""
    from sparkfusion.errors import PlanError
    from sparkfusion.session import table

    topk = FRAME_TOPK[op]
    emb = table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") < 3)
    if op == "brute_force_topk_np":
        with pytest.raises(PlanError, match="exactly one query row"):
            topk(emb, batch, 5)
        return
    got = topk(emb, batch, 5).collect()
    for qid in range(3):
        single = topk(emb, emb.filter(F.col("vec_id") == qid), 5).collect()
        assert single and {r.q_id for r in single} == {qid}
        assert [r for r in got if r.q_id == qid] == single, qid


def test_topk_rejects_k_past_window_group_limit(spark, sf_dir):
    """Past the session's windowGroupLimitThreshold Spark plans no partial
    limit, so every candidate of a query would shuffle to one task: the
    shared ranker refuses such a k (and nprobe) when the plan is built."""
    from sparkfusion.errors import PlanError
    from sparkfusion.session import table

    limit = int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    similarity.brute_force_topk(emb, q, k=limit)  # at the threshold: planned
    with pytest.raises(PlanError, match="windowGroupLimitThreshold"):
        similarity.brute_force_topk(emb, q, k=limit + 1)
    with pytest.raises(PlanError, match="windowGroupLimitThreshold"):
        ivf.ivf_seeded_topk(emb, q, nprobe=limit + 1)


def test_cosine_pairs_banded_recall_vs_exact(spark, sf_dir):
    """The exact all-pairs form (exact=True opt-in) lives here as the recall
    reference; the suite registers only the banded (bits=4) plan — no O(n²)
    join ships. Banded pairs must be a subset of exact pairs with identical
    cosines."""
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.cosine_pairs(
            emb, "vec_id", "embedding", 0.45, exact=True
        ).collect()
    }
    banded = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.cosine_pairs(emb, "vec_id", "embedding", 0.45, bits=4).collect()
    }
    assert set(banded) <= set(exact)
    assert all(exact[k] == v for k, v in banded.items())
    # buckets must actually prune: strictly fewer candidate pairs survive
    assert len(banded) <= len(exact)


def test_cosine_pairs_auto_bits_and_multiband(spark, sf_dir):
    """``bits=None`` derives bits = ceil(log2(n / target_bucket_size)) and
    matches the explicit-bits result exactly (parameter derivation, not a
    different algorithm — the linear-pair-work posture from the r12 sf1
    sweep). ``bands>1`` unions candidates from disjoint dimension slices:
    recall is monotone in bands, every surviving pair is exact-subset with
    identical cosines, and overflowing the embedding dim raises."""
    import math

    from sparkfusion.errors import PlanError
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    tgt = 100
    expect_bits = max(1, min(24, math.ceil(math.log2(max(2.0, n / tgt)))))

    def pairset(**kw):
        return {
            (r.id_a, r.id_b): r.cos
            for r in similarity.cosine_pairs(
                emb, "vec_id", "embedding", 0.45, **kw
            ).collect()
        }

    auto = pairset(bits=None, target_bucket_size=tgt)
    explicit = pairset(bits=expect_bits)
    assert auto == explicit

    exact = pairset(exact=True)
    one_band = pairset(bits=8)
    two_band = pairset(bits=8, bands=2)
    assert set(one_band) <= set(two_band) <= set(exact)
    assert all(exact[k] == v for k, v in two_band.items())

    with pytest.raises(PlanError, match="exceeds embedding dim"):
        similarity.cosine_pairs(
            emb, "vec_id", "embedding", 0.45, bits=40, bands=2
        ).collect()


def test_connected_components_chain_triangle_singleton(spark):
    # chain 1-2-3 (transitive: 3 must reach 1 through 2), triangle 10-11-12,
    # isolated pair 20-21; all collapse to min-id components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    cc = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # a 12-hop chain needs multiple propagation rounds — exercises the loop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    cc = dedup.connected_components(pairs).collect()
    assert all(r.component == 0 for r in cc)
    assert len(cc) == 13


def test_connected_components_raises_without_convergence(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        dedup.connected_components(pairs, max_iter=2)


def test_contamination_hits_planted(spark):
    corpus_df = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps high"),  # shares 3-grams with bench
            (101, "totally unrelated words about engines"),
            (102, "quick brown fox story time"),  # one shared shingle
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "the quick brown fox runs")], "doc_id long, text string"
    )
    hits = {
        r.doc_id: r.n_hits
        for r in dedup.contamination_hits(corpus_df, bench, "doc_id", "text", n=3).collect()
    }
    # bench shingles: {the quick brown, quick brown fox, brown fox runs}
    assert hits == {100: 2, 102: 1}  # 101 clean → absent


def test_pii_counts_fixture(spark):
    df = spark.createDataFrame(
        [
            (1, "alice@example.com and bob.smith@mail.co"),
            (2, "https://a.b/c plus http://d.e"),
            (3, "run 5551234567 but not 123456"),
            (4, "nothing here"),
        ],
        "id int, text string",
    )
    rows = {r.id: r for r in df.select("id", *text.pii_counts("text")).collect()}
    assert (rows[1].n_emails, rows[1].n_urls, rows[1].n_digit_runs) == (2, 0, 0)
    assert (rows[2].n_emails, rows[2].n_urls, rows[2].n_digit_runs) == (0, 2, 0)
    assert (rows[3].n_emails, rows[3].n_urls, rows[3].n_digit_runs) == (0, 0, 1)
    assert (rows[4].n_emails, rows[4].n_urls, rows[4].n_digit_runs) == (0, 0, 0)


def test_repetition_stats_edges(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # fully repetitive: top bigram "a a" fills all slots
            (2, "w x y z"),  # no repetition
            (3, "solo"),  # <2 words → no bigrams
            (4, "  "),  # empty after trim
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1].n_words == 4 and rows[1].n_distinct_words == 1
    assert rows[1].dup_word_frac == 0.75 and rows[1].top_bigram_frac == 1.0
    assert rows[2].dup_word_frac == 0.0 and rows[2].top_bigram_n == 1
    assert rows[3].top_bigram_n == 0 and rows[3].top_bigram_frac == 0.0
    assert rows[4].n_words == 0 and rows[4].dup_word_frac == 0.0


def test_multimodal_stub_plumbing(corpus):
    media = multimodal.to_media_table(corpus, "doc_id", "text")
    assert [f.name for f in media.schema.fields] == ["media_id", "content", "meta"]
    feats = multimodal.decode_media(media, decode_stub=True).collect()
    assert len(feats) == 5
    f0 = next(f for f in feats if f.media_id == 0)
    f3 = next(f for f in feats if f.media_id == 3)
    assert (f0.width, f0.height, f0.phash) == (f3.width, f3.height, f3.phash)  # same bytes
    assert 1 <= f0.width <= 1920 and 1 <= f0.height <= 1080

    frames = multimodal.frame_sample(media, every_n=10).collect()
    assert all(f.frame_idx % 10 == 0 for f in frames)
    assert len({f.media_id for f in frames}) == 5


def test_multimodal_real_decode_raises(corpus):
    media = multimodal.to_media_table(corpus, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        multimodal.decode_media(media, decode_stub=False).collect()


def test_span_dedup_drops_repeated_spans(spark):
    # w=3 spans; doc 1 repeats doc 0's first span verbatim; doc 2 is empty
    rows = [
        (0, "a b c d e f"),            # spans: "a b c", "d e f"
        (1, "a b c x y z"),            # "a b c" already seen -> dropped
        (2, ""),                        # no spans at all
        (3, "d e f d e f"),            # first span dup of doc0's 2nd; 2nd dup of its own 1st
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.span_dedup(df, "doc_id", "text", w=3).collect()}
    assert len(out) == 4
    assert out[0].cleaned_text == "a b c d e f" and out[0].n_kept == 2
    assert out[1].cleaned_text == "x y z" and out[1].n_spans == 2 and out[1].n_kept == 1
    assert out[2].cleaned_text == "" and out[2].n_spans == 0 and out[2].n_kept == 0
    assert out[3].cleaned_text == "" and out[3].n_spans == 2 and out[3].n_kept == 0


def test_span_dedup_short_tail_span(spark):
    # 4 words at w=3 -> spans "a b c" + tail "d"; tail spans dedup too
    rows = [(0, "a b c d"), (1, "z z z d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.span_dedup(df, "doc_id", "text", w=3).collect()}
    assert out[0].cleaned_text == "a b c d"
    assert out[1].cleaned_text == "z z z"  # tail "d" was doc 0's


def test_incremental_dedup_statuses(corpus):
    # corpus docs 0,2,4; batch: 10=exact dup of 0, 11=near dup of 0, 12=new
    batch = corpus.sparkSession.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river bank"),
            (11, "the quick brown fox jumps over the lazy dog near the river bend"),
            (12, "unrelated totally fresh content nothing shared with anything else here"),
        ],
        "doc_id long, text string",
    )
    existing = corpus.filter(F.col("doc_id").isin([0, 2, 4]))
    out = {
        r.doc_id: r.status
        for r in dedup.incremental_dedup(batch, existing, "doc_id", "text").collect()
    }
    assert out == {10: "exact_dup", 11: "near_dup", 12: "new"}


def test_sq_quantize_codes_exact(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 1.0, -1.0, 0.5, -0.25, 2.0, -3.0])],
        "vec_id long, embedding array<float>",
    )
    codes = df.select(
        similarity.sq_quantize(F.col("embedding")).alias("c")
    ).head().c
    # clamp to ±1 then round-half-away: 0.5*127=63.5 -> 64
    assert codes == [0, 127, -127, 64, -32, 127, -127]


def test_sq_topk_matches_exact_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    sq = similarity.sq_topk(emb, q, "vec_id", "embedding", k=5).collect()
    assert len(sq) == 5
    assert all(sq[i].qscore >= sq[i + 1].qscore for i in range(4))
    exact = similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    # int8 quantization keeps the clear winner: top-1 agrees with exact cosine
    assert sq[0].vec_id == exact[0].vec_id


def test_pack_sequences_contiguous_and_budget(spark):
    rows = [(i, " ".join(["tok"] * n)) for i, n in [(0, 5), (1, 0), (2, 10), (3, 3), (4, 7)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.pack_sequences(df, "doc_id", "text", budget=8).collect()}
    # offsets are the exclusive cumsum of token counts in doc_id order
    assert [out[i].start_off for i in range(5)] == [0, 5, 5, 15, 18]
    assert out[0].seq_id == 0 and out[0].n_seqs == 1
    assert out[1].n_seqs == 0                       # empty doc occupies nothing
    assert out[2].seq_id == 0 and out[2].n_seqs == 2  # tokens 5..14 span seqs 0-1
    assert out[4].seq_id == 2 and out[4].n_seqs == 2  # tokens 18..24 span seqs 2-3


def test_pack_sequences_partition_invariant(spark):
    rows = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: (r.start_off, r.seq_id) for r in text.pack_sequences(df, "doc_id", "text", 16, num_partitions=3).collect()}
    b = {r.doc_id: (r.start_off, r.seq_id) for r in text.pack_sequences(df.repartition(13), "doc_id", "text", 16, num_partitions=8).collect()}
    assert a == b  # packing is defined by id order, not physical layout


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from sparkfusion.llm.chunking import weighted_sample

    # one row with overwhelming weight must always win at k=1
    rows = [(i, 1.0) for i in range(1, 50)] + [(99, 1e9)]
    df = spark.createDataFrame(rows, "id long, w double")
    [top] = weighted_sample(df, "w", "id", k=1).collect()
    assert top["id"] == 99
    # deterministic: same selection on repeated runs
    a = sorted(r["id"] for r in weighted_sample(df, "w", "id", k=10).collect())
    b = sorted(r["id"] for r in weighted_sample(df, "w", "id", k=10).collect())
    assert a == b and len(a) == 10


def test_weighted_sample_plan_is_take_ordered(spark):
    from sparkfusion.llm.chunking import weighted_sample

    df = spark.createDataFrame([(i, float(i)) for i in range(1, 100)], "id long, w double")
    plan = weighted_sample(df, "w", "id", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    from sparkfusion.llm.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra zebra"),
            (2, "common xylophone"),
            (3, "common common quartz"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    top = {r["doc_id"]: r["term"] for r in out.filter("rank = 1").collect()}
    # 'common' appears in every doc -> idf 0; the doc-unique term must lead
    assert top == {1: "zebra", 2: "xylophone", 3: "quartz"}
    # tf/df bookkeeping
    zebra = out.filter("doc_id = 1 AND term = 'zebra'").collect()[0]
    assert (zebra["tf"], zebra["df"]) == (2, 1)


def test_fuzzy_join_finds_typos_and_caps_hot_grams(spark):
    from sparkfusion.llm.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "maria garcia"), (3, "wei chen")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(10, "jonathon smith"), (20, "maria garcia"), (30, "completely different")],
        "rid long, rname string",
    )
    out = fuzzy_join(left, right, "id", "name", "rid", "rname", max_dist=1, q=3, max_df=50)
    got = {(r["id"], r["rid"]): r["dist"] for r in out.collect()}
    assert got == {(1, 10): 1, (2, 20): 0}

    # hot-gram cap: strings sharing ONLY ubiquitous grams produce no candidates
    many = spark.createDataFrame([(i, "aaaaaaaa") for i in range(40)], "id long, name string")
    out2 = fuzzy_join(many, many.selectExpr("id as rid", "name as rname"),
                      "id", "name", "rid", "rname", max_dist=1, q=3, max_df=10)
    assert out2.count() == 0  # 'aaa' df=80 > 10 -> capped, no m^2 flood


def test_negative_pairs_properties(spark, sf_dir):
    from sparkfusion.llm.chunking import negative_pairs
    from sparkfusion.session import table
    import pytest as _pytest

    docs = table(spark, sf_dir, "documents")
    out = negative_pairs(docs, "doc_id", k=4, n_buckets=16).cache()
    rows = out.collect()
    # no self pairs, rank bounded
    assert all(r["anchor_id"] != r["neg_id"] for r in rows)
    assert all(1 <= r["rk"] <= 4 for r in rows)
    # each anchor emits at most k, and anchors with a non-empty neighbor
    # bucket emit exactly k when the bucket has >= k members
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r["anchor_id"], set()).add(r["neg_id"])
    assert all(len(v) <= 4 for v in per_anchor.values())
    # deterministic: second run identical
    again = {(r["anchor_id"], r["neg_id"], r["rk"]) for r in
             negative_pairs(docs, "doc_id", k=4, n_buckets=16).collect()}
    assert again == {(r["anchor_id"], r["neg_id"], r["rk"]) for r in rows}
    out.unpersist()
    with _pytest.raises(ValueError):
        negative_pairs(docs, "doc_id", k=0)
    with _pytest.raises(ValueError):
        negative_pairs(docs, "doc_id", n_buckets=1)

    # auto-derived n_buckets (the linear-work default; r12 sf1 catch:
    # pinned buckets go quadratic) equals the explicit derivation exactly
    n = docs.count()
    expect_b = max(2, n // (8 * 4))
    auto = {(r["anchor_id"], r["neg_id"], r["rk"]) for r in
            negative_pairs(docs, "doc_id", k=4).collect()}
    explicit = {(r["anchor_id"], r["neg_id"], r["rk"]) for r in
                negative_pairs(docs, "doc_id", k=4, n_buckets=expect_b).collect()}
    assert auto == explicit
    assert len({a for a, _, _ in auto}) > 0


def test_label_centroids_exact_vs_numpy(spark, sf_dir):
    import numpy as np

    from sparkfusion.llm.similarity import label_centroids
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    got = {
        (r["label"], r["pos"]): (r["sum_q"], r["n"], r["centroid"])
        for r in label_centroids(emb).collect()
    }
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    dim = len(rows[0]["embedding"])
    for lab, vecs in by_label.items():
        arr = np.array(vecs, dtype=np.float64)
        for pos in range(dim):
            v = arr[:, pos] * 1e6
            # HALF_UP (away from zero) to match Spark/DuckDB round(), not
            # numpy's banker's rounding
            q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
            sum_q, n = int(q.sum()), len(vecs)
            want_c = sum_q / n / 1e6
            assert got[(lab, pos)] == (sum_q, n, want_c)
    # every (label, pos) accounted for
    assert len(got) == len(by_label) * dim


def test_ppm_roundtrip_bytes_and_decode(spark):
    """make_ppm emits a valid P6 container; decode_ppm recovers exact sums,
    including payloads whose first body byte is a whitespace value."""
    from sparkfusion.llm.multimodal import _ppm_pixel, decode_ppm, make_ppm, ppm_media_table

    # find an id whose first pixel byte is whitespace (0x20/0x0a/...) to pin
    # the header-parse edge
    ws_ids = [i for i in range(300) if _ppm_pixel(i, 0, 0, 0) in (9, 10, 13, 32)]
    assert ws_ids, "generator never hits whitespace bytes?"
    ids = [0, 1, ws_ids[0]]
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = {r["media_id"]: r for r in decode_ppm(ppm_media_table(df, "doc_id")).collect()}
    for i in ids:
        want_r = sum(_ppm_pixel(i, x, y, 0) for x in range(8) for y in range(6))
        want_g = sum(_ppm_pixel(i, x, y, 1) for x in range(8) for y in range(6))
        r = out[i]
        assert (r["width"], r["height"]) == (8, 6)
        assert r["sum_r"] == want_r and r["sum_g"] == want_g
    # container well-formedness
    blob = make_ppm(7)
    assert blob.startswith(b"P6\n8 6\n255\n")
    assert len(blob) == len(b"P6\n8 6\n255\n") + 8 * 6 * 3


def test_fim_splits_reassemble(spark, sf_dir):
    """prefix+middle+suffix must reassemble the original text exactly, with
    non-empty middles for eligible docs and pass-through for short ones."""
    from sparkfusion.llm.chunking import fim_splits
    from sparkfusion.session import table

    docs = table(spark, sf_dir, "documents")
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = fim_splits(docs, "doc_id", "text", min_len=30).collect()
    assert len(out) == len(orig)
    for r in out:
        t = orig[r["doc_id"]]
        if r["is_fim"]:
            assert r["prefix"] + r["middle"] + r["suffix"] == t
            assert len(r["prefix"]) >= 1 and len(r["middle"]) >= 1
        else:
            assert r["prefix"] == t and r["middle"] == "" and r["suffix"] == ""
    # determinism
    again = fim_splits(docs, "doc_id", "text", min_len=30).collect()
    assert {(r["doc_id"], r["prefix"]) for r in again} == {
        (r["doc_id"], r["prefix"]) for r in out
    }


def test_fim_splits_short_docs_pass_through(spark):
    from sparkfusion.llm.chunking import fim_splits

    df = spark.createDataFrame([(1, "tiny"), (2, "x" * 100)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in fim_splits(df, "doc_id", "text", min_len=30).collect()}
    assert rows[1]["is_fim"] is False and rows[1]["prefix"] == "tiny"
    assert rows[2]["is_fim"] is True
    assert rows[2]["prefix"] + rows[2]["middle"] + rows[2]["suffix"] == "x" * 100


def test_url_canonicalize_cases(spark):
    from sparkfusion.llm.text import url_canonicalize

    cases = [
        ("HTTP://WWW.EXAMPLE.COM:80/A/B?x=1#top", "http://example.com/A/B?x=1"),
        ("https://site.org:443/p/?utm_source=a&q=2&utm_medium=b",
         "https://site.org/p/?q=2"),
        ("https://a.net/only?utm_campaign=x", "https://a.net/only"),
        ("http://Host.Com", "http://host.com"),
        ("https://h.io:8080/keep", "https://h.io:8080/keep"),  # non-default port kept
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    out = df.select("want", url_canonicalize("url").alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_png_codec_all_filters_roundtrip(spark):
    """make_png writes scanlines with rotating filter types (y % 5), so this
    roundtrip proves the decoder's None/Sub/Up/Average/Paeth reconstruction
    against the shared analytic pixel function — and through the Spark
    mapInPandas path, not just in-process."""
    from sparkfusion.llm.multimodal import (
        _ppm_pixel,
        _png_decode_pixels,
        decode_png,
        make_png,
        png_media_table,
    )

    # tall image → every filter type appears at least twice
    px = _png_decode_pixels(make_png(42, width=5, height=11))
    assert px.shape == (11, 5, 3)
    for y in (0, 1, 2, 3, 4, 10):
        for x in (0, 4):
            for c in range(3):
                assert px[y, x, c] == _ppm_pixel(42, x, y, c)

    df = spark.createDataFrame([(i,) for i in (0, 3, 256, 1000)], "doc_id long")
    out = {r["media_id"]: r for r in decode_png(png_media_table(df, "doc_id")).collect()}
    for i in (0, 3, 256, 1000):
        want = sum(_ppm_pixel(i, x, y, 0) for x in range(8) for y in range(6))
        assert out[i]["sum_r"] == want
        assert (out[i]["width"], out[i]["height"]) == (8, 6)


def test_png_decode_rejects_malformed():
    import pytest as _pytest

    from sparkfusion.errors import DecodeError
    from sparkfusion.llm.multimodal import _png_decode_pixels, make_png

    with _pytest.raises(DecodeError, match="signature"):
        _png_decode_pixels(b"NOT A PNG AT ALL....")
    buf = bytearray(make_png(7))
    buf[20] ^= 0xFF  # corrupt inside IHDR → CRC must catch it
    with _pytest.raises(DecodeError, match="CRC"):
        _png_decode_pixels(bytes(buf))


def test_png_decode_typed_errors_on_truncation_and_bad_idat():
    """ADVICE r6: a truncated chunk used to escape as raw struct.error and a
    corrupt-but-CRC-valid IDAT as zlib.error — the contract says DecodeError
    for ANYTHING malformed."""
    import struct
    import zlib

    import pytest as _pytest

    from sparkfusion.errors import DecodeError
    from sparkfusion.llm.multimodal import _PNG_SIG, _png_chunk, _png_decode_pixels, make_png

    # truncated mid-chunk: drop IEND (12 bytes) plus one byte of IDAT's CRC,
    # so the IDAT chunk claims more bytes than remain in the buffer
    with _pytest.raises(DecodeError, match="truncated"):
        _png_decode_pixels(bytes(make_png(3))[:-13])

    # IDAT whose chunk CRC is valid but whose zlib stream is garbage
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x00not-a-zlib-stream")
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(DecodeError, match="IDAT"):
        _png_decode_pixels(bad)

    # IHDR chunk with a wrong declared length (valid CRC, short body)
    bad2 = _PNG_SIG + _png_chunk(b"IHDR", ihdr[:8]) + _png_chunk(b"IEND", b"")
    with _pytest.raises(DecodeError, match="IHDR"):
        _png_decode_pixels(bad2)

    # declared-length overrun (points past end of buffer)
    over = _PNG_SIG + struct.pack(">I", 10_000) + b"IHDR" + b"\x00" * 20
    with _pytest.raises(DecodeError, match="truncated"):
        _png_decode_pixels(over)

    # sanity: zlib error really is what a raw decompress would raise
    with _pytest.raises(zlib.error):
        zlib.decompress(b"\x00not-a-zlib-stream")


def test_triangle_count_known_graph(spark):
    """K4 (4 triangles) + a pendant edge + a duplicate + a self-loop: the
    normalizer must drop the loop and dupe, the pendant adds an edge and a
    wedge but no triangle."""
    from sparkfusion.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (2, 1), (3, 3)]  # pendant, duplicate (reversed), loop
    df = spark.createDataFrame(edges, "u long, v long")
    row = triangle_count(df).collect()[0]
    assert row["n_edges"] == 7  # 6 K4 edges + pendant
    assert row["n_triangles"] == 4
    # every triangle is one closed wedge; open wedges exist via the pendant
    assert row["n_wedges"] >= row["n_triangles"]


def test_qf1_sweep_invariants(spark):
    """docs_kept must be non-increasing in threshold, and the lowest
    threshold retains the whole corpus."""
    from sparkfusion.suite import _load_all
    _load_all()
    import __spark_entry__ as e

    rows = (
        e.queries()["qf1_quality_threshold_sweep"](spark, "/root/testdata/sf0.001")
        .orderBy("threshold")
        .collect()
    )
    assert rows, "sweep returned no buckets"
    docs = [r["docs_kept"] for r in rows]
    assert docs == sorted(docs, reverse=True)
    import duckdb

    total = duckdb.sql(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchone()[0]
    assert docs[0] == total


def test_fi1_affinity_invariants(spark):
    """Support never exceeds either brand marginal, and lift is positive."""
    from sparkfusion.suite import _load_all
    _load_all()
    import __spark_entry__ as e

    df = e.queries()["fi1_item_affinity"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    for r in rows:
        assert r["lift"] > 0
        assert r["support"] >= 20
    assert len(rows) <= 25


def test_bigram_lm_score_edges(spark):
    """Docs with <2 surviving words are excluded; empty tokens from runs of
    spaces never form bigrams; singleton counting is per-occurrence."""
    import sparkfusion.suite.llm_suite as mod

    docs = spark.createDataFrame(
        [(1, "a  b a b"), (2, "a b"), (3, "solo"), (4, "")],
        ["doc_id", "text"],
    )
    orig = mod.table
    mod.table = lambda sp, d, name: docs
    try:
        rows = {
            r["doc_id"]: r
            for r in mod.lm2_bigram_lm_score(spark, "unused").collect()
        }
    finally:
        mod.table = orig
    # doc 3 (one word) and doc 4 (no words) excluded
    assert set(rows) == {1, 2}
    # doc 1 words: a b a b -> bigrams: "a b", "b a", "a b"; doc 2 -> "a b"
    # corpus: "a b" x3, "b a" x1, total 4
    assert rows[1]["n_bigrams"] == 3
    assert rows[2]["n_bigrams"] == 1
    assert rows[1]["n_singletons"] == 1 and rows[2]["n_singletons"] == 0
    # lm_score: floor(1e6*3/4)=750000 per "a b", floor(1e6*1/4)=250000
    assert rows[1]["lm_score"] == 750000 * 2 + 250000
    assert rows[2]["lm_score"] == 750000


def test_gram_matrix_exact_vs_numpy(spark):
    """Partial-Gram + shuffle-sum must equal the single-machine numpy Gram
    of the quantized matrix exactly, for any partitioning."""
    import numpy as np

    from sparkfusion.llm.similarity import gram_matrix

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 5)).astype(np.float32)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(6)
    got = {(r["i"], r["j"]): r["dot_q"] for r in gram_matrix(df, scale=1000).collect()}
    Q = np.rint(X.astype(np.float64) * 1000).astype(np.int64)
    G = Q.T @ Q
    assert len(got) == 5 * 6 // 2
    for (i, j), v in got.items():
        assert i <= j and v == float(G[i, j]), (i, j, v, G[i, j])


def test_gram_matrix_shuffle_carries_partials_not_rows(spark):
    """The exchange must sit above the mapInPandas partial aggregation —
    the plan's only shuffle is the d(d+1)/2-row groupBy, never the input."""
    from sparkfusion.llm.similarity import gram_matrix

    df = spark.createDataFrame(
        [(i, [0.1] * 4) for i in range(10)], "vec_id long, embedding array<float>"
    )
    plan = gram_matrix(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.index("Exchange") < plan.index("MapInPandas")


def test_rake_phrases_are_stopword_free_and_ranked(spark, sf_dir):
    from sparkfusion.suite.llm_suite import _RAKE_STOPS, rake1_keywords

    rows = rake1_keywords(spark, sf_dir).collect()
    assert len(rows) == 10
    scores = [r["score_fp"] for r in rows]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0
    for r in rows:
        words = r["phrase"].split(" ")
        assert words and all(w and w not in _RAKE_STOPS for w in words)
        assert r["n_occurrences"] >= 1


def test_char_entropy_closed_form_cases(spark):
    """H(single repeated char) = 0; H(uniform over k chars) = log2(k);
    non-alphabet characters are excluded from the distribution."""
    import math

    from pyspark.sql import functions as F

    from sparkfusion.llm.text import char_entropy_bits

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "ab12!?")], "id long, text string"
    )
    n, ent = char_entropy_bits("text")
    got = {
        r["id"]: (r["n"], r["e"])
        for r in df.select("id", n.alias("n"), F.round(ent, 9).alias("e")).collect()
    }
    assert got[1] == (4, 0.0)
    assert got[2] == (4, round(math.log2(4), 9))
    assert got[3] == (2, 1.0)  # only 'a','b' count; digits/punct excluded


def test_char_entropy_rlike_gate_equals_nalpha_gate(spark):
    """The suite entry's pre-exchange gate ``lower(text) rlike '[a-z ]'``
    must admit EXACTLY the rows with ``n_alpha > 0`` (r13 optimization:
    filtering on the computed column re-expanded all 27 count terms below
    the spread exchange). Edge rows: empty, digits/punct-only, space-only,
    uppercase-only, mixed."""
    from pyspark.sql import functions as F

    from sparkfusion.llm.text import char_entropy_bits

    df = spark.createDataFrame(
        [(1, ""), (2, "123!?"), (3, " "), (4, "ABC"), (5, "a1"), (6, "\t\n")],
        "id long, text string",
    )
    n, _ = char_entropy_bits("text")
    via_n = {r["id"] for r in df.filter(n > 0).select("id").collect()}
    via_rlike = {
        r["id"]
        for r in df.filter(F.lower(F.col("text")).rlike("[a-z ]"))
        .select("id")
        .collect()
    }
    assert via_n == via_rlike == {3, 4, 5}


def test_pmi_collocations_separates_mwe_from_frequency(spark):
    """'san francisco' always co-occurs (high PMI); 'the' is frequent next to
    everything (PMI ~ 0) — PMI must rank the true collocation first even
    though 'the'-bigrams are more frequent."""
    import math

    docs = spark.createDataFrame(
        [
            (i, "the cat sat on the mat in san francisco near the bay")
            for i in range(10)
        ],
        "doc_id long, text string",
    )
    out = text.pmi_collocations(docs, "text", min_count=5, k=5).collect()
    assert out, "no collocations found"
    top = (out[0]["w1"], out[0]["w2"])
    assert top in {("san", "francisco"), ("francisco", "near")} or out[0][
        "pmi"
    ] == max(r["pmi"] for r in out)
    # 'san francisco': c_xy=10, c_x=c_y=10; N_uni=120, N_bi=110
    sf = [r for r in out if (r["w1"], r["w2"]) == ("san", "francisco")]
    assert sf, "planted collocation missing from top-k"
    want = round(math.log((10 * 120 * 120) / (10 * 10 * 110)), 6)
    assert abs(sf[0]["pmi"] - want) < 1e-6
    # every 'the *' bigram has lower PMI than the planted MWE
    the_pmis = [r["pmi"] for r in out if r["w1"] == "the"]
    assert all(p < sf[0]["pmi"] for p in the_pmis)


def test_rrf_fuse_prefers_ids_ranked_by_both(spark):
    from sparkfusion.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id long, rank_a long"
    )
    b = spark.createDataFrame(
        [(3, 1), (4, 2), (5, 3)], "id long, rank_b long"
    )
    out = rrf_fuse(a, b, id_col="id", k0=60, k=10).collect()
    assert out[0]["id"] == 3  # only id in both rankers
    assert abs(out[0]["rrf"] - round(1 / 63 + 1 / 61, 9)) < 1e-9
    # single-side ids score exactly their one term
    one = {r["id"]: r["rrf"] for r in out}
    assert abs(one[1] - round(1 / 61, 9)) < 1e-9
    assert abs(one[4] - round(1 / 62, 9)) < 1e-9
    assert len(out) == 5


def test_cosine_pairs_banded_empty_input(spark):
    """bands>1 on an EMPTY frame must return an empty pair frame (schema
    intact), not TypeError on the missing dim probe row (r12 advice)."""
    from sparkfusion.llm import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.cosine_pairs(
        empty, "vec_id", "embedding", 0.4, bits=2, bands=2
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cos"]


def test_within_group_pairs_np_bit_parity(spark, sf_dir):
    """The grouped vectorized verify must reproduce the bucket-self-join +
    expression-fold path EXACTLY: same surviving pair set, bit-equal rounded
    cosines (the r13 4.2x replacement is only safe under the oracle because
    of this). Covers both the raw margin emission and the Spark-side
    HALF_UP round."""
    from sparkfusion.llm.similarity import (
        cosine_r9_pre,
        norm,
        sign_bucket,
        within_group_pairs_np,
    )

    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    side = emb.select(
        F.col("vec_id"),
        F.col("embedding").alias("e"),
        norm(F.col("embedding")).alias("nrm"),
        sign_bucket(F.col("embedding"), 3).alias("bucket"),
    )
    thresh = 0.3
    a = side.select(F.col("vec_id").alias("id_a"), "bucket",
                    F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = side.select(F.col("vec_id").alias("id_b"), "bucket",
                    F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    via_join = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_r9_pre(F.col("ea"), F.col("eb"),
                                         F.col("na"), F.col("nb")))
        .filter(F.col("cos") >= thresh).collect()
    }
    via_group = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in within_group_pairs_np(side, group_col="bucket", threshold=thresh)
        .withColumn("cos", F.round(F.col("cos_raw"), 9))
        .filter(F.col("cos") >= thresh).collect()
    }
    assert via_join == via_group  # keys AND float values exactly equal
    assert len(via_group) > 50  # non-trivial at test SF


def test_within_group_pairs_np_zero_norm_and_duplicate_id(spark):
    """Two r14-advice edge cases:

    (1) a zero-norm embedding makes the cosine undefined. A silent numpy
    NaN would be coerced to NULL by the pandas→Arrow transit and the pair
    DROPPED — parity with neither engine (the replaced expression path
    under Spark 4 ANSI raises DIVIDE_BY_ZERO). The kernel must raise a
    named PlanError instead.

    (2) duplicate id VALUES must never pair (the join's ``id_a < id_b`` is
    a value test, not positional), and pair multiplicity matches the join
    path's M×N semantics."""
    from sparkfusion.llm.similarity import (
        cosine_r9_pre,
        norm,
        within_group_pairs_np,
    )

    zero = spark.createDataFrame(
        [(1, 10, [0.0, 0.0]), (1, 11, [1.0, 0.0]), (1, 12, [1.0, 0.1])],
        "bucket int, vec_id long, embedding array<double>",
    ).select(
        "bucket", "vec_id",
        F.col("embedding").alias("e"), norm(F.col("embedding")).alias("nrm"),
    )
    with pytest.raises(Exception, match="non-positive/NaN norm"):
        within_group_pairs_np(zero, group_col="bucket", threshold=0.5).collect()

    side = spark.createDataFrame(
        [(2, 20, [1.0, 0.0]), (2, 20, [1.0, 0.0]), (2, 21, [1.0, 0.0])],
        "bucket int, vec_id long, embedding array<double>",
    ).select(
        "bucket", "vec_id",
        F.col("embedding").alias("e"), norm(F.col("embedding")).alias("nrm"),
    )
    thresh = 0.5
    via_group = sorted(
        (r["id_a"], r["id_b"], str(r["cos"]))
        for r in within_group_pairs_np(side, group_col="bucket",
                                       threshold=thresh)
        .withColumn("cos", F.round(F.col("cos_raw"), 9))
        .filter(F.col("cos") >= thresh).collect()
    )
    # duplicate id 20 never self-pairs; (20,21) appears once per duplicated
    # row, exactly like the join path's M×N semantics
    assert [(ia, ib) for ia, ib, _ in via_group] == [(20, 21), (20, 21)]
    # the expression-fold twin agrees wherever it is defined
    a = side.select(F.col("vec_id").alias("id_a"), "bucket",
                    F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = side.select(F.col("vec_id").alias("id_b"), "bucket",
                    F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    via_join = sorted(
        (r["id_a"], r["id_b"], str(r["cos"]))
        for r in a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_r9_pre(F.col("ea"), F.col("eb"),
                                         F.col("na"), F.col("nb")))
        .filter(F.col("cos") >= thresh).collect()
    )
    assert via_join == via_group


def test_within_group_pairs_np_nonfinite_cos_raises(spark):
    """An Inf embedding component passes the norm guard (norm = Inf > 0) but
    yields Inf/Inf = NaN cosines; the candidate test keeps NaN, and the
    kernel must RAISE before emission — an emitted NaN would be coerced to
    NULL by the pandas→Arrow transit and silently dropped by the caller's
    round(cos) >= threshold filter (r15 advice)."""
    from sparkfusion.llm.similarity import norm, within_group_pairs_np

    inf = float("inf")
    side = spark.createDataFrame(
        [(1, 10, [inf, 0.0]), (1, 11, [1.0, 0.5])],
        "bucket int, vec_id long, embedding array<double>",
    ).select(
        "bucket", "vec_id",
        F.col("embedding").alias("e"), norm(F.col("embedding")).alias("nrm"),
    )
    with pytest.raises(Exception, match="non-finite cosine"):
        within_group_pairs_np(side, group_col="bucket", threshold=0.5).collect()


def test_within_group_pairs_np_block_derivation(spark, sf_dir):
    """The per-task accumulator block must honor an explicit small row_block
    (blocked-loop coverage) and produce the identical pair set — the budget
    derivation only SHRINKS blocks for huge groups, never changes output."""
    from sparkfusion.llm.similarity import norm, within_group_pairs_np
    from sparkfusion.session import table

    emb = table(spark, sf_dir, "embeddings")
    side = emb.select(
        F.lit(1).alias("g"),
        "vec_id",
        F.col("embedding").alias("e"),
        norm(F.col("embedding")).alias("nrm"),
    ).limit(120)
    big = {(r["id_a"], r["id_b"], r["cos_raw"])
           for r in within_group_pairs_np(side, group_col="g",
                                          threshold=0.3).collect()}
    small = {(r["id_a"], r["id_b"], r["cos_raw"])
             for r in within_group_pairs_np(side, group_col="g", threshold=0.3,
                                            row_block=7).collect()}
    assert big == small and len(big) > 10
