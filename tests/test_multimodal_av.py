"""Audio (WAV) and video (MJPEG frame sampling) multimodal ops, plus the KMV
sketch and PII redaction added alongside them in round 8."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sparkfusion.errors import DecodeError
from sparkfusion.llm.multimodal import (
    _wav_decode_samples,
    _wav_sample,
    decode_wav,
    make_jpeg,
    make_mjpeg,
    make_wav,
    mjpeg_media_table,
    sample_mjpeg_frames,
    split_mjpeg_frames,
    wav_media_table,
)


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def test_wav_roundtrip_exact_samples():
    wav = make_wav(42)
    samples, rate = _wav_decode_samples(wav)
    assert rate == 8000 and len(samples) == 256
    assert list(samples) == [_wav_sample(42, i) for i in range(256)]


def test_wav_odd_data_chunk_padding():
    """RIFF chunks are 2-byte aligned; a chunk walker that ignores the pad
    byte desyncs on every odd-sized chunk."""
    samples = np.array([100, -200, 300], dtype="<i2")
    body = samples.tobytes() + b"x"  # 7 bytes: odd
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = (
        b"WAVE"
        + b"junk" + struct.pack("<I", 3) + b"abc\x00"  # odd chunk + pad
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 6) + samples.tobytes()
    )
    wav = b"RIFF" + struct.pack("<I", len(chunks)) + chunks
    out, rate = _wav_decode_samples(wav)
    assert list(out) == [100, -200, 300] and rate == 8000


def test_wav_rejects_malformed():
    with pytest.raises(DecodeError, match="RIFF"):
        _wav_decode_samples(b"not audio at all")
    wav = bytearray(make_wav(1))
    wav[4:8] = struct.pack("<I", 999999)  # lying RIFF size
    with pytest.raises(DecodeError, match="RIFF size"):
        _wav_decode_samples(bytes(wav))
    # stereo rejected
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    stereo = b"RIFF" + struct.pack("<I", len(chunks)) + chunks
    with pytest.raises(DecodeError, match="channels=2"):
        _wav_decode_samples(stereo)


def test_spark_wav_decode_matches_analytic(spark):
    ids = spark.range(7, 12).selectExpr("id AS doc_id")
    got = {
        r.media_id: (r.n_samples, r.sample_rate, r.sum_pcm)
        for r in decode_wav(wav_media_table(ids, "doc_id")).collect()
    }
    for mid in range(7, 12):
        expect = sum(_wav_sample(mid, i) for i in range(256))
        assert got[mid] == (256, 8000, expect)


# ---------------------------------------------------------------------------
# MJPEG
# ---------------------------------------------------------------------------


def test_mjpeg_split_recovers_exact_frames():
    frames = [make_jpeg(5), make_jpeg(5 + 17), make_jpeg(5 + 34)]
    got = split_mjpeg_frames(b"".join(frames))
    assert got == frames


def test_mjpeg_split_rejects_missing_eoi_and_empty():
    with pytest.raises(DecodeError, match="EOI"):
        split_mjpeg_frames(make_jpeg(1)[:-2])
    with pytest.raises(DecodeError, match="SOI"):
        split_mjpeg_frames(b"\x00\x01\x02")


def test_mjpeg_entropy_ff_bytes_do_not_split_frames():
    """Frames whose entropy stream contains stuffed 0xFF bytes must not be
    split early — use dense gradient frames (long entropy streams) and sweep
    parameters until one contains a stuffed 0xFF 0x00."""
    from sparkfusion.llm.jpeg import encode_baseline_jpeg

    def frame(seed: int) -> bytes:
        y, x = np.mgrid[0:24, 0:32]
        px = ((x * (3 + seed) + y * (5 + 2 * seed) + seed * 41) % 256).astype(np.uint8)
        return encode_baseline_jpeg(px)

    stuffed = next((s for s in range(64) if b"\xff\x00" in frame(s)), None)
    assert stuffed is not None, "no stuffed byte found in sweep"
    frames = [frame(stuffed), frame(stuffed + 1), make_jpeg(9)]
    assert split_mjpeg_frames(b"".join(frames)) == frames


def test_spark_mjpeg_samples_every_other_frame(spark):
    from sparkfusion.llm.multimodal import _ppm_pixel

    ids = spark.range(3, 6).selectExpr("id AS doc_id")
    rows = sample_mjpeg_frames(mjpeg_media_table(ids, "doc_id"), every_n=2).collect()
    got = {(r.media_id, r.frame_idx): r.sum_lum for r in rows}
    assert set(got) == {(m, f) for m in range(3, 6) for f in (0, 2)}
    for (mid, f), sl in got.items():
        expect = 64 * sum(
            _ppm_pixel(mid + f * 17, bx, by, 0) for bx in range(3) for by in range(2)
        )
        assert sl == expect


# ---------------------------------------------------------------------------
# KMV sketch
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k_and_estimate_above(spark):
    from sparkfusion.operators.sketches import kmv_distinct

    # group 'small' has 10 distinct keys (< k) → exact; 'big' has 5000 → estimate
    df = spark.sql(
        """
        SELECT CASE WHEN id < 10 THEN 'small' ELSE 'big' END AS g,
               CASE WHEN id < 10 THEN id ELSE id END AS key
        FROM range(5010)
        """
    )
    out = {r.g: r for r in kmv_distinct(df, "key", ["g"], k=64).collect()}
    assert out["small"].n_kept == 10 and out["small"].est_distinct == 10
    assert out["big"].n_kept == 64
    # KMV with k=64 has ~12.5% relative std error; 3σ band
    assert abs(out["big"].est_distinct - 5000) / 5000 < 0.4


def test_kmv_is_partitioning_invariant(spark):
    """The k-mins (and thus the estimate) must be identical however the
    input is partitioned — the merge property sketches exist for."""
    from sparkfusion.operators.sketches import kmv_distinct

    df = spark.range(2000).selectExpr("'g' AS g", "id AS key")
    a = kmv_distinct(df.repartition(1), "key", ["g"], k=32).collect()[0]
    b = kmv_distinct(df.repartition(17), "key", ["g"], k=32, salt_buckets=5).collect()[0]
    assert (a.n_kept, a.kth_hash, a.est_distinct) == (b.n_kept, b.kth_hash, b.est_distinct)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_redact_pii_ordering_absorbs_url_digits(spark):
    from sparkfusion.llm.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail alice@example.com ref 123456789 at https://x.io/9999999123"),
            (2, "nothing to redact"),
        ],
        "id int, text string",
    )
    got = {r.id: r.red for r in df.select("id", redact_pii("text").alias("red")).collect()}
    # the digit run INSIDE the URL is absorbed by <URL>, not double-redacted
    assert got[1] == "mail <EMAIL> ref <NUM> at <URL>"
    assert got[2] == "nothing to redact"


# ---------------------------------------------------------------------------
# BPE trainer
# ---------------------------------------------------------------------------


def test_bpe_train_merges_hand_computed(spark):
    """Two merge rounds on a corpus small enough to verify by hand, pinning
    the leftmost-non-overlapping replace semantics: 'aaab' under merge 'aa'
    rewrites to 'Aab' (one merge), never 'AAb'."""
    from sparkfusion.llm.text import bpe_train_merges

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id int, text string"
    )
    got = [
        (r.merge_rank, r.pair, r.n)
        for r in bpe_train_merges(df, "doc_id", "text", iters=2)
        .orderBy("merge_rank")
        .collect()
    ]
    # round 1: aa=4 (two per 'aaab'), ab=3 -> merge 'aa'
    # rewrite: 'aaab'->'Aab' (leftmost, non-overlapping), 'ab' unchanged
    # round 2: Aa=2, ab=3 -> merge 'ab'
    assert got == [(1, "aa", 4), (2, "ab", 3)]


def test_mjpeg_split_survives_raw_eoi_bytes_in_marker_segments():
    """A COM segment whose payload contains raw 0xFF 0xD9 must not end the
    frame early — the splitter walks the marker grammar, not a byte search."""
    frame = make_jpeg(3)
    assert frame[:2] == b"\xff\xd8"
    com = b"\xff\xfe" + struct.pack(">H", 2 + 4) + b"\xff\xd9\xff\xd8"
    poisoned = frame[:2] + com + frame[2:]
    frames = split_mjpeg_frames(poisoned + make_jpeg(20))
    assert frames == [poisoned, make_jpeg(20)]
    from sparkfusion.llm.jpeg import decode_baseline_jpeg

    assert decode_baseline_jpeg(frames[0]).shape == (16, 24)  # COM skipped


def test_bpe_train_merges_stops_when_corpus_fully_merged(spark):
    """All words collapse to one char after round 1 — round 2 has no pairs
    and the trainer must stop cleanly with the merges found, not crash."""
    from sparkfusion.llm.text import bpe_train_merges

    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id int, text string")
    got = [
        (r.merge_rank, r.pair, r.n)
        for r in bpe_train_merges(df, "doc_id", "text", iters=3).collect()
    ]
    assert got == [(1, "ab", 3)]


def test_kmv_ignores_null_keys(spark):
    """NULL keys are excluded (matching COUNT(DISTINCT)), never occupy a
    k-min slot."""
    from sparkfusion.operators.sketches import kmv_distinct

    df = spark.sql(
        "SELECT 'g' AS g, CASE WHEN id < 5 THEN NULL ELSE id END AS key"
        " FROM range(15)"
    )
    out = kmv_distinct(df, "key", ["g"], k=64).collect()[0]
    assert out.n_kept == 10 and out.est_distinct == 10


def test_sine_wav_dft_peak_pure_python():
    """The generated pure tone's rfft argmax is exactly the analytic bin for
    a spread of ids, including the wrap at % 60."""
    import numpy as np

    from sparkfusion.llm.multimodal import (
        _sine_peak_bin,
        _wav_decode_samples,
        make_sine_wav,
    )

    for mid in (0, 1, 7, 59, 60, 123, 9999):
        samples, rate = _wav_decode_samples(make_sine_wav(mid))
        assert rate == 8000 and len(samples) == 256
        spec = np.abs(np.fft.rfft(samples.astype("float64")))
        assert int(np.argmax(spec[1:])) + 1 == _sine_peak_bin(mid)


def test_sine_wav_peak_towers_over_noise():
    """Rounding noise must sit far below the tone peak — the argmax margin
    that makes the oracle deterministic."""
    import numpy as np

    from sparkfusion.llm.multimodal import _sine_peak_bin, _wav_decode_samples, make_sine_wav

    samples, _ = _wav_decode_samples(make_sine_wav(42))
    spec = np.abs(np.fft.rfft(samples.astype("float64")))
    k = _sine_peak_bin(42)
    others = np.delete(spec[1:], k - 1)
    assert spec[k] > 100 * others.max()


def test_spark_audio_dominant_freq(spark):
    from pyspark.sql import functions as F

    from sparkfusion.llm.multimodal import audio_dominant_freq, sine_wav_media_table

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    out = audio_dominant_freq(sine_wav_media_table(ids, "doc_id")).collect()
    assert len(out) == 40
    for r in out:
        assert r["peak_bin"] == r["media_id"] % 60 + 4
        assert r["n_samples"] == 256


def test_resize_ppm_even_coordinate_sums(spark):
    """2x nearest-neighbor downsample of the analytic 8x6 PPM keeps exactly
    the even-coordinate pixels."""
    from pyspark.sql import functions as F

    from sparkfusion.llm.multimodal import _ppm_pixel, ppm_media_table, resize_ppm

    ids = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    out = resize_ppm(ppm_media_table(ids, "doc_id"), factor=2).collect()
    assert len(out) == 10
    for r in out:
        assert (r["width"], r["height"]) == (4, 3)
        for ci, col in enumerate(["sum_r", "sum_g", "sum_b"]):
            want = sum(
                _ppm_pixel(r["media_id"], 2 * x, 2 * y, ci)
                for x in range(4)
                for y in range(3)
            )
            assert r[col] == want, (r["media_id"], col)


def test_resize_ppm_factor_one_is_identity(spark):
    from pyspark.sql import functions as F

    from sparkfusion.llm.multimodal import decode_ppm, ppm_media_table, resize_ppm

    ids = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    media = ppm_media_table(ids, "doc_id")
    plain = {r["media_id"]: r for r in decode_ppm(media).collect()}
    resized = {r["media_id"]: r for r in resize_ppm(media, factor=1).collect()}
    assert plain.keys() == resized.keys()
    for k in plain:
        assert tuple(plain[k]) == tuple(resized[k])


def test_header_probe_never_needs_valid_raster(spark):
    """The probe must succeed on blobs whose RASTER is corrupt — proof it
    is header-only — and raise DecodeError on unknown magic."""
    import pytest

    from sparkfusion.errors import DecodeError
    from sparkfusion.llm.multimodal import _probe_one, make_png, make_ppm

    ppm = bytearray(make_ppm(7, 5, 4))
    ppm[-3:] = b"\x00\x00"  # truncate raster
    assert _probe_one(bytes(ppm)) == ("ppm", 5, 4)

    png = bytearray(make_png(7, 5, 4))
    png[40:] = b"garbage"  # destroy IDAT entirely; IHDR intact
    assert _probe_one(bytes(png)) == ("png", 5, 4)

    with pytest.raises(DecodeError):
        _probe_one(b"\x00\x01\x02\x03not-a-container")


def test_mixed_media_table_round_trip(spark):
    from pyspark.sql import functions as F

    from sparkfusion.llm.multimodal import mixed_media_table, probe_headers

    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    probed = probe_headers(mixed_media_table(ids, "doc_id")).collect()
    assert len(probed) == 30
    for r in probed:
        expect = ("ppm", "png", "jpeg")[r["media_id"] % 3]
        assert r["codec"] == expect
        assert r["width"] > 0 and r["height"] > 0


#: each decoder with the payload maker its input needs
_DECODERS = {
    "decode_media": "make_ppm",
    "frame_sample": "make_ppm",
    "decode_ppm": "make_ppm",
    "resize_ppm": "make_ppm",
    "decode_png": "make_png",
    "decode_jpeg": "make_jpeg",
    "decode_wav": "make_wav",
    "audio_dominant_freq": "make_sine_wav",
    "sample_mjpeg_frames": "make_mjpeg",
    "probe_headers": "_make_mixed",
}


@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_decoders_ignore_arrow_batch_boundaries(spark, name):
    """Every decoder gives the same rows whether a partition arrives as one
    Arrow batch or as several of 3 rows, and an empty partition adds none.
    The 13 payloads sit in 3 partitions of 4-5 rows plus one empty one."""
    from sparkfusion.llm import multimodal
    from sparkfusion.session import scoped_conf

    decoder, make = getattr(multimodal, name), getattr(multimodal, _DECODERS[name])
    sc = spark.sparkContext
    rows = [(i, make(i)) for i in range(13)]
    media = spark.createDataFrame(
        sc.parallelize(rows, 3).union(sc.parallelize([], 1)),
        "media_id long, content binary",
    )
    assert media.rdd.getNumPartitions() == 4

    def run():
        return sorted(tuple(r) for r in decoder(media).collect())

    default = run()
    with scoped_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "3"):
        small = run()
    assert small == default
    assert {r[0] for r in default} == set(range(13))
