"""LLM-training-data pipeline operators (driver-mandated extensions beyond
reference parity — BASELINE.json north star).

Four families, all designed partition-parallel for 100 TB:

- :mod:`.text` — language-ID, quality scoring, token counting, fingerprinting
  (pure JVM expressions, no Python in the hot path).
- :mod:`.dedup` — exact hash dedup, word-shingle n-gram Jaccard, MinHash+LSH
  banding, SimHash with byte-band candidate generation, embedding-cosine
  near-dup (sign-bit LSH buckets).
- :mod:`.similarity` — brute-force cosine top-k baseline + bucketed ANN
  scale path.
- :mod:`.multimodal` — opaque binary columns with typed metadata; real
  PPM, PNG, JPEG, WAV and MJPEG decoders, each one per-item function over
  one Arrow-batched ``mapInPandas`` (only the generic library-codec entry
  points are stubbed deterministically).
"""

from . import dedup, multimodal, similarity, text  # noqa: F401
